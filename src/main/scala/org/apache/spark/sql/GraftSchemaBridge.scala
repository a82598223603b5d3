package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]`/`private[spark]` schema helpers a
  * manifest read needs to reproduce Spark's own parquet schema inference
  * without reading footers: the footer merge (`mergeSchema`) and the
  * nullable widening every file-source relation applies to its data
  * schema. */
object GraftSchemaBridge {
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)

  def asNullable(schema: StructType): StructType = schema.asNullable
}
