package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema-driven profiling ops (SURVEY §2.4 A4/A10/A12/A13).
  *
  * The reference introspects the live table schema and emits one
  * `COUNTIF(col IS NULL)` per column (`utils/data_quality.py:12-17`) plus
  * duplicate-rate checks (`monitoring/detectors/quality_detector.py:121-147`).
  * Here both are single-pass distributed aggregates built dynamically from
  * `df.schema` — one scan regardless of column count, no driver loop.
  */
object Profiles {

  def countIf(pred: Column): Column = count(when(pred, 1))

  /** One row: total_rows + `<col>_nulls` per column (A13). */
  def nullProfile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.schema.fieldNames.toSeq
    val aggs = count(lit(1)).as("total_rows") +:
      names.map(n => countIf(col(n).isNull).as(s"${n}_nulls"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Null percentage per listed column (A12), `<col>_null_pct`, over the
    * rows `scope` selects, so several windows of one scan profile in one
    * aggregate. Zero rows profile as 0.0% null (not an ANSI divide-by-zero)
    * — an empty window is a legitimate input for detectors running before
    * any history exists. */
  def nullPctAggs(cols: Seq[String], scope: Column): Seq[Column] = {
    val n = countIf(scope)
    cols.map(c => when(n > 0, countIf(scope && col(c).isNull) * lit(100.0) / n)
      .otherwise(lit(0.0)).as(s"${c}_null_pct"))
  }

  /** Duplicate stats on a key (A10): total, distinct, dup count, dup pct.
    * Exact form; at 100 TB swap `countDistinct` for `approx_count_distinct`
    * (HLL, no giant hash shuffle) via `approx = true`. */
  def dupStats(df: DataFrame, key: String, approx: Boolean = false): DataFrame = {
    val dct = if (approx) approx_count_distinct(col(key)) else countDistinct(col(key))
    df.agg(count(col(key)).as("total_rows"), dct.as("distinct_keys"))
      .select(
        col("total_rows"), col("distinct_keys"),
        (col("total_rows") - col("distinct_keys")).as("dup_count"),
        // empty input: 0 duplicates, not a divide-by-zero
        when(col("total_rows") > 0,
          (col("total_rows") - col("distinct_keys")).cast("double") * 100 /
            col("total_rows").cast("double"))
          .otherwise(lit(0.0)).as("dup_pct"))
  }
}
