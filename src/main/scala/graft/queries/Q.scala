package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: a Spark implementation plus (when SQL-expressible) the
  * equivalent ANSI/DuckDB SQL the driver's oracle runs over the same parquet
  * tables. Column names and row order are part of the contract — every
  * computed column is aliased identically on both sides, and every
  * multi-row result carries a deterministic ORDER BY.
  */
final case class QueryDef(
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "",
    bench: Boolean = true)

object Q {
  /** Load one of the driver test tables (TESTDATA.md).
    *
    * The events table's `ts` encoding has varied across driver testdata
    * generations — TIMESTAMP(NANOS) (surfacing as a LongType of nanoseconds
    * under `spark.sql.legacy.parquet.nanosAsLong`, set by
    * Sessions/Verify/Bench) and TIMESTAMP(MICROS) without UTC adjustment
    * (surfacing as TIMESTAMP_NTZ). Both normalize here to a proper
    * TimestampType so every downstream `unix_micros`/window/watermark sees
    * one type.
    *
    * The NTZ branch must be SESSION-TIMEZONE-INDEPENDENT like the nanos
    * branch beside it: a bare `cast("timestamp")` reinterprets the wall
    * clock in the session zone, silently shifting every instant for any
    * caller that didn't pin UTC. `from_utc_timestamp(cast, sessionTz)`
    * cancels that shift — the stored wall clock becomes the same UTC
    * instant under every session zone (exact for fixed-offset zones; a
    * zone's DST transition window can differ by the transition delta,
    * which UTC — every in-repo session — never has). */
  /** Per-path schema cache for [[t]] — the catalog role a metastore plays
    * in production, applied to the bare-path driver tables (r20
    * optimization round, guide §6 / the r19 verdict's floor-audit item):
    * without it EVERY query construction re-infers each input's schema
    * from the parquet footer (measured 81 ms vs 9 ms with an explicit
    * schema, r20 — ~a third of a sub-second query's
    * total), re-paying per query what real deployments pay once at table
    * registration. Strictly METADATA: the data path still scans parquet
    * on every invocation (nothing about rows, stats, or results is
    * memoized), so bench samples keep computing from the inputs. Keyed by
    * the full file path; the driver test tables are read-only for a
    * session's lifetime. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => s.read.parquet(p).schema)
    val df = s.read.schema(schema).parquet(path)
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) => df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.from_utc_timestamp(
          org.apache.spark.sql.functions.col("ts").cast("timestamp"),
          s.conf.get("spark.sql.session.timeZone")))
      case _ => df
    }
  }

  // Fixed anchors replacing CURRENT_DATE()/CURRENT_TIMESTAMP() (SURVEY §7.4):
  // orders span 1995-01-01..2001-08-01, events span 2024-01-01..2024-01-30.
  val OrdersToday = java.time.LocalDate.parse("2001-08-01")
  val EventsNow: java.time.Instant = java.time.Instant.parse("2024-01-31T00:00:00Z")
  val EventsToday = java.time.LocalDate.parse("2024-01-30")
}
