package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reusable "baseline" aggregate: avg / stddev / median / min / max / n
  * in one pass (SURVEY §2.4 A11). The reference collects ~30 daily sums to
  * the client and runs python `statistics.mean/stdev/median`
  * (`monitoring/detectors/revenue_detector.py:124-136`); here the whole
  * computation stays in the plan — one distributed aggregate, no driver loop —
  * which is what makes it viable over 100 TB of history.
  *
  * Output schema matches the reference's `baseline_metrics` table
  * (`monitoring/setup_bigquery.sql:61-75`): baseline_value, std_dev,
  * min_value, max_value, sample_size (+ median).
  */
object BaselineStats {

  /** Per-day totals of `valueCol`: the input to every 30-day baseline.
    * One shuffle on the date key; partial (map-side) aggregation applies. */
  def dailyTotals(df: DataFrame, tsCol: String, valueCol: String): DataFrame =
    df.groupBy(to_date(col(tsCol)).as("d"))
      .agg(
        Exact.sum2(col(valueCol)).as("daily_total"),
        count(lit(1)).as("txn_count"))

  /** One-row baseline stats over `valueCol` (deterministic, see [[Exact]]).
    * Nulls are not samples, so a caller can scope the baseline with
    * `when(inBaseline, v)` and add its own (name, aggregate) `extra`
    * columns, carried after the six stats columns, to the same aggregate. */
  def stats(df: DataFrame, valueCol: String,
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    val v = col(valueCol)
    val aggs = Seq(
      Exact.sum2(v).as("s"),
      Exact.sumSq2(v).as("q"),
      count(v).as("sample_size"),
      min(v).as("min_value"),
      max(v).as("max_value"),
      percentile(v, lit(0.5)).as("median_value")) ++
      extra.map { case (name, agg) => agg.as(name) }
    df.agg(aggs.head, aggs.tail: _*)
      .select(Seq(
        (col("s") / col("sample_size")).as("baseline_value"),
        Exact.stddevFrom(col("s"), col("q"), col("sample_size")).as("std_dev"),
        col("median_value"), col("min_value"), col("max_value"), col("sample_size")) ++
        extra.map { case (name, _) => col(name) }: _*)
  }

  /** Windowed variant (SURVEY §2.5 W1): trailing `days`-row baseline per row,
    * excluding the current row — computes the baseline for ALL days at once
    * instead of one anchor date. Idiomatic Spark upgrade of the reference's
    * one-date-at-a-time loop; used by the all-days z-score sweep.
    *
    * `partitionBy` is the scale lever: per-entity baselines (per feed, per
    * region) window inside their key partition — no single-partition global
    * sort exists at 100 TB. An empty `partitionBy` is only acceptable
    * because the input here is an already-aggregated daily table (≤365
    * rows per entity). */
  def trailingWindow(daily: DataFrame, dateCol: String, valueCol: String, days: Int,
      partitionBy: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base =
      if (partitionBy.isEmpty) Window.orderBy(col(dateCol))
      else Window.partitionBy(partitionBy.map(col): _*).orderBy(col(dateCol))
    val w = base.rowsBetween(-days, -1)
    daily
      .withColumn("baseline_avg", avg(col(valueCol)).over(w))
      .withColumn("baseline_std", stddev(col(valueCol)).over(w))
      .withColumn("baseline_n", count(col(valueCol)).over(w))
  }
}
