package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Exact

/** The always-on form of the monitoring suite (SURVEY §2.9 T1-T6): one
  * Structured Streaming pipeline that watches an event stream and emits
  * per-window anomaly verdicts against a PRECOMPUTED baseline.
  *
  * Design (and why it scales):
  *  - The baseline (per-hour avg/std over history) is a small static
  *    DataFrame computed by the batch engine and broadcast into every
  *    micro-batch — a stream-static join, the canonical Spark pattern for
  *    "compare live traffic to history". No stateful re-aggregation of
  *    history inside the stream.
  *  - Live volumes use watermarked tumbling windows (bounded state).
  *  - The z-score + severity ladder are the SAME column expressions the
  *    batch detectors use (`ops.ZScore`, `ops.Thresholds`) — one semantics,
  *    two execution modes.
  *  - `Trigger.AvailableNow` reproduces the reference's polled micro-batch
  *    cadence (`dag/financial_monitoring_complete.py:175`); ProcessingTime
  *    makes it continuous. Alerts flow through [[StreamingOps.dedupStateful]]
  *    downstream.
  */
object StreamingMonitor {

  /** Per-hour-of-day volume baseline from historical events (batch side). */
  def hourlyBaseline(history: DataFrame, tsCol: String): DataFrame = {
    val perDayHour = history
      .groupBy(to_date(col(tsCol)).as("d"), hour(col(tsCol)).as("hod"))
      .agg(count(lit(1)).as("cnt"))
    perDayHour.groupBy("hod")
      .agg(
        sum(col("cnt")).cast("double").as("s"),
        // square in DOUBLE: cnt*cnt on longs overflows past ~3.04e9 events
        // in one (day, hour) cell — an ANSI ARITHMETIC_OVERFLOW abort at
        // the scale this package documents. The variance is consumed as
        // double anyway (stddevFrom), so nothing is lost.
        sum(col("cnt").cast("double") * col("cnt").cast("double")).as("q"),
        count(lit(1)).as("n"))
      .select(col("hod"),
        (col("s") / col("n")).as("baseline_avg"),
        Exact.stddevFrom(col("s"), col("q"), col("n")).as("baseline_std"),
        col("n").as("baseline_n"))
  }

  /** Streaming volume check: watermarked 1h tumbling counts joined to the
    * static baseline, z-scored and severity-labelled per window. */
  def volumeAnomalies(
      stream: DataFrame, baseline: DataFrame, tsCol: String,
      watermark: String = "2 hours", zThreshold: Double = 2.5): DataFrame = {
    val windowed = stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))
      .withColumn("hod", hour(col("window_start")))
    // A baseline is usable only when the hour has history AND at least two
    // days of it: at baseline_n = 1 Exact.varianceFrom returns NULL (its
    // n > 1 guard), so the std — and therefore the z-score — would be NULL,
    // ZScore's flag would be NULL, and the window would fall through to the
    // no-usable-history branch below anyway; gating here keeps the
    // "single-day history" case explicitly on that branch instead of
    // depending on NULL propagation through the z-score arithmetic.
    val usable = col("baseline_avg").isNotNull && col("baseline_n") >= 2
    windowed
      .join(broadcast(baseline), Seq("hod"), "left")
      .withColumn("z_score",
        when(usable,
          graft.ops.ZScore.z(col("n"), col("baseline_avg"), col("baseline_std"))))
      // a window whose hour-of-day has NO usable baseline row is traffic
      // history never saw (or saw on a single day — not enough to define
      // variance). The bare left join would null the z-score, null
      // is_anomaly, and label it NONE: never-before-seen traffic silently
      // classified normal. Flag it instead, with its own severity so
      // downstream routing can tell "statistically deviant" from
      // "no (usable) history".
      .withColumn("is_anomaly",
        when(!usable, lit(true))
          .otherwise(graft.ops.ZScore.isAnomaly(col("z_score"), zThreshold)))
      .withColumn("severity",
        when(!usable, "NO_BASELINE")
          .otherwise(when(col("is_anomaly"),
            graft.ops.Thresholds.TxnDeviation.severityCol(
              abs(graft.ops.ZScore.deviationPct(col("n"), col("baseline_avg")))))
            .otherwise("NONE")))
      .select("window_start", "n", "baseline_avg", "baseline_std",
        "z_score", "is_anomaly", "severity")
  }

  /** Wire a stream to a memory/console sink in the reference's polled
    * cadence (AvailableNow) or continuously. */
  def start(anomalies: DataFrame, queryName: String,
      continuous: Boolean = false, interval: String = "1 minute"): StreamingQuery = {
    anomalies.writeStream.format("memory").queryName(queryName)
      .outputMode("append")
      .trigger(StreamingAppend.trigger(continuous, interval)).start()
  }
}
