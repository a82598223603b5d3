package graft.detectors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Clock
import graft.ops.{BaselineStats, Thresholds, TimeFilters}

/** Transaction-volume anomaly detection (reference
  * `monitoring/detectors/transaction_detector.py`): current-window volume vs
  * a same-hour-of-day 30-day baseline (SURVEY §2.5 W3/W6).
  *
  * API parity: `check_transaction_volume(hours)` →
  * [[checkTransactionVolume]]. Guards replicated: avg==0 → deviation 0
  * (`:45`), min-sample n<7 (`:130`).
  *
  * DELIBERATE reference parity on the window shape: the current count
  * covers a trailing (non-hour-aligned) `hours`-long window while the
  * baseline measures full single clock-hours at the current hour-of-day
  * (transaction_detector.py:85-124 does exactly this). Consequence the
  * caller owns: `hours > 1` compares a multi-hour count against a
  * one-hour baseline (guaranteed positive deviation on normal traffic),
  * and at minute offsets the current window straddles two clock hours.
  * The default `hours = 1` at low intra-hour variance is the case the
  * reference (and its 2.5-z threshold) was tuned for.
  */
final class TransactionDetector(
    txns: DataFrame, clock: Clock,
    tsCol: String = "transaction_date",
    baselineDays: Int = 30, minSamples: Int = 7, zThreshold: Double = 2.5) {

  def checkTransactionVolume(hours: Int = 1): VolumeStatus = {
    val ts = col(tsCol)
    val current = TimeFilters.trailing(ts, clock.now, hours = hours)
    val currentHour = clock.now.atZone(java.time.ZoneOffset.UTC).getHour

    // per-day counts at the same hour over the trailing baseline window,
    // EXCLUDING the current check window (transaction_detector.py:113
    // `transaction_date < TIMESTAMP_SUB(now, INTERVAL {hours} HOUR)`) so a
    // currently-anomalous hour cannot dampen its own z-score
    val baselineEnd = clock.now.minusSeconds(hours.toLong * 3600)
    val inBaseline = TimeFilters.trailing(ts, clock.now, days = baselineDays) &&
      ts < lit(java.sql.Timestamp.from(baselineEnd)) && hour(ts) === currentHour
    // one action: a single scan covering both windows, counted per day
    val perDay = txns
      .filter(TimeFilters.trailing(ts, clock.now, hours = math.max(hours, baselineDays * 24)))
      .groupBy(to_date(ts).as("d"))
      // count cast to double up front: BaselineStats.stats then types
      // min/max/median as double, and the old inline sum(cnt*cnt) — which
      // ANSI-overflowed long past ~3e9 events in one (day, hour) cell —
      // is replaced by the decimal-routed moments
      .agg(count(when(inBaseline, 1)).cast("double").as("cnt"),
        count(when(current, 1)).as("current"))
    // ONE definition of the moments/median shape (BaselineStats.stats —
    // the same six aggregates this method used to spell inline; a real
    // percentile(0.5) in the median slot, not the avg). A day with no
    // baseline row is not a sample.
    val m = BaselineStats.stats(
      perDay.withColumn("cnt", when(col("cnt") > 0, col("cnt"))), "cnt",
      extra = Seq("current_count" -> coalesce(sum(col("current")), lit(0L)))).head()
    val n = m.getLong(5)
    val currentCount = m.getLong(6)

    if (n < minSamples) {
      VolumeStatus(currentHour, currentCount, None, 0.0, isAnomaly = false, 0.0, "NONE")
    } else {
      val avg = m.getDouble(0)
      val std = m.getDouble(1)
      val z = if (std > 0) (currentCount - avg) / std else 0.0
      val deviationPct = if (avg > 0) (currentCount - avg) / avg * 100 else 0.0
      val isAnomaly = math.abs(z) > zThreshold
      val severity =
        if (isAnomaly) Thresholds.TxnDeviation.severity(math.abs(deviationPct)) else "NONE"
      VolumeStatus(currentHour, currentCount,
        Some(Baseline(avg, std, m.getDouble(2), m.getDouble(3), m.getDouble(4), n)),
        z, isAnomaly, deviationPct, severity)
    }
  }

  /** Hourly volume breakdown over a trailing window (transaction_detector.py:142-155). */
  def hourlyBreakdown(hours: Int = 24): DataFrame =
    txns
      .filter(TimeFilters.trailing(col(tsCol), clock.now, hours = hours))
      .groupBy(hour(col(tsCol)).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("hour"))
}
