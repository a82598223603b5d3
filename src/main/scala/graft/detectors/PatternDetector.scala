package graft.detectors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Clock
import graft.ops.{Thresholds, TimeFilters}

/** Distribution pattern-break detection (reference
  * `monitoring/detectors/pattern_detector.py`): today's per-key volumes vs
  * per-key 30-day daily averages over configurable dimensions (region,
  * product_category), flagging keys whose deviation exceeds a threshold
  * (SURVEY §2.3 J1/J2, §2.2 P6/P10).
  *
  * API parity: `check_pattern_breaks()` → [[checkPatternBreaks]]. Per-
  * dimension thresholds follow the reference: region breaks at >100%
  * deviation (pattern_detector.py:99), product_category at >80% (`:150`).
  *
  * One Spark action over one date-bounded scan, `[today - baselineDays,
  * today]`: each row is exploded into one `(dimension index, key)` pair per
  * dimension, counted per `(dim, key, day)`, and reduced per `(dim, key)` to
  * today's count and the average over the earlier days. The dimension index
  * is part of every grouping key, so a null region and a null category stay
  * two groups. The O(keys) break rows are sorted on the driver: dimension
  * order, then `|deviation|` descending, then key ascending with nulls
  * first, as Spark orders strings.
  */
final class PatternDetector(
    facts: DataFrame, clock: Clock,
    dimensions: Seq[(String, Double)] =
      Seq("region" -> 100.0, "product_category" -> 80.0),
    tsCol: String = "transaction_date",
    baselineDays: Int = 30,
    minDailyCount: Long = 0) {

  /** Break-count severity ladder (pattern_detector.py:234-243 shape). */
  private val ladder = Thresholds(critical = 4, high = 2, medium = 1)

  /** Dimension index, then |deviation| descending, then key. */
  private val breakOrder = Ordering.by[(Int, PatternBreak), Int](_._1)
    .orElseBy(b => math.abs(b._2.deviationPct))(Ordering.Double.TotalOrdering.reverse)
    .orElseBy(_._2.key)(DriverOrder.strings)

  def checkPatternBreaks(): PatternStatus = {
    if (dimensions.isEmpty) return PatternStatus(Nil, hasBreaks = false, ladder.severity(0.0))
    val today = clock.today
    val isToday = col("d") === lit(java.sql.Date.valueOf(today))
    val todayValue = col("today_value")
    val baselineAvg = col("baseline_avg")
    val threshold = element_at(typedLit(dimensions.map(_._2)), col("dim") + 1)
    val perKey = TimeFilters.filterDateBetween(facts, tsCol,
        today.minusDays(baselineDays.toLong), today)
      .select(to_date(col(tsCol)).as("d"), inline(array(dimensions.zipWithIndex.map {
        case ((dim, _), i) => struct(lit(i).as("dim"), col(dim).cast("string").as("key"))
      }: _*)))
      .groupBy("dim", "key", "d")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("dim", "key")
      // today_value is null for a key with no row today, baseline_avg for
      // a key with no row on an earlier day
      .agg(sum(when(isToday, col("cnt"))).cast("double").as("today_value"),
        avg(when(!isToday, col("cnt"))).as("baseline_avg"))
      // keys whose average fell at/below minDailyCount keep their TRUE
      // baseline_avg but are not measurement-eligible on baseline volume
      // alone (reading them as brand-new let a few low-volume values
      // ladder up to critical); they can still EARN measurement on today's
      // volume, see the deviation branch below
      .withColumn("eligible", baselineAvg > minDailyCount)
      // beyond the reference, symmetric with a vanished key: a key with
      // today-volume but NO baseline history is a brand-new value, a +100%
      // break regardless of the pct threshold PROVIDED today's volume
      // clears the minDailyCount floor (one stray row must not ladder
      // toward critical). A key with real-but-sub-threshold history is NOT
      // new: it is measured against its true baseline_avg whenever TODAY
      // clears the floor, or a low-volume key that surges (1.5/day, then
      // 5000) could never flag while a new key with that volume would. A
      // key below the floor on both sides stays unmeasured.
      .withColumn("new_key", baselineAvg.isNull && todayValue > minDailyCount)
      .withColumn("baseline_avg", coalesce(baselineAvg, lit(0.0)))
      .withColumn("deviation_pct",
        // beyond the reference: a key with history but no row today is a
        // disappearance, always a break (-100%) regardless of the pct
        // threshold — but only a measurement-eligible baseline can
        // vanish; a key already excluded for sub-threshold volume cannot
        when(todayValue.isNull, lit(-100.0))
          .when(col("new_key"), lit(100.0))
          .when((col("eligible") || todayValue > minDailyCount) && baselineAvg > 0,
            (todayValue - baselineAvg) / baselineAvg * 100))
      .filter(when(todayValue.isNull, col("eligible"))
        .otherwise(col("new_key") || abs(col("deviation_pct")) > threshold))
      .select(col("dim"), col("key"), coalesce(todayValue, lit(0.0)),
        baselineAvg, col("deviation_pct"))
    val breaks = perKey.collect().toSeq
      .map(r => (r.getInt(0), PatternBreak(dimensions(r.getInt(0))._1, r.getString(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .sorted(breakOrder)
      .map(_._2)
    PatternStatus(breaks, breaks.nonEmpty, ladder.severity(breaks.size.toDouble))
  }
}
