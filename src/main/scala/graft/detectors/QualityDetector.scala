package graft.detectors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Clock
import graft.ops.{Profiles, Thresholds, TimeFilters}

/** Data-quality degradation detection (reference
  * `monitoring/detectors/quality_detector.py`): today's per-column null
  * rates vs a 30-day baseline (SURVEY §2.4 A12, §2.3 J4 two-scalar cross)
  * plus duplicate-id rate (A10). One aggregate over both sides regardless
  * of column count.
  *
  * API parity: `check_quality_degradation()` → [[checkQualityDegradation]].
  */
final class QualityDetector(
    facts: DataFrame, clock: Clock,
    columns: Seq[String] = Seq("customer_id", "region"),
    idCol: String = "transaction_id", tsCol: String = "transaction_date",
    baselineDays: Int = 30, degradationPts: Double = 1.0, dupPctThreshold: Double = 0.5) {

  /** Degraded-column-count ladder (quality_detector.py:225-238 shape). */
  private val ladder = Thresholds(critical = 3, high = 2, medium = 1)

  def checkQualityDegradation(): QualityStatus = {
    val ts = col(tsCol)
    val isToday = TimeFilters.onDate(ts, clock.today)
    val isBaseline = ts < lit(TimeFilters.utcTs(clock.today))
    // ONE action over `[today - baselineDays, today]`: today's null profile,
    // its duplicate stats and the baseline's null profile. The distinct
    // count sees only today's ids; partial aggregation collapses the
    // baseline rows to one null key per partition, so the exchange still
    // carries only today's ids.
    val aggs = Profiles.nullPctAggs(columns, isToday) ++
      Profiles.nullPctAggs(columns, isBaseline) ++ Seq(
      count(when(isToday, col(idCol))),
      countDistinct(when(isToday, col(idCol))))
    val row = TimeFilters.filterDateBetween(facts, tsCol,
        clock.today.minusDays(baselineDays.toLong), clock.today)
      .agg(aggs.head, aggs.tail: _*).head()
    val todayPcts = columns.zipWithIndex.map { case (c, i) => c -> row.getDouble(i) }.toMap
    val basePcts =
      columns.zipWithIndex.map { case (c, i) => c -> row.getDouble(columns.size + i) }.toMap
    val degraded = columns.filter(c => todayPcts(c) - basePcts(c) > degradationPts)

    val idRows = row.getLong(2 * columns.size)
    val distinctIds = row.getLong(2 * columns.size + 1)
    val dupPct =
      if (idRows == 0) 0.0 else (idRows - distinctIds).toDouble * 100 / idRows
    val issues = degraded.size + (if (dupPct > dupPctThreshold) 1 else 0)

    QualityStatus(todayPcts, dupPct, degraded,
      hasDegradation = issues > 0, severity = ladder.severity(issues.toDouble))
  }
}
