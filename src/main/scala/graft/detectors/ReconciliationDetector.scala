package graft.detectors

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Clock
import graft.ops.{Joins, Thresholds, TimeFilters}

/** Source-vs-destination reconciliation (reference
  * `monitoring/detectors/reconciliation_detector.py`): total counts plus an
  * hourly full-outer breakdown with COALESCE'd zeros (SURVEY §2.3 J3). The
  * reference invokes it self-vs-self
  * (`dag/financial_monitoring_complete.py:98`); any two DataFrames work.
  *
  * API parity: `check_reconciliation(src, dst, date)` →
  * [[checkReconciliation]].
  *
  * DELIBERATE reference parity, not an oversight: `isReconciled` derives
  * from NET totals (`is_reconciled = discrepancy == 0`,
  * reconciliation_detector.py:61), so offsetting hourly discrepancies —
  * e.g. 500 rows recorded under a different hour downstream — cancel to a
  * reconciled NONE state. The hourly breakdown still SURFACES the
  * offsetting diffs for an operator reading the report; a consumer that
  * wants hour-level strictness gates on
  * `hourlyBreakdown.forall(_.diff == 0)` itself.
  */
final class ReconciliationDetector(clock: Clock) {

  def checkReconciliation(
      src: DataFrame, dst: DataFrame, date: LocalDate,
      srcTsCol: String = "transaction_date", dstTsCol: String = "transaction_date")
      : ReconStatus = {
    val s = TimeFilters.filterOnDate(src, srcTsCol, date)
    val d = TimeFilters.filterOnDate(dst, dstTsCol, date)

    val srcHourly = s.groupBy(hour(col(srcTsCol)).cast("long").as("hour"))
      .agg(count(lit(1)).as("source_count"))
    val dstHourly = d.groupBy(hour(col(dstTsCol)).cast("long").as("hour"))
      .agg(count(lit(1)).as("dest_count"))
    // at most 24 rows: sorted on the driver, not by a global orderBy
    val hourly = Joins.reconcile(srcHourly, dstHourly, "hour")
      .collect()
      .map(r => HourlyDiff(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
      .sortBy(_.hour)

    val srcCount = hourly.map(_.sourceCount).sum
    val dstCount = hourly.map(_.destCount).sum
    val discrepancy = srcCount - dstCount
    // src empty + dst populated is a TOTAL mismatch (a dead upstream with
    // a live downstream copy), not a 0% one — pct 0.0 there would grade
    // NONE and silently suppress the alert for the worst possible state;
    // both-empty genuinely reconciles at 0%
    val discrepancyPct =
      if (srcCount > 0) math.abs(discrepancy).toDouble * 100 / srcCount
      else if (dstCount > 0) 100.0
      else 0.0
    ReconStatus(srcCount, dstCount, discrepancy, discrepancyPct,
      isReconciled = discrepancy == 0L,
      hourlyBreakdown = hourly.filter(_.diff != 0),
      severity = Thresholds.ReconDiscrepancy.severity(discrepancyPct))
  }
}
