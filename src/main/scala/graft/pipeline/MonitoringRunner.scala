package graft.pipeline

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, DurationInt}

import graft.alerts.AlertManager
import graft.detectors._

/** The complete monitoring run (SURVEY §2.11 D1/D2/D9, §3.3): parallel
  * fan-out of the 8 detector checks, barrier, guarded alert dispatch,
  * daily report synthesis — the engine-side equivalent of
  * `dag/financial_monitoring_complete.py:181-195` + `:117-168`.
  *
  * Each detector check that scans data is one Spark action over one
  * date-bounded scan (already parallel inside; revenue adds a second only
  * for an anomaly's category breakdown), as each reference check is one
  * SQL statement. The Future fan-out mirrors Airflow's task parallelism
  * and overlaps the checks' fixed per-action driver and scheduling cost.
  */
final case class MonitoringResult(
    feeds: Option[FeedStatus], revenue: Option[RevenueStatus],
    volume: Option[VolumeStatus], freshness: Option[FreshnessStatus],
    patterns: Option[PatternStatus], recon: Option[ReconStatus],
    sla: Option[SlaStatus], quality: Option[QualityStatus],
    alertsSent: Int, report: String)

final class MonitoringRunner(alerts: AlertManager,
    checkTimeout: Duration = 10.minutes) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def run(
      feeds: () => FeedStatus, revenue: () => RevenueStatus,
      volume: () => VolumeStatus, freshness: () => FreshnessStatus,
      patterns: () => PatternStatus, recon: () => ReconStatus,
      sla: () => SlaStatus, quality: () => QualityStatus)
      (implicit ec: ExecutionContext = ExecutionContext.global): MonitoringResult = {

    def opt[T](name: String, f: () => T): Future[Option[T]] =
      Future(Some(f()): Option[T]).recover { case e =>
        // keep the diagnostic: without this log the report's CHECK FAILED
        // row is the ONLY trace and the exception class/message is lost
        log.warn(s"monitoring check '$name' failed: ${e.getClass.getName}: " +
          s"${e.getMessage}")
        None
      }

    // bounded barrier: a fatal throwable in a check body (StackOverflowError,
    // InterruptedException — both outside NonFatal, so neither Future.apply
    // nor the recover sees them) leaves its future permanently incomplete;
    // an unbounded Await would then hang the WHOLE run, suppressing the
    // healthy detectors' alerts and the daily report. Timing out degrades
    // the one check to the same CHECK FAILED row a thrown check produces.
    // The timeout is logged like a thrown check, for the same reason.
    def await[T](name: String, f: Future[Option[T]]): Option[T] =
      try Await.result(f, checkTimeout)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          log.warn(s"monitoring check '$name' timed out after $checkTimeout")
          None
      }

    // fan-out (8 parallel checks) + barrier
    val fs = (opt("feeds", feeds), opt("revenue", revenue),
      opt("volume", volume), opt("freshness", freshness),
      opt("patterns", patterns), opt("recon", recon),
      opt("sla", sla), opt("quality", quality))
    val (f, r, v, fr, p, rc, s, q) = (
      await("feeds", fs._1), await("revenue", fs._2),
      await("volume", fs._3), await("freshness", fs._4),
      await("patterns", fs._5), await("recon", fs._6),
      await("sla", fs._7), await("quality", fs._8))

    // guarded dispatch — same predicates as financial_monitoring_complete.py:117-168
    var sent = 0
    def send(cond: Boolean, typ: String, sev: String, title: String,
        details: Map[String, String], recs: Seq[String]): Unit =
      if (cond && alerts.sendAlert(typ, sev, title, details, recs)) sent += 1

    f.foreach(st => send(st.missingFeeds.nonEmpty, "missing_feeds", st.severity,
      s"${st.missingFeeds.size} feeds missing",
      Map("missing_pct" -> st.missingPct.toString,
        "feeds" -> st.missingFeeds.mkString(",")),
      st.analysis.map(_.recommendedActions).getOrElse(Nil)))
    r.foreach(st => send(st.isAnomaly, "revenue_anomaly", st.severity,
      "Revenue anomaly detected",
      Map("revenue" -> st.currentTotal.toString, "z_score" -> st.zScore.toString,
        "deviation_pct" -> st.deviationPct.toString),
      st.analysis.map(_.recommendedActions).getOrElse(Nil)))
    v.foreach(st => send(st.isAnomaly, "volume_anomaly", st.severity,
      "Transaction volume anomaly",
      Map("current_count" -> st.currentCount.toString,
        "deviation_pct" -> st.deviationPct.toString), Nil))
    fr.foreach(st => send(st.isStale, "stale_data", st.severity, "Stale data sources",
      Map("stale_pct" -> st.staleRatio.toString), Nil))
    p.foreach(st => send(st.hasBreaks, "pattern_break", st.severity,
      s"${st.breaks.size} pattern breaks",
      Map("dimensions" -> st.breaks.map(_.dimension).distinct.mkString(",")), Nil))
    rc.foreach(st => send(!st.isReconciled, "reconciliation", st.severity,
      "Source/destination mismatch",
      Map("discrepancy_pct" -> st.discrepancyPct.toString), Nil))
    s.foreach(st => send(st.willBreachSla, "sla_breach", st.severity,
      "SLA breach projected",
      Map("projected_hours" -> st.projectedHours.toString), Nil))
    q.foreach(st => send(st.hasDegradation, "quality_degradation", st.severity,
      "Data quality degradation",
      Map("degraded_columns" -> st.degradedColumns.mkString(","),
        "dup_pct" -> st.dupPct.toString), Nil))

    MonitoringResult(f, r, v, fr, p, rc, s, q, sent,
      renderReport(f, r, v, fr, p, rc, s, q, sent))
  }

  /** Daily report synthesis (D9, `financial_monitoring_dag.py:111-145`). */
  private def renderReport(
      f: Option[FeedStatus], r: Option[RevenueStatus], v: Option[VolumeStatus],
      fr: Option[FreshnessStatus], p: Option[PatternStatus], rc: Option[ReconStatus],
      s: Option[SlaStatus], q: Option[QualityStatus], sent: Int): String = {
    def line(name: String, status: Option[String]): String =
      f"  $name%-16s ${status.getOrElse("CHECK FAILED")}"
    Seq(
      "=== Daily Monitoring Report ===",
      line("feeds", f.map(x => s"${x.missingFeeds.size} missing (${x.severity})")),
      line("revenue", r.map(x => s"anomaly=${x.isAnomaly} z=${f"${x.zScore}%.2f"} (${x.severity})")),
      line("volume", v.map(x => s"anomaly=${x.isAnomaly} count=${x.currentCount} (${x.severity})")),
      line("freshness", fr.map(x => s"stale=${x.isStale} (${x.severity})")),
      line("patterns", p.map(x => s"${x.breaks.size} breaks (${x.severity})")),
      line("reconciliation", rc.map(x => s"reconciled=${x.isReconciled} (${x.severity})")),
      line("sla", s.map(x => s"breach=${x.willBreachSla} rate=${f"${x.recordsPerHour}%.0f"}/h (${x.severity})")),
      line("quality", q.map(x => s"degraded=${x.hasDegradation} (${x.severity})")),
      s"  alerts sent: $sent").mkString("\n")
  }
}
