package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.alerts.AlertManager
import graft.core.{Catalog, Clock, EventViews, FixedClock}
import graft.detectors._
import graft.pipeline.{MonitoringResult, MonitoringRunner}

/** Per-micro-batch record of what the loop saw and decided. */
final case class BatchOutcome(batchId: Long, batchRows: Long, result: MonitoringResult)

/** The always-on, end-to-end form of the reference's complete monitoring
  * DAG (`dag/financial_monitoring_complete.py:181-195`): ONE streaming job
  * whose every micro-batch ingests the new events into the monitored table
  * and runs the full 8-detector fan-out + guarded alert dispatch over the
  * updated table. The reference's daily 17:00 cron cadence collapses to
  * `Trigger.AvailableNow`; `ProcessingTime` makes the same job continuous
  * (SURVEY §2.9 T1). Alert dedup carries ACROSS micro-batches because the
  * shared [[AlertManager]] holds the (type, title) suppression state on the
  * driver — the same 1-hour window as the reference (`alert_manager.py:199`).
  *
  * Scale design:
  *  - Ingest is an append-only parquet write (atomic per task file); at
  *    100 TB partition it by event date so the detectors' date-window
  *    filters prune partitions instead of scanning history. Per-batch
  *    detector cost is bounded by their trailing windows, not total size.
  *  - "Now" defaults to EVENT time — the max `ts` ingested so far — so a
  *    backfill replays with identical decisions, and tests pin the
  *    timeline. The trade: an event-time clock cannot see an ingestion
  *    STALL (if feeds die, "now" freezes with them and the deadline/
  *    staleness checks never trip). A production deployment watching live
  *    feeds should pass `clock = Some(SystemClock)` (or any wall clock) —
  *    then silence itself becomes visible to the freshness/deadline
  *    checks, at the cost of replay determinism.
  *  - The detector suite itself is the SAME code the daily batch run uses:
  *    one semantics, two execution modes.
  */
final class MonitoringLoop(
    catalog: Catalog, table: String, alerts: AlertManager,
    expectedFeeds: Seq[String],
    checkTime: String = "17:00",
    slaTotalRecords: Long = 100000L, slaHours: Double = 4.0,
    maxAgeMinutes: Long = 240L,
    partitionBy: Seq[String] = Nil,
    clock: Option[Clock] = None,
    dedupKeys: Seq[String] = Nil,
    reconDest: Option[String] = None) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val runner = new MonitoringRunner(alerts)
  private val outcomeBuf = mutable.ArrayBuffer.empty[BatchOutcome]

  // one warning per absence streak: a typo'd reconDest would otherwise
  // fall back to self-vs-self reconciliation silently, forever vacuous
  private var reconDestWarned = false

  /** Most recent per-batch results kept for observability — bounded so an
    * always-on loop doesn't grow driver memory with its batch count. */
  val maxOutcomes: Int = 1000

  /** Per-batch results, oldest first (up to [[maxOutcomes]], newest kept).
    * Synchronized against the stream-execution thread's appends, so it is
    * safe to call while the query runs. */
  def outcomes: Seq[BatchOutcome] = outcomeBuf.synchronized { outcomeBuf.toSeq }

  // running event-time high-water mark: the accumulated table is
  // append-only, so its max(ts) is the max over per-batch maxima —
  // maintained at O(batch) per tick instead of re-scanning the whole
  // (unboundedly growing) table every micro-batch. Driver memory alone is
  // NOT durable: a restarted process would regress "now" to EPOCH (or the
  // first replayed batch's max) while the table holds days of data,
  // turning every detector's time window spurious — so the mark is seeded
  // ONCE from the existing table's max(ts) before the first post-restart
  // batch merges in (skipped entirely when a wall clock is configured).
  private var maxEventTime: Option[java.time.Instant] = None
  private var eventTimeSeeded = false

  private def seedEventTime(): Unit = if (!eventTimeSeeded) {
    if (clock.isEmpty)
      loadIfReadable(table).foreach { existing =>
        existing.agg(max(col("ts").cast("timestamp"))).head().get(0) match {
          case t: java.sql.Timestamp =>
            if (maxEventTime.forall(_.isBefore(t.toInstant)))
              maxEventTime = Some(t.toInstant)
          case _ => ()
        }
      }
    eventTimeSeeded = true
  }

  /** The event-time high-water mark the loop's clock would use, seeding
    * from the table first if needed — exposed for tests and operators. */
  private[graft] def currentEventTime: Option[java.time.Instant] = {
    seedEventTime()
    maxEventTime
  }

  /** The loop's "now" for this tick: the configured wall clock if one was
    * given, else the event-time high-water mark (epoch before any data). */
  private def tickClock(): Clock = clock.getOrElse(
    FixedClock(maxEventTime.getOrElse(java.time.Instant.EPOCH)))

  /** Fault-injection hook for the crash-replay test: when set, [[runBatch]]
    * throws once AFTER the ingest append but BEFORE the micro-batch's
    * offset commit — the at-least-once window a plain append double-ingests
    * through on restart. */
  private[graft] var crashAfterAppendOnce: Boolean = false

  /** Ingest one micro-batch — EXACTLY-once either way:
    *
    *  - Default: an atomic manifest commit ([[Catalog.commitAppend]])
    *    carrying the micro-batch id. The commit is all-or-nothing (a torn
    *    append publishes nothing a reader can see) and idempotent (a
    *    replayed batch id is skipped before any data is written), so no
    *    per-table replay probe runs at all.
    *  - With `dedupKeys` set, the pre-manifest batch-id-partition
    *    convention: rows are tagged with the micro-batch id, the table is
    *    additionally partitioned by that tag, and a replayed batch (crash
    *    between append and offset commit) anti-joins away whatever its
    *    crashed attempt already committed — including rows from a PARTIAL
    *    append, since the comparison is per key, not per batch. Kept for
    *    deployments that need a plain-directory table layout; at scale the
    *    batch-id partition keeps the replay probe to one partition
    *    directory's worth of IO, and the one-batch prior side broadcasts.
    *
    * Both mirror the reference's idempotent WRITE_TRUNCATE transform
    * semantics (scripts/transform_script:17-24) in append-only form. Both
    * conventions, their mode guards (each direction fails loudly instead
    * of corrupting the other's layout), and the null-safe replay anti-join
    * live in [[StreamingAppend.appendOnce]], shared with the incremental
    * dedup families' [[DedupCore]]. */
  private val modeChecked = mutable.Set.empty[String]

  private def ingest(batch: DataFrame, batchId: Long): Unit =
    StreamingAppend.appendOnce(catalog, table, batch, batchId,
      keys = dedupKeys, partitionBy = partitionBy,
      partitionMode = dedupKeys.nonEmpty, modeChecked = modeChecked)

  private def loadIfReadable(t: String): Option[DataFrame] =
    StreamingAppend.loadIfReadable(catalog, t)

  /** The foreachBatch body — public so batch jobs and tests can drive the
    * exact same per-tick logic without a streaming source. */
  def runBatch(batch: DataFrame, batchId: Long): MonitoringResult = {
    // restart rehydration of the event clock (no-op after the first tick)
    seedEventTime()
    // persist so the count, the max-ts probe, and the append execute the
    // micro-batch source once, not three times; finally-guarded so a
    // failed ingest can't leak one cached micro-batch per restart attempt
    batch.persist()
    val rows =
      try {
        val n = batch.count()
        // the event-time high-water mark only feeds tickClock's fallback;
        // with a wall clock configured it is never consulted, so skip the
        // per-batch aggregation job (the seedEventTime gate, applied here)
        if (clock.isEmpty)
          batch.agg(max(col("ts").cast("timestamp"))).head().get(0) match {
            case t: java.sql.Timestamp =>
              if (maxEventTime.forall(_.isBefore(t.toInstant)))
                maxEventTime = Some(t.toInstant)
            case _ => ()
          }
        ingest(batch, batchId)
        n
      } finally batch.unpersist()
    if (crashAfterAppendOnce) {
      crashAfterAppendOnce = false
      throw new RuntimeException("injected crash between append and offset commit")
    }

    // loadIfReadable, not load: when the FIRST-ever micro-batch is empty
    // under a partitioned layout (dedupKeys mode writes only _SUCCESS;
    // a partitionBy stage has no files to publish), the table directory
    // is absent or footer-less and a plain load would throw here —
    // OUTSIDE the detectors' recover wrappers — killing the always-on
    // query on every restart until data arrives. No readable table means
    // no ingested history: monitor the empty frame (batch 1 on an empty
    // table is the documented detectors-run-on-empty-history case).
    val events = loadIfReadable(table).getOrElse(
      batch.sparkSession.createDataFrame(
        batch.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        batch.schema))
    val feeds = EventViews.feedView(events)
    val revenue = EventViews.revenueView(events)
    val now = tickClock()

    val result = runner.run(
      feeds = () => new FeedDetector(feeds, now)
        .checkFeedStatus(expectedFeeds, checkTime),
      revenue = () => new RevenueDetector(revenue, now)
        .checkRevenueAnomaly(now.today),
      volume = () => new TransactionDetector(feeds, now, tsCol = "arrival_time")
        .checkTransactionVolume(hours = 1),
      freshness = () => new FreshnessDetector(
        Seq((table, feeds, "arrival_time")), now)
        .checkDataFreshness(maxAgeMinutes),
      patterns = () => new PatternDetector(revenue, now).checkPatternBreaks(),
      // With `reconDest` set, yesterday's ingested revenue reconciles
      // against that destination table (the real src-vs-dst check: a
      // downstream copy that dropped rows raises a discrepancy alert).
      // WITHOUT it, self-vs-self is REFERENCE PARITY, not an oversight:
      // the reference's complete DAG reconciles daily_revenue against
      // itself (dag/financial_monitoring_complete.py:98).
      recon = () => {
        // loadIfReadable, not exists+load: a destination whose first
        // append crashed mid-write EXISTS but has no readable footer —
        // exists+load would throw inside the detector thunk, be swallowed
        // by the runner's recover, and leave recon silently CHECK FAILED
        // every batch with neither the warn nor the fallback firing.
        val dst = reconDest match {
          case Some(r) =>
            loadIfReadable(r) match {
              case Some(df) =>
                reconDestWarned = false
                EventViews.revenueView(df)
              case None =>
                if (!reconDestWarned) {
                  log.warn(s"reconDest '$r' is absent or unreadable (yet?) — " +
                    "falling back to self-vs-self reconciliation, which is " +
                    "vacuously green. Check the table name if this persists.")
                  reconDestWarned = true
                }
                revenue
            }
          case None => revenue
        }
        new ReconciliationDetector(now)
          .checkReconciliation(revenue, dst, now.today.minusDays(1))
      },
      sla = () => new SlaDetector(feeds, now).predictSlaBreach(slaTotalRecords, slaHours),
      quality = () => new QualityDetector(revenue, now).checkQualityDegradation())

    outcomeBuf.synchronized {
      outcomeBuf += BatchOutcome(batchId, rows, result)
      if (outcomeBuf.size > maxOutcomes)
        outcomeBuf.remove(0, outcomeBuf.size - maxOutcomes)
    }
    result
  }

  /** Attach the loop to an events stream. AvailableNow reproduces the
    * reference's polled cadence and drains what's queued; ProcessingTime
    * keeps it running on `interval`.
    *
    * Pass `checkpoint` for restart durability: offsets commit after each
    * batch, so a restarted job resumes at the first unprocessed batch.
    * Ingest is EXACTLY-once in both modes — the default atomic manifest
    * commit skips a replayed batch id outright; `dedupKeys`
    * (e.g. `Seq("event_id")`) selects the batch-id-partition convention
    * instead, where [[ingest]] drops a replayed batch's already-committed
    * rows by (batch id, key). Alert dedup absorbs replays either way. */
  def start(stream: DataFrame, queryName: String = "graft_monitoring_loop",
      continuous: Boolean = false, interval: String = "1 minute",
      checkpoint: Option[String] = None): StreamingQuery =
    StreamingAppend.startForeachBatch(stream, queryName, continuous,
      interval, checkpoint) { (batch, id) => runBatch(batch, id); () }
}
