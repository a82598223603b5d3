package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.AlertEvent

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp =
    Timestamp.from(java.time.Instant.parse(s))

  test("tumblingCounts: event-time 1h windows close as the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val df = input.toDF().toDF("ts", "value")
    val q = StreamingOps.tumblingCounts(df, "ts")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    // batch 1: events in the 10:00 and 11:00 windows
    input.addData(
      (ts("2024-01-01T10:05:00Z"), 1.0),
      (ts("2024-01-01T10:55:00Z"), 2.0),
      (ts("2024-01-01T11:05:00Z"), 3.0))
    q.processAllAvailable()
    // batches 2-3: advance event time so the 2h watermark passes 12:00
    input.addData((ts("2024-01-01T14:00:00Z"), 0.0))
    q.processAllAvailable()
    input.addData((ts("2024-01-01T15:00:00Z"), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumbling").orderBy("window_start").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1), r.getDouble(2)))
    assert(rows.contains(("2024-01-01T10:00:00Z", 2L, 3.0)))
    assert(rows.contains(("2024-01-01T11:00:00Z", 1L, 3.0)))
  }

  test("feedFreshness: streaming max(arrival) per feed") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val q = StreamingOps.feedFreshness(input.toDF().toDF("feed_id", "ts"), "feed_id", "ts")
      .writeStream.format("memory").queryName("freshness")
      .outputMode("complete").start()
    input.addData(
      ("A", ts("2024-01-01T10:00:00Z")),
      ("A", ts("2024-01-01T12:00:00Z")),
      ("B", ts("2024-01-01T11:00:00Z")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("freshness").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).toInstant.toString).toMap
    assert(rows == Map(
      "A" -> "2024-01-01T12:00:00Z",
      "B" -> "2024-01-01T11:00:00Z"))
  }

  test("StreamingMonitor: stream-static baseline join flags an anomalous hour") {
    import graft.streaming.StreamingMonitor
    implicit val sqlCtx = spark.sqlContext
    // history: hours 10/11 get 4-6 events/day over 21 days (jitter so the
    // baseline has nonzero variance — a zero-std baseline z-guards to 0)
    val history = (0 until 21).flatMap { d =>
      (0 until 4 + d % 3).flatMap(i => Seq(10, 11).map(h =>
        ts(f"2024-01-${d + 1}%02dT$h%02d:0$i:00Z")))
    }.toDF("ts")
    val baseline = StreamingMonitor.hourlyBaseline(history, "ts")
    val b = baseline.orderBy("hod").collect()
    assert(b.map(_.getInt(0)).toSeq == Seq(10, 11))
    assert(b.forall(r => r.getDouble(1) == 5.0 && r.getDouble(2) > 0.5))

    val input = MemoryStream[Timestamp]
    // live: hour 10 normal (5 events), hour 11 surge (40 events)
    input.addData((0 until 5).map(i => ts(f"2024-01-25T10:0$i:00Z")): _*)
    input.addData((0 until 40).map(i => ts(f"2024-01-25T11:${i % 60}%02d:30Z")): _*)
    input.addData(ts("2024-01-25T18:00:00Z")) // advance watermark
    input.addData(ts("2024-01-25T22:00:00Z"))
    val q = StreamingMonitor.start(
      StreamingMonitor.volumeAnomalies(input.toDF().toDF("ts"), baseline, "ts"),
      "vol_anomalies")
    // On a timed-out drain, stop the query BEFORE failing: otherwise the
    // assert below reads a partially-drained sink (a misleading
    // NoSuchElementException) and the live query leaks into later tests.
    val drained = q.awaitTermination(120000)
    if (!drained) q.stop()
    assert(drained, "volumeAnomalies AvailableNow drain timed out")
    val rows = spark.table("vol_anomalies")
      .filter($"baseline_avg".isNotNull)
      .orderBy("window_start").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1),
        r.getBoolean(5), r.getString(6)))
    assert(rows.contains(("2024-01-25T10:00:00Z", 5L, false, "NONE")))
    val surge = rows.find(_._1 == "2024-01-25T11:00:00Z").get
    assert(surge._2 == 40L && surge._3 && surge._4 == "CRITICAL")
    // a window whose hour-of-day history never saw any traffic (the 18:00
    // watermark-advance event) is flagged, not silently labelled normal
    val noBase = spark.table("vol_anomalies")
      .filter($"baseline_avg".isNull).collect()
    assert(noBase.nonEmpty)
    assert(noBase.forall(r => r.getBoolean(5) && r.getString(6) == "NO_BASELINE"))
  }

  test("MonitoringLoop: per-batch 8-detector run with alert dedup across batches") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-loop").toString
    val catalog = new graft.core.Catalog(spark, root)
    val mem = new InMemorySink("slack")
    // fixed wall clock => both batches land inside the 1h dedup window
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(mem, new InMemorySink("log"), new InMemorySink("email")))
    val loop = new MonitoringLoop(catalog, "monitoring.events", am,
      expectedFeeds = Seq("click", "purchase", "view"))

    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = loop.start(stream, continuous = true, interval = "1 second")

    // batch 1: click + view arrive after the 17:00 deadline; purchase missing
    input.addData(
      (1L, ts("2024-01-31T17:30:00Z"), 10L, "click", 5.0, "{}"),
      (2L, ts("2024-01-31T17:45:00Z"), 11L, "view", 3.0, "{}"))
    q.processAllAvailable()
    // batch 2: more clicks, purchase STILL missing -> same alert, deduped
    input.addData(
      (3L, ts("2024-01-31T17:50:00Z"), 12L, "click", 2.0, "{}"))
    q.processAllAvailable()
    // batch 3: purchase finally arrives -> nothing missing anymore
    input.addData(
      (4L, ts("2024-01-31T17:55:00Z"), 13L, "purchase", 9.0, "{}"))
    q.processAllAvailable()
    q.stop()

    val o = loop.outcomes
    assert(o.size == 3)
    // every detector must complete on minimal/empty-history inputs — no
    // crashed checks silently reported as failed
    o.foreach { b =>
      val r = b.result
      assert(Seq(r.feeds, r.revenue, r.volume, r.freshness, r.patterns,
        r.recon, r.sla, r.quality).forall(_.isDefined), r.report)
    }
    assert(o(0).result.feeds.exists(_.missingFeeds == Seq("purchase")))
    assert(o(0).result.alertsSent >= 1) // missing-feed alert dispatched
    // batch 2 re-detects the same condition but every alert is suppressed
    // by the cross-batch (type, title) dedup state
    assert(o(1).result.feeds.exists(_.missingFeeds == Seq("purchase")))
    assert(o(1).result.alertsSent == 0)
    // batch 3 sees the accumulated table: all feeds arrived
    assert(o(2).result.feeds.exists(_.missingFeeds.isEmpty))
    // ingest accumulated all four events across the three micro-batches
    assert(catalog.load("monitoring.events").count() == 4)
    // the per-batch report is the same daily-report rendering batch mode uses
    assert(o(0).result.report.contains("1 missing"))
    assert(mem.received.nonEmpty)
  }

  test("exactly-once ingest recovers a FIRST batch that crashed before any commit") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop

    val root = java.nio.file.Files.createTempDirectory("graft-eo-first").toString
    val catalog = new graft.core.Catalog(spark, root)
    // simulate the crashed very-first append: the table directory exists
    // but holds only _temporary droppings — no committed parquet footer
    assert(new java.io.File(s"$root/monitoring/eofirst/_temporary/0").mkdirs())
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(new InMemorySink("log")))
    val loop = new MonitoringLoop(catalog, "monitoring.eofirst", am,
      expectedFeeds = Seq("click"))
    // the replay must take the fresh-table branch instead of dying on
    // schema inference and wedging the loop until manual cleanup
    val r = loop.runBatch(
      Seq((1L, ts("2024-01-31T17:30:00Z"), 10L, "click", 5.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), 0L)
    assert(r.feeds.isDefined)
    assert(catalog.load("monitoring.eofirst").count() == 1)
  }

  test("manifest commit: a torn append is invisible to a concurrent reader") {
    val root = java.nio.file.Files.createTempDirectory("graft-torn").toString
    val catalog = new graft.core.Catalog(spark, root)
    catalog.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "mf.events")
    assert(catalog.load("mf.events").count() == 2)

    // replicate the commit protocol's widest crash window — data files
    // already moved into the canonical layout, manifest NOT yet published —
    // by placing a file beside the committed ones with no snapshot
    // referencing it: a reader must not see its rows
    val dir = new java.io.File(s"$root/mf/events")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(dir, "part-torn-00000.parquet").toPath)
    assert(catalog.load("mf.events").count() == 2)
    // vacuum reclaims the orphan (grace 0: no writer is live here, so the
    // fresh never-committed file is reclaimable NOW — the default grace
    // would leave it alone, since a live appender's staged-but-unpublished
    // files look identical); the table is unchanged
    assert(catalog.vacuum("mf.events", orphanGraceMs = 0L) >= 1)
    assert(catalog.load("mf.events").count() == 2)

    // a FIRST commit crashed the same way (marker dir + moved file, no
    // snapshot): the table reads as absent, and the replay commits cleanly
    // WITHOUT re-adopting the crashed attempt's file
    assert(new java.io.File(s"$root/mf/fresh/_manifests").mkdirs())
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$root/mf/fresh/part-torn-00000.parquet").toPath)
    assert(!catalog.exists("mf.fresh"))
    intercept[graft.core.TableNotFound] { catalog.load("mf.fresh") }
    assert(catalog.commitAppend(Seq((7L, "x")).toDF("id", "v"), "mf.fresh",
      batchId = Some(0L)))
    assert(catalog.load("mf.fresh").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("MonitoringLoop default ingest is exactly-once through the manifest commit") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-mfeo").toString
    val catalog = new graft.core.Catalog(spark, root)
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(new InMemorySink("log")))
    // the manifest commit alone must absorb the replay
    val loop = new MonitoringLoop(catalog, "monitoring.mfeo", am,
      expectedFeeds = Seq("click"))
    val checkpoint = Some(s"$root/chk")

    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    var q = loop.start(stream, continuous = true, interval = "1 second",
      checkpoint = checkpoint)
    input.addData((1L, ts("2024-01-31T17:30:00Z"), 10L, "click", 5.0, "{}"))
    q.processAllAvailable()
    q.stop()

    // batch 1 crashes AFTER its commit lands but BEFORE the offset commit
    loop.crashAfterAppendOnce = true
    q = loop.start(stream, continuous = true, interval = "1 second",
      checkpoint = checkpoint)
    input.addData(
      (2L, ts("2024-01-31T17:40:00Z"), 11L, "click", 2.0, "{}"),
      (3L, ts("2024-01-31T17:45:00Z"), 12L, "click", 3.0, "{}"))
    intercept[Throwable] { q.processAllAvailable(); q.awaitTermination() }
    assert(catalog.load("monitoring.mfeo").count() == 3)

    // restart: the replayed batch id is skipped before any data is written
    q = loop.start(stream, continuous = true, interval = "1 second",
      checkpoint = checkpoint)
    q.processAllAvailable()
    q.stop()
    val ingested = catalog.load("monitoring.mfeo")
    assert(ingested.count() == 3, "replayed batch double-ingested")
    assert(ingested.select("event_id").distinct().count() == 3)
  }

  test("delta-chain ingest: 24 micro-batches with racing compact+vacuum, " +
      "crash-restart mid-run, final table is the exact union") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-chain").toString
    val catalog = new graft.core.Catalog(spark, root)
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(new InMemorySink("log")))
    val loop = new MonitoringLoop(catalog, "monitoring.chain", am,
      expectedFeeds = Seq("click"))
    val checkpoint = Some(s"$root/chk")
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // maintenance races the live writer for the WHOLE run. compact losing
    // its CAS to an interleaved append is expected (it recomputes next
    // round); vacuum must never throw and never eat a commit published
    // while it sweeps — the exact race the version-guarded manifest sweep
    // exists for.
    @volatile var stopMaint = false
    val maintErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val vacuumed = new java.util.concurrent.atomic.AtomicInteger(0)
    val maint = new Thread(() => {
      var i = 0
      while (!stopMaint) {
        try {
          if (catalog.isManifest("monitoring", "chain") &&
              catalog.exists("monitoring.chain")) {
            if (i % 3 == 0)
              try catalog.compact("monitoring.chain")
              catch { case _: java.io.IOException => () } // CAS loss to a live append
            // retainLast = 3: this thread publishes far more often than any
            // production maintenance cadence, so give in-flight readers one
            // extra snapshot of grace — the property under test is commit
            // LOSS, not pinned-reader staleness (HealingSpec pins that)
            catalog.vacuum("monitoring.chain", retainLast = 3)
            vacuumed.incrementAndGet()
          }
        } catch { case t: Throwable => maintErrors.add(t) }
        i += 1
        Thread.sleep(20)
      }
    })
    maint.start()

    def feed(q: org.apache.spark.sql.streaming.StreamingQuery, b: Long): Unit = {
      input.addData(
        (2 * b, ts(f"2024-01-31T10:$b%02d:00Z"), b, "click", 1.0, "{}"),
        (2 * b + 1, ts(f"2024-01-31T11:$b%02d:30Z"), b, "click", 2.0, "{}"))
      q.processAllAvailable()
    }

    try {
      var q = loop.start(stream, continuous = true, interval = "1 second",
        checkpoint = checkpoint)
      (0L until 10L).foreach(feed(q, _))
      q.stop()

      // a batch that commits, then crashes before its offset commit — the
      // restart must replay it as a no-op through the manifest batch ids,
      // with the maintenance thread still racing
      loop.crashAfterAppendOnce = true
      q = loop.start(stream, continuous = true, interval = "1 second",
        checkpoint = checkpoint)
      input.addData((20L, ts("2024-01-31T10:10:00Z"), 10L, "click", 1.0, "{}"),
        (21L, ts("2024-01-31T11:10:30Z"), 10L, "click", 2.0, "{}"))
      intercept[Throwable] { q.processAllAvailable(); q.awaitTermination() }

      q = loop.start(stream, continuous = true, interval = "1 second",
        checkpoint = checkpoint)
      q.processAllAvailable() // replays the crashed batch: skipped, no dupes
      (11L until 24L).foreach(feed(q, _))
      q.stop()
    } finally {
      stopMaint = true
      maint.join()
    }
    assert(maintErrors.isEmpty,
      s"maintenance beside live ingest broke: ${maintErrors.peek()}")
    assert(vacuumed.get() > 0, "vacuum never actually raced the writer")

    // the table is the EXACT union of the 24 batches — no batch lost to a
    // racing vacuum, none double-ingested by the crash replay
    val ids = catalog.load("monitoring.chain")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 48L).toSeq,
      s"expected ids 0..47, got ${ids.size} rows " +
        s"(missing: ${(0L until 48L).toSet -- ids.toSet})")
  }

  test("IncrementalDedup default mode: crash between the two commits replays cleanly") {
    import graft.streaming.IncrementalDedup
    val root = java.nio.file.Files.createTempDirectory("graft-incdedup-mf").toString
    val catalog = new graft.core.Catalog(spark, root)
    // default mode: manifest commits, no __batch_id columns anywhere
    val inc = new IncrementalDedup(catalog, "mf.docs", "mf.bands", threshold = 0.3)

    val base = "the quick brown fox jumps over the lazy dog near the old barn today"
    val fresh = "statistical machine translation systems were replaced by large transformers"
    val freshNear = "statistical machine translation systems were replaced by huge transformers"

    inc.processBatch(Seq((1L, base)).toDF("doc_id", "text"), 0L)

    inc.crashBetweenAppendsOnce = true
    val b1 = Seq((2L, fresh)).toDF("doc_id", "text")
    intercept[RuntimeException] { inc.processBatch(b1, 1L) }
    assert(catalog.load("mf.docs").filter($"doc_id" === 2L).count() == 1)
    assert(catalog.load("mf.bands").filter($"doc_id" === 2L).count() == 0)

    // replay: the docs commit is skipped by batch id, the bands commit lands
    inc.processBatch(b1, 1L)
    assert(catalog.load("mf.docs").filter($"doc_id" === 2L).count() == 1)
    assert(catalog.load("mf.bands").filter($"doc_id" === 2L)
      .select("band").distinct().count() == 8)
    assert(!catalog.load("mf.docs").columns.contains("__batch_id"))

    // state is whole: a later near-dup of the replayed doc drops
    inc.processBatch(Seq((3L, freshNear)).toDF("doc_id", "text"), 2L)
    assert(catalog.load("mf.docs").filter($"doc_id" === 3L).count() == 0)
    assert(catalog.load("mf.docs").count() == 2)
  }

  test("MonitoringLoop reconciles against a real destination table when given one") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-recon").toString
    val catalog = new graft.core.Catalog(spark, root)
    val mem = new InMemorySink("slack")
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(mem, new InMemorySink("log")))
    val loop = new MonitoringLoop(catalog, "monitoring.recon_src", am,
      expectedFeeds = Seq("click"), reconDest = Some("monitoring.recon_dst"))

    // yesterday's events (Jan 30); the downstream copy DROPPED event 3
    val day1 = Seq(
      (1L, ts("2024-01-30T10:00:00Z"), 10L, "click", 5.0, "{}"),
      (2L, ts("2024-01-30T11:00:00Z"), 11L, "click", 3.0, "{}"),
      (3L, ts("2024-01-30T12:00:00Z"), 12L, "click", 2.0, "{}"))
    catalog.save(day1.take(2).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props"),
      "monitoring.recon_dst")

    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = loop.start(stream, continuous = true, interval = "1 second")
    // ingest yesterday's 3 events plus a today (Jan 31) marker so the
    // event-time clock puts "yesterday" on the reconciled date
    input.addData(day1 :+ (4L, ts("2024-01-31T09:00:00Z"), 13L, "click", 1.0, "{}"): _*)
    q.processAllAvailable()
    q.stop()

    val rc = loop.outcomes.last.result.recon
    assert(rc.isDefined, loop.outcomes.last.result.report)
    assert(!rc.get.isReconciled)
    assert(rc.get.sourceCount == 3 && rc.get.destCount == 2)
    assert(rc.get.discrepancy == 1L)
    assert(rc.get.hourlyBreakdown.exists(h => h.hour == 12L && h.diff == 1L))
    // the discrepancy dispatched a reconciliation alert
    assert(mem.received.exists(_._1.alertType == "reconciliation"))
  }

  test("MonitoringLoop with a wall clock sees ingestion stalls the event clock hides") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stall").toString
    val catalog = new graft.core.Catalog(spark, root)
    val am = new AlertManager(FixedClock.at("2024-01-31T20:00:00Z"),
      Seq(new InMemorySink("slack"), new InMemorySink("log"), new InMemorySink("email")))
    // feeds died at 10:00; the wall clock reads 20:00 (past the deadline)
    val wall = FixedClock.at("2024-01-31T20:00:00Z")
    val loop = new MonitoringLoop(catalog, "monitoring.stalled", am,
      expectedFeeds = Seq("click"), maxAgeMinutes = 240L, clock = Some(wall))
    val batch = Seq((1L, ts("2024-01-31T10:00:00Z"), 10L, "click", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = loop.runBatch(batch, 0L)
    // event-time clock would pin "now" at 10:00 and see a fresh, pre-deadline
    // world; the wall clock exposes the 10h stall
    assert(r.freshness.exists(_.isStale))
    assert(r.feeds.exists(_.missingFeeds.isEmpty)) // click did arrive today
    // and the same batch under the default event clock reports nothing stale
    val loopEv = new MonitoringLoop(catalog, "monitoring.stalled2", am,
      expectedFeeds = Seq("click"), maxAgeMinutes = 240L)
    val rEv = loopEv.runBatch(batch, 0L)
    assert(rEv.freshness.exists(!_.isStale))
  }

  test("MonitoringLoop staleness transitions under a fixed-but-advancing wall clock") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.{FixedClock, StepClock}
    import graft.streaming.MonitoringLoop
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-step").toString
    val catalog = new graft.core.Catalog(spark, root)
    val am = new AlertManager(FixedClock.at("2024-01-31T20:00:00Z"),
      Seq(new InMemorySink("log")))
    val clock = new StepClock(java.time.Instant.parse("2024-01-31T10:05:00Z"))
    val loop = new MonitoringLoop(catalog, "monitoring.step", am,
      expectedFeeds = Seq("click"), maxAgeMinutes = 240L, clock = Some(clock))
    def batch(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // t=10:05, data through 10:00 → fresh
    val r0 = loop.runBatch(batch(Seq(
      (1L, ts("2024-01-31T10:00:00Z"), 10L, "click", 5.0, "{}"))), 0L)
    assert(r0.freshness.exists(!_.isStale))

    // the feeds go silent; the wall clock advances past maxAge with an
    // EMPTY batch — an event clock would freeze at 10:00 and stay "fresh",
    // the wall clock turns the silence itself into staleness
    clock.advanceMinutes(600) // 20:05
    val r1 = loop.runBatch(batch(Seq.empty), 1L)
    assert(r1.freshness.exists(_.isStale), "silence did not surface as staleness")

    // data resumes → fresh again (the full transition cycle)
    clock.advanceMinutes(10) // 20:15
    val r2 = loop.runBatch(batch(Seq(
      (2L, ts("2024-01-31T20:10:00Z"), 11L, "click", 2.0, "{}"))), 2L)
    assert(r2.freshness.exists(!_.isStale))
  }

  test("curateToTable stamps wall-clock arrival per batch and commits exactly-once") {
    import graft.core.StepClock
    import graft.streaming.CurationStream
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-curwall").toString
    val catalog = new graft.core.Catalog(spark, root)
    val clock = new StepClock(java.time.Instant.parse("2024-02-01T08:00:00Z"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val q = CurationStream.curateToTable(stream, catalog, "cur.wall", clock,
      continuous = true, interval = "1 second")

    val en = "the quick brown fox and the lazy dog in a field of green grass"
    val en2 = "a second english document with many plain words and a decent length"
    input.addData((1L, ts("2024-01-01T10:00:00Z"), en))
    q.processAllAvailable()
    clock.advanceMinutes(30) // 08:30 — later batch, later stamp
    input.addData(
      (2L, ts("2024-01-01T10:05:00Z"), en),   // exact dup → gated out
      (3L, ts("2024-01-01T10:06:00Z"), en2))
    q.processAllAvailable()
    q.stop()

    val rows = catalog.load("cur.wall")
      .select("doc_id", "arrival_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant)).sortBy(_._1)
    // gates + dedup applied; each survivor carries ITS batch's wall time,
    // read from the injected clock (not the event ts, not a frozen literal)
    assert(rows.map(_._1).toSeq == Seq(1L, 3L))
    assert(rows(0)._2 == java.time.Instant.parse("2024-02-01T08:00:00Z"))
    assert(rows(1)._2 == java.time.Instant.parse("2024-02-01T08:30:00Z"))
    // the stall is now measurable from the table itself: ingestion-time
    // freshness = now - max(arrival_ts), independent of event timestamps
    clock.advanceMinutes(300)
    val ageMin = java.time.Duration.between(rows.map(_._2).max, clock.now).toMinutes
    assert(ageMin == 300)
  }

  test("CurationStream: gates + cross-batch exact dedup within the watermark") {
    import graft.streaming.CurationStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val q = CurationStream.curate(stream)
      .select("doc_id", "n_tokens", "quality_score")
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    val en = "the quick brown fox and the lazy dog in a field of green grass"
    // batch 1: a good doc, a German doc (lang gate), a too-short doc
    input.addData(
      (1L, ts("2024-01-01T10:00:00Z"), en),
      (2L, ts("2024-01-01T10:01:00Z"), "der hund und die katze sind nicht ein problem für das haus"),
      (3L, ts("2024-01-01T10:02:00Z"), "too short"))
    q.processAllAvailable()
    // batch 2: an exact duplicate of doc 1 (dropped by digest state) and a
    // fresh good doc (kept)
    input.addData(
      (4L, ts("2024-01-01T10:30:00Z"), en),
      (5L, ts("2024-01-01T10:31:00Z"),
        "it is a truth of the land that good data makes for a good model"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("curated").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L))
  }

  test("mixture sampling + decontamination attach to a stream statelessly") {
    import graft.ext.{Decontaminate, Sampling}
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // static eval reference; doc 20 below shares its 4-gram run
    val eval = Seq((100L, "the quick brown fox jumps over everything")).toDF("id", "text")
    val refNg = Decontaminate.evalNgrams(eval, col("text"), 4)
    val input = MemoryStream[(Long, String, String)]
    // both ops are scan-stage (a filter and a filter): no watermark, no
    // state, append mode just works — the property the join form lacks
    val curated = input.toDF().toDF("doc_id", "g", "text")
      .filter(!Decontaminate.contaminationPredicate(refNg, col("text"), 4))
      .transform(df => Sampling.mixtureSample(df, col("g"), col("doc_id"),
        Map("keep" -> 1.0, "drop" -> 0.0)))
    val q = curated.writeStream.format("memory").queryName("mixstream")
      .outputMode("append").start()
    input.addData(
      (10L, "keep", "nothing shared with the reference text here at all"),
      (20L, "keep", "prefix words then the quick brown fox jumps over it"),
      (30L, "drop", "rate zero group content never sampled in any draw"))
    q.processAllAvailable()
    // a later batch: same decisions, purely per-row (no cross-batch state)
    input.addData((40L, "keep", "more unshared content arriving in batch two"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("mixstream").collect().map(_.getLong(0)).toSet
    // 20 contaminated (shared 4-gram), 30 mixture rate 0; 10/40 survive
    assert(kept == Set(10L, 40L))
    // the stream's decisions equal the batch forms' on identical input
    val batch = Seq(
      (10L, "keep", "nothing shared with the reference text here at all"),
      (20L, "keep", "prefix words then the quick brown fox jumps over it"),
      (30L, "drop", "rate zero group content never sampled in any draw"),
      (40L, "keep", "more unshared content arriving in batch two"))
      .toDF("doc_id", "g", "text")
    val batchKept = Sampling.mixtureSample(
        Decontaminate.decontaminate(batch, col("doc_id"), col("text"), refNg, 4),
        col("g"), col("doc_id"), Map("keep" -> 1.0, "drop" -> 0.0))
      .collect().map(_.getLong(0)).toSet
    assert(batchKept == kept)
  }

  test("IncrementalDedup: near-dups arriving batches later drop on arrival; equals the sweep") {
    import graft.ext.Dedup
    import graft.streaming.IncrementalDedup
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val catalog = new graft.core.Catalog(spark, root)
    val inc = new IncrementalDedup(catalog, "cur.docs", "cur.bands", threshold = 0.3)
    val input = MemoryStream[(Long, String)]
    val q = inc.start(input.toDF().toDF("doc_id", "text"),
      continuous = true, interval = "1 second")

    val base = "the quick brown fox jumps over the lazy dog near the old barn today"
    val baseNear = "the quick brown fox jumps over the lazy dog near the old barn tonight"
    val other = "completely different content about spark query engines and shuffles here"
    val otherNear = "completely different content about spark query engines and shuffles there"
    val fresh = "statistical machine translation systems were replaced by large transformers"
    val freshNear = "statistical machine translation systems were replaced by huge transformers"

    input.addData((1L, base), (2L, other))
    q.processAllAvailable()
    // intra-batch near-dup: 4 drops against the lower-id arrival 3
    input.addData((3L, fresh), (4L, freshNear))
    q.processAllAvailable()
    // near-dups of batch-1 docs arriving TWO batches later: the persisted
    // band table drops them on arrival — the always-on form of the sweep
    input.addData((5L, baseNear), (6L, otherNear))
    q.processAllAvailable()
    q.stop()

    val kept = catalog.load("cur.docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
    // state grew only with survivors (bands of dropped docs never land)
    assert(catalog.load("cur.bands").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == kept)

    // chain-free corpus: the online result equals the q44 batch sweep over
    // all arrivals at once
    val all = Seq((1L, base), (2L, other), (3L, fresh), (4L, freshNear),
      (5L, baseNear), (6L, otherNear)).toDF("doc_id", "text")
    val dropB = Dedup.nearDupPairs(all, threshold = 0.3)
      .select(col("doc_b").as("doc_id")).distinct()
    val sweep = all.join(dropB, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sweep == kept)
  }

  test("MonitoringLoop restart: event clock reseeds from the table; manifest mode guards the eo layout") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop

    val root = java.nio.file.Files.createTempDirectory("graft-reseed").toString
    val catalog = new graft.core.Catalog(spark, root)
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(new InMemorySink("log")))
    def row(id: Long, t: String) =
      Seq((id, ts(t), 10L, "click", 5.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val loop = new MonitoringLoop(catalog, "monitoring.reseed", am,
      expectedFeeds = Seq("click"))
    loop.runBatch(row(1L, "2024-01-31T17:30:00Z"), 0L)

    // a NEW loop instance (process restart): the event clock must reseed
    // from the table's max(ts) instead of regressing to EPOCH or the next
    // batch's max — a regressed "now" turns every detector window spurious
    val restarted = new MonitoringLoop(catalog, "monitoring.reseed", am,
      expectedFeeds = Seq("click"))
    val hiWater = java.time.Instant.parse("2024-01-31T17:30:00Z")
    assert(restarted.currentEventTime.contains(hiWater))
    // and a LATE first post-restart batch cannot drag "now" backwards
    restarted.runBatch(row(2L, "2024-01-31T12:00:00Z"), 1L)
    assert(restarted.currentEventTime.contains(hiWater))

    // legacy-layout guard: tables written by earlier releases' batch-id-
    // partition convention (rows tagged and partitioned by __batch_id)
    // must be refused loudly by MonitoringLoop and the dedup families —
    // adopting one would publish a snapshot that orphans its history
    import org.apache.spark.sql.functions.lit
    import graft.streaming.IncrementalDedup
    def legacy(df: org.apache.spark.sql.DataFrame, t: String): Unit =
      catalog.append(df.withColumn("__batch_id", lit(0L)), t, Seq("__batch_id"))
    legacy(row(3L, "2024-01-31T17:00:00Z"), "monitoring.legacy")
    val onLegacy = new MonitoringLoop(catalog, "monitoring.legacy", am,
      expectedFeeds = Seq("click"))
    val err = intercept[IllegalArgumentException] {
      onLegacy.runBatch(row(4L, "2024-01-31T17:10:00Z"), 1L)
    }
    assert(err.getMessage.contains("__batch_id"))

    val doc = "the quick brown fox jumps over the lazy dog near the old barn today"
    val doc2 = "completely different content about spark query engines and shuffles here"
    val docs = Seq((1L, doc)).toDF("doc_id", "text")
    legacy(docs, "legacy.docs")
    legacy(graft.ext.Dedup.minhashTable(docs, "text", "doc_id", 3, 32, 8), "legacy.bands")
    val dedup = new IncrementalDedup(catalog, "legacy.docs", "legacy.bands", threshold = 0.3)
    val err2 = intercept[IllegalArgumentException] {
      dedup.processBatch(Seq((2L, doc2)).toDF("doc_id", "text"), 1L)
    }
    assert(err2.getMessage.contains("__batch_id"))
    // refused before any commit: all three tables are as the earlier release left them
    Seq("monitoring.legacy", "legacy.docs", "legacy.bands").foreach { t =>
      val (ns, name) = catalog.parseRef(t)
      assert(!catalog.isManifest(ns, name), s"$t was adopted into manifest commits")
    }
    assert(catalog.load("monitoring.legacy").count() == 1)
    assert(catalog.load("legacy.docs").count() == 1)
  }

  test("exactly-once replay dedups null-keyed rows too") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop

    val root = java.nio.file.Files.createTempDirectory("graft-nullkey").toString
    val catalog = new graft.core.Catalog(spark, root)
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(new InMemorySink("log")))
    val loop = new MonitoringLoop(catalog, "monitoring.nullkey", am,
      expectedFeeds = Seq("click"))
    // one well-formed row, one with a NULL key — exactly the malformed
    // shape a key-based replay probe (an equi-anti-join) never matches
    val batch = Seq(
      (Some(1L), ts("2024-01-31T17:30:00Z"), 10L, "click", 5.0, "{}"),
      (Option.empty[Long], ts("2024-01-31T17:31:00Z"), 11L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    loop.runBatch(batch, 0L)
    assert(catalog.load("monitoring.nullkey").count() == 2)
    // same batch id again = the crash-between-append-and-offset replay:
    // the commit skips the whole batch by its id, null-keyed row included
    loop.runBatch(batch, 0L)
    assert(catalog.load("monitoring.nullkey").count() == 2,
      "replay double-ingested a null-keyed row")
  }

  /** Rows the file scans under each of `roots` produced across every query
    * `body` ran, and the Spark jobs `body` started ([[listenedDuring]]).
    * Each executed scan counts once: a scan inside a cached relation's
    * plan ran once however many later queries read the cache, and a
    * re-scan is a new physical node. */
  private def rowsScanned(roots: Seq[String])(body: => Unit): (Seq[Long], Int) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val (plans, jobs) = listenedDuring(body)
    def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator.single(p) ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }).iterator.flatMap(nodes)
    val scans = new java.util.IdentityHashMap[FileSourceScanExec, Unit]()
    plans.foreach(p => nodes(p).foreach {
      case f: FileSourceScanExec => scans.put(f, ())
      case _ =>
    })
    (roots.map { root =>
      val prefix = new java.io.File(root).toURI.getPath.stripSuffix("/")
      scans.keySet.toArray(Array.empty[FileSourceScanExec])
        .filter(_.relation.location.rootPaths.forall(_.toUri.getPath.startsWith(prefix)))
        .map(_.metrics("numOutputRows").value).sum
    }, jobs)
  }

  test("dedup twins: a batch scans its arrivals and its probed state once and leaves nothing persisted, all six families") {
    import graft.streaming._
    final case class Loop(process: (org.apache.spark.sql.DataFrame, Long) => Long,
      armCrash: () => Unit)
    def text(i: Int) = {
      val r = new scala.util.Random(i)
      Seq.fill(12)(s"w${r.nextInt(400)}").mkString(" ")
    }
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    // seeded noise: distinct keys sit far apart in dHash space (smooth
    // patterns of distinct seeds can fall within the radius)
    def noise(seed: Long, w: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(w * w)(r.nextInt(256).toByte)
    }
    def avi(i: Int): Array[Byte] = graft.functions.MjpegAvi.encode(16, 16, (0 until 2).map(f =>
      graft.functions.JpegGray.encodeGray(16, 16, noise(i * 131L + f, 16), 92)))
    def wav(i: Int): Array[Byte] = graft.functions.WavPcm.encodePcm16(16000, 1,
      graft.ext.Multimodal.waveformSamples(i.toLong, 2 * 2048, 0))
    def png(i: Int): Array[Byte] = graft.functions.PngGray.encodeGray(32, 32, noise(i.toLong, 32))
    // (family, loop over tables once.docs / once.probe (/ once.segs),
    // arrivals of (id, content key)); the probed table is once.probe
    val families = Seq[(String, graft.core.Catalog => Loop,
        Seq[(Long, Int)] => org.apache.spark.sql.DataFrame)](
      ("minhash", c => {
        val l = new IncrementalDedup(c, "once.docs", "once.probe", threshold = 0.3)
        Loop(l.processBatch, () => l.crashBetweenAppendsOnce = true)
      }, rows => rows.map { case (id, k) => (id, text(k)) }.toDF("doc_id", "text")),
      ("exact", c => {
        val l = new IncrementalExactDedup(c, "once.docs", "once.probe")
        Loop(l.processBatch, () => l.crashBetweenAppendsOnce = true)
      }, rows => rows.map { case (id, k) => (id, text(k).getBytes) }.toDF("media_id", "payload")),
      ("lsh", c => {
        val l = new IncrementalLshDedup(c, "once.docs", "once.probe", nPlanes = 4,
          nTables = 8, threshold = 0.999)
        Loop(l.processBatch, () => l.crashBetweenAppendsOnce = true)
      }, rows => rows.map { case (id, k) => (id, vec(k)) }.toDF("vec_id", "embedding")),
      ("audioseg", c => {
        val l = new IncrementalAudioSegmentDedup(c, "once.docs", "once.probe", "once.segs",
          nPlanes = 8, nTables = 4, threshold = 0.999, segments = 2)
        Loop(l.processBatch, () => l.crashBetweenAppendsOnce = true)
      }, rows => rows.map { case (id, k) => (id, wav(k)) }.toDF("media_id", "payload")),
      ("simhash", c => {
        val l = new IncrementalSimhashDedup(c, "once.docs", "once.probe", maxHamming = 3)
        Loop(l.processBatch, () => l.crashBetweenAppendsOnce = true)
      }, rows => rows.map { case (id, k) => (id, text(k)) }.toDF("doc_id", "text")),
      ("image", c => {
        val l = IncrementalImageDedup(c, "once.docs", "once.probe", maxHamming = 3)
        Loop(l.processBatch, () => l.crashBetweenAppendsOnce = true)
      }, rows => rows.map { case (id, k) => (id, png(k)) }.toDF("media_id", "payload")),
      ("videoframe", c => {
        val l = new IncrementalVideoFrameDedup(c, "once.docs", "once.probe",
          frames = 2, maxHamming = 3)
        Loop(l.processBatch, () => l.crashBetweenAppendsOnce = true)
      }, rows => rows.map { case (id, k) => (id, avi(k)) }.toDF("media_id", "payload")))

    val sc = spark.sparkContext
    def keys(ids: Range) = ids.map(i => (i.toLong, i))
    val failures = families.flatMap { case (fam, mk, arrivalsOf) =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-once-$fam").toString
      val catalog = new graft.core.Catalog(spark, root)
      val loop = mk(catalog)
      // two batches before the measured one: the radius-stamped families
      // read their stamp once per loop, on their first probe
      loop.process(arrivalsOf(keys(1 to 10)), 0L)
      loop.process(arrivalsOf(keys(11 to 20)), 1L)
      // arrivals read from parquet, so their scans show in the executed
      // plans; arrival 41 repeats content 7 and drops against the state
      val arrivals = s"$root/arrivals"
      arrivalsOf(keys(21 to 40) :+ (41L -> 7)).write.parquet(arrivals)
      val stateRows = catalog.load("once.probe").count()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      var survivors = -1L
      val (Seq(arrivalRows, stateRowsRead), jobs) =
        rowsScanned(Seq(arrivals, s"$root/once/probe")) {
          survivors = loop.process(spark.read.parquet(arrivals), 2L)
        }
      info(s"$fam: $jobs Spark jobs for the measured batch")
      val persistedAfterSuccess = sc.getPersistentRDDs.size
      // and a batch that fails between its appends releases them too
      loop.armCrash()
      val crashed = scala.util.Try(loop.process(arrivalsOf(keys(100 to 105)), 3L))
      val persistedAfterCrash = sc.getPersistentRDDs.size
      val replayed = loop.process(arrivalsOf(keys(100 to 105)), 3L)
      val persistedAfterReplay = sc.getPersistentRDDs.size
      val corpus = catalog.load("once.docs").count()
      spark.catalog.clearCache()
      Seq(
        (survivors == 20L, s"$survivors survivors of the measured batch, not 20"),
        (arrivalRows == 21L, s"arrivals scanned $arrivalRows rows, not 21"),
        (stateRowsRead == stateRows, s"probed state scanned $stateRowsRead rows, not $stateRows"),
        (persistedAfterSuccess == 0, s"$persistedAfterSuccess RDDs persisted after a success"),
        (crashed.isFailure, "the injected crash did not fire"),
        (persistedAfterCrash == 0, s"$persistedAfterCrash RDDs persisted after the crash"),
        (persistedAfterReplay == 0, s"$persistedAfterReplay RDDs persisted after the replay"),
        (replayed == 6L && corpus == 46L, s"replay kept $replayed, corpus $corpus rows"))
        .collect { case (false, why) => s"$fam: $why" }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("long-lived loops keep the persisted-RDD count flat: MonitoringLoop.runBatch and KindRouter.processBatch over 6 batches") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.{CurationStream, MonitoringLoop}
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val root = java.nio.file.Files.createTempDirectory("graft-flat").toString
    val catalog = new graft.core.Catalog(spark, root)
    val loop = new MonitoringLoop(catalog, "flat.events",
      new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"), Seq(new InMemorySink("log"))),
      expectedFeeds = Seq("click", "view"))
    val router = new CurationStream.KindRouter(catalog, "flat.media")
    def noise(seed: Long): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(32 * 32)(r.nextInt(256).toByte)
    }
    val counts = (0 until 6).map { b =>
      loop.runBatch(Seq(
        (b * 2L, ts(s"2024-01-31T1${b}:00:00Z"), 10L, "click", 5.0, "{}"),
        (b * 2L + 1, ts(s"2024-01-31T1${b}:30:00Z"), 11L, "view", 3.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), b.toLong)
      val afterLoop = sc.getPersistentRDDs.size
      // a fresh image, a repeat of batch 0's image, a wav and an opaque blob
      router.processBatch(Seq(
        (b * 4L, graft.functions.PngGray.encodeGray(32, 32, noise(b + 100L))),
        (b * 4L + 1, graft.functions.PngGray.encodeGray(32, 32, noise(100L))),
        (b * 4L + 2, graft.functions.WavPcm.encodePcm16(16000, 1,
          graft.ext.Multimodal.waveformSamples(b.toLong, 2048, 0))),
        (b * 4L + 3, s"blob $b".getBytes)).toDF("media_id", "payload"), b.toLong)
      (afterLoop, sc.getPersistentRDDs.size)
    }
    assert(counts.forall(_ == counts.head), s"persisted RDDs after each batch: $counts")
    assert(catalog.load("flat.events").count() == 12L)
    assert(catalog.load("flat.media_image").count() == 6L)
  }

  test("IncrementalDedup state probe broadcasts the micro-batch, never shuffles the state") {
    // the state table reads from storage (corpus-global, grows without
    // bound); the batch-derived band frame broadcasts — the probe must
    // plan a broadcast join with the state side scan-only, or every
    // micro-batch re-shuffles the whole accumulated table
    val root = java.nio.file.Files.createTempDirectory("graft-idbc").toString
    val catalog = new graft.core.Catalog(spark, root)
    val docs = (1L to 200L).map(i => (i, s"document number $i with shared words"))
      .toDF("doc_id", "text")
    catalog.save(graft.ext.Dedup.minhashTable(docs, "text", "doc_id"), "st.bands")
    val arrivals = Seq((999L, "document number 7 with shared words"))
      .toDF("doc_id", "text")
    val newBands = graft.ext.Dedup.minhashTable(arrivals, "text", "doc_id")
    val cand = graft.streaming.IncrementalDedup.stateCandidates(
      catalog.load("st.bands"), newBands, "doc_id")
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"state probe sort-merges (state side re-shuffles every batch):\n$plan")
    // and the probe finds the planted near-dup collision
    assert(cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet.contains((999L, 7L)))
  }

  // 8-dim basis vector / its ~0.995-cosine perturbation, shared by the
  // IncrementalLshDedup cases
  private def unitVec(d: Int): Seq[Float] =
    Seq.tabulate(8)(i => if (i == d) 1f else 0f)
  private def nearVec(d: Int): Seq[Float] =
    Seq.tabulate(8)(i => if (i == d) 0.995f else if (i == (d + 1) % 8) 0.1f else 0f)

  test("IncrementalLshDedup: embedding near-dups arriving later drop on arrival; equals the sweep") {
    import graft.ext.Similarity
    import graft.streaming.IncrementalLshDedup
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-inclsh").toString
    val catalog = new graft.core.Catalog(spark, root)
    val inc = new IncrementalLshDedup(catalog, "cur.vecs", "cur.vbuckets",
      nPlanes = 4, nTables = 8, threshold = 0.9)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = inc.start(input.toDF().toDF("vec_id", "embedding"),
      continuous = true, interval = "1 second")

    input.addData((1L, unitVec(0)), (2L, unitVec(2)))
    q.processAllAvailable()
    // intra-batch near-dup: 4 drops against the lower-id arrival 3
    input.addData((3L, unitVec(4)), (4L, nearVec(4)))
    q.processAllAvailable()
    // near-dups of batch-1 vectors arriving TWO batches later: the
    // persisted bucket table drops them on arrival
    input.addData((5L, nearVec(0)), (6L, nearVec(2)))
    q.processAllAvailable()
    q.stop()

    val kept = catalog.load("cur.vecs").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
    // state grew only with survivors (buckets of dropped vectors never land)
    assert(catalog.load("cur.vbuckets").select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet == kept)

    // chain-free corpus: the online result equals the batch LSH sweep over
    // all arrivals at once, at the SAME explicit (nPlanes, nTables)
    val all = Seq((1L, unitVec(0)), (2L, unitVec(2)), (3L, unitVec(4)), (4L, nearVec(4)),
      (5L, nearVec(0)), (6L, nearVec(2))).toDF("vec_id", "embedding")
    val dropB = Similarity.nearDupPairsLsh(all, threshold = 0.9,
        nPlanes = 4, nTables = 8)
      .select(col("id_b").as("vec_id")).distinct()
    val sweep = all.join(dropB, Seq("vec_id"), "left_anti")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sweep == kept)
  }

  test("IncrementalLshDedup state probe broadcasts the micro-batch, never shuffles the state") {
    import graft.ext.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft-ilbc").toString
    val catalog = new graft.core.Catalog(spark, root)
    val vecs = (1L to 200L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 8.0 + d).toFloat))
    }.toDF("vec_id", "embedding")
    catalog.save(Similarity.lshTable(vecs, nPlanes = 4, nTables = 8), "st.vbuckets")
    // an arrival identical to vector 7 shares EVERY table's bucket
    val arrivals = Seq((999L, Seq.tabulate(8)(d => math.sin(7 * 8.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val newBuckets = Similarity.lshTable(arrivals, nPlanes = 4, nTables = 8)
    val cand = graft.streaming.IncrementalLshDedup.stateCandidates(
      catalog.load("st.vbuckets"), newBuckets, "vec_id")
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"state probe sort-merges (state side re-shuffles every batch):\n$plan")
    assert(cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((999L, 7L)))
  }

  test("IncrementalLshDedup: crash between the two appends replays cleanly") {
    val root = java.nio.file.Files.createTempDirectory("graft-ilcr").toString
    val catalog = new graft.core.Catalog(spark, root)
    val inc = new graft.streaming.IncrementalLshDedup(catalog, "cr.vecs",
      "cr.vbuckets", nPlanes = 4, nTables = 8, threshold = 0.9)
    val b0 = Seq((1L, unitVec(0)), (2L, unitVec(2))).toDF("vec_id", "embedding")
    inc.processBatch(b0, 0L)
    // crash between the vectors append and the buckets append, then replay
    val b1 = Seq((3L, unitVec(4))).toDF("vec_id", "embedding")
    inc.crashBetweenAppendsOnce = true
    intercept[RuntimeException](inc.processBatch(b1, 1L))
    inc.processBatch(b1, 1L)
    assert(catalog.load("cr.vecs").select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // bucket rows landed exactly once per (vec_id, tbl)
    val dup = catalog.load("cr.vbuckets").groupBy("vec_id", "tbl")
      .count().filter($"count" > 1).count()
    assert(dup == 0L, "duplicate bucket rows after replay")
    assert(catalog.load("cr.vbuckets").select("vec_id").distinct().count() == 3L)
    // and a near-dup of the replayed vector still drops against its state
    val b2 = Seq((9L, unitVec(4))).toDF("vec_id", "embedding")
    assert(inc.processBatch(b2, 2L) == 0L)
  }

  test("IncrementalSimhashDedup: hamming near-dups arriving later drop on arrival; equals the sweep") {
    import graft.ext.Dedup
    import graft.streaming.IncrementalSimhashDedup
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-incsim").toString
    val catalog = new graft.core.Catalog(spark, root)
    val inc = new IncrementalSimhashDedup(catalog, "cur.sdocs", "cur.sblocks",
      maxHamming = 3)
    val input = MemoryStream[(Long, String)]
    val q = inc.start(input.toDF().toDF("doc_id", "text"),
      continuous = true, interval = "1 second")

    // measured signatures: base~baseCat hamming 1, other~otherThere
    // hamming 3 (the radius boundary), base~other hamming 30
    val base = "the quick brown fox jumps over the lazy dog near the old barn today"
    val baseCat = "the quick brown fox jumps over the lazy cat near the old barn today"
    val other = "completely different content about spark query engines and shuffles here"
    val otherThere = "completely different content about spark query engines and shuffles there"
    val fresh = "statistical machine translation systems were replaced by large transformers"

    input.addData((1L, base), (2L, other))
    q.processAllAvailable()
    // intra-batch: the exact re-arrival drops against the lower id
    input.addData((3L, fresh), (4L, fresh))
    q.processAllAvailable()
    // hamming-1 and hamming-3 (boundary) near-dups of batch-1 docs, TWO
    // batches later: the persisted block table drops them on arrival
    input.addData((5L, baseCat), (6L, otherThere))
    q.processAllAvailable()
    q.stop()

    val kept = catalog.load("cur.sdocs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
    assert(catalog.load("cur.sblocks").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == kept)

    // chain-free corpus: online equals the batch simhashPairs sweep
    val all = Seq((1L, base), (2L, other), (3L, fresh), (4L, fresh),
      (5L, baseCat), (6L, otherThere)).toDF("doc_id", "text")
    val dropB = Dedup.simhashPairs(all, maxHamming = 3)
      .select(col("doc_b").as("doc_id")).distinct()
    val sweep = all.join(dropB, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sweep == kept)

    // probing the table at a DIFFERENT radius fails loudly: the pigeonhole
    // blocking does not transfer across radii
    val wrongRadius = new IncrementalSimhashDedup(catalog, "cur.sdocs",
      "cur.sblocks", maxHamming = 7)
    val err = intercept[IllegalArgumentException](
      wrongRadius.processBatch(Seq((9L, base)).toDF("doc_id", "text"), 9L))
    assert(err.getMessage.contains("radius 3"))
  }

  test("IncrementalImageDedup: perceptual near-dups drop on arrival; undecodable payloads survive") {
    import graft.ext.Multimodal
    import graft.functions.PngGray
    import graft.streaming.IncrementalImageDedup
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-incimg").toString
    val catalog = new graft.core.Catalog(spark, root)
    val inc = IncrementalImageDedup(catalog, "cur.idocs", "cur.iblocks",
      maxHamming = 3)
    val input = MemoryStream[(Long, Array[Byte])]
    val q = inc.start(input.toDF().toDF("media_id", "payload"),
      continuous = true, interval = "1 second")

    def png(seed: Long, bright: Int = 0, jitter: Boolean = false): Array[Byte] = {
      val pix = Multimodal.patternPixels(seed, 32, 32)
      if (bright != 0) {
        var i = 0
        while (i < pix.length) { pix(i) = ((pix(i) & 0xff) + bright).toByte; i += 1 }
      }
      if (jitter) pix(7) = ((pix(7) & 0xff) ^ 0x14).toByte
      PngGray.encodeGray(32, 32, pix)
    }

    input.addData((1L, png(1)), (2L, png(2)))
    q.processAllAvailable()
    // intra-batch: the exact re-upload drops against the lower id; the
    // undecodable payload survives (no content to match) without
    // poisoning anything
    input.addData((3L, "not an image at all".getBytes),
      (4L, png(4)), (5L, png(4)))
    q.processAllAvailable()
    // a perceptual near-dup (+8 brightness + one pixel jitter, hamming
    // ≤ 2 by the corpus bound) of a batch-1 image, two batches later:
    // the persisted block table drops it on arrival
    input.addData((6L, png(1, bright = 8, jitter = true)))
    q.processAllAvailable()
    q.stop()

    val kept = catalog.load("cur.idocs").select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L))
    // block rows exist exactly for the DECODABLE survivors
    assert(catalog.load("cur.iblocks").select("media_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))

    // an all-undecodable FIRST batch leaves a readable EMPTY blocks table
    // (survivors appended, zero block rows) — the next batch's radius
    // check must see "no geometry yet", not crash on head-of-empty
    val root2 = java.nio.file.Files.createTempDirectory("graft-incimg2").toString
    val cat2 = new graft.core.Catalog(spark, root2)
    val inc2 = IncrementalImageDedup(cat2, "cur.jdocs", "cur.jblocks",
      maxHamming = 3)
    assert(inc2.processBatch(
      Seq((1L, "junk one".getBytes), (2L, "junk two".getBytes))
        .toDF("media_id", "payload"), 1L) == 2L)
    assert(inc2.processBatch(
      Seq((3L, png(9)), (4L, png(9))).toDF("media_id", "payload"), 2L) == 1L)
    assert(cat2.load("cur.jdocs").select("media_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    // chain-free corpus: online equals the batch imageNearDups sweep
    val all = Seq((1L, png(1)), (2L, png(2)),
      (3L, "not an image at all".getBytes), (4L, png(4)), (5L, png(4)),
      (6L, png(1, bright = 8, jitter = true))).toDF("media_id", "payload")
    val fps = Multimodal.imageFingerprints(all)
    val dropB = Multimodal.imageNearDups(fps, maxHamming = 3)
      .select(col("media_b").as("media_id")).distinct()
    val sweep = all.join(dropB, Seq("media_id"), "left_anti")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(sweep == kept)
    spark.sharedState.cacheManager.clearCache()
  }

  test("IncrementalVideoFrameDedup (r18): a trimmed re-upload drops on arrival; equals the batch sweep") {
    import graft.ext.Multimodal
    import graft.functions.{JpegGray, MjpegAvi}
    import graft.streaming.IncrementalVideoFrameDedup
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext

    // avi(seed, trim): a 3-frame MJPEG AVI of fields seed·131 + trim+k —
    // the probes.VideoDedupProbe construction, byte-identical overlapping frames
    def avi(seed: Long, trim: Int = 0): Array[Byte] =
      MjpegAvi.encode(32, 32, (0 until 3).map(k =>
        JpegGray.encodeGray(32, 32,
          Multimodal.patternPixels(seed * 131L + trim + k, 32, 32), 92)))

    val root = java.nio.file.Files.createTempDirectory("graft-incvid").toString
    val catalog = new graft.core.Catalog(spark, root)
    val inc = new IncrementalVideoFrameDedup(catalog, "cur.vdocs",
      "cur.vblocks", frames = 3, maxHamming = 3)
    val input = MemoryStream[(Long, Array[Byte])]
    val q = inc.start(input.toDF().toDF("media_id", "payload"),
      continuous = true, interval = "1 second")

    input.addData((1L, avi(1)), (2L, avi(2)))
    q.processAllAvailable()
    // intra-batch: a 1-frame-trimmed re-cut of a LOWER-id arrival drops;
    // a frameless container survives (no content to match)
    input.addData((3L, "RIFF".getBytes ++ Array[Byte](4, 0, 0, 0) ++
      "AVI ".getBytes), (4L, avi(4)), (5L, avi(4, trim = 1)))
    q.processAllAvailable()
    // a trimmed re-cut of a batch-1 video TWO batches later: the
    // persisted fid-block state drops it on arrival — the case the
    // frame-0 stream (IncrementalImageDedup over AVI payloads)
    // measurably misses (r18 trim law)
    input.addData((6L, avi(1, trim = 2)))
    q.processAllAvailable()
    q.stop()

    val kept = catalog.load("cur.vdocs").select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L), s"stream kept $kept")
    // fid-block rows exist exactly for the frame-decodable survivors
    assert(catalog.load("cur.vblocks")
      .select(org.apache.spark.sql.functions.shiftright(col("fid"), 6))
      .distinct().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))

    // chain-free corpus: online equals the batch any-frame sweep (the
    // pair-closure drop convention over the same fingerprints)
    val all = Seq((1L, avi(1)), (2L, avi(2)),
      (3L, "RIFF".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "AVI ".getBytes),
      (4L, avi(4)), (5L, avi(4, trim = 1)), (6L, avi(1, trim = 2)))
      .toDF("media_id", "payload")
    val dropB = Multimodal.videoAnyFrameNearDups(
      Multimodal.videoFrameFingerprints(all, 3), maxHamming = 3)
      .select(col("media_b").as("media_id")).distinct()
    val sweep = all.join(dropB, Seq("media_id"), "left_anti")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(sweep == kept, s"batch sweep $sweep vs stream $kept")

    // the KindRouter knob routes the video pool through this loop: the
    // same trimmed twin drops in the mixed by-kind stream
    val root2 = java.nio.file.Files.createTempDirectory("graft-incvid2").toString
    val cat2 = new graft.core.Catalog(spark, root2)
    val router = new graft.streaming.CurationStream.KindRouter(cat2,
      "cur.vmix", videoTrimTolerance = 1)
    router.processBatch(Seq((1L, avi(1)), (2L, avi(2)))
      .toDF("media_id", "payload"), 1L)
    router.processBatch(Seq((3L, avi(1, trim = 1)))
      .toDF("media_id", "payload"), 2L)
    assert(cat2.load("cur.vmix_video").select("media_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // the trim rung REFUSES a video pool carrying a VALID undecodable
    // video per micro-batch — an opaque-codec mp4 yields no frames and
    // would survive forever, even byte-identical re-uploads — mirroring
    // the batch dispatcher's require through the ONE videoPoolBlockers
    // predicate (r18 advice, medium; r19: blockers are per-row, so a
    // jpeg-codec mp4 is FINE while an avc1 one refuses). Same corpus
    // WITHOUT the knob routes through the exact-digest rung fine.
    def jpegFrames(seed: Long) = (0L to 2L).map(k =>
      graft.functions.JpegGray.encodeGray(32, 32,
        graft.ext.Multimodal.patternPixels(seed + 7919L * k, 32, 32), 92))
    val avc1 = graft.functions.Mp4Jpeg.encode(32, 32, jpegFrames(600L),
      codecFourcc = "avc1")
    val mixedVid = Seq((7L, avi(7)), (8L, avc1)).toDF("media_id", "payload")
    val e = intercept[IllegalArgumentException] {
      router.processBatch(mixedVid, 3L)
    }
    assert(e.getMessage.contains("frame-decodable") &&
      e.getMessage.contains("mp4(codec avc1)"), e.getMessage)
    val rootE = java.nio.file.Files.createTempDirectory("graft-incvid3").toString
    val exactRouter = new graft.streaming.CurationStream.KindRouter(
      new graft.core.Catalog(spark, rootE), "cur.vexact")
    val counts = exactRouter.processBatch(mixedVid, 1L)
    assert(counts("video") == 2L)

    // r19: a mixed avi + JPEG-CODEC mp4 pool IS frame-decodable — the
    // trim rung runs, and a cross-container trimmed re-upload (an mp4
    // re-cut of an AVI's content) drops on arrival
    val rootX = java.nio.file.Files.createTempDirectory("graft-incvid4").toString
    val catX = new graft.core.Catalog(spark, rootX)
    val xRouter = new graft.streaming.CurationStream.KindRouter(catX,
      "cur.vx", videoTrimTolerance = 1)
    xRouter.processBatch(Seq(
      (1L, graft.functions.MjpegAvi.encode(32, 32, jpegFrames(700L))))
      .toDF("media_id", "payload"), 1L)
    xRouter.processBatch(Seq(
      (2L, graft.functions.Mp4Jpeg.encode(32, 32, (1L to 3L).map(k =>
        graft.functions.JpegGray.encodeGray(32, 32,
          graft.ext.Multimodal.patternPixels(700L + 7919L * k, 32, 32), 92)))))
      .toDF("media_id", "payload"), 2L)
    assert(catX.load("cur.vx_video").select("media_id")
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "cross-container trimmed mp4 re-upload survived the stream")

    // a negative trim refuses at CONSTRUCTION, not with an opaque
    // NoSuchElementException on the first micro-batch (r18 advice, low)
    val e2 = intercept[IllegalArgumentException] {
      new graft.streaming.CurationStream.KindRouter(cat2, "cur.vneg",
        videoTrimTolerance = -1)
    }
    assert(e2.getMessage.contains("videoTrimTolerance"))
    spark.sharedState.cacheManager.clearCache()
  }

  test("curateMediaToTable: gates + sample + exact/perceptual dedup equal the batch pipeline") {
    import graft.core.StepClock
    import graft.ext.Multimodal
    import graft.functions.PngGray
    import graft.streaming.CurationStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext

    def png(seed: Long, bright: Int = 0, jitter: Boolean = false): Array[Byte] = {
      val pix = Multimodal.patternPixels(seed, 32, 32)
      if (bright != 0) {
        var i = 0
        while (i < pix.length) { pix(i) = ((pix(i) & 0xff) + bright).toByte; i += 1 }
      }
      if (jitter) pix(7) = ((pix(7) & 0xff) ^ 0x14).toByte
      PngGray.encodeGray(32, 32, pix)
    }
    // the corpus exercises every stage: undecodable (gated by the header
    // decode), undersized (gated by dims), byte-identical re-upload
    // (exact digest dedup), perceptual re-upload two batches later
    // (state-backed drop-on-arrival), plus clean keepers
    val rows: Seq[(Long, Timestamp, Array[Byte])] = Seq(
      (1L, ts("2024-01-01T10:00:00Z"), png(1)),
      (2L, ts("2024-01-01T10:01:00Z"), png(2)),
      (3L, ts("2024-01-01T10:02:00Z"), "not an image".getBytes),
      (4L, ts("2024-01-01T10:03:00Z"), PngGray.encodeGray(4, 4, new Array[Byte](16))),
      (5L, ts("2024-01-01T10:04:00Z"), png(5)),
      (6L, ts("2024-01-01T10:05:00Z"), png(5)),
      (7L, ts("2024-01-01T10:06:00Z"), png(1, bright = 8, jitter = true)),
      (8L, ts("2024-01-01T10:07:00Z"), png(8)))

    def runStream(rate: Double, tag: String): (Set[Long], graft.core.Catalog) = {
      val root = java.nio.file.Files.createTempDirectory(s"graft-curmedia-$tag").toString
      val catalog = new graft.core.Catalog(spark, root)
      val clock = new StepClock(java.time.Instant.parse("2024-02-01T08:00:00Z"))
      val input = MemoryStream[(Long, Timestamp, Array[Byte])]
      val q = CurationStream.curateMediaToTable(
        input.toDF().toDF("media_id", "ts", "payload"),
        catalog, s"cur.media_$tag", s"cur.mblocks_$tag", clock,
        sampleRate = rate, continuous = true, interval = "1 second")
      input.addData(rows.take(3)); q.processAllAvailable()
      clock.advanceMinutes(10)
      input.addData(rows.slice(3, 6)); q.processAllAvailable()
      clock.advanceMinutes(10)
      input.addData(rows.drop(6)); q.processAllAvailable()
      q.stop()
      (catalog.load(s"cur.media_$tag").select("media_id")
        .collect().map(_.getLong(0)).toSet, catalog)
    }
    // the batch twin: the SAME curateMedia gates batch-executed, then the
    // batch perceptual sweep (imageNearDups) over the gated survivors
    def batchTwin(rate: Double): Set[Long] = {
      val all = rows.toDF("media_id", "ts", "payload")
      val gated = CurationStream.curateMedia(all, sampleRate = rate)
      val drop = Multimodal.imageNearDups(
        Multimodal.imageFingerprints(gated), maxHamming = 3)
        .select(col("media_b").as("media_id")).distinct()
      gated.join(drop, Seq("media_id"), "left_anti")
        .select("media_id").collect().map(_.getLong(0)).toSet
    }

    val (kept, catalog) = runStream(1.0, "full")
    assert(kept == Set(1L, 2L, 5L, 8L), s"stream kept $kept")
    assert(kept == batchTwin(1.0))
    // wall-clock stamps advance with the injected clock per batch
    val stamps = catalog.load("cur.media_full")
      .select("media_id", "arrival_ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).toInstant).toMap
    assert(stamps(1L) == java.time.Instant.parse("2024-02-01T08:00:00Z"))
    assert(stamps(5L) == java.time.Instant.parse("2024-02-01T08:10:00Z"))
    assert(stamps(8L) == java.time.Instant.parse("2024-02-01T08:20:00Z"))
    // block state exists exactly for the kept images (all decodable here)
    assert(catalog.load("cur.mblocks_full").select("media_id").distinct()
      .collect().map(_.getLong(0)).toSet == kept)

    // a thinning sample rate: stream still equals the batch twin on
    // whatever the deterministic mixtureKeep keeps
    // (no subset-of-full assertion: sampling OUT an original legitimately
    // lets its perceptual twin survive — the twin pipelines agree on that)
    val (keptSampled, _) = runStream(0.6, "s60")
    assert(keptSampled == batchTwin(0.6), s"sampled stream kept $keptSampled")
    spark.sharedState.cacheManager.clearCache()
  }

  test("curateByKindToTable (r18): a mixed png/jpeg/wav/flac/mp4/avi stream equals runPlanByKind") {
    import graft.core.StepClock
    import graft.ext.{Dedup, Multimodal}
    import graft.streaming.CurationStream
    import org.apache.spark.sql.functions.{col, concat, lit}
    implicit val sqlCtx = spark.sqlContext

    // the ExtSpec mixed corpus, streamed: images (png+jpeg+gif+bmp
    // slices), audio (pcm/G.711/flac rotations), mp4s (incl. both
    // malformed classes), MJPEG AVIs (incl. the truncated class), one
    // unrecognizable payload, one NULL payload — every planted dup pair
    // included
    val docs = spark.range(30).select($"id".as("doc_id"),
      concat(lit("body "), $"id".cast("string")).as("text"),
      lit("web").as("source"), lit(10L).as("n_chars"))
    val mixed = Multimodal.syntheticImages(docs)
      .unionByName(Multimodal.syntheticAudio(docs.limit(24))
        .withColumn("media_id", $"media_id" + 10000L)
        .select("media_id", "payload"))
      .unionByName(Multimodal.syntheticVideo(docs.limit(12))
        .withColumn("media_id", $"media_id" + 20000L)
        .select("media_id", "payload"))
      .unionByName(Multimodal.syntheticVideoAvi(docs.limit(24))
        .withColumn("media_id", $"media_id" + 30000L)
        .select("media_id", "payload"))
      .unionByName(Seq((40000L, "no codec speaks this".getBytes))
        .toDF("media_id", "payload"))
      .unionByName(Seq(40001L).toDF("media_id")
        .select($"media_id", lit(null).cast("binary").as("payload")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows: Seq[(Long, Timestamp, Array[Byte])] = mixed.collect()
        .map(r => (r.getLong(0),
          ts("2024-01-01T10:00:00Z"),
          if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)))
        .sortBy(_._1).toSeq

      val root = java.nio.file.Files.createTempDirectory("graft-bykind").toString
      val catalog = new graft.core.Catalog(spark, root)
      val clock = new StepClock(java.time.Instant.parse("2024-02-01T08:00:00Z"))
      val input = MemoryStream[(Long, Timestamp, Array[Byte])]
      val q = CurationStream.curateByKindToTable(
        input.toDF().toDF("media_id", "ts", "payload"),
        catalog, "cur.mix", clock, continuous = true, interval = "1 second")
      // three id-ordered batches so cross-batch state drops are exercised
      // (each planted dup id%20==1 arrives AFTER its id%20==0 original)
      val chunks = rows.grouped((rows.size + 2) / 3).toSeq
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      q.stop()

      def kept(table: String): Set[Long] =
        scala.util.Try(catalog.load(table)
          .select("media_id").collect().map(_.getLong(0)).toSet)
          .getOrElse(Set.empty)

      // the batch twin: the SAME corpus through the by-kind dispatcher
      val byKind = Dedup.runPlanByKind(mixed, mutationTolerance = 0.01)
        .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2)))
      def batchSurvivors(kinds: Set[String]): Set[Long] =
        byKind.filter(t => t._2 != null && kinds(t._2) && t._3)
          .map(_._1).toSet
      import Dedup.ModalityKinds
      assert(kept("cur.mix_image") == batchSurvivors(ModalityKinds("image")),
        s"image pool: ${kept("cur.mix_image")}")
      assert(kept("cur.mix_audio") == batchSurvivors(ModalityKinds("audio")),
        s"audio pool: ${kept("cur.mix_audio")}")
      assert(kept("cur.mix_video") == batchSurvivors(ModalityKinds("video")),
        s"video pool: ${kept("cur.mix_video")}")
      // pass-through: the garbage row AND the null-payload row survive
      // into the others table — never silently dropped
      val others = kept("cur.mix_others")
      assert(others.contains(40000L) && others.contains(40001L), others)
      assert(others == byKind
        .filter(t => t._2 == null || t._2 == "unknown").map(_._1).toSet)
      // every input row landed in exactly one pool or was a dup drop
      val allKept = kept("cur.mix_image") ++ kept("cur.mix_audio") ++
        kept("cur.mix_video") ++ others
      val dropped = rows.map(_._1).toSet -- allKept
      assert(dropped.nonEmpty && dropped.forall(id =>
        byKind.exists(t => t._1 == id && !t._3)),
        s"stream dropped $dropped not matched by batch eliminations")
    } finally { mixed.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("curateMediaToTable geometricTolerance: shifted-crop re-uploads drop via the spectral stream") {
    import graft.core.StepClock
    import graft.ext.{Multimodal, Similarity}
    import graft.functions.{JpegGray, PngGray}
    import graft.streaming.CurationStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext

    // 32x32 windows into a 40x40 field: off > 0 is a re-FRAMED re-upload
    // (the r16 crop band the dHash tier measured 0.000 detection in)
    def window(seed: Long, off: Int): Array[Byte] = {
      val field = Multimodal.patternPixels(seed, 40, 40)
      val wp = new Array[Byte](32 * 32)
      for (y <- 0 until 32; x <- 0 until 32)
        wp(y * 32 + x) = field((y + off) * 40 + (x + off))
      wp
    }
    // header-valid but PIXEL-undecodable: IDAT bytes zeroed behind an
    // intact IHDR — passes the MediaHeader gate, fails PngGray, rejected
    // by the feature gate (the curateAudio stream-contract convention)
    val brokenIdat = {
      val b = PngGray.encodeGray(32, 32, window(9L, 0))
      val at = (8 until b.length - 4).find(i =>
        b(i) == 'I' && b(i + 1) == 'D' && b(i + 2) == 'A' && b(i + 3) == 'T').get
      for (k <- at + 4 until math.min(at + 14, b.length)) b(k) = 0
      b
    }
    val rows: Seq[(Long, Timestamp, Array[Byte])] = Seq(
      (1L, ts("2024-01-01T10:00:00Z"), PngGray.encodeGray(32, 32, window(11L, 0))),
      (2L, ts("2024-01-01T10:01:00Z"), PngGray.encodeGray(32, 32, window(12L, 0))),
      (3L, ts("2024-01-01T10:02:00Z"), "not an image".getBytes),
      (4L, ts("2024-01-01T10:03:00Z"), brokenIdat),
      (5L, ts("2024-01-01T10:04:00Z"), PngGray.encodeGray(32, 32, window(11L, 0))),
      // two batches later: (3,3)-shifted crops of id 1's content — one
      // PNG, one JPEG (the cross-CODEC re-upload a web corpus actually
      // sees) — both inside the spectral tier's measured band
      (6L, ts("2024-01-01T10:05:00Z"), PngGray.encodeGray(32, 32, window(11L, 3))),
      (7L, ts("2024-01-01T10:06:00Z"), JpegGray.encodeGray(32, 32, window(11L, 3), 92)))

    def runStream(tag: String): (Set[Long], graft.core.Catalog) = {
      val root = java.nio.file.Files.createTempDirectory(s"graft-curgeo-$tag").toString
      val catalog = new graft.core.Catalog(spark, root)
      val clock = new StepClock(java.time.Instant.parse("2024-02-01T08:00:00Z"))
      val input = MemoryStream[(Long, Timestamp, Array[Byte])]
      val q = CurationStream.curateMediaToTable(
        input.toDF().toDF("media_id", "ts", "payload"),
        catalog, s"cur.geo_$tag", s"cur.gbuckets_$tag", clock,
        continuous = true, interval = "1 second",
        geometricTolerance = 4.0, nPlanes = 8, nTables = 4)
      input.addData(rows.take(5)); q.processAllAvailable()
      clock.advanceMinutes(10)
      input.addData(rows.drop(5)); q.processAllAvailable()
      q.stop()
      (catalog.load(s"cur.geo_$tag").select("media_id")
        .collect().map(_.getLong(0)).toSet, catalog)
    }
    // batch twin: the SAME curateMedia gates (geometric form) then the
    // batch LSH sweep at the stream's explicit config over the features
    def batchTwin(): Set[Long] = {
      val gated = CurationStream.curateMedia(
        rows.toDF("media_id", "ts", "payload"), geometricTolerance = 4.0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val drop = Similarity.nearDupPairsLsh(gated, 0.9,
          nPlanes = 8, nTables = 4, idCol = "media_id", vecCol = "feature")
          .select(col("id_b").as("media_id")).distinct()
        gated.join(drop, Seq("media_id"), "left_anti")
          .select("media_id").collect().map(_.getLong(0)).toSet
      } finally gated.unpersist()
    }

    val (kept, catalog) = runStream("full")
    // 3 header-gated, 4 feature-gated (pixel-undecodable), 5 exact dup,
    // 6 and 7 shifted-crop drops the dHash tier would MISS (r16 sweep)
    assert(kept == Set(1L, 2L), s"geometric stream kept $kept")
    assert(kept == batchTwin())
    // bucket state exists exactly for the kept images, nTables rows each
    val buckets = catalog.load("cur.gbuckets_full")
    assert(buckets.select("media_id").distinct()
      .collect().map(_.getLong(0)).toSet == kept)
    assert(buckets.count() == kept.size * 4L)
    // the CONTRAST pin: the dHash-tier stream (geometricTolerance 0) on
    // the same corpus KEEPS the re-framed uploads — the gap this knob
    // closes; without it a stream hit by re-framed uploads silently
    // misses what the batch planner would catch
    val root0 = java.nio.file.Files.createTempDirectory("graft-curgeo-off").toString
    val catalog0 = new graft.core.Catalog(spark, root0)
    val input0 = MemoryStream[(Long, Timestamp, Array[Byte])]
    val q0 = CurationStream.curateMediaToTable(
      input0.toDF().toDF("media_id", "ts", "payload"),
      catalog0, "cur.geo_off", "cur.gblocks_off",
      new StepClock(java.time.Instant.parse("2024-02-01T08:00:00Z")),
      continuous = true, interval = "1 second")
    input0.addData(rows.take(5)); q0.processAllAvailable()
    input0.addData(rows.drop(5)); q0.processAllAvailable()
    q0.stop()
    val kept0 = catalog0.load("cur.geo_off").select("media_id")
      .collect().map(_.getLong(0)).toSet
    // id 6 (the shifted crop of accepted id 1) slips the dHash tier;
    // id 7 still drops there, but only as a near-identical cross-codec
    // copy OF id 6 — the id-1 content went unrecognized either way
    assert(kept0.contains(6L),
      s"dHash tier unexpectedly caught the shifted crop: $kept0")
    spark.sharedState.cacheManager.clearCache()
  }

  test("curateAudioToTable: gates + sample + exact/perceptual dedup equal the batch pipeline") {
    import graft.core.StepClock
    import graft.ext.{Multimodal, Similarity}
    import graft.functions.WavPcm
    import graft.streaming.CurationStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext

    def wav(seed: Long, gain: Double = 1.0, jitter: Boolean = false,
        rate: Int = 16000): Array[Byte] = {
      val wave = Multimodal.waveformSamples(seed, 2048, 0)
      if (gain != 1.0) {
        var i = 0
        while (i < wave.length) {
          wave(i) = StrictMath.rint(wave(i) * gain).toInt; i += 1
        }
      }
      if (jitter) wave(7) += 1000
      WavPcm.encodePcm16(rate, 1, wave)
    }
    // the FLAC twin builder (r18): SAME waveform mutations, lossless
    // container — the envelope features are codec-blind, so a FLAC
    // re-upload of an accepted WAV's content drops on arrival
    def flac(seed: Long, gain: Double = 1.0, jitter: Boolean = false,
        rate: Int = 16000): Array[Byte] = {
      val wave = Multimodal.waveformSamples(seed, 2048, 0)
      if (gain != 1.0) {
        var i = 0
        while (i < wave.length) {
          wave(i) = StrictMath.rint(wave(i) * gain).toInt; i += 1
        }
      }
      if (jitter) wave(7) += 1000
      graft.functions.FlacPcm.encode(rate, 1, wave)
    }
    // header-valid but PCM-undecodable: the fmt tag patched to 3 (float)
    // — passes the MediaHeader gate, fails WavPcm, rejected by the
    // feature gate (the documented stream-vs-batch contract difference)
    val floatWav = { val b = wav(9); b(20) = 3; b }
    // the corpus exercises every stage: undecodable header, sub-rate clip
    // (gated), float-PCM clip (feature-gated), byte-identical re-upload
    // (exact digest dedup), re-levelled+jittered re-upload two batches
    // later (state-backed drop-on-arrival), plus clean keepers
    val rows: Seq[(Long, Timestamp, Array[Byte])] = Seq(
      (1L, ts("2024-01-01T10:00:00Z"), wav(1)),
      (2L, ts("2024-01-01T10:01:00Z"), wav(2)),
      (3L, ts("2024-01-01T10:02:00Z"), "definitely not audio".getBytes),
      (4L, ts("2024-01-01T10:03:00Z"), wav(4, rate = 4000)),
      (5L, ts("2024-01-01T10:04:00Z"), wav(5)),
      (6L, ts("2024-01-01T10:05:00Z"), wav(5)),
      (7L, ts("2024-01-01T10:06:00Z"), wav(1, gain = 1.25, jitter = true)),
      (8L, ts("2024-01-01T10:07:00Z"), floatWav),
      // r18 FLAC rows: a CROSS-CONTAINER perceptual twin of id 2's
      // accepted content (drops on arrival) and a clean FLAC keeper
      (9L, ts("2024-01-01T10:08:00Z"), flac(2, gain = 1.25, jitter = true)),
      (10L, ts("2024-01-01T10:09:00Z"), flac(10)))

    def runStream(rate: Double, tag: String): (Set[Long], graft.core.Catalog) = {
      val root = java.nio.file.Files.createTempDirectory(s"graft-curaudio-$tag").toString
      val catalog = new graft.core.Catalog(spark, root)
      val clock = new StepClock(java.time.Instant.parse("2024-02-01T08:00:00Z"))
      val input = MemoryStream[(Long, Timestamp, Array[Byte])]
      val q = CurationStream.curateAudioToTable(
        input.toDF().toDF("media_id", "ts", "payload"),
        catalog, s"cur.audio_$tag", s"cur.abuckets_$tag",
        nPlanes = 8, nTables = 4, clock, sampleRate = rate,
        continuous = true, interval = "1 second")
      input.addData(rows.take(3)); q.processAllAvailable()
      clock.advanceMinutes(10)
      input.addData(rows.slice(3, 6)); q.processAllAvailable()
      clock.advanceMinutes(10)
      input.addData(rows.drop(6)); q.processAllAvailable()
      q.stop()
      (catalog.load(s"cur.audio_$tag").select("media_id")
        .collect().map(_.getLong(0)).toSet, catalog)
    }
    // the batch twin: the SAME curateAudio gates batch-executed, then the
    // batch LSH sweep at the stream's explicit config over the features
    def batchTwin(rate: Double): Set[Long] = {
      val gated = CurationStream.curateAudio(
        rows.toDF("media_id", "ts", "payload"), sampleRate = rate)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val drop = Similarity.nearDupPairsLsh(gated, 0.9,
          nPlanes = 8, nTables = 4, idCol = "media_id", vecCol = "feature")
          .select(col("id_b").as("media_id")).distinct()
        gated.join(drop, Seq("media_id"), "left_anti")
          .select("media_id").collect().map(_.getLong(0)).toSet
      } finally gated.unpersist()
    }

    val (kept, catalog) = runStream(1.0, "full")
    assert(kept == Set(1L, 2L, 5L, 10L), s"stream kept $kept")
    assert(kept == batchTwin(1.0))
    // wall-clock stamps advance with the injected clock per batch
    val stamps = catalog.load("cur.audio_full")
      .select("media_id", "arrival_ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).toInstant).toMap
    assert(stamps(1L) == java.time.Instant.parse("2024-02-01T08:00:00Z"))
    assert(stamps(5L) == java.time.Instant.parse("2024-02-01T08:10:00Z"))
    // bucket state exists exactly for the kept clips, nTables rows each
    val buckets = catalog.load("cur.abuckets_full")
    assert(buckets.select("media_id").distinct()
      .collect().map(_.getLong(0)).toSet == kept)
    assert(buckets.count() == kept.size * 4L)

    // a thinning sample rate: stream still equals the batch twin on
    // whatever the deterministic mixtureKeep keeps
    val (keptSampled, _) = runStream(0.6, "s60")
    assert(keptSampled == batchTwin(0.6), s"sampled stream kept $keptSampled")
    spark.sharedState.cacheManager.clearCache()
  }

  test("IncrementalSimhashDedup state probe broadcasts the micro-batch, never shuffles the state") {
    import graft.ext.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft-isbc").toString
    val catalog = new graft.core.Catalog(spark, root)
    val docs = (1L to 200L).map(i => (i, s"document number $i with shared words"))
      .toDF("doc_id", "text")
    catalog.save(Dedup.simhashBlockTable(
      docs.select($"doc_id", Dedup.simhash($"text").as("sh")), "doc_id", "sh", 3),
      "st.sblocks")
    val arrivals = Seq((999L, "document number 7 with shared words"))
      .toDF("doc_id", "text")
    val newBlocks = Dedup.simhashBlockTable(
      arrivals.select($"doc_id", Dedup.simhash($"text").as("sh")), "doc_id", "sh", 3)
    val cand = graft.streaming.IncrementalSimhashDedup.stateCandidates(
      catalog.load("st.sblocks"), newBlocks, "doc_id")
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"state probe sort-merges (state side re-shuffles every batch):\n$plan")
    // the identical text collides on every block, signatures ride along
    val hit = cand.collect().find(r => r.getLong(0) == 999L && r.getLong(1) == 7L)
    assert(hit.isDefined)
    assert(hit.get.getLong(2) == hit.get.getLong(3), "signatures should match")
  }

  test("IncrementalSimhashDedup: crash between the two appends replays cleanly") {
    val root = java.nio.file.Files.createTempDirectory("graft-iscr").toString
    val catalog = new graft.core.Catalog(spark, root)
    val inc = new graft.streaming.IncrementalSimhashDedup(catalog, "cr.sdocs",
      "cr.sblocks", maxHamming = 3)
    val t1 = "the quick brown fox jumps over the lazy dog near the old barn today"
    val t2 = "completely different content about spark query engines and shuffles here"
    inc.processBatch(Seq((1L, t1)).toDF("doc_id", "text"), 0L)
    inc.crashBetweenAppendsOnce = true
    intercept[RuntimeException](
      inc.processBatch(Seq((2L, t2)).toDF("doc_id", "text"), 1L))
    inc.processBatch(Seq((2L, t2)).toDF("doc_id", "text"), 1L)
    assert(catalog.load("cr.sdocs").select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    val dup = catalog.load("cr.sblocks").groupBy("doc_id", "blk")
      .count().filter($"count" > 1).count()
    assert(dup == 0L, "duplicate block rows after replay")
    // a hamming-1 near-dup of the replayed doc still drops against its state
    val near = "the quick brown fox jumps over the lazy cat near the old barn today"
    assert(inc.processBatch(Seq((9L, near)).toDF("doc_id", "text"), 2L) == 0L)
  }

  test("dedup twins crash fuzz: a crashed+replayed run equals a clean run, all families") {
    // Seeded state-machine fuzz over the six incremental dedup loops:
    // drive the same randomized batch stream through a CRASHY instance
    // (between-appends crash injected on ~1/3 of batches, each followed by
    // the replay the streaming runtime would issue) and a CLEAN instance
    // on separate tables, then require identical survivor sets and state
    // row counts. Dups are exact re-arrivals of earlier content under new
    // ids (jaccard 1 / hamming 0 / cosine 1 — certain drops in every
    // family), so the expected outcome is content-determined, not
    // threshold-borderline.
    import graft.streaming.{IncrementalDedup, IncrementalLshDedup, IncrementalSimhashDedup}
    final case class Harness(process: (org.apache.spark.sql.DataFrame, Long) => Long,
      armCrash: () => Unit, disarm: () => Unit)
    def text(k: Int) =
      s"document about topic ${k % 7} with number $k plus words w${k * 13 % 101} w${k * 29 % 97} w${k * 31 % 89}"
    def vec(k: Int): Seq[Float] =
      Seq.tabulate(8)(d => math.sin(k * 8.0 + d).toFloat)

    // arrivals are (globally-unique id, content key) pairs — dup CONTENT
    // always re-arrives under a fresh id, so survivor sets are
    // content-determined
    val families = Seq[(String, (graft.core.Catalog, String, String) => Harness, Seq[(Long, Int)] => org.apache.spark.sql.DataFrame)](
      ("minhash", (c, d, s) => {
        val l = new IncrementalDedup(c, d, s, threshold = 0.3)
        Harness(l.processBatch, () => l.crashBetweenAppendsOnce = true,
          () => l.crashBetweenAppendsOnce = false)
      }, rows => rows.map { case (id, k) => (id, text(k)) }.toDF("doc_id", "text")),
      ("simhash", (c, d, s) => {
        val l = new IncrementalSimhashDedup(c, d, s, maxHamming = 3)
        Harness(l.processBatch, () => l.crashBetweenAppendsOnce = true,
          () => l.crashBetweenAppendsOnce = false)
      }, rows => rows.map { case (id, k) => (id, text(k)) }.toDF("doc_id", "text")),
      ("lsh", (c, d, s) => {
        val l = new IncrementalLshDedup(c, d, s, nPlanes = 4, nTables = 8,
          threshold = 0.999)
        Harness(l.processBatch, () => l.crashBetweenAppendsOnce = true,
          () => l.crashBetweenAppendsOnce = false)
      }, rows => rows.map { case (id, k) => (id, vec(k)) }.toDF("vec_id", "embedding")),
      ("exact", (c, d, s) => {
        val l = new graft.streaming.IncrementalExactDedup(c, d, s)
        Harness(l.processBatch, () => l.crashBetweenAppendsOnce = true,
          () => l.crashBetweenAppendsOnce = false)
      }, rows => rows.map { case (id, k) => (id, text(k).getBytes) }
        .toDF("media_id", "payload")),
      ("videoframe", (c, d, s) => {
        val l = new graft.streaming.IncrementalVideoFrameDedup(c, d, s,
          frames = 2, maxHamming = 3)
        Harness(l.processBatch, () => l.crashBetweenAppendsOnce = true,
          () => l.crashBetweenAppendsOnce = false)
      }, rows => rows.map { case (id, k) =>
        (id, graft.functions.MjpegAvi.encode(16, 16, (0 until 2).map(f =>
          graft.functions.JpegGray.encodeGray(16, 16,
            graft.ext.Multimodal.patternPixels(k * 131L + f, 16, 16), 92))))
      }.toDF("media_id", "payload")),
      ("audioseg", (c, d, s) => {
        val l = new graft.streaming.IncrementalAudioSegmentDedup(c, d, s, s"${s}_segs",
          nPlanes = 8, nTables = 4, threshold = 0.999, segments = 2)
        Harness(l.processBatch, () => l.crashBetweenAppendsOnce = true,
          () => l.crashBetweenAppendsOnce = false)
      }, rows => rows.map { case (id, k) =>
        (id, graft.functions.WavPcm.encodePcm16(16000, 1,
          graft.ext.Multimodal.waveformSamples(k.toLong, 2 * 2048, 0)))
      }.toDF("media_id", "payload")))

    for ((fam, mkLoop, mkBatch) <- families) {
      val rnd = new scala.util.Random(fam.hashCode ^ 13)
      // the batch stream: content keys, ~40% re-arrivals of earlier keys
      val seen = scala.collection.mutable.ArrayBuffer[Int]()
      var nextId = 0L
      val batches = (0 until 6).map { _ =>
        (0 until (2 + rnd.nextInt(3))).map { _ =>
          val k =
            if (seen.nonEmpty && rnd.nextDouble() < 0.4) seen(rnd.nextInt(seen.size))
            else { val f = rnd.nextInt(10000); seen += f; f }
          nextId += 1
          (nextId, k)
        }
      }
      val root = java.nio.file.Files.createTempDirectory(s"graft-fz-$fam").toString
      val cat = new graft.core.Catalog(spark, root)
      val crashy = mkLoop(cat, s"fz.${fam}_docs", s"fz.${fam}_state")
      val clean = mkLoop(cat, s"fz.${fam}_docs2", s"fz.${fam}_state2")
      batches.zipWithIndex.foreach { case (keys, b) =>
        val df = mkBatch(keys)
        if (rnd.nextDouble() < 0.35) {
          // the crash window only exists when the batch has survivors (an
          // all-dup batch performs no appends) — disarm when it didn't fire
          crashy.armCrash()
          try { crashy.process(df, b.toLong); crashy.disarm() }
          catch {
            // ONLY the injected crash is expected here — a broad catch
            // would silently replay-and-mask a genuine first-attempt bug
            case e: RuntimeException if e.getMessage != null &&
                e.getMessage.startsWith("injected crash") =>
              crashy.process(df, b.toLong) // the runtime's replay
          }
        } else crashy.process(df, b.toLong)
        clean.process(df, b.toLong)
      }
      val idCol =
        if (fam == "lsh") "vec_id"
        else if (fam == "exact" || fam == "videoframe" || fam == "audioseg") "media_id"
        else "doc_id"
      def ids(t: String) = cat.load(t).select(idCol).collect()
        .map(_.getLong(0)).toSet
      assert(ids(s"fz.${fam}_docs") == ids(s"fz.${fam}_docs2"),
        s"$fam: crashed+replayed survivors differ from clean run")
      assert(cat.load(s"fz.${fam}_state").count() ==
        cat.load(s"fz.${fam}_state2").count(),
        s"$fam: state row counts diverged")
      // and re-arrivals of every surviving content key still drop: state
      // is complete after the crashes
      val replay = seen.distinct.take(4).zipWithIndex
        .map { case (k, i) => (900000L + i, k) }
      val n = crashy.process(mkBatch(replay.toSeq), 99L)
      assert(n == 0L, s"$fam: $n re-arrivals survived against healed state")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("dedup twins: a first-batch crash that left only _temporary droppings does not wedge replays") {
    // A plain parquet write into a state directory that crashed between job
    // start and the first task-file commit leaves the directory existing
    // but with no readable parquet — exists() says present, load() throws
    // UNABLE_TO_INFER_SCHEMA. The probes must treat readable-nothing as a
    // fresh table (the loadIfReadable contract), and the first manifest
    // commit must land beside the droppings, or every replay wedges until
    // manual cleanup.
    import graft.streaming.{IncrementalDedup, IncrementalLshDedup, IncrementalSimhashDedup}
    import org.apache.spark.sql.functions.{col, shiftright}
    val root = java.nio.file.Files.createTempDirectory("graft-wedge").toString
    val cat = new graft.core.Catalog(spark, root)
    def plantDroppings(ns: String, t: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$ns/$t/_temporary/0")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    }
    val text = "the quick brown fox jumps over the lazy dog near the old barn today"

    plantDroppings("w", "bands")
    val mh = new IncrementalDedup(cat, "w.docs", "w.bands", threshold = 0.3)
    assert(mh.processBatch(Seq((1L, text)).toDF("doc_id", "text"), 0L) == 1L)
    assert(cat.load("w.bands").select("doc_id").distinct().count() == 1L)

    plantDroppings("w", "sblocks")
    val sh = new IncrementalSimhashDedup(cat, "w.sdocs", "w.sblocks",
      maxHamming = 3)
    assert(sh.processBatch(Seq((1L, text)).toDF("doc_id", "text"), 0L) == 1L)
    assert(cat.load("w.sblocks").select("doc_id").distinct().count() == 1L)

    plantDroppings("w", "vbuckets")
    val lsh = new IncrementalLshDedup(cat, "w.vecs", "w.vbuckets",
      nPlanes = 4, nTables = 8, threshold = 0.9)
    val vec = Seq.tabulate(8)(i => if (i == 0) 1f else 0f)
    assert(lsh.processBatch(Seq((1L, vec)).toDF("vec_id", "embedding"), 0L) == 1L)
    assert(cat.load("w.vbuckets").select("vec_id").distinct().count() == 1L)

    // the media families: payload rows keyed by media_id; packed-fid
    // state rows are owned by fid >> 6
    def owners(t: String, unit: String) =
      cat.load(t).select(shiftright(col(unit), 6)).distinct().count()
    def media(payload: Array[Byte]) = Seq((1L, payload)).toDF("media_id", "payload")

    plantDroppings("w", "digests")
    val exact = new graft.streaming.IncrementalExactDedup(cat, "w.edocs", "w.digests")
    assert(exact.processBatch(media(text.getBytes), 0L) == 1L)
    assert(cat.load("w.digests").select("media_id").distinct().count() == 1L)

    plantDroppings("w", "iblocks")
    val image = graft.streaming.IncrementalImageDedup(cat, "w.idocs", "w.iblocks",
      maxHamming = 3)
    assert(image.processBatch(media(graft.functions.PngGray.encodeGray(32, 32,
      graft.ext.Multimodal.patternPixels(1L, 32, 32))), 0L) == 1L)
    assert(cat.load("w.iblocks").select("media_id").distinct().count() == 1L)

    plantDroppings("w", "fblocks")
    val video = new graft.streaming.IncrementalVideoFrameDedup(cat, "w.fdocs", "w.fblocks",
      frames = 2, maxHamming = 3)
    assert(video.processBatch(media(graft.functions.MjpegAvi.encode(16, 16, (0 until 2).map(f =>
      graft.functions.JpegGray.encodeGray(16, 16,
        graft.ext.Multimodal.patternPixels(131L + f, 16, 16), 92)))), 0L) == 1L)
    assert(owners("w.fblocks", "fid") == 1L)

    plantDroppings("w", "abuckets")
    plantDroppings("w", "asegs")
    val audio = new graft.streaming.IncrementalAudioSegmentDedup(cat, "w.aclips",
      "w.abuckets", "w.asegs", nPlanes = 8, nTables = 4, segments = 2)
    assert(audio.processBatch(media(graft.functions.WavPcm.encodePcm16(16000, 1,
      graft.ext.Multimodal.waveformSamples(1L, 2 * 2048, 0))), 0L) == 1L)
    assert(owners("w.abuckets", "fid") == 1L && owners("w.asegs", "fid") == 1L)
  }

  test("dedup twins: compact+vacuum racing the corpus and state appends " +
      "keeps survivor sets equal to a maintenance-free run") {
    // The delta-chain stress pins the manifest commit protocol against
    // racing maintenance for the MonitoringLoop family; this is the same
    // harness turned on the two r9 twins — a maintenance thread
    // compacts+vacuums BOTH tables of the racy instance (corpus AND
    // collision state) for the whole run, with one injected crash+replay
    // mid-stream, while a clean instance on untouched tables processes the
    // identical batches. The twins' probe-then-append cycle must read the
    // same accepted state whether or not a sweep just rewrote the chain:
    // survivor sets equal, and re-arrivals still drop afterward (no state
    // row eaten by a vacuum).
    import graft.streaming.{IncrementalLshDedup, IncrementalSimhashDedup}
    final case class Harness(process: (org.apache.spark.sql.DataFrame, Long) => Long,
      armCrash: () => Unit, disarm: () => Unit)
    def text(k: Int) =
      s"document about topic ${k % 7} with number $k plus words w${k * 13 % 101} w${k * 29 % 97} w${k * 31 % 89}"
    def vec(k: Int): Seq[Float] =
      Seq.tabulate(8)(d => math.sin(k * 8.0 + d).toFloat)
    val families = Seq[(String, String, (graft.core.Catalog, String, String) => Harness, Seq[(Long, Int)] => org.apache.spark.sql.DataFrame)](
      ("simhash", "doc_id", (c, d, s) => {
        val l = new IncrementalSimhashDedup(c, d, s, maxHamming = 3)
        Harness(l.processBatch, () => l.crashBetweenAppendsOnce = true,
          () => l.crashBetweenAppendsOnce = false)
      }, rows => rows.map { case (id, k) => (id, text(k)) }.toDF("doc_id", "text")),
      ("lsh", "vec_id", (c, d, s) => {
        val l = new IncrementalLshDedup(c, d, s, nPlanes = 4, nTables = 8,
          threshold = 0.999)
        Harness(l.processBatch, () => l.crashBetweenAppendsOnce = true,
          () => l.crashBetweenAppendsOnce = false)
      }, rows => rows.map { case (id, k) => (id, vec(k)) }.toDF("vec_id", "embedding")))

    for ((fam, idCol, mkLoop, mkBatch) <- families) {
      val rnd = new scala.util.Random(fam.hashCode ^ 4242)
      val seen = scala.collection.mutable.ArrayBuffer[Int]()
      var nextId = 0L
      val batches = (0 until 8).map { _ =>
        (0 until (2 + rnd.nextInt(3))).map { _ =>
          val k =
            if (seen.nonEmpty && rnd.nextDouble() < 0.4) seen(rnd.nextInt(seen.size))
            else { val f = rnd.nextInt(10000); seen += f; f }
          nextId += 1
          (nextId, k)
        }
      }
      val root = java.nio.file.Files.createTempDirectory(s"graft-mx-$fam").toString
      val cat = new graft.core.Catalog(spark, root)
      val racy = mkLoop(cat, s"mx.${fam}_docs", s"mx.${fam}_state")
      val clean = mkLoop(cat, s"mx.${fam}_docs2", s"mx.${fam}_state2")

      @volatile var stopMaint = false
      val maintErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val vacuumed = new java.util.concurrent.atomic.AtomicInteger(0)
      val maint = new Thread(() => {
        var i = 0
        while (!stopMaint) {
          for (t <- Seq(s"${fam}_docs", s"${fam}_state")) {
            try {
              if (cat.isManifest("mx", t) && cat.exists(s"mx.$t")) {
                if (i % 3 == 0)
                  try cat.compact(s"mx.$t")
                  catch { case _: java.io.IOException => () } // CAS loss to a live append
                cat.vacuum(s"mx.$t", retainLast = 3)
                vacuumed.incrementAndGet()
              }
            } catch { case e: Throwable => maintErrors.add(e) }
          }
          i += 1
          Thread.sleep(15)
        }
      })
      maint.start()
      try {
        batches.zipWithIndex.foreach { case (keys, b) =>
          val df = mkBatch(keys)
          if (b == 4) {
            // one crashed-then-replayed batch with maintenance still racing:
            // the replay's partial-append protection must hold against a
            // freshly compacted/swept chain too
            racy.armCrash()
            try { racy.process(df, b.toLong); racy.disarm() }
            catch {
              case e: RuntimeException if e.getMessage != null &&
                  e.getMessage.startsWith("injected crash") =>
                racy.process(df, b.toLong)
            }
          } else racy.process(df, b.toLong)
          clean.process(df, b.toLong)
        }
      } finally { stopMaint = true; maint.join() }
      assert(maintErrors.isEmpty,
        s"$fam: maintenance beside live twin ingest broke: ${maintErrors.peek()}")
      assert(vacuumed.get() > 0, s"$fam: vacuum never actually raced the writer")
      def ids(t: String) = cat.load(t).select(idCol).collect()
        .map(_.getLong(0)).toSet
      assert(ids(s"mx.${fam}_docs") == ids(s"mx.${fam}_docs2"),
        s"$fam: survivors diverged under racing compact+vacuum")
      // no state row lost to a sweep: surviving content re-arriving drops
      val replay = seen.distinct.take(4).zipWithIndex
        .map { case (k, i) => (900000L + i, k) }
      val n = racy.process(mkBatch(replay.toSeq), 99L)
      assert(n == 0L, s"$fam: $n re-arrivals survived after racing vacuum")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("dedupStateful: default lateness admits first occurrences that skew across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AlertEvent]
    val base = 1706659200000L
    val q = StreamingOps.dedupStateful(input.toDS()) // default 1h lateness
      .writeStream.format("memory").queryName("dedup_late")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    input.addData(AlertEvent("revenue", "anomaly", base + 2 * 3600 * 1000))
    q.processAllAvailable()
    // a FIRST occurrence 30 min behind the max event time already seen —
    // detectors skew across micro-batches; the batch-side AlertManager
    // twin would dispatch it, so the stream must not drop it as late
    input.addData(AlertEvent("feeds", "missing", base + 90 * 60 * 1000))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_late").collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("feeds", "revenue"))
  }

  test("dedupStateful: suppresses repeats inside the window, passes after it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AlertEvent]
    val base = 1706659200000L // 2024-01-31T00:00:00Z
    // data enqueued before start; AvailableNow drains it then terminates
    // (processing-time timeouts would otherwise keep scheduling batches)
    input.addData(
      AlertEvent("revenue", "anomaly", base),
      AlertEvent("revenue", "anomaly", base + 60 * 1000),        // inside window -> dropped
      AlertEvent("revenue", "anomaly", base + 2 * 3600 * 1000),  // outside -> passes
      AlertEvent("feeds", "missing", base + 60 * 1000))          // different key -> passes
    val q = StreamingOps.dedupStateful(input.toDS(), windowMillis = 3600 * 1000L)
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val rows = spark.table("dedup").collect()
      .map(r => (r.getString(0), r.getLong(2))).sorted
    assert(rows.toSeq == Seq(
      ("feeds", base + 60 * 1000),
      ("revenue", base),
      ("revenue", base + 2 * 3600 * 1000)))
  }

  test("dedup twins: same-id copies within ONE micro-batch collapse to one row") {
    import graft.streaming.{IncrementalDedup, IncrementalLshDedup, IncrementalSimhashDedup}
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-sameid").toString
    val catalog = new graft.core.Catalog(spark, root)
    val t = "the quick brown fox jumps over the lazy dog near the old barn today"
    val other = "completely different content about spark query engines and shuffles here"

    // minhash family: id 1 redelivered twice in the same batch (producer
    // retry) — the strictly-ordered intra-batch pairing (doc_a < doc_b)
    // can never pair the copies, so before the collapse BOTH appended
    val inc = new IncrementalDedup(catalog, "sameid.docs", "sameid.bands",
      threshold = 0.3)
    assert(inc.processBatch(
      Seq((1L, t), (1L, t), (2L, other)).toDF("doc_id", "text"), 0L) == 2L)
    assert(catalog.load("sameid.docs").filter(col("doc_id") === 1L).count() == 1)
    val bands = catalog.load("sameid.bands").filter(col("doc_id") === 1L)
    assert(bands.count() == bands.select("band").distinct().count())

    // embedding-LSH family
    val v = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val lsh = new IncrementalLshDedup(catalog, "sameid.vecs", "sameid.buckets",
      nPlanes = 4, nTables = 2, threshold = 0.8)
    assert(lsh.processBatch(
      Seq((1L, v), (1L, v), (2L, w)).toDF("vec_id", "embedding"), 0L) == 2L)
    assert(catalog.load("sameid.vecs").filter(col("vec_id") === 1L).count() == 1)
    val buckets = catalog.load("sameid.buckets").filter(col("vec_id") === 1L)
    assert(buckets.count() == buckets.select("tbl").distinct().count())

    // simhash family
    val sim = new IncrementalSimhashDedup(catalog, "sameid.sdocs", "sameid.blocks",
      maxHamming = 3)
    assert(sim.processBatch(
      Seq((1L, t), (1L, t), (2L, other)).toDF("doc_id", "text"), 0L) == 2L)
    assert(catalog.load("sameid.sdocs").filter(col("doc_id") === 1L).count() == 1)
    val blocks = catalog.load("sameid.blocks").filter(col("doc_id") === 1L)
    assert(blocks.count() == 4 && blocks.select("blk").distinct().count() == 4)

    // same id, DIFFERENT payloads: the survivor is the xxhash64-minimal
    // copy — deterministic under any arrival order, so a replayed batch
    // collapses to the row a clean run kept
    val incA = new IncrementalDedup(catalog, "sameidA.docs",
      "sameidA.bands", threshold = 0.3)
    val incB = new IncrementalDedup(catalog, "sameidB.docs",
      "sameidB.bands", threshold = 0.3)
    incA.processBatch(Seq((7L, t), (7L, other)).toDF("doc_id", "text"), 0L)
    incB.processBatch(Seq((7L, other), (7L, t)).toDF("doc_id", "text"), 0L)
    val keptA = catalog.load("sameidA.docs").select("text").head().getString(0)
    val keptB = catalog.load("sameidB.docs").select("text").head().getString(0)
    assert(keptA == keptB)
  }

  test("volumeAnomalies: a single-day baseline hour is NO_BASELINE, not a NaN anomaly") {
    import graft.streaming.StreamingMonitor
    implicit val sqlCtx = spark.sqlContext
    // ONE day of history for hour 10 => baseline_n = 1 => sample std is
    // 0/0 = NaN. Spark ranks NaN above every number, so an ungated z would
    // pass the std > 0 guard and flag EVERY window in that hour anomalous
    // (abs(NaN) > 2.5 is true) with a contradictory NONE severity.
    val history = (0 until 5).map(i => ts(f"2024-01-24T10:0$i:00Z"))
      .toDF("ts")
    val baseline = StreamingMonitor.hourlyBaseline(history, "ts")
    val b = baseline.collect()
    assert(b.length == 1 && b.head.getLong(3) == 1L) // hod 10, n = 1

    val input = MemoryStream[Timestamp]
    // live hour 10 traffic with count EXACTLY the baseline avg — as
    // normal as traffic can be
    input.addData((0 until 5).map(i => ts(f"2024-01-25T10:0$i:00Z")): _*)
    input.addData(ts("2024-01-25T18:00:00Z")) // advance watermark
    input.addData(ts("2024-01-25T22:00:00Z"))
    val q = StreamingMonitor.start(
      StreamingMonitor.volumeAnomalies(input.toDF().toDF("ts"), baseline, "ts"),
      "nan_baseline")
    val drained = q.awaitTermination(120000)
    if (!drained) q.stop()
    assert(drained, "drain timed out")
    val row = spark.table("nan_baseline").collect()
      .find(_.getTimestamp(0).toInstant == java.time.Instant.parse("2024-01-25T10:00:00Z"))
      .get
    // flagged as unusable history — NOT as a statistical anomaly, and the
    // z-score is null rather than NaN
    assert(row.getAs[String]("severity") == "NO_BASELINE")
    assert(row.isNullAt(row.fieldIndex("z_score")))
    assert(row.getAs[Boolean]("is_anomaly"))
  }

  test("MonitoringLoop: an EMPTY first batch under a partitioned layout does not crash") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop
    val root = java.nio.file.Files.createTempDirectory("graft-emptyfirst").toString
    val catalog = new graft.core.Catalog(spark, root)
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(new InMemorySink("log")))
    // a partitioned empty batch 0 stages no files, so its commit publishes
    // no snapshot — the table reads as absent, and a plain load would
    // throw OUTSIDE the detectors' recover wrappers and kill the query on
    // every restart until data arrives
    val loop = new MonitoringLoop(catalog, "monitoring.emptyfirst", am,
      expectedFeeds = Seq("click"), partitionBy = Seq("event_type"))
    val empty = Seq.empty[(Long, Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    loop.runBatch(empty, 0L) // must not throw
    assert(loop.outcomes.last.batchRows == 0L)
    // and the loop recovers normally once data lands
    val day = Seq((1L, ts("2024-01-31T10:00:00Z"), 10L, "click", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    loop.runBatch(day, 1L)
    assert(loop.outcomes.last.batchRows == 1L)
    assert(catalog.load("monitoring.emptyfirst").count() == 1)
  }

  test("MonitoringLoop: an unreadable reconDest falls back with a warn, not CHECK FAILED") {
    import graft.alerts.{AlertManager, InMemorySink}
    import graft.core.FixedClock
    import graft.streaming.MonitoringLoop
    val root = java.nio.file.Files.createTempDirectory("graft-tornrecon").toString
    val catalog = new graft.core.Catalog(spark, root)
    // a destination whose first append crashed mid-write: the directory
    // EXISTS but holds only _temporary droppings — exists+load would
    // throw inside the detector thunk, be swallowed by the runner's
    // recover, and leave recon silently CHECK FAILED forever
    val destDir = java.nio.file.Paths.get(root, "monitoring", "torn_dst", "_temporary")
    java.nio.file.Files.createDirectories(destDir)
    java.nio.file.Files.write(destDir.resolve("part-0000"), Array[Byte](1, 2, 3))
    val am = new AlertManager(FixedClock.at("2024-01-31T18:00:00Z"),
      Seq(new InMemorySink("log")))
    val loop = new MonitoringLoop(catalog, "monitoring.tornsrc", am,
      expectedFeeds = Seq("click"), reconDest = Some("monitoring.torn_dst"))
    val day = Seq((1L, ts("2024-01-30T10:00:00Z"), 10L, "click", 5.0, "{}"),
        (2L, ts("2024-01-31T09:00:00Z"), 11L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    loop.runBatch(day, 0L)
    val rc = loop.outcomes.last.result.recon
    // the designed fallback fired: self-vs-self (vacuously reconciled),
    // not a swallowed failure
    assert(rc.isDefined, loop.outcomes.last.result.report)
    assert(rc.get.isReconciled)
  }
}
