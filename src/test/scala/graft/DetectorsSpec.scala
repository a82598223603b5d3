package graft

import java.sql.Timestamp
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.alerts.{AlertManager, InMemorySink}
import graft.core.FixedClock
import graft.detectors._
import graft.pipeline.MonitoringRunner

/** End-to-end detector scenarios on reference-shaped seeded fixtures
  * (FIXTURES.md §B): feeds 7/12/15 missing the last 2 days ⇒ 3/15 = 20% ⇒
  * MEDIUM (`feed_detector.py:182-193`); today's revenue seeded low ⇒
  * |z| > 2.5 anomaly (`setup_bigquery.sql:104-107`).
  */
class DetectorsSpec extends SparkSpec {
  import spark.implicits._

  private val clock = FixedClock.at("2024-01-31T12:00:00Z")
  private val today = LocalDate.parse("2024-01-31")

  private def ts(day: LocalDate, h: Int = 10, m: Int = 0): Timestamp =
    Timestamp.from(day.atTime(h, m).toInstant(java.time.ZoneOffset.UTC))

  /** 15 feeds × 30 days, feeds 7/12/15 absent for the last 2 days. */
  private lazy val feedFixture: DataFrame = {
    val rows = for {
      d <- 0 until 30
      f <- 1 to 15
      day = today.minusDays(d.toLong)
      if !(Set(7, 12, 15).contains(f) && d < 2)
    } yield (f"FEED_$f%03d", ts(day), 5000L + f * 100)
    rows.toDF("feed_id", "arrival_time", "record_count")
  }

  /** 40 days of revenue ~10k/day (3 txns), today seeded low (~2k). */
  private lazy val revenueFixture: DataFrame = {
    val rows = (1 to 40).flatMap { d =>
      val day = today.minusDays(d.toLong)
      Seq(
        (s"T${d}a", ts(day, 9), 3300.0 + d % 7, "Electronics", "NORTH_AMERICA", s"C$d"),
        (s"T${d}b", ts(day, 12), 3400.0 - d % 5, "Food", "EUROPE", s"C$d"),
        (s"T${d}c", ts(day, 15), 3300.0 + d % 3, "Books", "ASIA", null))
    } ++ Seq(("T0", ts(today, 9), 2000.0, "Electronics", "NORTH_AMERICA", null))
    rows.toDF("transaction_id", "transaction_date", "revenue",
      "product_category", "region", "customer_id")
  }

  test("all 8 detectors complete on EMPTY tables (pre-first-ingest state)") {
    // a monitoring deployment watching brand-new tables must report, not
    // crash (ANSI mode turns any x/0 into an exception — see Profiles)
    val emptyFeeds = Seq.empty[(String, Timestamp, Long)]
      .toDF("feed_id", "arrival_time", "record_count")
    val emptyRev = Seq.empty[(String, Timestamp, Double, String, String, String)]
      .toDF("transaction_id", "transaction_date", "revenue",
        "product_category", "region", "customer_id")
    val postDeadline = FixedClock.at("2024-01-31T18:00:00Z")
    val fs = new FeedDetector(emptyFeeds, postDeadline)
      .checkFeedStatus((1 to 3).map(f => f"FEED_$f%03d"))
    assert(fs.missingFeeds.size == 3) // nothing arrived => all missing
    val rs = new RevenueDetector(emptyRev, postDeadline).checkRevenueAnomaly(today)
    assert(!rs.isAnomaly && rs.severity == "NONE") // no baseline => no page
    val vs = new TransactionDetector(emptyFeeds, postDeadline, tsCol = "arrival_time")
      .checkTransactionVolume(hours = 1)
    assert(!vs.isAnomaly)
    val fr = new FreshnessDetector(Seq(("f", emptyFeeds, "arrival_time")), postDeadline)
      .checkDataFreshness(maxAgeMinutes = 240)
    assert(fr.sources.forall(_.lastArrival.isEmpty))
    val ps = new PatternDetector(emptyRev, postDeadline).checkPatternBreaks()
    assert(!ps.hasBreaks)
    val rc = new ReconciliationDetector(postDeadline)
      .checkReconciliation(emptyRev, emptyRev, today.minusDays(1))
    assert(rc.isReconciled) // 0 == 0
    val sla = new SlaDetector(emptyFeeds, postDeadline).predictSlaBreach()
    assert(sla.recordCount == 0L)
    val qs = new QualityDetector(emptyRev, postDeadline).checkQualityDegradation()
    assert(!qs.hasDegradation)
  }

  test("FeedDetector: 3/15 missing => 20% => MEDIUM, anti-join finds exact feeds") {
    val det = new FeedDetector(feedFixture, FixedClock.at("2024-01-31T17:00:00Z"))
    val st = det.checkFeedStatus((1 to 15).map(f => f"FEED_$f%03d"))
    assert(st.missingFeeds == Seq("FEED_007", "FEED_012", "FEED_015"))
    assert(math.abs(st.missingPct - 20.0) < 1e-12)
    assert(st.severity == "MEDIUM")
    assert(st.analysis.exists(_.rootCause.contains("Feed delivery")))
    assert(det.getFeedTrends(7).count() == 7)
  }

  test("FeedDetector: before the checkTime deadline nothing is due or missing") {
    // same fixture, but the clock reads 09:30 — feeds aren't due until 17:00
    val early = new FeedDetector(feedFixture, FixedClock.at("2024-01-31T09:30:00Z"))
    val st = early.checkFeedStatus((1 to 15).map(f => f"FEED_$f%03d"))
    assert(st.missingFeeds.isEmpty && st.severity == "NONE")
    // an earlier custom deadline that has already passed restores the check
    val st2 = early.checkFeedStatus((1 to 15).map(f => f"FEED_$f%03d"), checkTime = "09:00")
    assert(st2.missingFeeds == Seq("FEED_007", "FEED_012", "FEED_015"))
    assert(st2.severity == "MEDIUM")
  }

  test("RevenueDetector: seeded low day breaches 2.5 sigma with breakdown") {
    val det = new RevenueDetector(revenueFixture, clock)
    val st = det.checkRevenueAnomaly(today)
    assert(st.currentTotal == 2000.0)
    assert(st.baseline.exists(_.n == 30))
    assert(st.isAnomaly && st.zScore < -2.5)
    assert(st.severity == "CRITICAL") // ~80% below baseline
    assert(st.breakdown.nonEmpty && st.breakdown.head._1 == "Electronics")
    assert(st.analysis.isDefined)
    // min-sample gate: 3 days of history -> no verdict
    val tiny = revenueFixture.filter($"transaction_date" >= ts(today.minusDays(3)))
    val st2 = new RevenueDetector(tiny, clock).checkRevenueAnomaly(today)
    assert(st2.baseline.isEmpty && !st2.isAnomaly && st2.severity == "NONE")
  }

  test("RevenueDetector: forecast and weekday context") {
    val det = new RevenueDetector(revenueFixture, clock)
    val f = det.forecastRevenue(3, asOf = Some(today.minusDays(1)))
    assert(f.exists(v => v > 25000 && v < 35000)) // ~10k/day * 3
    assert(det.weekdayContext(today).isDefined)
  }

  test("TransactionDetector: same-hour baseline and min-sample gate") {
    val det = new TransactionDetector(revenueFixture, FixedClock.at("2024-01-31T09:30:00Z"),
      tsCol = "transaction_date")
    val st = det.checkTransactionVolume(hours = 1)
    assert(st.hour == 9)
    // 29, not 30: the current check window (incl. today's 09:00 txn) is
    // excluded from its own baseline (transaction_detector.py:113)
    assert(st.baseline.exists(b => b.n == 29 && math.abs(b.avg - 1.0) < 1e-12))
    assert(st.currentCount == 1) // today's 09:00 txn inside the trailing hour
    assert(!st.isAnomaly)
  }

  test("FreshnessDetector: stale source ratio and severity") {
    val fresh = Seq(ts(today, 11, 30)).toDF("ts")
    val stale = Seq(ts(today.minusDays(3))).toDF("ts")
    val det = new FreshnessDetector(
      Seq(("fresh", fresh, "ts"), ("stale", stale, "ts")), clock)
    val st = det.checkDataFreshness(maxAgeMinutes = 120)
    assert(st.isStale && st.staleRatio == 50.0 && st.severity == "CRITICAL")
    val bySource = st.sources.map(s => s.source -> s.isStale).toMap
    assert(!bySource("fresh") && bySource("stale"))
  }

  test("PatternDetector: vanished region is a break; stable dims are quiet") {
    // NORTH_AMERICA present all baseline days, absent today
    val rows = (1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      Seq(("NORTH_AMERICA", "Electronics", ts(day)), ("EUROPE", "Food", ts(day)))
    } ++ Seq(("EUROPE", "Food", ts(today)))
    val df = rows.toDF("region", "product_category", "transaction_date")
    val st = new PatternDetector(df, clock, baselineDays = 30).checkPatternBreaks()
    assert(st.hasBreaks)
    assert(st.breaks.exists(b => b.dimension == "product_category" && b.key == "Electronics"))
    assert(st.severity != "NONE")
  }

  test("PatternDetector: null dimension keys are real groups, not permanent vanished breaks") {
    // null region present in baseline AND today at stable volume: plain
    // equality joins would never pair it (null = null is null), so the
    // baseline's null group would surface as a vanished -100% break on
    // every single run; the null-safe joins keep it quiet
    val stable: Seq[(String, String, Timestamp)] = (1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      Seq((null, "Electronics", ts(day)), ("EUROPE", "Food", ts(day)))
    } ++ Seq((null, "Electronics", ts(today)), ("EUROPE", "Food", ts(today)))
    val quiet = new PatternDetector(stable.toDF("region", "product_category",
      "transaction_date"), clock, baselineDays = 30).checkPatternBreaks()
    assert(!quiet.hasBreaks, quiet.breaks.mkString(","))

    // and a null group that GENUINELY disappears is still a vanished break
    val gone: Seq[(String, String, Timestamp)] = (1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      Seq((null, "Electronics", ts(day)), ("EUROPE", "Food", ts(day)))
    } ++ Seq(("EUROPE", "Food", ts(today)), ("EUROPE", "Electronics", ts(today)))
    val st = new PatternDetector(gone.toDF("region", "product_category",
      "transaction_date"), clock, baselineDays = 30).checkPatternBreaks()
    assert(st.breaks.exists(b =>
      b.dimension == "region" && b.key == null && b.deviationPct == -100.0))
  }

  test("PatternDetector: a brand-new key today is a break, symmetric with vanished") {
    // ASIA has no baseline row at all; before the new-key branch its
    // deviation was NULL and the threshold filter silently dropped it —
    // a data bug emitting a new dimension value could never be flagged
    // while a vanished one always was
    val rows = (1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      Seq(("EUROPE", "Food", ts(day)))
    } ++ Seq(("EUROPE", "Food", ts(today)), ("ASIA", "Food", ts(today)))
    val st = new PatternDetector(rows.toDF("region", "product_category",
      "transaction_date"), clock, baselineDays = 30).checkPatternBreaks()
    val asia = st.breaks.find(b => b.dimension == "region" && b.key == "ASIA")
    assert(asia.isDefined, st.breaks.mkString(","))
    assert(asia.get.deviationPct == 100.0 && asia.get.baselineAvg == 0.0)
  }

  test("PatternDetector: minDailyCount floors new-key breaks and keeps " +
      "sub-threshold history out of the 'new' branch") {
    // EUROPE: healthy everywhere. ASIA: brand-new today with ONE stray row
    // — below the minDailyCount=2 materiality floor, must NOT flag (a few
    // such keys used to ladder to critical). AFRICA: brand-new today with
    // 5 rows — above the floor, flags as new. OCEANIA: real but LOW
    // history (1/day <= minDailyCount) and present today — excluded from
    // deviation measurement, and must NOT resurface as a "new" +100% break
    // the way the old baseline-row-drop shape made it.
    val rows = (1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      Seq.fill(5)(("EUROPE", "Food", ts(day))) :+ (("OCEANIA", "Food", ts(day)))
    } ++ Seq.fill(5)(("EUROPE", "Food", ts(today))) ++
      Seq(("OCEANIA", "Food", ts(today)), ("ASIA", "Food", ts(today))) ++
      Seq.fill(5)(("AFRICA", "Food", ts(today)))
    val st = new PatternDetector(rows.toDF("region", "product_category",
        "transaction_date"), clock, baselineDays = 30,
      minDailyCount = 2).checkPatternBreaks()
    val byKey = st.breaks.filter(_.dimension == "region").map(b => b.key -> b).toMap
    assert(!byKey.contains("ASIA"), st.breaks.mkString(","))
    assert(!byKey.contains("OCEANIA"), st.breaks.mkString(","))
    assert(byKey.get("AFRICA").exists(b =>
      b.deviationPct == 100.0 && b.baselineAvg == 0.0), st.breaks.mkString(","))
    assert(!byKey.contains("EUROPE"))

    // and a sub-threshold-history key that disappears is NOT a vanished
    // break either — it was never measurement-eligible
    val goneLow = (1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      Seq.fill(5)(("EUROPE", "Food", ts(day))) :+ (("OCEANIA", "Food", ts(day)))
    } ++ Seq.fill(5)(("EUROPE", "Food", ts(today)))
    val st2 = new PatternDetector(goneLow.toDF("region", "product_category",
        "transaction_date"), clock, baselineDays = 30,
      minDailyCount = 2).checkPatternBreaks()
    assert(!st2.breaks.exists(b => b.dimension == "region" && b.key == "OCEANIA"),
      st2.breaks.mkString(","))
  }

  test("PatternDetector: a sub-threshold-history key that SURGES today is " +
      "measured against its true baseline, not silently dropped") {
    // OCEANIA has real but low history (1/day <= minDailyCount=2). Quietly
    // present today it stays unmeasured (previous test); but 50 rows today
    // clears the materiality floor, and suppressing it would mean a little
    // history hides a surge a brand-new key would have flagged. It must
    // flag against its TRUE baseline_avg (1.0), not as a +100% "new" key.
    val rows = (1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      Seq.fill(5)(("EUROPE", "Food", ts(day))) :+ (("OCEANIA", "Food", ts(day)))
    } ++ Seq.fill(5)(("EUROPE", "Food", ts(today))) ++
      Seq.fill(50)(("OCEANIA", "Food", ts(today)))
    val st = new PatternDetector(rows.toDF("region", "product_category",
        "transaction_date"), clock, baselineDays = 30,
      minDailyCount = 2).checkPatternBreaks()
    val oce = st.breaks.find(b => b.dimension == "region" && b.key == "OCEANIA")
    assert(oce.isDefined, st.breaks.mkString(","))
    assert(oce.get.baselineAvg == 1.0 && oce.get.deviationPct == 4900.0,
      oce.toString)
  }

  test("PatternDetector: the full measurement decision table at the " +
      "minDailyCount floor") {
    // one key per cell of the (baseline regime x today volume) matrix, all
    // in one run — the rule under test: a key is MEASURED against its true
    // baseline iff its baseline clears the floor OR today does; brand-new
    // keys flag (+100%) iff today clears the floor; nothing below the
    // floor on both sides can ladder severity. Baselines: HI=5/day
    // (eligible), LO=1/day (sub-threshold), NEW=absent. Today: BIG=50
    // (clears floor 2), TINY=1 (below floor), ZERO=absent. The 50% break
    // threshold makes HI_TINY's measured -80% a visible break, so
    // measured-under-threshold and unmeasured keys cannot be confused.
    val mk = (r: String, n: Int, day: java.time.LocalDate) =>
      Seq.fill(n)((r, "Food", ts(day)))
    val rows = (1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      mk("HI_BIG", 5, day) ++ mk("HI_TINY", 5, day) ++ mk("HI_ZERO", 5, day) ++
        mk("LO_BIG", 1, day) ++ mk("LO_TINY", 1, day) ++ mk("LO_ZERO", 1, day)
    } ++
      mk("HI_BIG", 50, today) ++ mk("HI_TINY", 1, today) ++
      mk("LO_BIG", 50, today) ++ mk("LO_TINY", 1, today) ++
      mk("NEW_BIG", 50, today) ++ mk("NEW_TINY", 1, today)
    val st = new PatternDetector(rows.toDF("region", "product_category",
        "transaction_date"), clock, dimensions = Seq("region" -> 50.0),
      baselineDays = 30, minDailyCount = 2).checkPatternBreaks()
    val byKey = st.breaks.map(b => b.key -> b).toMap
    // eligible baseline: measured regardless of today's volume
    assert(byKey("HI_BIG").deviationPct == 900.0)     // (50-5)/5
    assert(byKey("HI_TINY").deviationPct == -80.0)    // (1-5)/5
    assert(byKey("HI_ZERO").deviationPct == -100.0)   // vanished
    // sub-threshold baseline: measured only when TODAY clears the floor
    assert(byKey("LO_BIG").deviationPct == 4900.0 &&
      byKey("LO_BIG").baselineAvg == 1.0)             // the r11 surge rule
    assert(!byKey.contains("LO_TINY"))                // quiet, unmeasured
    assert(!byKey.contains("LO_ZERO"))                // not a disappearance
    // no baseline: new-key break only above the floor
    assert(byKey("NEW_BIG").deviationPct == 100.0 &&
      byKey("NEW_BIG").baselineAvg == 0.0)
    assert(!byKey.contains("NEW_TINY"))
    assert(byKey.keySet == Set("HI_BIG", "HI_TINY", "HI_ZERO", "LO_BIG",
      "NEW_BIG"), byKey.keySet.toString)
    assert(st.severity == "CRITICAL") // 5 breaks >= the 4-break ladder top
  }

  test("TransactionDetector: baseline median is the real percentile, not the mean") {
    // same-hour daily counts 15,1,1,1,1,1,1: mean 3, median 1 — a consumer
    // reading baseline.median must not silently get the mean
    val rows = (1 to 7).flatMap { d =>
      val n = if (d == 1) 15 else 1
      (0 until n).map(i => Timestamp.from(
        Instant.parse(f"2024-01-${31 - d}%02dT12:00:00Z").plusSeconds(i.toLong)))
    }.toDF("transaction_date")
    val st = new TransactionDetector(rows, clock).checkTransactionVolume(hours = 1)
    val b = st.baseline.get
    assert(b.n == 7 && b.avg == 3.0 && b.median == 1.0 && b.max == 15.0)
  }

  test("ReconciliationDetector: self-vs-self reconciles; dropped slice does not") {
    val det = new ReconciliationDetector(clock)
    val same = det.checkReconciliation(revenueFixture, revenueFixture, today.minusDays(5))
    assert(same.isReconciled && same.discrepancyPct == 0.0 && same.severity == "NONE")
    val dropped = revenueFixture.filter(!($"transaction_id".endsWith("b")))
    val diff = det.checkReconciliation(revenueFixture, dropped, today.minusDays(5))
    assert(!diff.isReconciled && diff.discrepancy == 1)
    assert(diff.hourlyBreakdown.exists(h => h.hour == 12 && h.diff == 1))
  }

  test("SlaDetector: healthy rate passes, slow rate projects a breach") {
    // Slow: 100 records spanning 99*36s = 59.4 min => floor 59 minutes
    // => rate 100/59*60 ~ 101.7/h => 99 900 remaining needs ~982h > 4h SLA
    val slow = (0 until 100).map(i =>
      Timestamp.from(Instant.parse("2024-01-31T11:00:00Z").plusSeconds(i * 36L)))
      .toDF("arrival_time")
    val st = new SlaDetector(slow, clock).predictSlaBreach(100000L, 4.0)
    assert(st.willBreachSla && st.projectedHours > 4 && st.severity == "CRITICAL")
    // Healthy, through the NORMAL minutes_elapsed >= 1 rate path (the
    // burst test below only covers the null-rate fallback): 30 records at
    // 32s spacing span 29*32 = 928s => floor 15 minutes => rate
    // 30/15*60 = 120.0/h, binary-exact — the fallback would read 30.0
    // (count/windowHours), so the 120.0 assertion proves which branch
    // computed it. 120 remaining at 120/h projects exactly 1h <= 4h SLA:
    // no breach, nothing pages.
    val healthy = (0 until 30).map(i =>
      Timestamp.from(Instant.parse("2024-01-31T11:10:00Z").plusSeconds(i * 32L)))
      .toDF("arrival_time")
    val ok = new SlaDetector(healthy, clock).predictSlaBreach(150L, 4.0)
    assert(ok.recordCount == 30L && ok.recordsPerHour == 120.0)
    assert(!ok.willBreachSla && ok.projectedHours == 1.0 && ok.severity == "NONE")
  }

  test("SlaDetector: sub-minute burst is peak throughput, not a breach") {
    // 1000 records land within 45 s => minutes_elapsed = 0 => SQL rate is
    // NULL; the detector must fall back to the whole-window lower bound
    // (1000/h here), not rate 0.0 — which would project Infinity and page
    // CRITICAL at the fastest possible processing
    val burst = (0 until 1000).map(i =>
      Timestamp.from(Instant.parse("2024-01-31T11:59:00Z").plusMillis(i * 45L)))
      .toDF("arrival_time")
    val st = new SlaDetector(burst, clock).predictSlaBreach(2000L, 4.0)
    assert(st.recordCount == 1000L)
    assert(st.recordsPerHour == 1000.0) // recordCount / windowHours(=1)
    assert(!st.willBreachSla && st.severity == "NONE")
    assert(st.projectedHours == 1.0) // 1000 remaining at 1000/h
  }

  test("ReconciliationDetector: dead source with live destination is a 100% CRITICAL mismatch") {
    val det = new ReconciliationDetector(clock)
    val date = today.minusDays(5)
    val emptySrc = revenueFixture.filter($"transaction_id" === "no-such-id")
    val st = det.checkReconciliation(emptySrc, revenueFixture, date)
    assert(st.sourceCount == 0L && st.destCount == 3L)
    assert(!st.isReconciled)
    assert(st.discrepancyPct == 100.0) // NOT 0.0: a dead upstream must page
    assert(st.severity == "CRITICAL")
  }

  test("QualityDetector: null-rate jump and duplicate ids flagged") {
    val base = (1 to 30).flatMap { d =>
      (1 to 10).map(i => (s"id$d-$i", ts(today.minusDays(d.toLong)), s"c$i", "EU"))
    }
    val todayRows = (1 to 10).map(i =>
      (if (i <= 2) "dup" else s"t$i", ts(today), if (i <= 5) null else s"c$i", "EU"))
    val df = (base ++ todayRows)
      .toDF("transaction_id", "transaction_date", "customer_id", "region")
    val st = new QualityDetector(df, clock).checkQualityDegradation()
    assert(st.degradedColumns == Seq("customer_id")) // 0% -> 50% nulls
    assert(st.dupPct > 0.5)
    assert(st.hasDegradation && st.severity == "HIGH") // 2 issues
  }

  test("reference seeded scenario via Generators: gap feeds + low-revenue day fire") {
    val asOf = LocalDate.parse("2024-01-31")
    val feeds = graft.ops.Generators.feedArrivals(spark, asOf)
    val st = new FeedDetector(feeds, FixedClock.at("2024-01-31T17:00:00Z"))
      .checkFeedStatus((1 to 15).map(f => f"FEED_$f%03d"))
    assert(st.missingFeeds == Seq("FEED_007", "FEED_012", "FEED_015"))
    assert(st.severity == "MEDIUM") // 3/15 = 20% (feed_detector.py:182-193)

    val revenue = graft.ops.Generators.dailyRevenue(spark, asOf)
    val rst = new RevenueDetector(revenue, FixedClock.at("2024-01-31T18:00:00Z"))
      .checkRevenueAnomaly(asOf)
    assert(rst.isAnomaly && rst.zScore < -2.5) // seeded ~80%-below day
    assert(rst.severity == "CRITICAL")
    // yesterday's seeded high day also stands out, in the other direction
    val yst = new RevenueDetector(revenue, FixedClock.at("2024-01-31T18:00:00Z"))
      .checkRevenueAnomaly(asOf.minusDays(1))
    assert(yst.zScore > 0)
  }

  test("createFeedAlert / createRevenueAlert: reference titles, details, defaults") {
    val mem = new InMemorySink("slack")
    val am = new AlertManager(clock, Seq(mem))
    // severity NONE produces no alert (alert_manager.py:217,243)
    assert(!am.createFeedAlert(FeedStatus(15, 15L, Nil, 0.0, "NONE", None)))
    assert(mem.received.isEmpty)

    val fs = FeedStatus(15, 12L, Seq("FEED_001", "FEED_002", "FEED_003"),
      20.0, "CRITICAL", None)
    assert(am.createFeedAlert(fs))
    val (fa, fRendered) = mem.received.head
    assert(fa.alertType == "FEED" && fa.severity == "CRITICAL")
    assert(fa.title == "Missing Feeds Detected: 3 feeds")
    assert(fa.details("Expected Feeds") == "15" && fa.details("Arrived Feeds") == "12")
    assert(fa.details("Missing IDs") == "FEED_001, FEED_002, FEED_003")
    // analyzer absent -> the reference's default recommendations
    assert(fa.recommendations.head == "Check upstream data providers")
    assert(fRendered.contains("🚨"))

    val rs = RevenueStatus(today, 80000.0,
      Some(Baseline(100000.0, 5000.0, 100000.0, 90000.0, 110000.0, 30)),
      -4.0, isAnomaly = true, deviationPct = -20.0, severity = "HIGH",
      breakdown = Nil, analysis = Some(Analysis("rc", "HIGH", Seq("Do X"))))
    assert(am.createRevenueAlert(rs))
    val (ra, rRendered) = mem.received.last
    assert(ra.alertType == "REVENUE")
    assert(ra.title == "Revenue Drop: 20.0% deviation")
    assert(ra.details("Deviation") == "-20.0%")
    assert(ra.details("Z-Score") == "-4.00")
    assert(ra.details("Dollar Impact") == "-20000.0")
    assert(ra.recommendations == Seq("Do X")) // analyzer actions win
    assert(rRendered.contains("$80,000.00")) // currency format on Current Revenue
    // Dollar Impact renders as currency too, not raw Double.toString noise
    assert(rRendered.contains("Dollar Impact: $-20,000.00"))
    // spike direction flips the title
    assert(am.createRevenueAlert(rs.copy(deviationPct = 12.3,
      currentTotal = 112300.0, severity = "MEDIUM")))
    assert(mem.received.last._1.title == "Revenue Spike: 12.3% deviation")
    assert(mem.received.last._2.contains("📊")) // reference MEDIUM emoji
  }

  test("MonitoringRunner: fan-out, guarded alerts, report; failures isolated") {
    val slack = new InMemorySink("slack")
    val log = new InMemorySink("log")
    val email = new InMemorySink("email")
    val am = new AlertManager(clock, Seq(slack, log, email))
    val feeds = new FeedDetector(feedFixture, FixedClock.at("2024-01-31T17:00:00Z"))
    val rev = new RevenueDetector(revenueFixture, clock)
    val result = new MonitoringRunner(am).run(
      feeds = () => feeds.checkFeedStatus((1 to 15).map(f => f"FEED_$f%03d")),
      revenue = () => rev.checkRevenueAnomaly(today),
      volume = () => sys.error("detector crashed"), // isolated failure
      freshness = () => new FreshnessDetector(
        Seq(("rev", revenueFixture, "transaction_date")), clock)
        .checkDataFreshness(24 * 60),
      patterns = () => new PatternDetector(revenueFixture, clock).checkPatternBreaks(),
      recon = () => new ReconciliationDetector(clock)
        .checkReconciliation(revenueFixture, revenueFixture, today.minusDays(5)),
      sla = () => new SlaDetector(revenueFixture, clock, tsCol = "transaction_date")
        .predictSlaBreach(),
      quality = () => new QualityDetector(revenueFixture, clock).checkQualityDegradation())
    assert(result.volume.isEmpty)            // crashed check reported as failed
    assert(result.feeds.exists(_.missingFeeds.size == 3))
    assert(result.revenue.exists(_.isAnomaly))
    assert(result.alertsSent >= 2)           // missing feeds + revenue anomaly
    assert(result.report.contains("CHECK FAILED"))
    assert(!result.report.contains("TIMED OUT"))   // it threw; it did not hang
    assert(result.report.contains("3 missing"))
  }

  test("MonitoringRunner: hung check reports TIMED OUT; run still completes") {
    // a fatal throwable in a check body (StackOverflowError, interrupt)
    // escapes both Future.apply and the recover, so its future never
    // completes — the barrier must time out rather than hang the whole run
    import scala.concurrent.duration.DurationInt
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // the runner's warnings, captured for this run only (the session logs
    // at ERROR, so the runner's logger is lowered to WARN meanwhile)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("hung-check-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(classOf[MonitoringRunner]).asInstanceOf[CoreLogger]
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    val am = new AlertManager(clock, Seq(new InMemorySink("log")))
    val result = try new MonitoringRunner(am, checkTimeout = 2.seconds).run(
      feeds = () => { Thread.sleep(120000); null },
      revenue = () => RevenueStatus(today, 0.0, None, 0.0, isAnomaly = false,
        0.0, "NONE", Nil, None),
      volume = () => VolumeStatus(12, 0L, None, 0.0, isAnomaly = false, 0.0, "NONE"),
      freshness = () => FreshnessStatus(Nil, isStale = false, 0.0, "NONE"),
      patterns = () => PatternStatus(Nil, hasBreaks = false, "NONE"),
      recon = () => ReconStatus(0L, 0L, 0L, 0.0, isReconciled = true, Nil, "NONE"),
      sla = () => SlaStatus(0L, 0.0, 0.0, willBreachSla = false, "NONE"),
      quality = () => QualityStatus(Map.empty, 0.0, Nil, hasDegradation = false, "NONE"))
    finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    assert(result.feeds.isEmpty)             // timed out => no status, not hung
    assert(result.revenue.isDefined && result.quality.isDefined)
    // the report tells the hung check apart from one that threw
    val feedsLine = result.report.linesIterator.find(_.trim.startsWith("feeds"))
    assert(feedsLine.exists(_.trim == "feeds            TIMED OUT"), result.report)
    assert(!result.report.contains("CHECK FAILED"), result.report)
    // and the timeout leaves a trace naming the check and the limit
    assert(warnings.toArray.toSeq == Seq("monitoring check 'feeds' timed out after 2 seconds"),
      warnings)
  }

  /** What `body` ran: root SQL executions (one per action), their executed
    * plans, and Spark jobs started ([[listenedDuring]]). */
  private case class Actions(executions: Int, plans: Seq[SparkPlan], jobs: Int)
  private def actionsDuring(body: => Unit): Actions = {
    val (plans, jobs) = listenedDuring(body)
    Actions(plans.size, plans, jobs)
  }

  /** Every node of an executed plan, through adaptive stages. */
  private def planNodes(p: SparkPlan): Iterator[SparkPlan] = Iterator.single(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children ++ other.subqueries
  }).iterator.flatMap(planNodes)

  /** The decision-table fixture of the minDailyCount test above. */
  private lazy val decisionTable: DataFrame = {
    val mk = (r: String, n: Int, day: LocalDate) => Seq.fill(n)((r, "Food", ts(day)))
    ((1 to 31).flatMap { d =>
      val day = today.minusDays(d.toLong)
      mk("HI_BIG", 5, day) ++ mk("HI_TINY", 5, day) ++ mk("HI_ZERO", 5, day) ++
        mk("LO_BIG", 1, day) ++ mk("LO_TINY", 1, day) ++ mk("LO_ZERO", 1, day)
    } ++
      mk("HI_BIG", 50, today) ++ mk("HI_TINY", 1, today) ++
      mk("LO_BIG", 50, today) ++ mk("LO_TINY", 1, today) ++
      mk("NEW_BIG", 50, today) ++ mk("NEW_TINY", 1, today))
      .toDF("region", "product_category", "transaction_date")
  }

  test("each detector check runs one Spark action; revenue adds one only for a breakdown") {
    val postDeadline = FixedClock.at("2024-01-31T17:00:00Z")
    val checks: Seq[(String, Int, () => Any)] = Seq(
      ("feeds", 1, () => new FeedDetector(feedFixture, postDeadline)
        .checkFeedStatus((1 to 15).map(f => f"FEED_$f%03d"))),
      ("revenue, quiet day", 1, () => new RevenueDetector(revenueFixture, clock)
        .checkRevenueAnomaly(today.minusDays(5))),
      ("revenue, anomaly + breakdown", 2, () => new RevenueDetector(revenueFixture, clock)
        .checkRevenueAnomaly(today)),
      ("volume", 1, () => new TransactionDetector(revenueFixture, postDeadline)
        .checkTransactionVolume(hours = 1)),
      ("freshness", 1, () => new FreshnessDetector(Seq(
        ("rev", revenueFixture, "transaction_date"), ("feeds", feedFixture, "arrival_time")),
        clock).checkDataFreshness(240)),
      ("patterns", 1, () => new PatternDetector(revenueFixture, clock).checkPatternBreaks()),
      ("recon", 1, () => new ReconciliationDetector(clock)
        .checkReconciliation(revenueFixture, revenueFixture, today.minusDays(5))),
      ("sla", 1, () => new SlaDetector(feedFixture, postDeadline).predictSlaBreach()),
      ("quality", 1, () => new QualityDetector(revenueFixture, clock).checkQualityDegradation()))
    checks.foreach { case (name, expected, check) =>
      val a = actionsDuring(check())
      assert(a.executions == expected, s"$name: ${a.executions} root SQL executions")
    }
    assert(new RevenueDetector(revenueFixture, clock).checkRevenueAnomaly(today).breakdown.nonEmpty)
  }

  test("PatternDetector: one plan with no join and no range-partitioning exchange") {
    val a = actionsDuring(new PatternDetector(decisionTable, clock,
      dimensions = Seq("region" -> 50.0, "product_category" -> 80.0),
      minDailyCount = 2).checkPatternBreaks())
    assert(a.executions == 1)
    val nodes = a.plans.flatMap(planNodes)
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), a.plans.mkString("\n"))
    assert(!nodes.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, a.plans.mkString("\n"))
  }

  test("MonitoringRunner: a full run on the Generators scenario starts at most 24 jobs") {
    val asOf = LocalDate.parse("2024-01-31")
    val feeds = graft.ops.Generators.feedArrivals(spark, asOf)
    val revenue = graft.ops.Generators.dailyRevenue(spark, asOf)
    val feedClock = FixedClock.at("2024-01-31T17:00:00Z")
    val revClock = FixedClock.at("2024-01-31T18:00:00Z")
    val am = new AlertManager(revClock, Seq(new InMemorySink("log")))
    var result: graft.pipeline.MonitoringResult = null
    val a = actionsDuring {
      result = new MonitoringRunner(am).run(
        feeds = () => new FeedDetector(feeds, feedClock)
          .checkFeedStatus((1 to 15).map(f => f"FEED_$f%03d")),
        revenue = () => new RevenueDetector(revenue, revClock).checkRevenueAnomaly(asOf),
        volume = () => new TransactionDetector(feeds, feedClock, tsCol = "arrival_time")
          .checkTransactionVolume(hours = 1),
        freshness = () => new FreshnessDetector(Seq(("feeds", feeds, "arrival_time"),
          ("revenue", revenue, "transaction_date")), revClock).checkDataFreshness(240),
        patterns = () => new PatternDetector(revenue, revClock).checkPatternBreaks(),
        recon = () => new ReconciliationDetector(revClock)
          .checkReconciliation(revenue, revenue, asOf.minusDays(1)),
        sla = () => new SlaDetector(feeds, feedClock).predictSlaBreach(),
        quality = () => new QualityDetector(revenue, revClock).checkQualityDegradation())
    }
    assert(result.productIterator.take(8).forall(_ != None), result.report)
    assert(result.revenue.exists(_.isAnomaly)) // the breakdown action ran too
    // 9 actions (8 checks + revenue's breakdown), each a job plus AQE stage jobs
    assert(a.executions == 9, a.executions.toString)
    assert(a.jobs <= 24, s"${a.jobs} jobs")
  }

  test("fused checks equal their multi-action forms on the fixtures, bit for bit") {
    import LegacyDetectors._
    val asOf = LocalDate.parse("2024-01-31")
    val genRevenue = graft.ops.Generators.dailyRevenue(spark, asOf)
    val genFeeds = graft.ops.Generators.feedArrivals(spark, asOf)
    val genClock = FixedClock.at("2024-01-31T18:00:00Z")
    val facts = Seq(revenueFixture -> clock, genRevenue -> genClock,
      revenueFixture -> FixedClock.at("2024-01-21T09:30:00Z"))
    for ((df, c) <- facts) {
      assertSameBits(patternBreaks(df, c), new PatternDetector(df, c).checkPatternBreaks())
      for (mdc <- Seq(0L, 2L, 40L))
        assertSameBits(patternBreaks(df, c, minDailyCount = mdc),
          new PatternDetector(df, c, minDailyCount = mdc).checkPatternBreaks())
      for (d <- Seq(c.today, c.today.minusDays(1), c.today.minusDays(29)))
        assertSameBits(revenueAnomaly(df, c, d),
          new RevenueDetector(df, c).checkRevenueAnomaly(d), s"revenue $d")
      assertSameBits(qualityDegradation(df, c),
        new QualityDetector(df, c).checkQualityDegradation())
      for (h <- Seq(1, 3, 800))
        assertSameBits(transactionVolume(df, c, hours = h),
          new TransactionDetector(df, c).checkTransactionVolume(hours = h), s"volume $h")
    }
    for (dims <- Seq(Seq("region" -> 50.0), Seq("region" -> 50.0, "product_category" -> 0.0));
         mdc <- Seq(0L, 1L, 2L, 5L))
      assertSameBits(
        patternBreaks(decisionTable, clock, dimensions = dims, minDailyCount = mdc),
        new PatternDetector(decisionTable, clock, dimensions = dims, minDailyCount = mdc)
          .checkPatternBreaks(), s"decision table $dims $mdc")
    val expected = (0 to 16).map(f => f"FEED_$f%03d") :+ "Feed_x" :+ "FEED_\u00e9"
    for (day <- Seq(asOf, asOf.minusDays(1)))
      assert(new FeedDetector(genFeeds, FixedClock.at(s"${day}T17:00:00Z"))
        .checkFeedStatus(expected).missingFeeds == missingFeeds(genFeeds, day, expected))
    val morning = FixedClock.at("2024-01-31T09:30:00Z")
    assertSameBits(transactionVolume(genFeeds, morning, tsCol = "arrival_time"),
      new TransactionDetector(genFeeds, morning, tsCol = "arrival_time").checkTransactionVolume())
  }
}
