package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.alerts._
import graft.core._
import graft.detectors.RuleBasedAnalyzer
import graft.ops.{Thresholds, Velocity}
import graft.pipeline._

class CoreSpec extends AnyFunSuite {

  test("FixedClock pins date math in UTC") {
    val c = FixedClock.at("2024-01-31T00:00:00Z")
    assert(c.today.toString == "2024-01-31")
    assert(c.nowTs.getTime == 1706659200000L)
  }

  test("Thresholds ladder matches reference cut points") {
    val t = Thresholds.RevenueDeviation
    assert(t.severity(55) == "CRITICAL")
    assert(t.severity(30) == "HIGH")
    assert(t.severity(15) == "MEDIUM")
    assert(t.severity(5) == "LOW")
    assert(t.severity(0) == "NONE")
  }

  test("ErrorClassifier recognizes the seeded double-dot class") {
    val c = ErrorClassifier.classify("Malformed table reference: 'selfhealing..employee_data'")
    assert(c.errorType == "table_reference" && c.fixType == "code_patch")
    assert(ErrorClassifier.classify("java.lang.OutOfMemoryError: Java heap space").errorType == "oom")
    assert(ErrorClassifier.classify("Access Denied: dataset").errorType == "permission")
    assert(ErrorClassifier.classify("wat").errorType == "unknown")
  }

  test("AutoHealer collapses dot runs exactly like the reference regex") {
    assert(AutoHealer.fixDoubleDots("selfhealing..employee_data") == "selfhealing.employee_data")
    assert(AutoHealer.fixDoubleDots("a...b..c.d") == "a.b.c.d")
    // unlike the reference's raw \.\.+ sub, free-text ellipses survive
    assert(AutoHealer.fixDoubleDots("wait... '...' done") == "wait... '...' done")
  }

  test("AutoHealer traceback slicing: Traceback window, else head+tail") {
    val log = ("x" * 3000) + "Traceback (most recent call last)" + ("y" * 5000)
    val ctx = AutoHealer.extractErrorContext(log)
    assert(ctx.startsWith("Traceback") && ctx.length == 4000)
    val noTb = "a" * 10000
    val ctx2 = AutoHealer.extractErrorContext(noTb)
    assert(ctx2.length == 4000 + "\n[snip]\n".length && ctx2.contains("[snip]"))
  }

  test("Retry retries then surfaces the last failure") {
    var n = 0
    val r = Retry(3) { n += 1; if (n < 3) sys.error("boom"); n }
    assert(r == 3)
    assertThrows[RuntimeException](Retry(2) { sys.error("always") })
    // attempts <= 0: a loud argument error, not `throw null` (a bare NPE)
    assertThrows[IllegalArgumentException](Retry(0) { 42 })
  }

  test("SelfHealingRunner heals a bad artifact then gives up on unknown errors") {
    val (result, attempts) = new SelfHealingRunner().run("ns..table") { ref =>
      if (ref.contains("..")) throw BadTableRef(ref) else s"ok:$ref"
    }
    assert(result == "ok:ns.table")
    assert(attempts.size == 1 && attempts.head.healed)
    assertThrows[RuntimeException](
      new SelfHealingRunner().run("fine") { _ => sys.error("unclassifiable") })
  }

  test("Retry and SelfHealingRunner let fatal throwables escape on the first attempt") {
    // each message classifies as a healable table reference, so a runner
    // that caught Throwable would patch the artifact and run the job again
    val msg = "Malformed table reference: 'ns..table'"
    for (fatal <- Seq(new InterruptedException(msg), new OutOfMemoryError(msg))) {
      var calls = 0
      val thrown = intercept[Throwable](Retry(3) { calls += 1; throw fatal })
      assert((thrown eq fatal) && calls == 1)

      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val healed = intercept[Throwable](
        new SelfHealingRunner().run("ns..table") { ref => seen += ref; throw fatal })
      // one call on the original artifact: no attempt was recorded, no patch made
      assert((healed eq fatal) && seen == Seq("ns..table"))
    }
  }

  test("Velocity breach projection with zero-rate guard") {
    val (h, breach) = Velocity.projectBreach(0, 100000, 25000.0, 4.0)
    assert(h == 4.0 && !breach)
    val (h2, breach2) = Velocity.projectBreach(0, 100000, 10000.0, 4.0)
    assert(h2 == 10.0 && breach2)
    assert(Velocity.projectBreach(0, 100, 0.0, 4.0)._2)
  }

  test("AlertManager dedups within 1h, routes by severity, formats currency") {
    val t0 = java.time.Instant.parse("2024-01-31T00:00:00Z")
    var nowRef = t0
    val clock = new Clock { def now: java.time.Instant = nowRef }
    val mem = new InMemorySink("slack")
    val log = new InMemorySink("log")
    val email = new InMemorySink("email")
    val am = new AlertManager(clock, Seq(mem, log, email))
    assert(am.sendAlert("revenue_anomaly", "CRITICAL", "t", Map("revenue" -> "12345.6")))
    assert(!am.sendAlert("revenue_anomaly", "HIGH", "t")) // deduped same (type,title)
    nowRef = t0.plusSeconds(3601)
    assert(am.sendAlert("revenue_anomaly", "MEDIUM", "t")) // window expired
    // CRITICAL hit all three sinks; MEDIUM hit slack only
    assert(log.received.size == 1 && email.received.size == 1 && mem.received.size == 2)
    assert(mem.received.head._2.contains("$12,345.60"))
    assert(!am.sendAlert("x", "UNKNOWN_SEV", "y")) // unroutable
  }

  test("RuleBasedAnalyzer mirrors reference fallback payloads") {
    val a = RuleBasedAnalyzer.analyze("missing_feeds", Map.empty)
    assert(a.rootCause.contains("Feed delivery failure"))
    assert(a.recommendedActions.size == 4)
    assert(RuleBasedAnalyzer.analyze("nope", Map.empty).rootCause.contains("Unknown issue"))
  }

  test("Bench.consensusSpread: max/min at <=3 samples, best-3 consensus " +
      "beyond, None for a single survivor") {
    import graft.Bench.consensusSpread
    // a query that survived only one pass must NOT read as a clean 1.0
    assert(consensusSpread(Seq(1.5)).isEmpty)
    assert(consensusSpread(Seq.empty).isEmpty)
    // plain max/min at the default pass count
    assert(consensusSpread(Seq(2.0, 1.0)).contains(2.0))
    assert(consensusSpread(Seq(1.0, 3.0, 1.5)).contains(3.0))
    // after adaptive re-sampling the one spike that TRIGGERED it stops
    // dominating: 5 samples meter the best 3 (1.1/1.0), not 20.0/1.0
    assert(consensusSpread(Seq(20.0, 1.0, 1.05, 1.1, 1.2)).contains(1.1))
    // but if even the best 3 disagree, the spread still says so
    assert(consensusSpread(Seq(9.0, 1.0, 4.0, 8.0)).contains(8.0))
  }

  test("ServeScaleProbe whole-device pattern: generic across families, " +
      "never a partition row") {
    val p = graft.probes.ServeScaleProbe.WholeDevicePattern
    for (dev <- Seq("sda", "sdb", "sdab", "xvdf", "vda", "vdb", "hda",
        "nvme0n1", "nvme10n2", "mmcblk0"))
      assert(dev.matches(p), s"whole device $dev must match")
    for (part <- Seq("sda1", "sdb2", "xvdf1", "vda3", "nvme0n1p1",
        "mmcblk0p1", "loop0", "ram0", "md0", "dm-0", "sr0", "zram1"))
      assert(!part.matches(p), s"partition/virtual $part must not match")
  }

  test("DedupScaleProbe.multiProbeRows: deterministic, isotropic, and " +
      "volume-neutral — the SCALE.md multi-probe decision stays reproducible") {
    // smaller sample than the probe's default (the suite shouldn't spend
    // 10s on Monte Carlo) — statistical assertions get tolerances sized
    // to ~1000×8 samples per depth
    val rows = graft.probes.DedupScaleProbe.multiProbeRows(
      nPairs = 1000, nTablesSampled = 8, depths = Seq(17, 21))
    // seeded RNG + the production plane family: bit-identical on re-run
    assert(rows == graft.probes.DedupScaleProbe.multiProbeRows(
      nPairs = 1000, nTablesSampled = 8, depths = Seq(17, 21)))
    assert(rows.map(r => (r.planes, r.probes)) ==
      Seq((17, 1), (17, 2), (17, 3), (21, 1), (21, 2), (21, 3)))
    val p = 1.0 - math.acos(0.98) / math.Pi
    rows.foreach { r =>
      // isotropy cross-check: the measured per-table agreement of
      // threshold-cosine pairs must track the analytic p^k the sizing
      // math assumes (a drift here would indict the hash plane family,
      // not the Monte Carlo)
      val analytic = math.pow(p, r.planes)
      assert(math.abs(r.pTableAuto - analytic) < 0.03,
        s"planes=${r.planes}: measured ${r.pTableAuto} vs analytic $analytic")
      // probing must genuinely recover low-margin 1-bit misses...
      assert(r.recoveredShare > 0.5 && r.recoveredShare <= 1.0, r.toString)
      assert(r.pTableMp > r.pTableAuto, r.toString)
      // ...and still be volume-NEUTRAL for the self-join: the SCALE.md
      // "measured and declined" verdict rests on the factor never
      // dropping meaningfully below 1 (nor exploding)
      assert(r.volumeFactor > 0.7 && r.volumeFactor < 2.0, r.toString)
    }
    // more probes always recover more (monotone in q at fixed depth)
    rows.grouped(3).foreach { g =>
      assert(g.map(_.recoveredShare) == g.map(_.recoveredShare).sorted, g.toString)
    }
  }

  test("DedupScaleProbe.multiProbeRows: a measured collision rate of 1.0 " +
      "solves to one table, not a log(0) zero") {
    // threshold 1.0 makes every pair identical, so every sampled table
    // collides: the table solve must route through the engine's guarded
    // form (one table — more can neither help nor hurt) instead of
    // dividing by log(0) and emitting tablesMp=0 / volume_factor=0.0,
    // which would read as "multi-probe is infinitely cheaper"
    val rows = graft.probes.DedupScaleProbe.multiProbeRows(
      threshold = 1.0, nPairs = 50, nTablesSampled = 4, depths = Seq(17))
    rows.foreach { r =>
      assert(r.pTableMp == 1.0, r.toString)
      assert(r.tablesMp == 1, s"degenerate rate must take exactly 1 table: $r")
      assert(r.volumeFactor > 0.0 && !r.volumeFactor.isNaN, r.toString)
    }
  }
}
