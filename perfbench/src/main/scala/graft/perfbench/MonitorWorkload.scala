package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.alerts.{AlertManager, InMemorySink}
import graft.core.FixedClock
import graft.detectors._
import graft.pipeline.{MonitoringResult, MonitoringRunner}
import graft.queries.{DetectorQ, ExtQ, Q, QueryDef, RelationalQ}

/** Registry-query ops shared by the monitor and curate workloads. */
object Registry {
  /** One registry query: construct the DataFrame (the `queries` layer), plan
    * it (traced runs), then force it through the noop sink as graft.Bench
    * does; with `dump`, the rows go to `<work>/verify/<name>` instead, for
    * the DuckDB oracle check. */
  def run(h: Harness, series: String, name: String, d: QueryDef,
      dump: Boolean = false, also: String = ""): Option[Unit] =
    h.op(series, "queries", name, also) { op =>
      val t0 = System.nanoTime()
      val df = h.tracer.span("queries", "construct", op)(d.spark(h.spark, h.dataDir))
      h.mean("queries.construct_ms", (System.nanoTime() - t0) / 1e6)
      if (h.traced) h.mean("queries.construct_jobs", h.jobsSoFar(op).toDouble)
      h.plan(df, op)
      if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"${h.workDir}/verify/$name")
      else h.execute(df, op)
    }

  /** Writes each oracle's SQL, with the artifact root resolved, beside the
    * dumped rows. */
  def writeOracleSql(h: Harness, defs: Seq[(String, QueryDef)]): Unit = {
    val annDir = ExtQ.annRoot(h.dataDir)
    val sql = defs.flatMap { case (k, d) =>
      d.oracle.map(q => Json.str(k) + ":" + Json.str(q.trim.replace(ExtQ.AnnOracleRoot, annDir)))
    }
    Files.createDirectories(Paths.get(s"${h.workDir}/verify"))
    Files.writeString(Paths.get(s"${h.workDir}/verify/oracle_sql.json"), sql.mkString("{", ",", "}"))
  }
}

/** `monitor`: the reference's own job, over the Demo wiring and its fixed
  * clocks. A closed loop of passes; each pass runs the 28 relational +
  * detector registry queries in seeded order with one full
  * MonitoringRunner.run (8 checks, barrier, alert dispatch) before every
  * quarter of them. After timing, a seed-chosen quarter of the queries is
  * dumped for the DuckDB oracle, so every query is checked over four seeds. */
object MonitorWorkload {
  val registry: Seq[(String, QueryDef)] = (RelationalQ.defs ++ DetectorQ.defs).toSeq.sortBy(_._1)
  val checkNames = Seq("feeds", "revenue", "volume", "freshness", "patterns", "recon", "sla",
    "quality")
  private val queriesPerCycle = 7

  def run(h: Harness): Unit = {
    val spark = h.spark
    val dir = h.dataDir
    // the Demo.scala wiring: orders as daily_revenue, events as feed_arrivals
    val revenue = Q.t(spark, dir, "orders").select(
      col("o_orderkey").cast("string").as("transaction_id"),
      col("o_orderdate").cast("timestamp").as("transaction_date"),
      col("o_totalprice").as("revenue"),
      col("o_orderpriority").as("product_category"),
      col("o_orderstatus").as("region"),
      col("o_custkey").cast("string").as("customer_id"))
    val feeds = graft.core.EventViews.feedView(Q.t(spark, dir, "events"))
    val ordersClock = FixedClock.at("2001-08-01T18:00:00Z")
    val eventsClock = FixedClock.at("2024-01-30T23:59:00Z")

    /** One monitoring run; returns (result, alert conditions raised). */
    def monitorRun(op: Int): (MonitoringResult, Int) = {
      val alerts = new AlertManager(eventsClock,
        Seq(new InMemorySink("log"), new InMemorySink("slack"), new InMemorySink("email")))
      val parent = h.tracer.current
      val checkMs = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      // each check runs on a pool thread: give it its own job group and span
      def timed[T](name: String)(f: => T): () => T = () => {
        val sc = spark.sparkContext
        if (h.traced) sc.setJobGroup(s"${h.group(op)}-$name", name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        try h.tracer.span("detectors", name, op, parent)(f)
        finally {
          checkMs.put(name, (System.nanoTime() - t0) / 1e6)
          if (h.traced) sc.clearJobGroup()
        }
      }
      val t0 = System.nanoTime()
      val r = h.tracer.span("pipeline", "MonitoringRunner.run", op) {
        new MonitoringRunner(alerts).run(
          feeds = timed("feeds")(new FeedDetector(feeds, eventsClock)
            .checkFeedStatus(Seq("click", "error", "purchase", "signup", "view",
              "telemetry", "heartbeat"))),
          revenue = timed("revenue")(new RevenueDetector(revenue, ordersClock)
            .checkRevenueAnomaly(ordersClock.today)),
          volume = timed("volume")(new TransactionDetector(feeds, eventsClock,
            tsCol = "arrival_time").checkTransactionVolume(hours = 1)),
          freshness = timed("freshness")(new FreshnessDetector(Seq(
            ("feed_events", feeds, "arrival_time"),
            ("daily_revenue", revenue, "transaction_date")), eventsClock)
            .checkDataFreshness(maxAgeMinutes = 240)),
          patterns = timed("patterns")(new PatternDetector(revenue, ordersClock)
            .checkPatternBreaks()),
          recon = timed("recon")(new ReconciliationDetector(ordersClock)
            .checkReconciliation(revenue, revenue, ordersClock.today.minusDays(1))),
          sla = timed("sla")(new SlaDetector(feeds, eventsClock).predictSlaBreach(100000L, 4.0)),
          quality = timed("quality")(new QualityDetector(revenue, ordersClock)
            .checkQualityDegradation()))
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      checkNames.foreach(c => h.mean(s"detectors.${c}_ms", checkMs.getOrDefault(c, 0.0)))
      h.mean("pipeline.fanout_ratio", checkNames.map(checkMs.getOrDefault(_, 0.0)).sum / wallMs)
      val statuses = Seq(r.feeds, r.revenue, r.volume, r.freshness, r.patterns, r.recon, r.sla,
        r.quality)
      h.mean("pipeline.checks_failed", statuses.count(_.isEmpty).toDouble)
      val raised = Seq(
        r.feeds.exists(_.missingFeeds.nonEmpty), r.revenue.exists(_.isAnomaly),
        r.volume.exists(_.isAnomaly), r.freshness.exists(_.isStale),
        r.patterns.exists(_.hasBreaks), r.recon.exists(!_.isReconciled),
        r.sla.exists(_.willBreachSla), r.quality.exists(_.hasDegradation)).count(identity)
      (r, raised)
    }

    val sentPerRun = scala.collection.mutable.ArrayBuffer.empty[Int]
    def monitorOp(): Unit =
      h.op("monitor_run", "pipeline", "monitor_run") { op =>
        val (r, raised) = monitorRun(op)
        if (r.productIterator.take(8).contains(None)) sys.error("a monitoring check failed")
        sentPerRun += r.alertsSent
        h.mean("alerts.sent", r.alertsSent)
        h.mean("alerts.suppressed", (raised - r.alertsSent).toDouble)
      }

    /** One pass: the 28 queries in seeded order, a monitoring run before
      * every quarter of them. */
    def pass(series: String): Unit =
      h.rng.shuffle(registry).grouped(queriesPerCycle).foreach { quarter =>
        monitorOp()
        quarter.foreach { case (name, d) =>
          Registry.run(h, series, name, d, also = s"$series/$name") }
      }
    // warm-up: one whole pass and two more monitoring runs. Query times
    // hold steady from the second pass on, monitoring runs from about the
    // seventh (README), so the timed pass measures the steady regime.
    h.warming = true
    pass("warm")
    (1 to 2).foreach(_ => monitorOp())
    h.warming = false
    h.startTiming()
    h.closedLoop(pass("analytics_query"))
    h.foldProbe()
    h.foldProbe("monitor_run.spark", Set("monitor_run"))
    h.foldProbe("analytics_query.spark", Set("analytics_query"))
    h.check("alerts.repeat", sentPerRun.distinct.size == 1,
      s"alerts sent per run differ: ${sentPerRun.mkString(",")}")

    // untimed verification: a seed-chosen quarter of the registry (every
    // query over four seeds) to parquet for the DuckDB oracle
    h.warming = true
    val checked = registry.zipWithIndex.collect { case (q, i) if i % 4 == h.seed % 4 => q }
    checked.foreach { case (name, d) => Registry.run(h, "verify", name, d, dump = true) }
    Registry.writeOracleSql(h, checked)
  }
}
