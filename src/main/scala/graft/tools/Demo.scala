package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.alerts.{AlertManager, AlertSink, InMemorySink, LogSink}
import graft.core.FixedClock
import graft.detectors._
import graft.pipeline.{MonitoringResult, MonitoringRunner}
import graft.queries.Q

/** Runnable end-to-end demo: the full 8-detector monitoring suite over the
  * driver test tables with the FIXTURES.md column mapping (orders ≙
  * daily_revenue, events ≙ feed_arrivals), anchored on the fixed clocks the
  * oracle queries use. Prints each status and the daily report.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.tools.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Sessions.local(8)
    val mem = new InMemorySink("slack")
    val result = run(spark, sfDir, Seq(new LogSink, mem, new InMemorySink("email")))
    println(result.report)
    println(s"\nalerts dispatched to slack: ${mem.received.size}")
    mem.received.foreach { case (_, rendered) => println(rendered) }
    spark.stop()
  }

  /** One monitoring run over the tables in `sfDir`, alerts to `sinks`. */
  def run(spark: SparkSession, sfDir: String, sinks: Seq[AlertSink]): MonitoringResult = {
    // FIXTURES.md mapping: orders carries real category/region dims so the
    // richer orders-side projection stays local; the events-side views are
    // the shared graft.core.EventViews mapping the streaming loop also uses
    val revenue = Q.t(spark, sfDir, "orders").select(
      col("o_orderkey").cast("string").as("transaction_id"),
      col("o_orderdate").cast("timestamp").as("transaction_date"),
      col("o_totalprice").as("revenue"),
      col("o_orderpriority").as("product_category"),
      col("o_orderstatus").as("region"),
      col("o_custkey").cast("string").as("customer_id"))
    val feeds = graft.core.EventViews.feedView(Q.t(spark, sfDir, "events"))

    val ordersClock = FixedClock.at("2001-08-01T18:00:00Z")
    val eventsClock = FixedClock.at("2024-01-30T23:59:00Z")

    new MonitoringRunner(new AlertManager(eventsClock, sinks)).run(
      feeds = () => new FeedDetector(feeds, eventsClock)
        .checkFeedStatus(Seq("click", "error", "purchase", "signup", "view",
          "telemetry", "heartbeat")),
      revenue = () => new RevenueDetector(revenue, ordersClock)
        .checkRevenueAnomaly(ordersClock.today),
      volume = () => new TransactionDetector(feeds, eventsClock, tsCol = "arrival_time")
        .checkTransactionVolume(hours = 1),
      freshness = () => new FreshnessDetector(Seq(
        ("feed_events", feeds, "arrival_time"),
        ("daily_revenue", revenue, "transaction_date")), eventsClock)
        .checkDataFreshness(maxAgeMinutes = 240),
      patterns = () => new PatternDetector(revenue, ordersClock).checkPatternBreaks(),
      recon = () => new ReconciliationDetector(ordersClock)
        .checkReconciliation(revenue, revenue, ordersClock.today.minusDays(1)),
      sla = () => new SlaDetector(feeds, eventsClock).predictSlaBreach(100000L, 4.0),
      quality = () => new QualityDetector(revenue, ordersClock).checkQualityDegradation())
  }
}
