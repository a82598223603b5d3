package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.driver.host", "localhost")
      .config(graft.core.Sessions.jvmWide)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** The executed plans of every query `body` ran (failed ones included)
    * and the Spark jobs it started. The listener bus delivers
    * asynchronously but in order, so a marker query in its own job group
    * before and after `body` bounds what each listener records: events of
    * queries run before `body` can arrive after the listeners are
    * registered, and late events of `body` arrive before the end marker. */
  protected def listenedDuring(body: => Unit): (Seq[SparkPlan], Int) = {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val Seq(start, end) = Seq("start", "end").map(m => s"listened-$m-${System.nanoTime()}")
    // one latch per (listener, marker); each listener records between the
    // two markers it has seen
    val seenByQuery = Map(start -> new CountDownLatch(1), end -> new CountDownLatch(1))
    val seenByJobs = Map(start -> new CountDownLatch(1), end -> new CountDownLatch(1))
    @volatile var queriesOpen = false
    @volatile var jobsOpen = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val text = qe.analyzed.toString
        seenByQuery.keys.find(text.contains) match {
          case Some(m) => queriesOpen = m == start; seenByQuery(m).countDown()
          case None => if (queriesOpen) plans.add(qe.executedPlan)
        }
      }
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).filter(seenByJobs.contains) match {
          case Some(m) => jobsOpen = m == start; seenByJobs(m).countDown()
          case None => if (jobsOpen) jobs.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    def mark(m: String): Unit = {
      sc.setJobGroup(m, m)
      try spark.range(1).select(org.apache.spark.sql.functions.lit(m)).collect()
      finally sc.clearJobGroup()
      assert(seenByQuery(m).await(60, TimeUnit.SECONDS) && seenByJobs(m).await(60, TimeUnit.SECONDS),
        s"marker $m never arrived")
    }
    spark.listenerManager.register(listener)
    sc.addSparkListener(jobListener)
    try {
      mark(start)
      body
      mark(end)
    } finally {
      spark.listenerManager.unregister(listener)
      sc.removeSparkListener(jobListener)
    }
    import scala.jdk.CollectionConverters._
    (plans.asScala.toSeq, jobs.get)
  }
}
