package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One traced interval: a call the benchmark made into a graft layer. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    startNs: Long, endNs: Long)

/** Records spans in memory when enabled; a no-op wrapper otherwise. The
  * parent of a span is the innermost open span on the calling thread unless
  * one is passed explicitly (checks that run on pool threads). */
final class Tracer(val enabled: Boolean) {
  /** Off during warm-up and verification, so spans cover timed ops only. */
  @volatile var recording = true
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def current: Int = open.get.headOption.getOrElse(-1)

  def span[T](layer: String, name: String, op: Int, parent: Int = -2)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val p = if (parent == -2) current else parent
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        synchronized { spans += Span(id, p, op, layer, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Per-job-group Spark counters, read from the listener bus. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var schedDelayMs, taskRunMs, taskCpuNs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputFiles = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A SparkListener that attributes jobs, stages, task metrics and the files
  * each SQL execution's scans read to the job group the benchmark set around
  * each op. */
final class JobProbe extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val executionGroup = mutable.HashMap.empty[Long, String]
  private val countedCaches = mutable.Set.empty[Int]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    stats(g).jobs += 1
    stats(g).stages += e.stageIds.size
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => executionGroup(id.toLong) = g)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => synchronized {
      executionGroup.remove(end.executionId).foreach { g =>
        org.apache.spark.sql.BenchBus.queryExecution(end)
          .foreach(qe => stats(g).inputFiles += PlanFiles.filesRead(qe.executedPlan, countedCaches))
      }
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => stats(g).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val s = stats(g)
    s.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      if (info != null && info.finishTime > 0) {
        // the scheduler delay as Spark's UI defines it
        val overhead = m.executorDeserializeTime + m.resultSerializationTime
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime - overhead -
          info.gettingResultTime)
      }
    }
  }

  /** Counters of group `g` merged with its sub-groups (`g-*`). */
  def snapshot(g: String): GroupStats = synchronized {
    val out = new GroupStats
    groups.foreach { case (k, s) =>
      if (k == g || k.startsWith(g + "-")) {
        out.jobs += s.jobs; out.stages += s.stages; out.tasks += s.tasks
        out.schedDelayMs += s.schedDelayMs; out.taskRunMs += s.taskRunMs
        out.taskCpuNs += s.taskCpuNs; out.shuffleWrite += s.shuffleWrite
        out.shuffleRead += s.shuffleRead; out.spill += s.spill
        out.inputBytes += s.inputBytes; out.inputFiles += s.inputFiles
        out.jobIntervals ++= s.jobIntervals
      }
    }
    out
  }

  /** Jobs started so far under group `g` (and its sub-groups). */
  def jobs(g: String): Long = snapshot(g).jobs
}

/** The state one benchmark run shares across its workload: the session,
  * the tracer and probe (traced runs only), and the named sample series the
  * report is built from. */
final class Harness(val spark: SparkSession, val traced: Boolean, val seed: Long,
    val seconds: Double, val dataDir: String, val workDir: String) {

  val tracer = new Tracer(traced)
  val probe: Option[JobProbe] =
    if (!traced) None
    else { val p = new JobProbe; spark.sparkContext.addSparkListener(p); Some(p) }

  /** Sample series in seconds, e.g. "analytics_query". */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Scalar outputs: counts, guards and per-layer figures. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  /** Correctness verdicts from the untimed pass: name -> problem ("" = ok). */
  val checks = mutable.LinkedHashMap.empty[String, String]
  /** JSON values of op outputs that run.py checks after the run. */
  val outputs = mutable.ArrayBuffer.empty[String]
  /** Traced ops: (series, wall ms, job group). */
  private val opRows = mutable.ArrayBuffer.empty[(String, Double, String)]
  var attempted = 0
  var failed = 0
  var setupEndMs = 0L
  private var warm = false
  /** While true, ops run and count as attempted but record no samples or
    * spans. */
  def warming: Boolean = warm
  def warming_=(w: Boolean): Unit = { warm = w; tracer.recording = !w }
  private var nextOp = 0
  val rng = new scala.util.Random(seed)

  def sample(series: String, s: Double): Unit =
    if (!warming) samples.getOrElseUpdate(series, mutable.ArrayBuffer.empty) += s
  def add(name: String, v: Double): Unit =
    if (!warming) values(name) = values.getOrElse(name, 0.0) + v
  def set(name: String, v: Double): Unit = values(name) = v
  /** One sample of a per-op mean: run.py reports `name` as sum / n. */
  def mean(name: String, v: Double): Unit = { add(s"$name.sum", v); add(s"$name.n", 1) }
  def check(name: String, ok: Boolean, problem: => String): Unit =
    checks(name) = if (ok) "" else problem

  def clearCache(): Unit = spark.sharedState.cacheManager.clearCache()

  def group(op: Int): String = s"pb-$op"

  /** Runs one timed op: the body runs under its own job group (so the probe
    * can attribute Spark work to it) and inside a span of `layer`. Returns
    * the result, or None when the op threw; either way the op counts as
    * attempted, and its wall time lands in `series` (and `also`) only on
    * success. */
  def op[T](series: String, layer: String, name: String, also: String = "")
      (body: Int => T): Option[T] = {
    nextOp += 1
    val id = nextOp
    attempted += 1
    val sc = spark.sparkContext
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out =
      try Some(tracer.span(layer, name, id)(body(id)))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e"); failed += 1; None }
    val wall = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    if (out.isDefined) { sample(series, wall); if (also.nonEmpty) sample(also, wall) }
    if (traced && !warm) opRows += ((series, wall * 1000, group(id)))
    // what the op left persisted, before the cache is cleared for the next
    mean("spark.persisted_rdds_end", persistedRdds)
    clearCache()
    out
  }

  /** Marks the end of set-up: everything before this is charged to setup_s. */
  def startTiming(): Unit = { warming = false; setupEndMs = System.currentTimeMillis() }

  /** Runs `pass` until `seconds` have elapsed, at least once. */
  def closedLoop(pass: => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) { pass; i += 1 }
    set("loop.passes", i)
  }

  /** Forces planning of `df` (traced runs) and records it as spark.plan_ms. */
  def plan(df: DataFrame, op: Int): Unit = if (traced) {
    val t0 = System.nanoTime()
    tracer.span("spark", "plan", op)(df.queryExecution.executedPlan)
    mean("spark.plan_ms", (System.nanoTime() - t0) / 1e6)
  }

  /** A noop-sink write: forces every column, as graft.Bench does. */
  def execute(df: DataFrame, op: Int): Unit =
    tracer.span("spark", "execute", op)(df.write.format("noop").mode("overwrite").save())

  /** Spark jobs started so far by op `op` (traced runs; 0 otherwise). */
  def jobsSoFar(op: Int): Long = probe.map { p =>
    org.apache.spark.sql.BenchBus.drain(spark.sparkContext); p.jobs(group(op)) }.getOrElse(0L)

  /** Per-op means of the probe's counters over the ops of `series` (all
    * traced ops when empty), keyed `<prefix>.*`. */
  def foldProbe(prefix: String = "spark", series: Set[String] = Set.empty): Unit =
    probe.foreach { p =>
      org.apache.spark.sql.BenchBus.drain(spark.sparkContext)
      val rows = opRows.toList.filter(r => series.isEmpty || series(r._1))
      if (rows.nonEmpty) {
        val n = rows.size.toDouble
        val st = rows.map(r => (r._2, p.snapshot(r._3)))
        def mean(f: GroupStats => Double) = st.map(x => f(x._2)).sum / n
        set(s"$prefix.jobs", mean(_.jobs.toDouble))
        set(s"$prefix.stages", mean(_.stages.toDouble))
        set(s"$prefix.tasks", mean(_.tasks.toDouble))
        set(s"$prefix.sched_delay_ms", mean(_.schedDelayMs.toDouble))
        set(s"$prefix.task_run_ms", mean(_.taskRunMs.toDouble))
        set(s"$prefix.task_cpu_ms", mean(_.taskCpuNs / 1e6))
        set(s"$prefix.shuffle_write_bytes", mean(_.shuffleWrite.toDouble))
        set(s"$prefix.shuffle_read_bytes", mean(_.shuffleRead.toDouble))
        set(s"$prefix.spill_bytes", mean(_.spill.toDouble))
        set(s"$prefix.input_bytes", mean(_.inputBytes.toDouble))
        set(s"$prefix.input_files", mean(_.inputFiles.toDouble))
        // the part of each op's wall time that no job of its group covers
        set(s"$prefix.driver_only_ms", st.map { case (wallMs, s) =>
          math.max(0.0, wallMs - Intervals.unionLength(s.jobIntervals.toList))
        }.sum / n)
      }
    }

  def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** Times `f` once; returns seconds. */
  def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: List[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var started = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (!started) { curS = s; curE = e; started = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (started) total += curE - curS
    total
  }
}

/** Number of files the scans of an executed plan read (adaptive plans
  * included), from the scan nodes' own metrics. A cached relation's plan is
  * counted the first time it is met (`seen` holds those already counted),
  * which is the execution that built it. */
object PlanFiles {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  private object H extends AdaptiveSparkPlanHelper
  def filesRead(plan: SparkPlan, seen: mutable.Set[Int] = mutable.Set.empty): Long =
    H.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case c: InMemoryTableScanExec if seen.add(System.identityHashCode(c.relation.cacheBuilder)) =>
        filesRead(c.relation.cachedPlan, seen)
    }.sum
}
