package graft.perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's JVM side: runs one workload against graft's public (and
  * `private[graft]`) API and writes the raw measurements as one JSON file.
  * `run.py` generates the inputs, launches this, checks correctness and
  * prints the report.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    // every artifact, shuffle file and warehouse table stays in the run's
    // own scratch directory
    System.setProperty("graft.ann.root", s"$work/ann")
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = graft.core.Sessions.local(Runtime.getRuntime.availableProcessors())
    val sessionReadyMs = System.currentTimeMillis()
    val h = new Harness(spark, o("trace") == "1", o("seed").toLong, o("seconds").toDouble,
      o("data"), work)
    h.set("setup.jvm_session_s",
      (sessionReadyMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    o("workload") match {
      case "monitor" => MonitorWorkload.run(h)
      case "curate" => CurateWorkload.run(h)
      case "serve" => ServeWorkload.run(h)
      case "ingest" => IngestWorkload.run(h)
      case w => sys.error(s"unknown workload $w")
    }
    h.warming = true
    h.set("spark.persisted_rdds_exit", h.persistedRdds)
    h.clearCache()
    h.set("peak_rss_mb", peakRssMb)
    if (h.traced) Functions.run(h, s"$work/fn")
    Files.writeString(Paths.get(o("out")), Json.report(h, sessionReadyMs))
    spark.stop()
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

object Json {
  def str(s: String): String = graft.SparkEntry.jsonString(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def report(h: Harness, sessionReadyMs: Long): String = {
    val samples = h.samples.map { case (k, v) => str(k) + ":" + v.map(num).mkString("[", ",", "]") }
    val values = h.values.map { case (k, v) => str(k) + ":" + num(v) }
    val checks = h.checks.map { case (k, v) => str(k) + ":" + str(v) }
    val spans = h.tracer.all.map(s =>
      Seq(s.id.toString, s.parent.toString, s.op.toString, str(s.layer), str(s.name),
        s.startNs.toString, s.endNs.toString).mkString("[", ",", "]"))
    Seq(
      s""""session_ready_ms":$sessionReadyMs""",
      s""""setup_end_ms":${h.setupEndMs}""",
      s""""attempted":${h.attempted}""",
      s""""failed":${h.failed}""",
      s""""samples":${samples.mkString("{", ",", "}")}""",
      s""""values":${values.mkString("{", ",", "}")}""",
      s""""checks":${checks.mkString("{", ",", "}")}""",
      s""""outputs":${h.outputs.mkString("[", ",\n", "]")}""",
      s""""spans":${spans.mkString("[", ",\n", "]")}""").mkString("{", ",\n", "}\n")
  }
}
