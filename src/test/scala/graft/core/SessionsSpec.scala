package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec
import graft.alerts.InMemorySink
import graft.queries.{DetectorQ, RelationalQ}

/** The JVM-wide settings every session takes from [[Sessions.jvmWide]]. */
class SessionsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** The monitor loop: the 28 relational and detector queries, then one
    * monitoring run over the Demo wiring on its fixed clocks. */
  private def monitorPass(): Unit = {
    (RelationalQ.defs ++ DetectorQ.defs).toSeq.sortBy(_._1).foreach { case (_, d) =>
      Scope(d.spark(spark, sf).write.format("noop").mode("overwrite").save())
    }
    val r = graft.tools.Demo.run(spark, sf, Seq(new InMemorySink("log")))
    assert(r.productIterator.take(8).forall(_ != None), r.report)
  }

  /** The generated sources Spark compiles while `body` runs: on a cache
    * miss `CodeGenerator` logs each source at DEBUG before compiling it. */
  private def compiledDuring(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // whole sources, so two never look alike; this also starts the session,
    // whose log4j set-up would otherwise replace the capture below
    val maxLines = "spark.sql.codegen.logging.maxLines"
    spark.conf.set(maxLines, "-1")
    val sources = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("codegen-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("/* 001 */")) sources.add(m) // CodeFormatter's numbered source
      }
    }
    capture.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").asInstanceOf[CoreLogger]
    val (level, additive) = (logger.getLevel, logger.isAdditive)
    logger.addAppender(capture)
    logger.setLevel(Level.DEBUG)
    logger.setAdditive(false) // the sources go to the capture only
    try body
    finally {
      spark.conf.unset(maxLines)
      logger.removeAppender(capture)
      logger.setLevel(level)
      logger.setAdditive(additive)
      capture.stop()
    }
    sources.asScala.toSeq
  }

  test("steady state: a second monitor pass compiles no source the first compiled") {
    assume(new java.io.File(sf).isDirectory)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val first = compiledDuring(monitorPass()).toSet
    val before = compiles
    val second = compiledDuring(monitorPass())
    // the second pass may compile source the first never generated: Spark's
    // RewriteDistinctAggregates orders several distinct groups (q04) by a
    // hash of fresh expression ids, so one query can generate new source
    // each run. None of it may be source the first pass already compiled.
    assert(compiles - before == second.size)
    val again = second.count(first)
    assert(again == 0, s"$again of ${second.size} second-pass compiles repeat first-pass source")
  }

  test("file: is graft's LocalFs; a commit's files and directories keep their modes") {
    val conf = spark.sparkContext.hadoopConfiguration
    // a new instance: Hadoop caches one `file:` FileSystem per JVM, and a
    // suite that ran first without a session may have made the stock one
    val fs = FileSystem.newInstance(new java.net.URI("file:///"), conf)
    try assert(fs.isInstanceOf[LocalFs]) finally fs.close()
    // a catalog commit: files get Hadoop's 0666 and directories its 0777,
    // each less the 022 umask, as they did under the chmod-forking FS
    val root = Files.createTempDirectory("graft-localfs")
    new Catalog(spark, root.toString).commitAppend(spark.range(10).toDF("id"), "ns.t")
    val modes = Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      p -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq
    assert(modes.exists(_._1.toString.endsWith(".parquet")))
    modes.foreach { case (p, m) =>
      assert(m == (if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"), s"$p: $m")
    }
    // setPermission sets the bits Hadoop's own chmod path sets
    val stock = new RawLocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), conf)
    val ours = new LocalFs.Raw()
    ours.initialize(new java.net.URI("file:///"), conf)
    for (octal <- Seq("644", "755", "600", "700", "740", "777", "444", "000", "1755")) {
      val mode = Integer.parseInt(octal, 8)
      val (a, b) = (Files.createTempFile(root, "stock", ""), Files.createTempFile(root, "ours", ""))
      stock.setPermission(new Path(a.toUri), new FsPermission(mode.toShort))
      ours.setPermission(new Path(b.toUri), new FsPermission(mode.toShort))
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b), octal)
    }
    val missing = new Path(root.resolve("absent").toUri)
    assertThrows[java.io.IOException](ours.setPermission(missing, new FsPermission("644")))
  }
}
