package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Manifest reads planned from the snapshot's recorded layout: a load
  * starts no Spark job however many files the table holds, and reads the
  * same schema and rows Spark's own listing + footer-merge inference
  * reads from the same files. */
class SnapshotReadSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshCatalog(): (Catalog, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-plan").toString
    (new Catalog(spark, root), root)
  }

  private def snapshot(catalog: Catalog, ref: String): (Path, Manifest.Snapshot) = {
    val (ns, t) = catalog.parseRef(ref)
    val p = new Path(catalog.path(ns, t))
    (p, Manifest.latest(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).get)
  }

  /** The read the snapshot's files got before layouts: Spark lists them
    * and merges their footers. */
  private def inferred(tableRoot: Path, files: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").option("basePath", tableRoot.toString)
      .parquet(files.map(f => new Path(tableRoot, f).toString): _*)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Spark jobs started while `body` runs. A marker job run after `body`
    * flushes the count: the listener bus delivers events in order, so
    * every job `body` started has been counted once the marker arrives. */
  private def jobsDuring(body: => Unit): Int = {
    val started = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val markerGroup = s"jobs-during-marker-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == markerGroup))
          marker.countDown()
        else started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(markerGroup, "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  test("a manifest load plans from the snapshot: zero Spark jobs past 32 files") {
    val (catalog, root) = freshCatalog()
    // 36 files in the first commit, then delta commits on top — past
    // Spark's 32-path threshold for a parallel listing job
    catalog.commitAppend(spark.range(0, 360, 1, 36).toDF("id"), "t.wide", batchId = Some(0L))
    for (b <- 1L to 3L)
      catalog.commitAppend(spark.range(b * 1000, b * 1000 + 4, 1, 2).toDF("id"), "t.wide",
        batchId = Some(b))
    val (tableRoot, snap) = snapshot(catalog, "t.wide")
    assert(snap.files.size > 32 && snap.base.nonEmpty && snap.layout.nonEmpty)
    // the counter sees the inference path's listing and footer-merge jobs
    assert(jobsDuring(inferred(tableRoot, snap.files).schema) >= 2)
    var loaded: DataFrame = null
    assert(jobsDuring { loaded = catalog.load("t.wide"); loaded.schema } == 0)
    assert(rows(loaded) == rows(spark.read.parquet(s"$root/t/wide")))
    assert(loaded.count() == 372)
  }

  test("the recorded schema equals mergeSchema inference across schema changes") {
    import org.apache.spark.sql.types.LongType
    val (catalog, root) = freshCatalog()
    def same(ref: String): Unit = {
      val (tableRoot, snap) = snapshot(catalog, ref)
      assert(snap.layout.nonEmpty, s"$ref recorded no layout")
      val planned = catalog.load(ref)
      val expect = inferred(tableRoot, snap.files)
      assert(planned.schema == expect.schema, ref)
      assert(rows(planned) == rows(expect), ref)
    }
    // plain append
    catalog.commitAppend(Seq((1L, "a")).toDF("id", "v"), "s.plain")
    catalog.commitAppend(Seq((2L, "b")).toDF("id", "v"), "s.plain")
    same("s.plain")
    // an added column
    catalog.commitAppend(Seq((1L, "a")).toDF("id", "v"), "s.added")
    catalog.commitAppend(Seq((2L, "b", 2.5)).toDF("id", "v", "score"), "s.added")
    same("s.added")
    assert(catalog.load("s.added").columns.toSeq == Seq("id", "v", "score"))
    // an appendRelaxed widening migration (int -> long), then a narrower
    // append that casts up
    catalog.commitAppend(Seq((1, "a")).toDF("id", "v"), "s.relax")
    catalog.appendRelaxed(Seq((2147483648L, "b")).toDF("id", "v"), "s.relax")
    catalog.appendRelaxed(Seq((3, "c")).toDF("id", "v"), "s.relax")
    same("s.relax")
    assert(catalog.load("s.relax").schema("id").dataType == LongType)
    // a partitioned commit: partition types still infer from the paths
    catalog.commitAppend(Seq((1L, "2024-01-01", 7), (2L, "2024-01-02", 8))
      .toDF("id", "day", "hour"), "s.part", partitionBy = Seq("day", "hour"))
    catalog.commitAppend(Seq((3L, "2024-01-03", 9)).toDF("id", "day", "hour"), "s.part")
    same("s.part")
    // an adopted directory table
    catalog.save(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "s.adopt")
    assert(!catalog.isManifest("s", "adopt"))
    catalog.commitAppend(Seq((3L, "c", true)).toDF("id", "v", "flag"), "s.adopt")
    same("s.adopt")
    assert(catalog.load("s.adopt").count() == 3)
    assert(new java.io.File(s"$root/s/adopt/_manifests").isDirectory)
  }

  test("a snapshot written in the old format still loads, and the next commit records a layout") {
    val (catalog, root) = freshCatalog()
    val tableRoot = new Path(s"$root/o/old")
    val fs = tableRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$tableRoot/first")
    Seq((3L, "c", 0.5)).toDF("id", "v", "w").write.parquet(s"$tableRoot/second")
    def parts(dir: String) = fs.listStatus(new Path(tableRoot, dir)).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).map(n => s"$dir/$n").toSeq.sorted
    // a full v1 snapshot, then a v3 delta: the forms written before layouts
    Manifest.publish(fs, tableRoot, Nil, Some(0L), parts("first"))
    Manifest.publish(fs, tableRoot, Nil, Some(1L), parts("first") ++ parts("second"),
      preferDelta = true)
    val old = Manifest.latest(fs, tableRoot).get
    assert(old.layout.isEmpty && old.base.nonEmpty)
    val loaded = catalog.load("o.old")
    assert(loaded.columns.toSeq == Seq("id", "v", "w"))
    assert(rows(loaded) == Seq("1|a|null", "2|b|null", "3|c|0.5"))
    // the next commit infers the old files' layout once and records it
    catalog.commitAppend(Seq((4L, "d", 1.5)).toDF("id", "v", "w"), "o.old", batchId = Some(2L))
    val (_, upgraded) = snapshot(catalog, "o.old")
    assert(upgraded.layout.nonEmpty && upgraded.base.isEmpty)
    assert(catalog.load("o.old").schema == inferred(tableRoot, upgraded.files).schema)
    assert(rows(catalog.load("o.old")) ==
      Seq("1|a|null", "2|b|null", "3|c|0.5", "4|d|1.5"))
  }

  test("a commit whose schema does not merge records no layout; the load fails as before") {
    val (catalog, _) = freshCatalog()
    catalog.commitAppend(Seq((1, "a")).toDF("id", "v"), "c.clash")
    // a plain append (no relaxation) of a conflicting type: the commit
    // lands, as it always has, and the conflict surfaces on read
    catalog.commitAppend(Seq(("x", "b")).toDF("id", "v"), "c.clash")
    assert(snapshot(catalog, "c.clash")._2.layout.isEmpty)
    intercept[org.apache.spark.SparkException] { catalog.load("c.clash").collect() }
    // later commits keep committing without a layout
    catalog.commitAppend(Seq(("y", "c")).toDF("id", "v"), "c.clash")
    assert(snapshot(catalog, "c.clash")._2.layout.isEmpty)
  }
}
