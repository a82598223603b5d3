package graft

import org.apache.spark.sql.functions._

import graft.core.{BadTableRef, Catalog, Manifest, TableNotFound}
import graft.pipeline.TransformJob
import graft.quality.DataQualityCheck

/** The self-healing transform end-to-end (SURVEY §3.2 / §2.11 D4): a job
  * submitted with the reference's seeded double-dot table reference fails
  * with a typed error, the healing loop classifies + patches it, and the
  * rerun succeeds — all local, deterministic, no LLM.
  */
class HealingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = java.nio.file.Files.createTempDirectory("graft-cat").toString
  private lazy val catalog = new Catalog(spark, root)
  // one minute past the sweep threshold — derived, so raising LockStaleMs
  // can't silently turn these planted artifacts fresh (ManifestSpec pattern)
  private val staleAge = Manifest.LockStaleMs + 60 * 1000L

  test("Catalog raises typed errors for bad refs and missing tables") {
    assertThrows[BadTableRef](catalog.parseRef("selfhealing..employee_data"))
    assertThrows[BadTableRef](catalog.parseRef("justonetoken"))
    assertThrows[TableNotFound](catalog.load("selfhealing.nope"))
  }

  test("transform job with seeded double-dot ref heals and succeeds") {
    val employees = Seq((1L, "alice", "eng", 100.0), (2L, "bob", "ops", 90.0))
      .toDF("id", "name", "department", "salary")
    catalog.save(employees, "selfhealing.employee_data")

    val job = new TransformJob(catalog)
    // direct run with the bad ref fails with the typed error
    assertThrows[BadTableRef](job.run("selfhealing..employee_data", "output.emp"))
    // healed run: classify -> patch '..' -> rerun succeeds
    val (count, attempts) = job.runHealed("selfhealing..employee_data", "output.emp")
    assert(count == 2)
    assert(attempts.size == 1)
    assert(attempts.head.classification.errorType == "table_reference")
    assert(attempts.head.healed)
    assert(catalog.load("output.emp").count() == 2)
  }

  test("long OOM log classifies as oom, not table_reference (snip separator)") {
    import graft.pipeline.{AutoHealer, ErrorClassifier}
    // >4000-char log with no Traceback: head+tail slicing inserts the snip
    // separator, which must NOT trip the double-dot table-reference rule
    val log = ("x" * 4500) + "\njava.lang.OutOfMemoryError: Java heap space\n" + ("y" * 500)
    val ctx = AutoHealer.extractErrorContext(log)
    assert(ctx.contains("[snip]"))
    assert(ErrorClassifier.classify(ctx).errorType == "oom")
    // free-text ellipsis alone is not a table reference either
    assert(ErrorClassifier.classify("loading data ... please wait").errorType == "unknown")
    // but a ref-shaped double dot still is
    assert(ErrorClassifier.classify(
      "TableNotFound: selfhealing..employee_data").errorType == "table_reference")
  }

  test("double-dot rule catches backtick-quoted and end-of-message refs") {
    import graft.pipeline.{AutoHealer, ErrorClassifier}
    // backtick-quoted ref (the shape BigQuery SQL errors actually quote)
    assert(ErrorClassifier.classify(
      "Bad ref in query: `selfhealing`..`employee_data`").errorType == "table_reference")
    assert(AutoHealer.fixDoubleDots("FROM `selfhealing`..`employee_data`") ==
      "FROM `selfhealing`.`employee_data`")
    // truncated ref at the very end of a message
    assert(ErrorClassifier.classify(
      "Malformed dataset qualifier: selfhealing..").errorType == "table_reference")
    // trailing 3+-dot ellipsis stays free text
    assert(ErrorClassifier.classify("Retrying...").errorType == "unknown")
    assert(ErrorClassifier.classify("Loading, please wait ...").errorType == "unknown")
    // UNSPACED mid-text ellipses are free text too — only an exactly-two-dot
    // run is ref-shaped; these previously misrouted to table_reference,
    // shadowing the real error class checked later in the ladder
    assert(ErrorClassifier.classify(
      "java.lang.OutOfMemoryError: GC overhead limit exceeded...retrying")
      .errorType == "oom")
    assert(ErrorClassifier.classify("step one...step two failed").errorType == "unknown")
    assert(ErrorClassifier.classify("option '...' is deprecated").errorType == "unknown")
  }

  test("applyFix leaves ellipses in unrelated artifacts untouched") {
    import graft.pipeline.{AutoHealer, ErrorClassifier}
    val artifact = """SELECT '...' AS dots FROM selfhealing.employee_data -- etc..."""
    // unrelated failure: classification is not table_reference -> no-op
    val oom = ErrorClassifier.classify("java.lang.OutOfMemoryError")
    assert(AutoHealer.applyFix(artifact, oom) eq artifact)
    // even a table_reference fix only rewrites ref-shaped a..b runs
    val bad = "FROM selfhealing..employee_data -- see docs... '...'"
    val fixRef = ErrorClassifier.classify("BadTableRef: selfhealing..employee_data")
    assert(AutoHealer.applyFix(bad, fixRef) ==
      "FROM selfhealing.employee_data -- see docs... '...'")
  }

  test("overwrite-with-new-schema mirrors allowFieldAddition/Relaxation") {
    val v1 = Seq((1L, "a")).toDF("id", "name")
    catalog.save(v1, "output.evolve")
    val v2 = Seq((2L, "b", 9.5)).toDF("id", "name", "score") // added column
    catalog.save(v2, "output.evolve")
    val back = catalog.load("output.evolve")
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    assert(back.count() == 1)
  }

  test("appendRelaxed widens int->long across appends and round-trips the data") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // seed with NARROW types (int id, float-ish score as int)
    val v1 = Seq((1, "a", 10)).toDF("id", "name", "score")
    catalog.save(v1, "output.relax")
    // a WIDER incoming id (long) migrates the stored files once; the
    // incoming int score keeps the stored type
    val v2 = Seq((2147483648L, "b", 20)).toDF("id", "name", "score")
    catalog.appendRelaxed(v2, "output.relax")
    val afterWiden = catalog.load("output.relax")
    assert(afterWiden.schema("id").dataType == LongType)
    assert(afterWiden.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2147483648L))
    // a NARROWER incoming append casts up in place — no migration, and the
    // stored values survive verbatim
    val v3 = Seq((3, "c", 30)).toDF("id", "name", "score")
    catalog.appendRelaxed(v3, "output.relax")
    // int->double cross-family relaxation + an ADDED column in one append
    val v4 = Seq((4L, "d", 40.5, true)).toDF("id", "name", "score", "flag")
    catalog.appendRelaxed(v4, "output.relax")
    val back = catalog.load("output.relax").orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L, 2147483648L))
    assert(catalog.load("output.relax").schema("score").dataType == DoubleType)
    assert(back.map(r => r.getDouble(2)).toSeq == Seq(10.0, 30.0, 40.5, 20.0))
    // the added column reads as null for pre-addition rows (mergeSchema)
    assert(back.map(r => Option(r.getAs[Any]("flag"))).toSeq ==
      Seq(None, None, Some(true), None))
    // unwidenable types fail loudly instead of corrupting a side
    val bad = Seq(("x", "e", 1)).toDF("id", "name", "score")
    val e = intercept[IllegalArgumentException] {
      catalog.appendRelaxed(bad, "output.relax")
    }
    assert(e.getMessage.contains("relax"))
  }

  test("appendRelaxed preserves a partitioned layout through the widening migration") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    // seed a PARTITIONED table with a narrow id (non-date partition values
    // so partition-type inference keeps the column a string)
    val v1 = Seq((1, "d1", 10), (2, "d2", 20)).toDF("id", "day", "v")
    catalog.save(v1, "output.prelax", partitionBy = Seq("day"))
    assert(catalog.partitionColumnsOf("output", "prelax") == Seq("day"))
    // widening migration WITHOUT re-passing partitionBy: the discovered
    // layout must survive the rewrite instead of silently flattening
    val v2 = Seq((2147483648L, "d3", 30)).toDF("id", "day", "v")
    catalog.appendRelaxed(v2, "output.prelax")
    assert(catalog.partitionColumnsOf("output", "prelax") == Seq("day"))
    // the migration adopted the table into atomic manifest commits (no
    // delete+rename window), and the migrated files live in day=... dirs
    assert(catalog.isManifest("output", "prelax"))
    assert(new java.io.File(s"$root/output/prelax/day=d3").exists())
    val back = catalog.load("output.prelax")
    assert(back.schema("id").dataType == LongType)
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 2147483648L))
    assert(back.filter(col("day") === "d2").count() == 1)
  }

  test("manifest commits: adoption, idempotent batch replay, atomic overwrite, vacuum") {
    // adoption: a directory-layout table folds into the first snapshot
    catalog.save(Seq((1L, "a")).toDF("id", "v"), "output.mani")
    assert(!catalog.isManifest("output", "mani"))
    assert(catalog.commitAppend(Seq((2L, "b")).toDF("id", "v"), "output.mani",
      batchId = Some(0L)))
    assert(catalog.isManifest("output", "mani"))
    assert(catalog.load("output.mani").count() == 2)
    // replaying a committed batch id is skipped before any data is written
    assert(!catalog.commitAppend(Seq((2L, "dup")).toDF("id", "v"), "output.mani",
      batchId = Some(0L)))
    assert(catalog.load("output.mani").count() == 2)
    // the next batch id lands, and plain append routes through the commit
    assert(catalog.commitAppend(Seq((3L, "c")).toDF("id", "v"), "output.mani",
      batchId = Some(1L)))
    catalog.append(Seq((4L, "d")).toDF("id", "v"), "output.mani")
    assert(catalog.load("output.mani").count() == 4)
    // save on a manifest table is an atomic snapshot swap: readers see only
    // the new file set; superseded files wait on disk for vacuum
    catalog.save(Seq((9L, "z")).toDF("id", "v"), "output.mani")
    assert(catalog.load("output.mani").collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(catalog.vacuum("output.mani") > 0)
    assert(catalog.load("output.mani").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("manifest commits: partition layout is inherited, contradictions fail loudly") {
    catalog.commitAppend(Seq((1L, "d1")).toDF("id", "day"), "output.mpart",
      partitionBy = Seq("day"))
    // an append omitting partitionBy inherits the layout — never flattens
    catalog.append(Seq((2L, "d2")).toDF("id", "day"), "output.mpart")
    assert(catalog.partitionColumnsOf("output", "mpart") == Seq("day"))
    assert(new java.io.File(s"$root/output/mpart/day=d2").exists())
    assert(catalog.load("output.mpart").count() == 2)
    val e = intercept[IllegalArgumentException] {
      catalog.commitAppend(Seq((3L, "d3")).toDF("id", "day"), "output.mpart",
        partitionBy = Seq("id"))
    }
    assert(e.getMessage.contains("partition layout mismatch"))
  }

  test("a reader holding a snapshot is undisturbed by a concurrent overwrite") {
    catalog.commitAppend(Seq((1L, "old"), (2L, "old")).toDF("id", "v"), "output.rdr")
    // the reader's plan pins snapshot v1's concrete file list at load time
    val pinned = catalog.load("output.rdr")
    // an overwrite swaps the committed file set atomically; the old files
    // stay on disk (until vacuum), so the in-flight reader still collects
    // its snapshot — the delete+rename swap this replaced would have
    // yanked the directory out from under it
    catalog.save(Seq((9L, "new")).toDF("id", "v"), "output.rdr")
    assert(pinned.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "old"), (2L, "old")))
    assert(catalog.load("output.rdr").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("partition pruning works through a manifest snapshot read") {
    import org.apache.spark.sql.functions.col
    catalog.commitAppend(
      Seq((1L, "d1"), (2L, "d2"), (3L, "d3")).toDF("id", "day"),
      "output.mprune", partitionBy = Seq("day"))
    catalog.commitAppend(Seq((4L, "d2")).toDF("id", "day"), "output.mprune")
    // the snapshot read lists concrete files with a basePath, and a filter
    // on the partition column still prunes to that directory's files —
    // the property the 100 TB date-partition story rests on
    val pruned = catalog.load("output.mprune").filter(col("day") === "d2")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty, "no partition-filtered scan in the manifest read")
    assert(scans.exists(_.selectedPartitions.partitionCount == 1),
      s"read ${scans.map(_.selectedPartitions.partitionCount)} partitions, want 1")
  }

  test("a corrupted manifest fails the read loudly (checksum mismatch)") {
    catalog.commitAppend(Seq((1L, "a")).toDF("id", "v"), "output.crpt")
    val mdir = new java.io.File(s"$root/output/crpt/_manifests")
    val mf = mdir.listFiles().filter(_.getName.endsWith(".manifest")).head
    // simulated storage rot: mutate the committed file list. Hadoop's
    // local-FS .crc sidecar would catch this first — delete it so the
    // MANIFEST-level checksum (the layer that exists for stores without
    // sidecars) is what trips
    val content = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath, (content + "x").getBytes("UTF-8"))
    mdir.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val e = intercept[java.io.IOException] { catalog.load("output.crpt") }
    assert(e.getMessage.contains("checksum mismatch"))
  }

  test("manifest compaction and time travel: fewer files, same rows, pinned versions") {
    // five micro-batch-sized commits → five snapshots, five small files
    for (i <- 0 until 5)
      catalog.commitAppend(Seq((i.toLong, s"v$i")).toDF("id", "v"), "output.cmp",
        batchId = Some(i.toLong))
    val versions = catalog.snapshotVersions("output.cmp")
    assert(versions.size == 5)
    // time travel: the second snapshot still reads as it committed
    assert(catalog.load("output.cmp", versions(1)).count() == 2)

    // compaction rewrites to one file, preserves rows, publishes atomically
    assert(catalog.compact("output.cmp") == 1)
    assert(catalog.load("output.cmp").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (0 until 5).map(i => (i.toLong, s"v$i")))
    // pre-compaction snapshots stay pinned until vacuum reclaims them
    assert(catalog.load("output.cmp", versions(1)).count() == 2)
    assert(catalog.vacuum("output.cmp") > 0)
    assert(catalog.load("output.cmp").count() == 5)
    intercept[IllegalArgumentException] { catalog.load("output.cmp", versions(1)) }

    // partitioned compaction: one file per partition directory, layout kept
    for (i <- 0 until 3)
      catalog.commitAppend(
        Seq((i.toLong, "d1"), (i.toLong + 100, "d2")).toDF("id", "day"),
        "output.cmpp", partitionBy = Seq("day"), batchId = Some(i.toLong))
    assert(catalog.compact("output.cmpp") == 2)
    assert(catalog.partitionColumnsOf("output", "cmpp") == Seq("day"))
    assert(catalog.load("output.cmpp").count() == 6)
  }

  test("micro-batch appends publish delta manifests; vacuum folds the retention boundary") {
    def header(v: Long): String = {
      val f = new java.io.File(s"$root/output/delta/_manifests/v${"%020d".format(v)}.manifest")
      scala.io.Source.fromFile(f, "UTF-8").getLines().next()
    }
    for (i <- 0 until 4)
      catalog.commitAppend(Seq((i.toLong, s"v$i")).toDF("id", "v"), "output.delta",
        batchId = Some(i.toLong))
    // first commit is a full snapshot; every later append stores only its
    // own files behind a base pointer — O(batch) metadata per micro-batch
    // (v4/v5: the full and delta forms that record sizes and schema)
    assert(header(1L) == "graft-manifest-v4")
    (2L to 4L).foreach(v => assert(header(v) == "graft-manifest-v5"))
    assert(catalog.load("output.delta").count() == 4)
    // vacuum reclaims v1/v2; v3 resolved through them, so it is folded into
    // a full manifest in place — both retained versions stay readable
    catalog.vacuum("output.delta")
    assert(catalog.snapshotVersions("output.delta") == Seq(3L, 4L))
    assert(header(3L) == "graft-manifest-v4")
    assert(header(4L) == "graft-manifest-v5")
    assert(catalog.load("output.delta", 3L).count() == 3)
    assert(catalog.load("output.delta").count() == 4)
    // vacuum also sweeps stale writer locks (a live-looking one survives)
    val mdir = new org.apache.hadoop.fs.Path(s"$root/output/delta/_manifests")
    val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(mdir, f"v${9L}%020d.lock")
    val fresh = new org.apache.hadoop.fs.Path(mdir, f"v${8L}%020d.lock")
    fs.create(stale, true).close(); fs.create(fresh, true).close()
    fs.setTimes(stale, System.currentTimeMillis() - staleAge, -1L)
    catalog.vacuum("output.delta")
    assert(!fs.exists(stale) && fs.exists(fresh))
    fs.delete(fresh, false)
  }

  test("a checkpoint sidecar keeps the version visible; vacuum repairs a crashed replace") {
    for (i <- 0 until 3)
      catalog.commitAppend(Seq((i.toLong, s"v$i")).toDF("id", "v"), "output.ckpt",
        batchId = Some(i.toLong))
    val mdir = new org.apache.hadoop.fs.Path(s"$root/output/ckpt/_manifests")
    val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val main = new org.apache.hadoop.fs.Path(mdir, f"v${3L}%020d.manifest")
    val ckpt = new org.apache.hadoop.fs.Path(mdir, f"v${3L}%020d.manifest.ckpt")
    // simulate a non-atomic store's replace crashing between delete and
    // rename: the sidecar (published first) is the only copy of v3
    assert(fs.rename(main, ckpt))
    // the version never vanishes from listings, and reads serve from the
    // sidecar — a concurrent vacuum cannot mis-classify v3's files as
    // orphans, and latest() cannot silently fall back to v2
    assert(catalog.snapshotVersions("output.ckpt") == Seq(1L, 2L, 3L))
    assert(catalog.load("output.ckpt").count() == 3)
    // a FRESH sidecar may be a live checkpoint mid-replace: left alone
    catalog.vacuum("output.ckpt", retainLast = 3)
    assert(fs.exists(ckpt) && !fs.exists(main))
    // once stale it is a crashed replace's durable copy: repaired in place
    fs.setTimes(ckpt, System.currentTimeMillis() - staleAge, -1L)
    catalog.vacuum("output.ckpt", retainLast = 3)
    assert(fs.exists(main) && !fs.exists(ckpt))
    assert(catalog.load("output.ckpt").count() == 3)
    // a stale leftover sidecar BESIDE its manifest (completed replace that
    // crashed before the cleanup delete) is swept, not repaired
    val out = fs.create(ckpt, true); out.close()
    fs.setTimes(ckpt, System.currentTimeMillis() - staleAge, -1L)
    catalog.vacuum("output.ckpt", retainLast = 3)
    assert(fs.exists(main) && !fs.exists(ckpt))
  }

  test("concurrent commitAppend: no lost update; a loser's rows stay invisible until its retry") {
    catalog.commitAppend(Seq((0L, "seed")).toDF("id", "v"), "output.race")
    // both writers race the same prior snapshot; depending on interleaving
    // either both serialize cleanly or the second loses the version lock —
    // the invariant is that the table ALWAYS equals exactly the union of
    // the commits that reported success (no lost update, no torn rows)
    val batches = Map("a" -> (100L until 105L), "b" -> (200L until 205L))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val outcomes =
      try batches.toSeq.map { case (tag, ids) =>
        tag -> pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          def call() = {
            barrier.await()
            try { catalog.commitAppend(ids.map(i => (i, tag)).toDF("id", "v"),
              "output.race"); None }
            catch { case t: Throwable => Some(t) }
          }
        })
      }.map { case (tag, f) => tag -> f.get() }.toMap
      finally pool.shutdownNow()
    outcomes.values.flatten.foreach(t =>
      assert(t.isInstanceOf[java.io.IOException], s"loser must throw the publish race: $t"))
    def tableIds() = catalog.load("output.race").collect().map(_.getLong(0)).toSet
    val committed = batches.collect { case (tag, ids) if outcomes(tag).isEmpty => ids }
      .flatten.toSet + 0L
    assert(tableIds() == committed, s"outcomes=$outcomes")
    // a loser's staged-and-moved files are orphans: invisible to readers,
    // reclaimed by a full vacuum, and its RETRY lands cleanly afterwards
    val losers = batches.keySet.filter(outcomes(_).nonEmpty)
    if (losers.nonEmpty) {
      assert(catalog.vacuum("output.race", retainLast = 1, orphanGraceMs = 0L) > 0)
      assert(tableIds() == committed)
      losers.foreach { tag =>
        catalog.commitAppend(batches(tag).map(i => (i, tag)).toDF("id", "v"), "output.race")
      }
      assert(tableIds() == batches.values.flatten.toSet + 0L)
    }
  }

  test("commitAppend CAS retry: concurrent appenders all serialize and land") {
    catalog.commitAppend(Seq((0L, "seed")).toDF("id", "v"), "output.cas")
    val writers = 4
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val results =
      try (0 until writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call() = {
            barrier.await()
            catalog.commitAppend(Seq((100L + i, s"w$i")).toDF("id", "v"), "output.cas")
          }
        })
      }.map(_.get())
      finally pool.shutdownNow()
    // the bounded CAS retry serializes every loser behind the interleaved
    // commit: all four succeed, none throws, nothing is lost
    assert(results.forall(identity))
    val ids = catalog.load("output.cas").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 100L, 101L, 102L, 103L))
    // five snapshots: the seed plus one per append
    assert(catalog.snapshotVersions("output.cas").size == 5)
  }

  test("maintenance during live ingest: compact + vacuum never eat an in-flight append") {
    catalog.commitAppend(Seq((-1L, "seed")).toDF("id", "v"), "output.maint")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // maintenance loop beside the writer: compact may lose its CAS to an
    // interleaved append (expected — it recomputes next round); vacuum's
    // default orphan grace is what keeps it from eating the appender's
    // staged-but-unpublished files
    val maint = new Thread(() => {
      while (!stop.get()) {
        try {
          catalog.compact("output.maint")
          catalog.vacuum("output.maint")
        } catch {
          case _: java.io.IOException => () // publish race lost to an append
          case t: Throwable => maintErr.set(t); stop.set(true)
        }
        Thread.sleep(25)
      }
    })
    maint.start()
    try
      for (b <- 0 until 10)
        catalog.commitAppend(Seq((b.toLong, s"b$b")).toDF("id", "v"),
          "output.maint", batchId = Some(b.toLong))
    finally { stop.set(true); maint.join(60000) }
    assert(maintErr.get() == null, s"maintenance died: ${maintErr.get()}")
    assert(catalog.load("output.maint").collect().map(_.getLong(0)).toVector.sorted ==
      (-1L until 10L).toVector)
  }

  test("a pinned time-travel reader survives compact + vacuum (grace window)") {
    for (i <- 0 until 3)
      catalog.commitAppend(Seq((i.toLong, s"v$i")).toDF("id", "v"), "output.pin",
        batchId = Some(i.toLong))
    val preCompact = catalog.snapshotVersions("output.pin").last
    // a long analysis pins version N while maintenance continues underneath
    val pinned = catalog.load("output.pin", preCompact)
    assert(catalog.compact("output.pin") == 1) // publishes N+1 with rewritten files
    // default vacuum keeps the grace window: N's files must survive even
    // though the latest snapshot references none of them
    catalog.vacuum("output.pin")
    assert(pinned.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(catalog.load("output.pin").count() == 3)
    // once no reader holds N, retainLast = 1 reclaims it fully
    catalog.vacuum("output.pin", retainLast = 1)
    assert(catalog.snapshotVersions("output.pin") == Seq(preCompact + 1))
    assert(catalog.load("output.pin").count() == 3)
    intercept[IllegalArgumentException] { catalog.load("output.pin", preCompact) }
  }

  test("manifest state machine: random op sequences always read back exact contents") {
    // seeded fuzz over the commit protocol: append / batch replay /
    // overwrite / compact / vacuum in arbitrary order, with the reader
    // checked after every step — the invariant IS the durability contract
    val rnd = new scala.util.Random(42)
    var expected = Vector.empty[Long]
    var nextId = 0L
    var lastBatch = -1L
    def df(ids: Seq[Long]) = ids.map(i => (i, s"r$i")).toDF("id", "v")
    def readIds() = catalog.load("output.fuzz").collect().map(_.getLong(0)).toVector.sorted
    for (step <- 0 until 30) {
      rnd.nextInt(10) match {
        case n if n < 5 => // append a small batch with a monotone batch id
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            val i = nextId; nextId += 1; i
          }
          catalog.commitAppend(df(rows), "output.fuzz", batchId = Some(step.toLong))
          lastBatch = step.toLong
          expected ++= rows
        case 5 | 6 if lastBatch >= 0 => // replay a COMMITTED batch id: must no-op
          assert(!catalog.commitAppend(df(Seq(999999L)), "output.fuzz",
            batchId = Some(rnd.nextLong(lastBatch + 1))))
        case 7 if expected.nonEmpty => // atomic overwrite
          val rows = Seq(nextId, nextId + 1); nextId += 2
          catalog.save(df(rows), "output.fuzz")
          expected = rows.toVector
        case 8 if catalog.isManifest("output", "fuzz") =>
          catalog.compact("output.fuzz")
        case 9 if catalog.isManifest("output", "fuzz") =>
          catalog.vacuum("output.fuzz")
        case _ => ()
      }
      if (expected.nonEmpty) assert(readIds() == expected.sorted,
        s"divergence after step $step")
    }
    assert(catalog.snapshotVersions("output.fuzz").nonEmpty)
  }

  test("AlertStore: monitoring_alerts shape, partitioned append, retention load") {
    import graft.alerts.{Alert, AlertStore}
    val now = java.time.Instant.parse("2024-01-31T00:00:00Z")
    val alerts = Seq(
      Alert("revenue_anomaly", "HIGH", "t1", Map("z" -> "3.1"), Seq("check"), now),
      Alert("missing_feeds", "MEDIUM", "t2", Map.empty, Nil,
        now.minusSeconds(200L * 86400))) // beyond 180d retention
    AlertStore.append(catalog, spark, alerts)
    val all = catalog.load("financial_monitoring.monitoring_alerts")
    assert(all.columns.toSet == Set("alert_id", "alert_type", "severity", "title",
      "details", "recommendations", "created_at", "alert_date"))
    assert(all.count() == 2)
    val row = all.filter($"alert_type" === "revenue_anomaly").head()
    assert(row.getAs[String]("details").contains("\"z\":\"3.1\""))
    assert(row.getAs[String]("alert_id").length == 32)
    val retained = AlertStore.load(catalog, now)
    assert(retained.count() == 1)
    // retention must prune expired alert_date=... directories at planning
    // time (partition filter), not just row-filter created_at inside files
    val scan = retained.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "alert_date")))
  }

  test("AlertStore.append stays visible after the table goes manifest-mode") {
    import graft.alerts.{Alert, AlertStore}
    val now = java.time.Instant.parse("2024-01-31T00:00:00Z")
    val ref = "fm2.alerts_mf"
    val a1 = Alert("revenue_anomaly", "HIGH", "first", Map.empty, Nil, now)
    val a2 = Alert("missing_feeds", "MEDIUM", "second", Map.empty, Nil, now)
    // start as a plain directory table, then a manifest commit ADOPTS it
    AlertStore.append(catalog, spark, Seq(a1), ref)
    catalog.commitAppend(AlertStore.toDataFrame(spark, Seq(a2)), ref,
      partitionBy = Seq("alert_date"))
    // the store's own append must go through the Catalog: a raw parquet
    // write into the directory would belong to NO snapshot and every
    // alert after adoption would silently vanish from load()
    val a3 = Alert("sla_breach", "CRITICAL", "third", Map.empty, Nil, now)
    AlertStore.append(catalog, spark, Seq(a3), ref)
    val titles = catalog.load(ref).select("title").collect().map(_.getString(0)).toSet
    assert(titles == Set("first", "second", "third"))
  }

  test("DataQualityCheck: schema-driven null profile + assessment") {
    val df = Seq((Some(1), Some("x")), (None, Some("y")), (None, None))
      .toDF("a", "b")
    val rep = DataQualityCheck.check(df, "t")
    assert(rep.totalRows == 3)
    assert(rep.nullCounts == Map("a" -> 2L, "b" -> 1L))
    assert(rep.assessment.startsWith("WARN") && rep.assessment.contains("'a'"))
    val clean = Seq((1, "x")).toDF("a", "b")
    assert(DataQualityCheck.check(clean, "t").assessment.startsWith("PASS"))
    assert(DataQualityCheck.check(clean.filter(lit(false)), "t").assessment.startsWith("FAIL"))
  }
}
