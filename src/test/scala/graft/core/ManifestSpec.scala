package graft.core

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The multi-writer publish protocol, tested at the Manifest level (no
  * Spark session): concurrent publishers of the same next version must
  * produce exactly one committed snapshot, with every loser throwing —
  * never a silent lost commit. */
class ManifestSpec extends AnyFunSuite {

  private def freshTable(): (org.apache.hadoop.fs.FileSystem, Path) = {
    val root = new Path(
      java.nio.file.Files.createTempDirectory("graft-manifest").toString, "tbl")
    val fs = root.getFileSystem(new Configuration())
    fs.mkdirs(root)
    (fs, root)
  }

  test("concurrent publish: exactly one winner, every loser throws") {
    val (fs, table) = freshTable()
    // plant a live-looking lock at v2 so a thread that observes the winner's
    // v1 commit before computing its own version also loses (to the planted
    // lock) instead of legitimately committing v2 — making "exactly one
    // winner" deterministic rather than timing-dependent
    fs.mkdirs(Manifest.dir(table))
    fs.create(new Path(Manifest.dir(table), f"v${2L}%020d.lock"), true).close()
    val writers = 8
    val barrier = new CyclicBarrier(writers)
    val pool = Executors.newFixedThreadPool(writers)
    try {
      val results = pool.invokeAll(
        java.util.Arrays.asList(
          (0 until writers).map { i =>
            new Callable[Either[Throwable, Manifest.Snapshot]] {
              def call() = {
                barrier.await(30, TimeUnit.SECONDS)
                try Right(Manifest.publish(fs, table, Nil, None, Seq(s"w$i.parquet")))
                catch { case t: Throwable => Left(t) }
              }
            }
          }: _*))
      val outcomes = (0 until writers).map(results.get(_).get())
      val winners = outcomes.collect { case Right(s) => s }
      val losers = outcomes.collect { case Left(t) => t }
      assert(winners.size == 1, s"expected exactly one winner, got ${winners.size}")
      assert(losers.size == writers - 1)
      losers.foreach(t => assert(t.isInstanceOf[java.io.IOException], t.toString))
      // exactly one v1 on disk, listing exactly the winner's file
      assert(Manifest.versions(fs, table) == Seq(1L))
      assert(Manifest.read(fs, table, 1L).files == winners.head.files)
      // the winner's lock is released: with the planted v2 lock removed,
      // the next (sequential) publish proceeds
      fs.delete(new Path(Manifest.dir(table), f"v${2L}%020d.lock"), false)
      val s2 = Manifest.publish(fs, table, Nil, None, Seq("next.parquet"))
      assert(s2.version == 2L)
    } finally pool.shutdownNow()
  }

  test("expectedVersion CAS: a publish derived from a superseded snapshot throws") {
    val (fs, table) = freshTable()
    val s1 = Manifest.publish(fs, table, Nil, None, Seq("a.parquet"), expectedVersion = 0L)
    assert(s1.version == 1L)
    // someone else advances the table past what this writer read
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet", "b.parquet"),
      expectedVersion = 1L)
    val e = intercept[java.io.IOException] {
      Manifest.publish(fs, table, Nil, None, Seq("a.parquet", "c.parquet"),
        expectedVersion = 1L)
    }
    assert(e.getMessage.contains("advanced"))
    // blind (last-writer-wins) publish still lands, and a re-read retry does too
    assert(Manifest.publish(fs, table, Nil, None, Seq("z.parquet")).version == 3L)
    assert(Manifest.publish(fs, table, Nil, None, Seq("z.parquet", "c.parquet"),
      expectedVersion = 3L).version == 4L)
  }

  private def rawLines(fs: org.apache.hadoop.fs.FileSystem, table: Path,
      version: Long): Vector[String] = {
    val in = fs.open(new Path(Manifest.dir(table), f"v$version%020d.manifest"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  test("append deltas: O(batch) manifest bodies, exact resolution, periodic checkpoint") {
    val (fs, table) = freshTable()
    // a "large" table: the full listing is 500 lines
    val seed = (0 until 500).map(i => f"part-$i%05d.parquet")
    val s1 = Manifest.publish(fs, table, Nil, None, seed)
    assert(s1.base.isEmpty && s1.depth == 0)
    // micro-batch appends: each manifest stores ONLY the added file, not
    // the 500-line table listing
    var files = seed
    var expectFull = Vector(1L) // versions stored as full snapshots
    for (v <- 2L to (Manifest.CheckpointEvery + 3L)) {
      files = files :+ s"batch-$v.parquet"
      val s = Manifest.publish(fs, table, Nil, Some(v), files, preferDelta = true)
      assert(s.version == v && s.files == files)
      val raw = rawLines(fs, table, v)
      if (raw.head == "graft-manifest-v3") {
        assert(raw.length == 6, s"delta v$v body should be one added file: $raw")
        assert(raw(3) == s"base=${v - 1}")
      } else expectFull :+= v
    }
    // exactly one checkpoint in the run: the commit that would have made
    // the chain CheckpointEvery deep folds back to a full snapshot
    assert(expectFull == Vector(1L, Manifest.CheckpointEvery + 1L))
    assert(rawLines(fs, table, Manifest.CheckpointEvery + 1L).length == 4 + files.size - 2)
    // resolution is exact through the chain, and depth is bounded
    val latest = Manifest.latest(fs, table).get
    assert(latest.files == files)
    assert(latest.depth == 2 && latest.base.contains(Manifest.CheckpointEvery + 2L))
    // a non-extending file set (an overwrite shape) refuses the delta form
    val over = Manifest.publish(fs, table, Nil, None, Seq("rewritten.parquet"),
      preferDelta = true)
    assert(over.base.isEmpty && rawLines(fs, table, over.version).head == "graft-manifest-v1")
  }

  test("checkpoint folds a delta in place; content identical, chain cut") {
    val (fs, table) = freshTable()
    Manifest.publish(fs, table, Seq("day"), None, Seq("day=d1/a.parquet"))
    Manifest.publish(fs, table, Seq("day"), Some(7L),
      Seq("day=d1/a.parquet", "day=d2/b.parquet"), preferDelta = true)
    Manifest.publish(fs, table, Seq("day"), Some(8L),
      Seq("day=d1/a.parquet", "day=d2/b.parquet", "day=d3/c.parquet"),
      preferDelta = true)
    val before = Manifest.read(fs, table, 2L)
    assert(before.base.contains(1L))
    val after = Manifest.checkpoint(fs, table, 2L)
    assert(after.base.isEmpty && after.depth == 0)
    assert(rawLines(fs, table, 2L).head == "graft-manifest-v1")
    val reread = Manifest.read(fs, table, 2L)
    assert(reread.files == before.files && reread.partitions == Seq("day") &&
      reread.lastBatchId.contains(7L))
    // v3 still resolves through the rewritten v2
    assert(Manifest.read(fs, table, 3L).files.size == 3)
    // idempotent on an already-full snapshot
    assert(Manifest.checkpoint(fs, table, 2L).files == before.files)
  }

  test("a corrupted delta body fails the read loudly") {
    val (fs, table) = freshTable()
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet"))
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet", "b.parquet"),
      preferDelta = true)
    val mf = new java.io.File(new Path(Manifest.dir(table),
      f"v${2L}%020d.manifest").toUri.getPath)
    val content = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    assert(content.startsWith("graft-manifest-v3"))
    java.nio.file.Files.write(mf.toPath, (content + "\nrogue.parquet").getBytes("UTF-8"))
    new java.io.File(mf.getParent).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val e = intercept[java.io.IOException] { Manifest.read(fs, table, 2L) }
    assert(e.getMessage.contains("checksum mismatch"))
  }

  test("a flipped base pointer fails the read loudly (checksum covers base=)") {
    val (fs, table) = freshTable()
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet"))
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet", "b.parquet"),
      preferDelta = true)
    Manifest.publish(fs, table, Nil, None,
      Seq("a.parquet", "b.parquet", "c.parquet"), preferDelta = true)
    val mf = new java.io.File(new Path(Manifest.dir(table),
      f"v${3L}%020d.manifest").toUri.getPath)
    val content = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    assert(content.contains("base=2"))
    // storage rot flips a digit in the base pointer: v3 would resolve
    // through v1's chain — a checksum-valid but WRONG file set unless the
    // checksum covers the base line itself
    java.nio.file.Files.write(mf.toPath,
      content.replace("base=2", "base=1").getBytes("UTF-8"))
    new java.io.File(mf.getParent).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val e = intercept[java.io.IOException] { Manifest.read(fs, table, 3L) }
    assert(e.getMessage.contains("checksum mismatch"))
  }

  test("a v2 delta from an earlier release still reads (checksum over added lines only)") {
    val (fs, table) = freshTable()
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet"))
    // hand-write the delta exactly as the pre-v3 release did: v2 header,
    // checksum over the added file lines only, base= line uncovered
    val added = Seq("b.parquet")
    val crc = new java.util.zip.CRC32()
    crc.update(added.mkString("\n").getBytes("UTF-8"))
    val body = (Seq("graft-manifest-v2", "partitions=", "lastBatchId=7",
      "base=1", s"checksum=${java.lang.Long.toHexString(crc.getValue)}") ++ added)
      .mkString("\n")
    val mf = new java.io.File(new Path(Manifest.dir(table),
      f"v${2L}%020d.manifest").toUri.getPath)
    java.nio.file.Files.write(mf.toPath, body.getBytes("UTF-8"))
    val s = Manifest.read(fs, table, 2L)
    assert(s.files == Seq("a.parquet", "b.parquet"))
    assert(s.base.contains(1L) && s.lastBatchId.contains(7L))
  }

  test("a v2 delta with the interim base-covered checksum also reads") {
    // one release wrote base-covered checksums under the v2 header before
    // the v3 bump existed; both v2 populations must stay readable
    val (fs, table) = freshTable()
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet"))
    val added = Seq("b.parquet")
    val crc = new java.util.zip.CRC32()
    crc.update(("base=1" +: added).mkString("\n").getBytes("UTF-8"))
    val body = (Seq("graft-manifest-v2", "partitions=", "lastBatchId=-",
      "base=1", s"checksum=${java.lang.Long.toHexString(crc.getValue)}") ++ added)
      .mkString("\n")
    val mf = new java.io.File(new Path(Manifest.dir(table),
      f"v${2L}%020d.manifest").toUri.getPath)
    java.nio.file.Files.write(mf.toPath, body.getBytes("UTF-8"))
    assert(Manifest.read(fs, table, 2L).files == Seq("a.parquet", "b.parquet"))
    // and a v2 body matching NEITHER scope still fails loudly
    java.nio.file.Files.write(mf.toPath,
      body.replace("checksum=", "checksum=f").getBytes("UTF-8"))
    val e = intercept[java.io.IOException] { Manifest.read(fs, table, 2L) }
    assert(e.getMessage.contains("checksum mismatch"))
  }

  test("a fresh orphan lock blocks publish; a stale one is broken") {
    val (fs, table) = freshTable()
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet"))
    val lock = new Path(Manifest.dir(table), f"v${2L}%020d.lock")
    fs.create(lock, true).close()
    // lock looks live (mtime = now): the publisher must assume a concurrent
    // writer holds it and throw rather than risk a double commit
    val e = intercept[java.io.IOException] {
      Manifest.publish(fs, table, Nil, None, Seq("b.parquet"))
    }
    assert(e.getMessage.contains("lost a race"))
    // backdate it past the staleness window: a crashed writer's leftover —
    // the next publisher breaks it and commits
    fs.setTimes(lock, System.currentTimeMillis() - Manifest.LockStaleMs - 1000L, -1L)
    val s = Manifest.publish(fs, table, Nil, None, Seq("b.parquet"))
    assert(s.version == 2L)
    assert(!fs.exists(lock))
    assert(Manifest.versions(fs, table) == Seq(1L, 2L))
  }

  test("a lock released between the failed acquire and the stat is a " +
      "retryable race, not a raw FileNotFoundException") {
    // the holder can publish-and-release (or abort) in the sliver between
    // our failed create-if-absent and the staleness stat; the loser must
    // see the retryable PublishRaceException (commitAppend's retry loop
    // only catches that) rather than an FNF that aborts the commit. The
    // wrapper deterministically collapses the window: the first stat of a
    // lock file deletes it and reports it gone.
    val (fs, table) = freshTable()
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet"))
    val lock = new Path(Manifest.dir(table), f"v${2L}%020d.lock")
    fs.create(lock, true).close()
    val racing = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus =
        if (p.getName.endsWith(".lock")) {
          fs.delete(p, false)
          throw new java.io.FileNotFoundException(p.toString)
        } else super.getFileStatus(p)
    }
    val e = intercept[Manifest.PublishRaceException] {
      Manifest.publish(racing, table, Nil, None, Seq("b.parquet"))
    }
    assert(e.getMessage.contains("released mid-check"), e.getMessage)
    // and the standard retry-after-race path then commits cleanly
    val s = Manifest.publish(fs, table, Nil, None, Seq("b.parquet"))
    assert(s.version == 2L)
    assert(Manifest.versions(fs, table) == Seq(1L, 2L))
  }

  test("layouts: sizes and schema round-trip through deltas and checkpoints") {
    val (fs, table) = freshTable()
    val schema = """{"type":"struct","fields":[]}"""
    def layout(sizes: Long*) = Some(Manifest.Layout(sizes, schema))
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet"), layout = layout(10L))
    Manifest.publish(fs, table, Nil, Some(1L), Seq("a.parquet", "b b.parquet"),
      preferDelta = true, layout = layout(10L, 20L))
    assert(rawLines(fs, table, 1L).head == "graft-manifest-v4")
    assert(rawLines(fs, table, 2L).head == "graft-manifest-v5")
    val v2 = Manifest.read(fs, table, 2L)
    assert(v2.files == Seq("a.parquet", "b b.parquet") && v2.base.contains(1L))
    assert(v2.layout == layout(10L, 20L))
    // a folded delta keeps its resolved layout
    Manifest.checkpoint(fs, table, 2L)
    assert(rawLines(fs, table, 2L).head == "graft-manifest-v4")
    assert(Manifest.read(fs, table, 2L).layout == layout(10L, 20L))
    // a commit without a layout (a type conflict the writer could not
    // merge) keeps the delta form; its resolved snapshot has no layout,
    // and a layout commit on top of it is written full
    Manifest.publish(fs, table, Nil, None, Seq("a.parquet", "b b.parquet", "c.parquet"),
      preferDelta = true)
    assert(rawLines(fs, table, 3L).head == "graft-manifest-v3")
    assert(Manifest.read(fs, table, 3L).layout.isEmpty)
    val v4 = Manifest.publish(fs, table, Nil, None,
      Seq("a.parquet", "b b.parquet", "c.parquet", "d.parquet"),
      preferDelta = true, layout = layout(10L, 20L, 30L, 40L))
    assert(v4.base.isEmpty && rawLines(fs, table, 4L).head == "graft-manifest-v4")
    assert(Manifest.read(fs, table, 4L).layout == layout(10L, 20L, 30L, 40L))
    // the checksum covers the recorded sizes
    val mf = new java.io.File(new Path(Manifest.dir(table),
      f"v${4L}%020d.manifest").toUri.getPath)
    val content = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath,
      content.replace("40\td.parquet", "41\td.parquet").getBytes("UTF-8"))
    new java.io.File(mf.getParent).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val e = intercept[java.io.IOException] { Manifest.read(fs, table, 4L) }
    assert(e.getMessage.contains("checksum mismatch"))
  }
}
