package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Atomic snapshot manifests — the commit protocol behind
  * [[Catalog.commitAppend]] / [[Catalog.commitOverwrite]].
  *
  * A manifest-committed table keeps its data files in the normal (optionally
  * Hive-partitioned) layout under the table root, plus a `_manifests/`
  * directory of versioned snapshot files. Each snapshot lists EXACTLY the
  * data files that make up the table at that version (paths relative to the
  * table root), the partition columns, and the last committed streaming
  * batch id. The single-file rename that publishes `vNNN.manifest` is the
  * commit point:
  *
  *  - a reader resolves the latest committed snapshot and reads only its
  *    files — data staged or moved by an in-flight (or crashed) append is
  *    invisible until its manifest lands, so a torn append can never expose
  *    partial rows;
  *  - an overwrite (schema migration, [[Catalog.save]]) publishes a snapshot
  *    listing only the new files — readers switch atomically from the old
  *    file set to the new with no window where the table is missing
  *    (the delete+rename swap this replaces had one);
  *  - a replayed streaming batch (`batchId <= lastBatchId`) is skipped
  *    before any data is written, making append-path ingest exactly-once
  *    WITHOUT per-table `__batch_id` partitions and anti-join probes.
  *
  * The reference relies on idempotent re-runs for its retry semantics
  * (`dag/financial_monitoring_dag.py:45-50` retries,
  * `scripts/transform_script:17-24` WRITE_TRUNCATE); a torn append violates
  * that. This is the append-path equivalent: every commit is all-or-nothing.
  *
  * Scale notes. The snapshot doubles as the file listing: it records each
  * data file's size and the table's merged data schema at commit time
  * ([[Layout]]), so a read plans from the manifest alone — no recursive
  * directory listing over ~10^5 objects (the object-store listing is
  * usually the slowest part of query planning at that size), no status
  * call per file, no footer-merge job. Snapshots written before these
  * records existed carry no layout and plan through Spark's inference
  * (listing plus footer merge) until a commit re-records them. Each full
  * snapshot rewrites the full list —
  * O(files) metadata per commit, the same trade the table-format systems
  * make; compact data files (or the manifest itself) when file count, not
  * data size, dominates. Concurrent publishers of the same version are
  * serialized by an atomic create-if-absent `.lock` marker (see
  * [[publish]]): exactly one wins, the loser reliably throws, and a lock
  * orphaned by a crashed writer is broken after [[LockStaleMs]]. The
  * intended deployment model is still one LIVE writer per table (the
  * streaming model used throughout) — the lock turns a violated assumption
  * into a loud error instead of a silent lost commit; on object stores,
  * back the exclusive create with a conditional put.
  *
  * Append commits write DELTA snapshots: the manifest file lists only the
  * batch's added files plus a `base=` pointer to the prior version, so a
  * streaming micro-batch pays O(batch files) metadata instead of
  * rewriting the full table listing — at 100 TB / 10^5-10^6 files that
  * full rewrite per minute-cadence commit is the dominating metadata
  * cost. Readers resolve the chain (base file set ++ added files); every
  * [[CheckpointEvery]]-th commit folds the chain back into a full
  * snapshot so resolution stays O(1) small-file reads. Overwrites are
  * always full (their content does not derive from the prior files), and
  * [[Catalog.vacuum]] re-checkpoints any retained delta whose base falls
  * out of the retention window before reclaiming old manifests.
  */
private[graft] object Manifest {

  /** A publish lost a concurrency race — the same-version lock/manifest
    * check or the `expectedVersion` CAS. Retryable: re-read the latest
    * snapshot, re-derive the file list, publish again (what
    * [[Catalog.commitAppend]] does with bounded retries; an overwrite
    * whose CONTENT derives from the superseded snapshot must recompute
    * instead, so [[Catalog.compact]] deliberately does not retry). */
  final class PublishRaceException(msg: String)
    extends java.io.IOException(msg)

  /** What a reader needs besides the file list to plan a scan without
    * touching storage: each data file's byte size (aligned with the
    * snapshot's `files`) and the Spark JSON of the table's merged DATA
    * schema (partition columns excluded — they parse from the paths). */
  final case class Layout(sizes: Seq[Long], dataSchema: String)

  /** One committed table version. `files` is always the FULLY RESOLVED
    * file set (delta chains are resolved at read time); `base`/`depth`
    * record how the snapshot is stored — `depth` hops of delta manifests
    * above the nearest full snapshot. `layout` is None for snapshots
    * written without one (earlier releases), and for a delta whose chain
    * holds such a snapshot. */
  final case class Snapshot(version: Long, partitions: Seq[String],
      lastBatchId: Option[Long], files: Seq[String],
      base: Option[Long] = None, depth: Int = 0,
      layout: Option[Layout] = None)

  /** Marker directory; underscore-prefixed so Spark's own directory
    * listings ignore it. Its presence is what makes a table
    * manifest-committed. */
  val DirName = "_manifests"
  private val Header = "graft-manifest-v1"
  /** Delta header written before the checksum covered the `base=` line —
    * still READ (its checksum verifies over the added lines only) so
    * tables committed by earlier releases stay readable; never written. */
  private val DeltaHeaderV2 = "graft-manifest-v2"
  /** Delta header without a layout: the checksum covers `base=` + added
    * lines. */
  private val DeltaHeader = "graft-manifest-v3"
  /** Full and delta headers of snapshots that carry a [[Layout]]: a
    * `schema=` line follows the preamble, each file line is
    * `<size>\t<path>`, and the checksum covers `base=` (delta), `schema=`
    * and the file lines. */
  private val LayoutHeader = "graft-manifest-v4"
  private val LayoutDeltaHeader = "graft-manifest-v5"

  /** A delta chain is folded into a full snapshot once it reaches this
    * depth, bounding read-side resolution to at most this many small
    * manifest reads while keeping the common append commit O(batch). */
  private[core] val CheckpointEvery = 16

  def dir(table: Path): Path = new Path(table, DirName)

  private def fileName(version: Long) = f"v$version%020d.manifest"

  /** The single authority for the `v<digits>.manifest` naming convention:
    * the parsed version, or None for any other file (locks, `.tmp-*`
    * in-flight writes, foreign droppings). Both [[versions]] and the
    * Catalog's vacuum sweep route through this, so a malformed name is
    * consistently IGNORED everywhere rather than tolerated by one reader
    * and crashing another. */
  def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest")) {
      val digits = name.stripPrefix("v").stripSuffix(".manifest")
      // canonical names are zero-padded to 20 digits; leading zeros are
      // fine for toLong, and a digit string too large for Long is foreign
      if (digits.nonEmpty && digits.forall(_.isDigit))
        scala.util.Try(digits.toLong).toOption
      else None
    } else None

  /** All committed snapshot versions, ascending. In-flight `.tmp-*` files
    * are not commits and are ignored. A version is also visible through
    * its `.ckpt` sidecar alone — on non-atomic stores [[checkpoint]]
    * publishes the sidecar before replacing the manifest, so a version
    * mid-replace (or whose replace crashed) never vanishes from listings
    * (a concurrent vacuum that missed it would mis-classify its unique
    * files as orphans). */
  def versions(fs: FileSystem, table: Path): Seq[Long] = {
    val d = dir(table)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).map(_.getPath.getName)
      .flatMap(n => parseVersion(n.stripSuffix(".ckpt")))
      .distinct.sorted.toSeq
  }

  /** Latest committed snapshot, if any. */
  def latest(fs: FileSystem, table: Path): Option[Snapshot] =
    versions(fs, table).lastOption.map(read(fs, table, _))

  private def crc(files: Seq[String]): String = {
    val c = new java.util.zip.CRC32()
    c.update(files.mkString("\n").getBytes("UTF-8"))
    java.lang.Long.toHexString(c.getValue)
  }

  /** Adoption sidecar `<table>/.adopted-files`: the pre-manifest directory
    * table's file list, captured ATOMICALLY (tmp + rename in the table
    * root) before the first manifest-mode commit creates the marker or
    * stages anything. It is the durable answer to "which files were table
    * content before manifest mode?" — a question that cannot be re-derived
    * later, because a crashed first commit's staged part files are
    * indistinguishable from pre-manifest ones by listing. While the marker
    * exists with no committed snapshot, [[Catalog.load]]/[[Catalog.exists]]
    * fall back to this list; once a snapshot publishes (folding the list
    * in, or an overwrite deliberately superseding it) the sidecar is inert
    * and dropped best-effort. Dot-prefixed: invisible to Spark directory
    * listings and to the Catalog's data-file walk. */
  private val AdoptionName = ".adopted-files"
  private val AdoptionHeader = "graft-adoption-v1"

  def adoptionPath(table: Path): Path = new Path(table, AdoptionName)

  /** The captured pre-manifest file list, or None if never captured.
    * A sidecar that fails its checksum is corrupt storage — loud, the
    * same contract manifest reads pin. */
  def readAdoption(fs: FileSystem, table: Path): Option[Seq[String]] = {
    val p = adoptionPath(table)
    val text =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } catch { case _: java.io.FileNotFoundException => return None }
    val lines = text.split("\n", -1).toIndexedSeq
    require(lines.size >= 2 && lines(0) == AdoptionHeader &&
      lines(1) == s"checksum=${crc(lines.drop(2))}",
      s"corrupt adoption sidecar $p")
    Some(lines.drop(2))
  }

  private def writeAdoption(fs: FileSystem, table: Path, files: Seq[String]): Unit = {
    val tmp = new Path(table, s".tmp-adopt-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write((AdoptionHeader +: s"checksum=${crc(files)}" +: files)
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(adoptionPath(table), false)
    if (!fs.rename(tmp, adoptionPath(table))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"failed to place adoption sidecar for $table")
    }
  }

  /** The marker-creation side of entering manifest mode, serialized by an
    * exclusive `.adopt-lock` in the table root (same create-if-absent +
    * stale-break protocol as the publish lock). Inside the lock, marker
    * absence PROVES nothing is staged — staging happens only after the
    * marker, and the marker is only ever created here — so the fresh
    * listing is authoritative; any sidecar left by a crashed pre-marker
    * attempt is refreshed rather than trusted (it goes stale the moment a
    * plain directory append lands after the crash). Once the marker
    * exists the sidecar is immutable until [[dropAdoption]] and everyone
    * reads it. Returns the durable adoption list. */
  def adoptionTransition(fs: FileSystem, table: Path, list: => Seq[String]): Seq[String] = {
    // fast path: the transition already happened — its creator wrote the
    // sidecar (or had no content to record) before creating the marker
    if (fs.exists(dir(table))) return readAdoption(fs, table).getOrElse(Nil)
    val lock = new Path(table, AdoptLockName)
    var spins = 0
    while (!tryExclusiveCreate(fs, lock)) {
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
        catch { case _: java.io.FileNotFoundException => -1L } // released — retry
      if (age >= LockStaleMs) fs.delete(lock, false) // crashed holder
      else {
        // the live holder's critical section is a listing + one small
        // write + mkdirs — wait briefly rather than failing a first
        // commit that merely raced another
        spins += 1
        require(spins <= 200, s"adoption lock for $table held too long")
        Thread.sleep(50L)
      }
    }
    try {
      if (fs.exists(dir(table))) readAdoption(fs, table).getOrElse(Nil)
      else {
        val files = list
        if (files.nonEmpty) writeAdoption(fs, table, files)
        else fs.delete(adoptionPath(table), false) // stale pre-crash capture
        fs.mkdirs(dir(table))
        files
      }
    } finally fs.delete(lock, false)
  }

  private val AdoptLockName = ".adopt-lock"

  /** Best-effort removal once a committed snapshot supersedes the sidecar
    * (readers re-check the snapshot listing before trusting its absence). */
  def dropAdoption(fs: FileSystem, table: Path): Unit =
    try fs.delete(adoptionPath(table), false)
    catch { case _: java.io.IOException => () }

  def read(fs: FileSystem, table: Path, version: Long): Snapshot =
    read(fs, table, version, retried = false)

  private def read(fs: FileSystem, table: Path, version: Long,
      retried: Boolean): Snapshot = {
    // On stores without an atomic replace, [[checkpoint]]'s delete+rename
    // leaves a momentary window where the canonical manifest file does not
    // exist — but the `.ckpt` sidecar (published before the delete) does,
    // and carries the identical resolved content; fall back to it. The
    // short-backoff retry then covers the sliver between the two opens;
    // a version missing in BOTH forms after the retry is genuinely gone
    // and the error propagates.
    def openEither(): org.apache.hadoop.fs.FSDataInputStream =
      try fs.open(new Path(dir(table), fileName(version)))
      catch {
        case e: java.io.FileNotFoundException =>
          try fs.open(new Path(dir(table), fileName(version) + ".ckpt"))
          catch { case _: java.io.FileNotFoundException => throw e }
      }
    val in =
      try openEither()
      catch {
        case _: java.io.FileNotFoundException if !retried =>
          Thread.sleep(50)
          return read(fs, table, version, retried = true)
      }
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val header = lines.headOption.getOrElse("")
    val isDelta = header == DeltaHeader || header == DeltaHeaderV2 ||
      header == LayoutDeltaHeader
    val hasLayout = header == LayoutHeader || header == LayoutDeltaHeader
    require(isDelta || hasLayout || header == Header,
      s"unrecognized manifest header in $table v$version")
    val partitions = lines(1).stripPrefix("partitions=") match {
      case "" => Nil
      case s => s.split(",").toSeq
    }
    val lastBatch = lines(2).stripPrefix("lastBatchId=") match {
      case "-" => None
      case s => Some(s.toLong)
    }
    // preamble between lastBatchId= and checksum=: base= on a delta, then
    // schema= on a snapshot with a layout
    val baseLine = if (isDelta) Some(lines(3)) else None
    val schemaLine = if (hasLayout) Some(lines(3 + baseLine.size)) else None
    val checksumAt = 3 + baseLine.size + schemaLine.size
    val entries = lines.drop(checksumAt + 1)
    // the rename publish is atomic, but storage can still rot: a snapshot
    // whose file list no longer matches its checksum must fail the read,
    // not silently drop table content. The checksum covers the preamble
    // too — a flipped digit in a delta's base pointer would otherwise
    // resolve through the wrong (checksum-valid) chain and silently yield
    // an incorrect file set; the base chain's CONTENT is protected by its
    // own checksums. The v2 header spans TWO historical checksum scopes
    // (added lines only at first; one interim release covered base=
    // without bumping the header), so v2 accepts either form — both
    // populations of existing tables stay readable.
    val expected = lines(checksumAt).stripPrefix("checksum=")
    val canonical = baseLine.toSeq ++ schemaLine ++ entries
    val valid = crc(canonical) == expected ||
      (header == DeltaHeaderV2 && crc(entries) == expected)
    if (!valid)
      throw new java.io.IOException(
        s"corrupt manifest $table v$version: checksum mismatch " +
          s"(expected $expected, computed ${crc(canonical)})")
    val (files, own) = schemaLine match {
      case None => (entries, None)
      case Some(schema) =>
        val split = entries.map { e =>
          val tab = e.indexOf('\t')
          (e.substring(tab + 1), e.substring(0, tab).toLong)
        }
        (split.map(_._1), Some(Layout(split.map(_._2), schema.stripPrefix("schema="))))
    }
    if (isDelta) {
      val baseVersion = lines(3).stripPrefix("base=").toLong
      val baseSnap =
        try read(fs, table, baseVersion, retried = false)
        catch {
          // a concurrent vacuum may have folded THIS version into a full
          // manifest (its boundary checkpoint) and then reclaimed the base
          // between our two opens — re-read this version once; its
          // checkpointed form resolves without the base. A still-missing
          // base after the retry propagates as FileNotFound (and a deeper
          // chain's miss propagates up so each ancestor retries its own
          // possibly-checkpointed form once).
          case _: java.io.FileNotFoundException if !retried =>
            return read(fs, table, version, retried = true)
        }
      // sizes resolve only through a chain that recorded them throughout;
      // the schema is this commit's merged one
      val layout = for (b <- baseSnap.layout; o <- own)
        yield Layout(b.sizes ++ o.sizes, o.dataSchema)
      Snapshot(version, partitions, lastBatch, baseSnap.files ++ files,
        Some(baseVersion), baseSnap.depth + 1, layout)
    } else Snapshot(version, partitions, lastBatch, files, layout = own)
  }

  /** A lock older than this with no published manifest belongs to a writer
    * that died between acquire and publish; the next writer may break it.
    * Generous on purpose — a live writer holds the lock only for one small
    * file write + rename, never minutes. */
  private[graft] val LockStaleMs: Long = 10 * 60 * 1000L

  private def lockName(version: Long) = f"v$version%020d.lock"

  /** Atomic create-if-absent. Local paths go through NIO `createFile`
    * (O_CREAT|O_EXCL — truly atomic); other stores use the Hadoop
    * `createNewFile` contract (atomic on HDFS; object stores should back
    * this with a conditional put). */
  private def tryExclusiveCreate(fs: FileSystem, p: Path): Boolean =
    if (fs.getUri.getScheme == "file") {
      try { java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try fs.createNewFile(p)
      catch { case _: java.io.IOException => false }
    }

  /** Write the next snapshot aside and atomically publish it via a
    * single-file rename — the commit point. Returns the published snapshot.
    *
    * Multi-writer safety is two checks:
    *
    *  - the version's `.lock` marker is acquired with an atomic
    *    create-if-absent BEFORE the rename, so of two concurrent
    *    publishers targeting the same next version exactly one proceeds
    *    and the loser reliably throws (it either fails the lock acquire,
    *    or wins a recycled lock and finds the manifest already published);
    *  - `expectedVersion` makes a READ-MODIFY-WRITE commit optimistic-CAS:
    *    a publisher whose file list was derived from snapshot vE passes
    *    `expectedVersion = E` (0 for "no snapshot existed") and fails if
    *    the table advanced past vE meanwhile — without this, a slower
    *    appender that computes its version AFTER a faster one published
    *    would commit a file list missing the faster one's files, a SILENT
    *    lost update the same-version lock cannot see. Pass the default -1
    *    only for blind last-writer-wins overwrites, whose file list does
    *    not depend on the prior snapshot.
    *
    * A lock left by a crashed writer (no manifest behind it) is broken
    * after [[LockStaleMs]]; a live writer holds it only for a single small
    * write + rename.
    *
    * With `preferDelta = true` (the append path), when `files` extends the
    * prior snapshot's file set (prefix-equal) and the chain is shallower
    * than [[CheckpointEvery]], the manifest stores only the added suffix
    * plus a base pointer — O(batch files) metadata per commit; otherwise a
    * full snapshot is written (first commit, overwrites, or the periodic
    * checkpoint). The returned [[Snapshot]] always carries the fully
    * resolved file set either way.
    *
    * `layout` (sizes aligned with `files`) is recorded when given; a
    * delta carrying one needs a prior that carries one too, else the
    * snapshot is written full. */
  def publish(fs: FileSystem, table: Path, partitions: Seq[String],
      lastBatchId: Option[Long], files: Seq[String],
      expectedVersion: Long = -1L, preferDelta: Boolean = false,
      layout: Option[Layout] = None): Snapshot = {
    require(layout.forall(_.sizes.size == files.size),
      s"layout sizes do not align with the ${files.size} files of $table")
    val d = dir(table)
    fs.mkdirs(d)
    val prior = latest(fs, table)
    val version = prior.map(_.version + 1).getOrElse(1L)
    if (expectedVersion >= 0 && version != expectedVersion + 1)
      throw new PublishRaceException(
        s"manifest publish lost a race for $table: derived from v$expectedVersion " +
          s"but the table advanced to v${version - 1} — re-read and retry")
    // a delta is only safe when the new file set literally extends the
    // snapshot it chains to; anything else (reordered, removed, adopted
    // files) falls back to a full snapshot
    val delta = prior.filter { p =>
      preferDelta && p.depth + 1 < CheckpointEvery &&
        (layout.isEmpty || p.layout.nonEmpty) &&
        files.size >= p.files.size && files.take(p.files.size) == p.files
    }
    val dest = new Path(d, fileName(version))
    val lock = new Path(d, lockName(version))
    def lost(why: String) = throw new PublishRaceException(
      s"manifest publish lost a race for $dest ($why) — one writer per table")
    if (!tryExclusiveCreate(fs, lock)) {
      if (fs.exists(dest)) lost("version already published")
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
        catch {
          // the holder RELEASED the lock (published, or aborted) between
          // our failed create and this stat — the same outcome as losing
          // the lock race, and it must surface as the retryable
          // PublishRaceException, not a raw FileNotFoundException that
          // aborts commitAppend's bounded retry loop
          // ([[adoptionTransition]] guards its identical window the same
          // way)
          case _: java.io.FileNotFoundException =>
            lost("version lock released mid-check")
        }
      if (age < LockStaleMs) lost("another writer holds the version lock")
      // crashed writer: acquired the lock, died before the rename
      fs.delete(lock, false)
      if (!tryExclusiveCreate(fs, lock)) lost("version lock re-acquired while breaking stale lock")
    }
    try {
      // the lock serializes publishers of THIS version; a publisher that
      // computed the same version before we landed finds the manifest here
      if (fs.exists(dest)) lost("version already published")
      val tmp = new Path(d, s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try {
        val stored = delta.fold(0)(_.files.size)
        out.write(body(partitions, lastBatchId, delta.map(_.version),
          files.drop(stored), layout.map(l => l.copy(sizes = l.sizes.drop(stored))))
          .getBytes("UTF-8"))
      } finally out.close()
      if (!fs.rename(tmp, dest)) {
        fs.delete(tmp, false)
        lost("rename refused")
      }
    } finally fs.delete(lock, false)
    Snapshot(version, partitions, lastBatchId, files,
      delta.map(_.version), delta.map(_.depth + 1).getOrElse(0), layout)
  }

  /** Manifest file content: a delta body when `base` is set (`files` are
    * then the added ones), a full one otherwise; `layout.sizes` align
    * with `files`. */
  private def body(partitions: Seq[String], lastBatchId: Option[Long],
      base: Option[Long], files: Seq[String], layout: Option[Layout]): String = {
    val header = (base.isDefined, layout.isDefined) match {
      case (false, false) => Header
      case (true, false) => DeltaHeader
      case (false, true) => LayoutHeader
      case (true, true) => LayoutDeltaHeader
    }
    val preamble = base.map(b => s"base=$b").toSeq ++
      layout.map(l => s"schema=${l.dataSchema}")
    val entries = layout.fold(files)(l =>
      l.sizes.zip(files).map { case (n, f) => s"$n\t$f" })
    (Seq(header, s"partitions=${partitions.mkString(",")}",
      s"lastBatchId=${lastBatchId.map(_.toString).getOrElse("-")}") ++
      preamble ++ (s"checksum=${crc(preamble ++ entries)}" +: entries))
      .mkString("\n")
  }

  /** Rewrite snapshot `version` in place as a FULL manifest (same resolved
    * content, no base pointer) — [[Catalog.vacuum]]'s tool for cutting a
    * retained delta loose from a base that is about to be reclaimed. The
    * replace is a single atomic move on local paths (POSIX rename
    * semantics); the snapshot's resolved content is identical before and
    * after, so any concurrent reader sees one of two equivalent encodings. */
  def checkpoint(fs: FileSystem, table: Path, version: Long): Snapshot = {
    val snap = read(fs, table, version)
    if (snap.base.isEmpty) return snap
    val d = dir(table)
    val dest = new Path(d, fileName(version))
    val content = body(snap.partitions, snap.lastBatchId, None, snap.files,
      snap.layout).getBytes("UTF-8")
    val tmp = new Path(d, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content)
    finally out.close()
    if (fs.getUri.getScheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption => O}
      Files.move(Paths.get(tmp.toUri.getPath), Paths.get(dest.toUri.getPath),
        O.ATOMIC_MOVE, O.REPLACE_EXISTING)
      // Hadoop's local FS keeps a .crc sidecar computed at create time;
      // the atomic NIO move bypasses it, so drop the stale sidecar
      fs.delete(new Path(d, s".${fileName(version)}.crc"), false)
      fs.delete(new Path(d, s".${tmp.getName}.crc"), false)
    } else {
      // Non-local stores: HDFS rename won't overwrite, so the replace is
      // delete+rename — which alone would leave a window where this
      // RETAINED, committed version has no file at all. A reader's open
      // is covered by read()'s retry, but a concurrent LISTING
      // (versions()/latest(), another vacuum's entry scan) would silently
      // miss the version: stale latest() at best, a concurrent vacuum
      // mis-classifying the version's unique data files as orphans at
      // worst. So the full body is FIRST published to a `.ckpt` sidecar:
      // at every instant at least one of {manifest, sidecar} exists, and
      // versions()/read() consult both. A crash inside the window leaves
      // the sidecar as the durable copy — read() serves from it, and
      // vacuum repairs it back to the canonical name once it is stale.
      //
      // Two concurrent folds of the SAME version could still interleave so
      // one's trailing sidecar delete lands inside the other's replace
      // window (A renames, B re-creates the sidecar, A deletes it, B
      // deletes the manifest → nothing visible until B's rename) — so
      // folds serialize on an exclusive-create lock. The content is
      // identical either way; the lock only orders the file juggling.
      val lock = new Path(d, fileName(version) + ".ckptlock")
      val deadline = System.currentTimeMillis() + LockStaleMs
      while (!tryExclusiveCreate(fs, lock)) {
        val age =
          try System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
          catch { case _: java.io.FileNotFoundException => Long.MaxValue }
        if (age > LockStaleMs) fs.delete(lock, false)
        else if (System.currentTimeMillis() > deadline)
          throw new java.io.IOException(s"checkpoint lock busy for $dest")
        else Thread.sleep(100)
      }
      try {
        // the concurrent fold we waited for may have finished the job
        val cur = read(fs, table, version)
        if (cur.base.isEmpty) { fs.delete(tmp, false); return cur }
        val ckpt = new Path(d, fileName(version) + ".ckpt")
        val out2 = fs.create(ckpt, true)
        try out2.write(content)
        finally out2.close()
        fs.delete(dest, false)
        if (!fs.rename(tmp, dest))
          throw new java.io.IOException(s"checkpoint rename refused for $dest")
        fs.delete(ckpt, false)
      } finally fs.delete(lock, false)
    }
    snap.copy(base = None, depth = 0)
  }

  /** Maintenance for one `.ckpt` sidecar listing entry during a vacuum
    * sweep — kept here because Manifest owns the sidecar protocol
    * ([[checkpoint]] writes them, [[versions]]/[[read]] consult them).
    * An old-version sidecar is reclaimed with its version; for a retained
    * version, a STALE sidecar is either a crashed replace's durable copy
    * (canonical file missing — repaired back into place) or a leftover
    * from a completed replace (canonical exists — dropped). A fresh
    * sidecar may be a LIVE fold mid-replace and is left alone. Returns
    * files removed (0 or 1). */
  def sweepSidecar(fs: FileSystem, entry: FileStatus,
      oldestRetained: Long, stale: Boolean): Long = {
    val n = entry.getPath.getName
    parseVersion(n.stripSuffix(".ckpt")) match {
      case Some(v) if v < oldestRetained =>
        if (fs.delete(entry.getPath, false)) 1L else 0L
      case Some(_) if stale =>
        val main = new Path(entry.getPath.getParent, n.stripSuffix(".ckpt"))
        if (!fs.exists(main)) {
          // a refused repair must be LOUD unless a racing vacuum already
          // healed the table — silently leaving the version served from
          // its sidecar forever hides a store problem from the operator
          if (!fs.rename(entry.getPath, main) && !fs.exists(main))
            throw new java.io.IOException(
              s"sidecar repair rename refused for $main")
          0L
        } else if (fs.delete(entry.getPath, false)) 1L else 0L
      case _ => 0L
    }
  }
}
