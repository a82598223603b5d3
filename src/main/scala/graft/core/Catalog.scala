package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured table-resolution errors. The reference's seeded failure class is
  * a malformed double-dot reference `selfhealing..table`
  * (reference `scripts/transform_script:13`) which its healing loop repairs
  * with a regex patch (`utils/auto_healer.py:97-101`); our resolver raises a
  * typed error the self-healing runner can classify and fix.
  */
sealed abstract class CatalogError(msg: String) extends RuntimeException(msg)
final case class BadTableRef(ref: String)
    extends CatalogError(s"Malformed table reference: '$ref' (empty component)")
final case class TableNotFound(namespace: String, table: String)
    extends CatalogError(s"Table not found: $namespace.$table")

/** Lightweight namespace catalog: (namespace, table) -> parquet path.
  * Mirrors the reference's BigQuery datasets (`selfhealing`, `output`,
  * `financial_monitoring` — reference `setup.sh:100-101`,
  * `monitoring/setup.sh:20`) as directories of parquet tables.
  *
  * Retention: the reference declares `partition_expiration_days` per table
  * (`monitoring/setup_bigquery.sql:24,41,57,74`); we apply the equivalent
  * predicate at scan time via [[Retention]]. At 100 TB the physical layout is
  * one directory per table partitioned by the event-date column
  * (`.write.partitionBy(dateCol)`), so the retention predicate and every
  * detector's date filter prune partitions instead of scanning history.
  */
final class Catalog(val spark: SparkSession, root: String) {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.spark.sql.GraftSchemaBridge
  import org.apache.spark.sql.types.StructType

  /** Parse a `namespace.table` reference; raise [[BadTableRef]] on the
    * reference's seeded double-dot class. */
  def parseRef(ref: String): (String, String) = {
    val parts = ref.split("\\.", -1)
    if (parts.length != 2 || parts.exists(_.isEmpty)) throw BadTableRef(ref)
    (parts(0), parts(1))
  }

  def path(namespace: String, table: String): String =
    s"$root/$namespace/$table"

  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether the table commits through snapshot manifests ([[Manifest]]).
    * Tables become manifest-committed on their first [[commitAppend]] /
    * [[commitOverwrite]] (including the adoption of an existing
    * directory-layout table) and stay that way. */
  def isManifest(namespace: String, table: String): Boolean = {
    val p = new Path(path(namespace, table))
    fsOf(p).exists(Manifest.dir(p))
  }

  def exists(namespace: String, table: String): Boolean = {
    val p = new Path(path(namespace, table))
    val fs = fsOf(p)
    if (!fs.exists(p)) false
    // a manifest table with no committed snapshot is ABSENT — a first
    // commit that crashed before its manifest rename published nothing,
    // and readers must treat the staged droppings as if the crashed
    // attempt had never created the directory — UNLESS the adoption
    // sidecar says the directory held pre-manifest content: that content
    // stays visible through the transition window
    else if (fs.exists(Manifest.dir(p)))
      Manifest.latest(fs, p).exists(_.files.nonEmpty) ||
        Manifest.readAdoption(fs, p).exists(_.nonEmpty) ||
        // the sidecar is dropped only AFTER the first publish, so a reader
        // whose two probes straddled publish+drop finds the snapshot on a
        // re-check (same race close as load())
        Manifest.latest(fs, p).exists(_.files.nonEmpty)
    else true
  }

  /** Snapshot read: exactly the committed file set — staged/orphaned
    * files are invisible. basePath keeps Hive-style partition columns
    * parsing from the file paths, so partition pruning works exactly as on
    * a directory read. A snapshot with a recorded [[Manifest.Layout]]
    * plans from it alone; one without (written by an earlier release, or
    * the adoption window's sidecar list) has Spark list the files and
    * merge their footers. */
  private def readSnapshot(tableRoot: Path, snap: Manifest.Snapshot): DataFrame =
    snap.layout match {
      case Some(layout) => plannedRead(tableRoot, snap.files, layout)
      case None =>
        spark.read
          .option("mergeSchema", "true")
          .option("basePath", tableRoot.toString)
          .parquet(snap.files.map(f => new Path(tableRoot, f).toString): _*)
    }

  /** The inferring read above, planned from the snapshot instead of from
    * storage: file statuses built from the recorded sizes pre-fill the
    * file index's listing cache, and the recorded schema replaces the
    * footer merge — a load starts no Spark job and makes no filesystem
    * call per file (the index's basePath check is the one call left).
    * The relation is the one `spark.read` would build (same index type,
    * same partition parsing, nullable data schema), so plans, pruning and
    * size estimates are unchanged. */
  private def plannedRead(tableRoot: Path, files: Seq[String],
      layout: Manifest.Layout): DataFrame = {
    import org.apache.hadoop.fs.FileStatus
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val root = fsOf(tableRoot).makeQualified(tableRoot)
    val statuses = files.zip(layout.sizes).map { case (f, n) =>
      val p = new Path(root, f)
      p -> Array(new FileStatus(n, false, 0, 0L, 0L, p))
    }
    val byPath = statuses.toMap
    val listing = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> root.toString)
    val index = new InMemoryFileIndex(spark, statuses.map(_._1), options, None, listing)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      GraftSchemaBridge.asNullable(Catalog.schemaOf(layout)), None,
      new ParquetFileFormat(), options)(spark))
  }

  def load(namespace: String, table: String): DataFrame = {
    val p = new Path(path(namespace, table))
    val fs = fsOf(p)
    if (fs.exists(Manifest.dir(p))) {
      Manifest.latest(fs, p).filter(_.files.nonEmpty) match {
        case Some(snap) => readSnapshot(p, snap)
        case None =>
          // marker with no committed snapshot: a first manifest-mode
          // commit is in flight or crashed. The adoption sidecar
          // (captured before anything staged) preserves the pre-manifest
          // content through the window; its best-effort deletion happens
          // only AFTER the first snapshot publishes, so when it is absent
          // a re-check of the snapshot listing closes the race
          Manifest.readAdoption(fs, p).filter(_.nonEmpty) match {
            case Some(files) =>
              readSnapshot(p, Manifest.Snapshot(0L, Nil, None, files))
            case None =>
              Manifest.latest(fs, p).filter(_.files.nonEmpty)
                .map(readSnapshot(p, _))
                .getOrElse(throw TableNotFound(namespace, table))
          }
      }
    } else if (!fs.exists(p)) throw TableNotFound(namespace, table)
    else
      // mergeSchema unions schemas across appended files, so a column ADDED
      // by a later append (allowFieldAddition) is visible instead of the
      // reader picking one file's schema at random. Type conflicts across
      // files are a merge error by design — [[appendRelaxed]] migrates the
      // stored files before they can arise. Scale note: on this
      // directory-layout path merging reads every file footer (and lists
      // the tree); manifest tables record the merged schema and file sizes
      // at commit and plan without either, so a 100 TB deployment adopts
      // the table into manifest commits rather than dropping the merge.
      spark.read.option("mergeSchema", "true").parquet(path(namespace, table))
  }

  def load(ref: String): DataFrame = {
    val (ns, t) = parseRef(ref)
    load(ns, t)
  }

  def exists(ref: String): Boolean = {
    val (ns, t) = parseRef(ref)
    exists(ns, t)
  }

  /** All committed snapshot versions of a manifest table, ascending.
    * Empty for pre-manifest (directory-layout) tables. */
  def snapshotVersions(ref: String): Seq[Long] = {
    val (ns, t) = parseRef(ref)
    val p = new Path(path(ns, t))
    Manifest.versions(fsOf(p), p)
  }

  /** Time-travel read: the table exactly as snapshot `version` committed
    * it. Snapshots are immutable once published, so a long analysis can
    * pin a version while ingest continues — until [[vacuum]] reclaims
    * files the pinned snapshot references (the default grace window keeps
    * the previous snapshot alive; full reclaim with `retainLast = 1` is
    * for when no reader holds an older version). */
  def load(ref: String, version: Long): DataFrame = {
    val (ns, t) = parseRef(ref)
    val p = new Path(path(ns, t))
    val fs = fsOf(p)
    require(Manifest.versions(fs, p).contains(version),
      s"no snapshot v$version of $ref (have: ${Manifest.versions(fs, p).mkString(",")})")
    readSnapshot(p, Manifest.read(fs, p, version))
  }

  /** Overwrite write with schema evolution, mirroring the reference's
    * `allowFieldAddition`/`allowFieldRelaxation` + CREATE_IF_NEEDED
    * (`scripts/transform_script:17-24`). `mergeSchema` makes readers union
    * schemas across files; overwrite-with-new-schema covers relaxation.
    * On a manifest-committed table the overwrite publishes atomically
    * through [[commitOverwrite]]. */
  def save(df: DataFrame, ref: String, partitionBy: Seq[String] = Nil): Unit = {
    val (ns, t) = parseRef(ref)
    if (isManifest(ns, t)) { commitOverwrite(df, ref, partitionBy); return }
    val w = df.write.mode("overwrite").option("mergeSchema", "true")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path(ns, t))
  }

  /** Append-only ingest (streaming `foreachBatch` / incremental batch
    * loads). Parquet append is atomic per task file, so a failed batch
    * retry never corrupts committed data; partition by the event-date
    * column at scale so downstream date filters prune. On a
    * manifest-committed table the append publishes atomically through
    * [[commitAppend]] (all-or-nothing, not just per task file). */
  def append(df: DataFrame, ref: String, partitionBy: Seq[String] = Nil): Unit = {
    val (ns, t) = parseRef(ref)
    if (isManifest(ns, t)) { commitAppend(df, ref, partitionBy); return }
    // the same layout contract the manifest path gets from commitParts:
    // omitting partitionBy INHERITS the existing Hive layout (an append
    // can never silently flatten a partitioned directory into mixed-depth
    // files), and a contradicting explicit layout fails loudly
    val inherited = partitionColumnsOf(ns, t)
    val parts =
      if (partitionBy.isEmpty) inherited
      else {
        require(inherited.isEmpty || inherited == partitionBy,
          s"partition layout mismatch for $ns.$t: table is partitioned by " +
            s"(${inherited.mkString(",")}) but the append asked for " +
            s"(${partitionBy.mkString(",")})")
        partitionBy
      }
    val w = df.write.mode("append")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
      .parquet(path(ns, t))
  }

  /** The table's partition columns: from the committed snapshot on a
    * manifest table, else discovered from the Hive-style `col=value`
    * directory layout (outermost first). Empty for unpartitioned tables. */
  def partitionColumnsOf(namespace: String, table: String): Seq[String] = {
    val p = new Path(path(namespace, table))
    val fs = fsOf(p)
    val fromSnapshot =
      if (fs.exists(Manifest.dir(p))) Manifest.latest(fs, p).map(_.partitions)
      else None
    // marker-no-snapshot (the adoption window, or a crashed first commit)
    // falls THROUGH to directory discovery: answering Nil there would let
    // a recovery commit stage its batch unpartitioned beside the adopted
    // day=X/ files and publish a flattened mixed-depth snapshot — the
    // exact loss the append() layout guard exists to prevent
    fromSnapshot.getOrElse {
      if (!fs.exists(p)) Nil
      else {
        val cols = Seq.newBuilder[String]
        var dir = p
        var continue = true
        while (continue) {
          val kv = fs.listStatus(dir)
            .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
              !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
            .map(_.getPath)
          val names = kv.map(_.getName.takeWhile(_ != '=')).distinct
          if (names.length != 1) continue = false
          else { cols += names.head; dir = kv.head }
        }
        cols.result()
      }
    }
  }

  /** Stage `df` under a dot-prefixed directory (invisible to readers),
    * move the written data files into the table's canonical layout, and
    * return their table-relative paths. Files are visible to manifest
    * readers only once a snapshot referencing them publishes. */
  private def stageFiles(df: DataFrame, tableRoot: Path,
      partitionBy: Seq[String]): Seq[(String, Long)] = {
    val fs = fsOf(tableRoot)
    val stage = new Path(tableRoot, s".stage-${java.util.UUID.randomUUID()}")
    try {
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(stage.toString)
      listDataFiles(fs, stage).map { case staged @ (rel, _) =>
        val dest = new Path(tableRoot, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(new Path(stage, rel), dest))
          throw new java.io.IOException(s"failed to place staged file $rel")
        staged
      }
    } finally fs.delete(stage, true)
  }

  /** Partition columns for a commit: explicit wins, else the table's
    * existing layout is INHERITED — an append that omits `partitionBy` can
    * never silently flatten a partitioned table. An explicit layout that
    * contradicts the existing one fails loudly. */
  private def commitParts(partitionBy: Seq[String], prior: Option[Manifest.Snapshot],
      ns: String, t: String): Seq[String] = {
    val inherited = prior.map(_.partitions).getOrElse(partitionColumnsOf(ns, t))
    if (partitionBy.isEmpty) inherited
    else {
      require(inherited.isEmpty || inherited == partitionBy,
        s"partition layout mismatch for $ns.$t: table is partitioned by " +
          s"(${inherited.mkString(",")}) but the commit asked for " +
          s"(${partitionBy.mkString(",")})")
      partitionBy
    }
  }

  /** Atomic append: stage the batch's files, then publish a snapshot that
    * adds them — all-or-nothing (see [[Manifest]]). A first commit adopts
    * an existing directory-layout table by folding its current files into
    * the snapshot. With `batchId` set the commit is IDEMPOTENT: replaying
    * an already-committed micro-batch (ids must be monotone, the
    * Structured-Streaming `foreachBatch` contract) is skipped before any
    * data is written. Returns false iff skipped. */
  def commitAppend(df: DataFrame, ref: String, partitionBy: Seq[String] = Nil,
      batchId: Option[Long] = None): Boolean = {
    val (ns, t) = parseRef(ref)
    val tableRoot = new Path(path(ns, t))
    val fs = fsOf(tableRoot)
    var prior = Manifest.latest(fs, tableRoot)
    if (batchId.isDefined && prior.exists(_.lastBatchId.exists(batchId.get <= _)))
      return false
    val parts = commitParts(partitionBy, prior, ns, t)
    // adoption: fold a PRE-manifest table's current files into the snapshot.
    // The list is captured DURABLY (an atomic sidecar in the table root)
    // under the exclusive adoption lock, which also creates the marker —
    // see [[Manifest.adoptionTransition]]: a commit that crashes or loses
    // the first-publish race can never lose the list, a sidecar staled by
    // a crashed pre-marker attempt is refreshed (never trusted), and the
    // list is never re-derived once staging has begun, so files a crashed
    // manifest-mode commit moved but did not publish stay orphans
    // ([[vacuum]]), not table content.
    val dirAdopted =
      if (prior.nonEmpty || !fs.exists(tableRoot)) Nil
      else Manifest.adoptionTransition(fs, tableRoot,
        listDataFiles(fs, tableRoot).map(_._1))
    fs.mkdirs(Manifest.dir(tableRoot))
    val added = stageFiles(df, tableRoot, parts)
    lazy val adoptedLayout = inferLayout(tableRoot, dirAdopted, parts)
    // an empty batch publishes only when it must advance the batch-id
    // bookkeeping — never a redundant identical snapshot. The publish is
    // optimistic-CAS on the snapshot this file list was derived from: a
    // concurrent commit that advanced the table meanwhile makes THIS one
    // lose the race — an append's content does not depend on the prior
    // snapshot, so the loser serializes BEHIND the interleaved commit by
    // re-reading and republishing (bounded retries; the staged files are
    // already on disk and are simply re-listed on a new base).
    var attempt = 0
    while (true) {
      val all = prior.map(_.files).getOrElse(dirAdopted) ++ added.map(_._1)
      // an empty batch still publishes when it must advance the batch-id
      // bookkeeping OR when it is the table's FIRST commit adopting
      // directory content — leaving adoption to "the next non-empty
      // batch" would leave the table in the marker-no-snapshot transition
      // state (readable only through the sidecar) indefinitely
      if (!(all.nonEmpty &&
          (added.nonEmpty || batchId.isDefined ||
            (prior.isEmpty && dirAdopted.nonEmpty)))) return true
      // the layout the files this commit extends were recorded with; a
      // prior snapshot without one (an earlier release's) or adopted
      // directory files are inferred once, here, so later loads plan
      // from the snapshot
      val baseLayout = prior match {
        case Some(p) => p.layout.orElse(inferLayout(tableRoot, p.files, p.partitions))
        case None if dirAdopted.nonEmpty => adoptedLayout
        case None => Some(Catalog.EmptyLayout)
      }
      try {
        Manifest.publish(fs, tableRoot, parts,
          batchId.orElse(prior.flatMap(_.lastBatchId)), all,
          expectedVersion = prior.map(_.version).getOrElse(0L),
          // append commits extend the prior file set, so the manifest can
          // be a delta: O(batch files) metadata instead of rewriting the
          // full table listing every micro-batch (see Manifest scale notes)
          preferDelta = true,
          layout = layoutAfter(baseLayout, df, parts, added))
        // the committed snapshot now carries the adopted files; the
        // sidecar is inert (readers re-check the snapshot before
        // trusting its absence)
        if (dirAdopted.nonEmpty) Manifest.dropAdoption(fs, tableRoot)
        return true
      } catch {
        case e: Manifest.PublishRaceException =>
          attempt += 1
          if (attempt > MaxPublishRetries) throw e
          Thread.sleep(20L * attempt)
          prior = Manifest.latest(fs, tableRoot)
          // the interleaved commit may have carried this very batch id
          if (batchId.isDefined &&
              prior.exists(_.lastBatchId.exists(batchId.get <= _))) return false
          // and must not have changed the partition layout our staged
          // files were written under
          val newParts = commitParts(partitionBy, prior, ns, t)
          if (newParts != parts) throw new IllegalStateException(
            s"concurrent commit changed $ref partition layout from " +
              s"(${parts.mkString(",")}) to (${newParts.mkString(",")}) " +
              "while this append was staged", e)
      }
    }
    sys.error("unreachable")
  }

  /** Bounded publish retries for [[commitAppend]]'s optimistic CAS — a
    * loser re-reads and serializes behind the interleaved commit; past
    * this many attempts the contention is a misconfiguration (many live
    * writers on one table) and the race surfaces loudly. Lock contention
    * and CAS losses both consume attempts, so the bound is generous
    * relative to the intended writer count (one, occasionally two). */
  private val MaxPublishRetries = 8

  /** Atomic overwrite: stage the replacement files, then publish a snapshot
    * listing ONLY them. Readers switch file sets atomically — there is no
    * window where the table is missing or mixed, unlike a delete+rename
    * directory swap. Superseded files stay on disk until [[vacuum]].
    *
    * A plain overwrite is blind last-writer-wins (WRITE_TRUNCATE
    * semantics — the new content does not depend on the old, so ordering
    * against concurrent commits is immaterial). A caller whose
    * replacement content DERIVES from a snapshot it read ([[compact]],
    * the [[appendRelaxed]] migration) passes that snapshot's version as
    * `expectedVersion`: the publish then fails if the table advanced
    * meanwhile, instead of silently erasing the interleaved commit. */
  def commitOverwrite(df: DataFrame, ref: String, partitionBy: Seq[String] = Nil,
      expectedVersion: Long = -1L): Unit = {
    val (ns, t) = parseRef(ref)
    val tableRoot = new Path(path(ns, t))
    val fs = fsOf(tableRoot)
    val prior = Manifest.latest(fs, tableRoot)
    val parts = commitParts(partitionBy, prior, ns, t)
    // a pre-manifest table's content must survive a crash of THIS
    // overwrite: the sidecar keeps readers resolving the directory
    // content through the marker-no-snapshot window; the publish below
    // then deliberately supersedes it (overwrite semantics)
    if (prior.isEmpty && fs.exists(tableRoot))
      Manifest.adoptionTransition(fs, tableRoot, listDataFiles(fs, tableRoot).map(_._1))
    fs.mkdirs(Manifest.dir(tableRoot))
    val added = stageFiles(df, tableRoot, parts)
    require(added.nonEmpty, s"refusing to overwrite $ref with an empty file set")
    Manifest.publish(fs, tableRoot, parts, prior.flatMap(_.lastBatchId),
      added.map(_._1), expectedVersion,
      layout = layoutAfter(Some(Catalog.EmptyLayout), df, parts, added))
    Manifest.dropAdoption(fs, tableRoot)
  }

  /** Delete data files no retained snapshot references (crashed-append
    * orphans, superseded pre-overwrite/pre-compaction file sets) plus the
    * manifests older than the retained window. The default `retainLast = 2`
    * is a grace-of-one: an in-flight reader pinned to the snapshot the
    * latest commit superseded (the common compact-then-vacuum shape) keeps
    * resolving its files through the vacuum. Pass `retainLast = 1` for a
    * full reclaim ONCE no reader holds an older snapshot — same contract
    * as [[saveBucketed]]'s version retirement.
    *
    * Files referenced by NO snapshot at all are ambiguous: a crashed
    * append's leftovers, or an IN-FLIGHT append that has staged its files
    * but not yet published. `orphanGraceMs` disambiguates by age — a live
    * append stages and publishes within seconds, so never-committed files
    * younger than the grace are left alone (maintenance running beside a
    * live writer must not eat its commit) and a crashed attempt's files
    * fall due once the grace passes. Pass 0 to reclaim them immediately
    * when provably no writer is active. Returns files removed. */
  def vacuum(ref: String, retainLast: Int = 2,
      orphanGraceMs: Long = Manifest.LockStaleMs): Long = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val (ns, t) = parseRef(ref)
    val tableRoot = new Path(path(ns, t))
    val fs = fsOf(tableRoot)
    val versions = Manifest.versions(fs, tableRoot)
    if (versions.isEmpty) {
      // an existing directory-layout table simply has nothing to vacuum —
      // no manifest means no orphan tracking; raising TableNotFound here
      // would abort a maintenance sweep over the whole catalog and tell
      // the operator a live table is gone
      if (fs.exists(tableRoot)) return 0L
      throw TableNotFound(ns, t)
    }
    val retained = versions.takeRight(retainLast)
    // one resolving read per version feeds the live set, the referenced
    // set, and the fold check below (each read walks its delta chain of
    // small-file opens — on an object store, reading the same snapshots
    // three times tripled the metadata GETs per vacuum). A NON-retained
    // version may vanish mid-scan when a concurrent vacuum reclaims it
    // (its guard only deletes versions older than its own retention
    // window) — skip it: its files are either referenced by newer
    // snapshots or age into orphans, which is the outcome the other
    // vacuum was driving at anyway. A RETAINED version stays load-bearing
    // (the `live` set must be complete), so those reads fail loudly.
    val snaps: Map[Long, Manifest.Snapshot] = versions.flatMap { v =>
      try Some(v -> Manifest.read(fs, tableRoot, v))
      catch {
        case _: java.io.FileNotFoundException if !retained.contains(v) => None
      }
    }.toMap
    val live = retained.flatMap(v => snaps(v).files).toSet
    // committed-then-superseded files (referenced by SOME snapshot) are
    // governed by the retention window alone; never-referenced files get
    // the orphan age grace
    val referenced = snaps.valuesIterator.flatMap(_.files).toSet
    // a retained DELTA snapshot resolves through its base chain; any chain
    // link older than the retention window is about to be reclaimed, so
    // fold such snapshots into full manifests first (atomic in-place
    // rewrite, identical resolved content)
    val retainedSet = retained.toSet
    retained.foreach { v =>
      if (snaps(v).base.exists(b => !retainedSet.contains(b)))
        Manifest.checkpoint(fs, tableRoot, v)
    }
    var removed = 0L
    val now = System.currentTimeMillis()
    listDataFiles(fs, tableRoot).map(_._1).filterNot(live.contains).foreach { rel =>
      val p = new Path(tableRoot, rel)
      // a concurrent maintenance pass may reclaim the file between our
      // listing and the status call — that file is already gone, which is
      // this sweep's goal; skip it rather than aborting the whole vacuum
      try {
        if (referenced.contains(rel) ||
            now - fs.getFileStatus(p).getModificationTime > orphanGraceMs) {
          if (fs.delete(p, false)) removed += 1
        }
      } catch { case _: java.io.FileNotFoundException => () }
    }
    // Manifest sweep: only versions STRICTLY OLDER than the oldest retained
    // one are reclaimable. `not in retained` would also match a version a
    // concurrent commitAppend published AFTER our entry listing — deleting
    // that is a silently lost commit (its data files then age into orphans).
    // Any version published after the listing is > retained.last, so the
    // strict lower bound can never touch it. In-flight `.tmp-` files carry
    // no version; age-gate them like stale locks (a live publish holds a
    // tmp file only for one small write + rename, never minutes).
    val oldestRetained = retained.head
    fs.listStatus(Manifest.dir(tableRoot)).foreach { s =>
      val n = s.getPath.getName
      // a lock this old belongs to a writer that died between acquire and
      // publish; publishers break such locks on contact, and maintenance
      // sweeps them too so an idle table does not keep one forever
      val stale =
        System.currentTimeMillis() - s.getModificationTime > Manifest.LockStaleMs
      val manifestVersion = Manifest.parseVersion(n)
      if ((n.endsWith(".lock") && stale) ||
          manifestVersion.exists(_ < oldestRetained) ||
          (n.startsWith(".tmp-") && stale)) {
        if (fs.delete(s.getPath, false)) removed += 1
      } else if (n.endsWith(".manifest.ckpt")) {
        // checkpoint sidecar (non-atomic-store replace protection) —
        // reclaim/repair/drop semantics live with the protocol's owner
        removed += Manifest.sweepSidecar(fs, s, oldestRetained, stale)
      }
    }
    removed
  }

  /** Rewrite the committed file set into few large files and publish
    * atomically — the small-file compaction a streaming-ingested manifest
    * table needs: every micro-batch commit adds a file set, and at 100 TB
    * the planning and open() overhead of 10^6 tiny files dominates long
    * before data volume does. Unpartitioned tables compact to
    * ~`ceil(bytes / targetFileBytes)` files; partitioned tables
    * repartition on their partition columns (≈ one file per partition
    * directory). Readers are never disturbed (snapshot swap), and a
    * pinned older version stays readable until [[vacuum]]. Returns the
    * data-file count after compaction. */
  def compact(ref: String, targetFileBytes: Long = 128L << 20): Int = {
    import org.apache.spark.sql.functions.col
    val (ns, t) = parseRef(ref)
    val tableRoot = new Path(path(ns, t))
    val fs = fsOf(tableRoot)
    val snap = Manifest.latest(fs, tableRoot).getOrElse(throw TableNotFound(ns, t))
    val df = readSnapshot(tableRoot, snap)
    val compacted =
      if (snap.partitions.nonEmpty) df.repartition(snap.partitions.map(col): _*)
      else {
        val bytes = snap.layout.fold(fileSizes(fs, tableRoot, snap.files))(_.sizes).sum
        df.repartition(math.max(1, (bytes.toDouble / targetFileBytes).ceil.toInt))
      }
    // CAS on the snapshot being rewritten: a micro-batch that lands while
    // the compaction rewrites would otherwise be erased by the overwrite
    commitOverwrite(compacted, ref, snap.partitions, expectedVersion = snap.version)
    Manifest.latest(fs, tableRoot).map(_.files.size).getOrElse(0)
  }

  /** All committed-layout parquet files under the table root, as
    * (relative path, byte size), skipping staging/metadata directories. */
  private def listDataFiles(fs: FileSystem, tableRoot: Path): Seq[(String, Long)] = {
    val out = Seq.newBuilder[(String, Long)]
    def walk(dir: Path, rel: String): Unit =
      fs.listStatus(dir).foreach { s =>
        val name = s.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) ()
        else if (s.isDirectory) walk(s.getPath, s"$rel$name/")
        else if (name.endsWith(".parquet")) out += (s"$rel$name" -> s.getLen)
      }
    if (fs.exists(tableRoot)) walk(tableRoot, "")
    out.result()
  }

  /** Byte sizes of `files` (aligned), with ONE listStatus per parent
    * directory, not one getFileStatus RPC per file: the inputs here are
    * snapshots without a recorded layout, up to 10^5+ tiny micro-batch
    * files, where per-file metadata calls would cost minutes. */
  private def fileSizes(fs: FileSystem, tableRoot: Path, files: Seq[String]): Seq[Long] = {
    val paths = files.map(new Path(tableRoot, _))
    val byDir = paths.map(_.getParent).distinct.map { dir =>
      dir -> fs.listStatus(dir).map(s => s.getPath.getName -> s.getLen).toMap
    }.toMap
    paths.map(p => byDir(p.getParent).getOrElse(p.getName,
      throw new java.io.FileNotFoundException(s"snapshot file $p is missing")))
  }

  /** The layout of files committed without one, read the slow way — one
    * listing per directory and the footer-merge inference — paid once per
    * table by the commit that first records it. None when the footers do
    * not merge (a type conflict): the snapshot then records no layout and
    * reads keep surfacing the conflict, as they did before layouts. */
  private def inferLayout(tableRoot: Path, files: Seq[String],
      partitions: Seq[String]): Option[Manifest.Layout] =
    try {
      val inferred = readSnapshot(tableRoot, Manifest.Snapshot(0L, partitions, None, files))
      Some(Manifest.Layout(fileSizes(fsOf(tableRoot), tableRoot, files),
        dataColumns(inferred.schema, partitions).json))
    } catch { case _: org.apache.spark.SparkException => None }

  /** `schema` without the partition columns (resolved like Spark resolves
    * `partitionBy`): the columns a writer stores in each file. */
  private def dataColumns(schema: StructType, partitions: Seq[String]): StructType = {
    val resolver = spark.sessionState.conf.resolver
    StructType(schema.filterNot(f => partitions.exists(resolver(_, f.name))))
  }

  /** The layout a commit records: `base` (the files it keeps) plus the
    * staged files, whose schema is `df`'s data columns as the writer
    * stored them, merged the way `mergeSchema` merges footers (in commit
    * order). None when `base` is unknown or the schemas do not merge. */
  private def layoutAfter(base: Option[Manifest.Layout], df: DataFrame,
      partitions: Seq[String], added: Seq[(String, Long)]): Option[Manifest.Layout] =
    base.flatMap { b =>
      if (added.isEmpty) Some(b)
      else
        try Some(Manifest.Layout(b.sizes ++ added.map(_._2),
          GraftSchemaBridge.merge(Catalog.schemaOf(b), dataColumns(df.schema, partitions),
            spark.sessionState.conf.caseSensitiveAnalysis).json))
        catch { case _: org.apache.spark.SparkException => None }
    }

  /** [[append]] with TYPE relaxation, completing the reference's
    * `allowFieldRelaxation` semantics (`scripts/transform_script:20-23`)
    * for the append path: an incoming column NARROWER than the stored type
    * silently casts up (int → stored long); an incoming column WIDER
    * migrates the stored files ONCE to the widened type; nullability
    * relaxes to the union. Added columns pass through (the mergeSchema
    * read unions them); columns that cannot widen (string vs int) fail
    * loudly. The migration rewrite publishes through [[commitOverwrite]] —
    * an atomic snapshot swap (adopting a directory-layout table into
    * manifest commits on the way), so concurrent readers never observe a
    * missing or half-migrated table — and the table's existing partition
    * layout is inherited, so a caller that omits `partitionBy` cannot
    * flatten it. At 100 TB the widening migration is a real one-off table
    * rewrite — exactly what a BigQuery relaxation does under the hood — so
    * production schemas should widen once, not per-batch;
    * narrower-incoming appends (the common case) touch only the new data. */
  def appendRelaxed(df: DataFrame, ref: String, partitionBy: Seq[String] = Nil): Unit = {
    val (ns, t) = parseRef(ref)
    if (!exists(ns, t)) { append(df, ref, partitionBy); return }
    // pin the snapshot AND its version in ONE read: deriving the CAS
    // version from a second read would let a commit landing in between
    // pass the migration's CAS while the rewrite content derives from the
    // older snapshot — exactly the lost-commit case the CAS exists to
    // prevent
    val tableRoot = new Path(path(ns, t))
    val pinned = Manifest.latest(fsOf(tableRoot), tableRoot)
    val existing = pinned.filter(_.files.nonEmpty)
      .map(readSnapshot(tableRoot, _)).getOrElse(load(ns, t))
    val target = Catalog.relaxedSchema(existing.schema, df.schema)
    val parts =
      if (partitionBy.nonEmpty) partitionBy else partitionColumnsOf(ns, t)
    if (Catalog.needsCast(existing.schema, target))
      // the rewrite reads the pre-migration snapshot lazily while staging
      // lands under a dot-prefixed subdirectory of the same root — input
      // files are untouched until the snapshot swap publishes. CAS on the
      // version the rewrite derives from: a commit landing mid-migration
      // fails this publish loudly instead of being erased by it
      commitOverwrite(Catalog.castTo(existing, target), ref, parts,
        expectedVersion = pinned.map(_.version).getOrElse(0L))
    append(Catalog.castTo(df, target), ref, parts)
  }

  /** Bucketed save via the session catalog (`bucketBy` requires
    * `saveAsTable`). Two tables bucketed the same way on the join key
    * co-locate: the join reads matching buckets directly and the plan has
    * NO shuffle on either side — the 100 TB answer for repeated large-to-
    * large equi-joins (e.g. fact-to-fact reconciliation), where neither
    * side broadcasts and a per-query sort-merge shuffle would dominate.
    *
    * Stage-and-publish, mirroring the manifest protocol: each save lands
    * under a NEW versioned table name `ns_table__vN`. `saveAsTable` writes
    * the data files first and registers the catalog entry last, so the
    * registration is the commit point — [[bucketedTable]] never resolves a
    * half-written layout, and a crash before registration leaves only an
    * unregistered directory that the next save clears. The immediately
    * previous version is kept alive through the publish (an in-flight
    * reader that resolved vN keeps reading vN while vN+1 lands); versions
    * older than that are retired — the same grace-of-one vacuum contract
    * the manifest snapshots carry. Returns the published table name. */
  def saveBucketed(df: DataFrame, ref: String, bucketCol: String, buckets: Int): String = {
    val (ns, t) = parseRef(ref)
    val base = s"${ns}_$t"
    val committed = bucketedVersions(base)
    val next = committed.lastOption.getOrElse(0L) + 1
    val stage = s"${base}__v$next"
    // a previous session (or a crash before registration) can leave a
    // managed-table location with no catalog entry — clear it so the
    // staged write starts clean
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), stage)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(stage)
    // retire everything older than the version readers may still hold
    committed.dropRight(1).foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${base}__v$v"))
    stage
  }

  /** Latest committed bucketed table for `ref` (the name [[saveBucketed]]
    * last returned), for readers that did not perform the save themselves.
    * Falls back to the pre-versioning plain name if one is registered. */
  def bucketedTable(ref: String): String = {
    val (ns, t) = parseRef(ref)
    val base = s"${ns}_$t"
    bucketedVersions(base).lastOption.map(v => s"${base}__v$v").getOrElse {
      if (spark.catalog.tableExists(base)) base
      else throw new NoSuchElementException(s"no bucketed table published for $ref")
    }
  }

  /** Whether any committed bucketed version (or the pre-versioning plain
    * name) is registered for `ref` — the cheap catalog-only probe that
    * keeps one-time migration sweeps ([[dropBucketed]]) out of hot paths:
    * no filesystem listing, just the session metastore. */
  def hasBucketed(ref: String): Boolean = {
    val (ns, t) = parseRef(ref)
    val base = s"${ns}_$t"
    bucketedVersions(base).nonEmpty || spark.catalog.tableExists(base)
  }

  /** Retire a bucketed ref completely: drop every registered version, the
    * pre-versioning plain name if one exists, and any stray staged
    * warehouse directories a crash left behind without a catalog entry.
    * For migrations that rename a ref (e.g. the unkeyed → sf-keyed recon
    * refs): without this, the abandoned name's tables and parquet stay
    * resident forever. Idempotent; returns the number of tables dropped. */
  def dropBucketed(ref: String): Int = {
    val (ns, t) = parseRef(ref)
    val base = s"${ns}_$t"
    val versioned = bucketedVersions(base).map(v => s"${base}__v$v")
    val plain = if (spark.catalog.tableExists(base)) Seq(base) else Nil
    (versioned ++ plain).foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    // stray staging dirs (written but never registered) share the version
    // prefix — sweep them so the warehouse doesn't accrete orphans
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) {
      fs.listStatus(wh).foreach { st =>
        val n = st.getPath.getName
        val suffix = n.drop(base.length + 3)
        if (n == base || (n.startsWith(s"${base}__v") &&
            suffix.nonEmpty && suffix.forall(_.isDigit)))
          fs.delete(st.getPath, true)
      }
    }
    versioned.size + plain.size
  }

  /** Registered bucketed versions of `base`, ascending. Catalog-only (no
    * filesystem listing): an unregistered staging directory is not a
    * version. */
  private def bucketedVersions(base: String): Seq[Long] = {
    val prefix = s"${base}__v"
    spark.sessionState.catalog
      .listTables(spark.catalog.currentDatabase, s"$prefix*")
      .map(_.table)
      .collect { case n if n.startsWith(prefix) && n.drop(prefix.length).forall(_.isDigit) =>
        n.drop(prefix.length).toLong }
      .sorted
  }
}

object Catalog {
  import org.apache.spark.sql.types._

  /** The layout of a table with no files yet: what a first commit merges into. */
  private val EmptyLayout = Manifest.Layout(Nil, new StructType().json)

  private def schemaOf(layout: Manifest.Layout): StructType =
    DataType.fromJson(layout.dataSchema).asInstanceOf[StructType]

  /** Numeric widening lattice for relaxation: within the integer and
    * floating families the wider type wins; across families the merged
    * type is double (the BigQuery INT64 → FLOAT64 relaxation). */
  private def widen(a: DataType, b: DataType): Option[DataType] = {
    def intRank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3
      case LongType => 4; case _ => 0
    }
    def floatRank(t: DataType): Int = t match {
      case FloatType => 1; case DoubleType => 2; case _ => 0
    }
    if (a == b) Some(a)
    else if (intRank(a) > 0 && intRank(b) > 0) Some(if (intRank(a) >= intRank(b)) a else b)
    else if (floatRank(a) > 0 && floatRank(b) > 0) Some(if (floatRank(a) >= floatRank(b)) a else b)
    else if ((intRank(a) > 0 && floatRank(b) > 0) || (floatRank(a) > 0 && intRank(b) > 0))
      Some(DoubleType)
    else None
  }

  /** The union schema after relaxation: common fields widen (nullable =
    * either side), existing-only then incoming-only fields follow as-is.
    * Unwidenable common fields throw — silently corrupting one side is
    * the one wrong answer. */
  private[core] def relaxedSchema(existing: StructType, incoming: StructType): StructType = {
    val incByName = incoming.fields.map(f => f.name -> f).toMap
    val merged = existing.fields.map { ef =>
      incByName.get(ef.name) match {
        case None => ef
        case Some(inf) =>
          val t = widen(ef.dataType, inf.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"cannot relax column '${ef.name}': ${ef.dataType.simpleString} vs " +
                s"${inf.dataType.simpleString} (only numeric widening is supported)"))
          StructField(ef.name, t, ef.nullable || inf.nullable)
      }
    }
    val existingNames = existing.fieldNames.toSet
    StructType(merged ++ incoming.fields.filterNot(f => existingNames.contains(f.name)))
  }

  /** Whether any of `schema`'s fields differ in TYPE from `target` (i.e. a
    * rewrite is needed; nullability alone is metadata and costs nothing). */
  private[core] def needsCast(schema: StructType, target: StructType): Boolean = {
    val tByName = target.fields.map(f => f.name -> f.dataType).toMap
    schema.fields.exists(f => tByName.get(f.name).exists(_ != f.dataType))
  }

  /** Cast `df`'s columns up to the target types, keeping its column order
    * (parquet resolves by name on read). */
  private[core] def castTo(df: DataFrame, target: StructType): DataFrame = {
    val tByName = target.fields.map(f => f.name -> f.dataType).toMap
    df.select(df.schema.fields.map { f =>
      tByName.get(f.name) match {
        case Some(t) if t != f.dataType =>
          org.apache.spark.sql.functions.col(f.name).cast(t).as(f.name)
        case _ => org.apache.spark.sql.functions.col(f.name)
      }
    }.toSeq: _*)
  }
}
