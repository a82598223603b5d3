package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Catalog
import graft.ext.Dedup

/** Incremental MinHash-LSH near-duplicate removal — the always-on form of
  * the q29/q44 batch sweep, closing the split [[CurationStream]] documents
  * (stream for ingest hygiene, periodic batch for near-dups): with this
  * loop the near-dup check IS streaming, so a re-crawled document arriving
  * days later is dropped on arrival instead of at the next sweep.
  *
  * State is the accumulated (doc, band, bucket) table, persisted through
  * the [[Catalog]] — NOT Spark streaming state: LSH pair state is
  * corpus-global and unbounded by any watermark (the reason
  * `dropDuplicatesWithinWatermark` cannot express it), so it lives where
  * corpus-global state belongs, in an append-only table the probe join
  * reads. Each micro-batch:
  *
  *  1. collapses same-id copies and keeps the collapsed arrivals, so the
  *     source is read and the collapse's window shuffle runs once;
  *  2. computes the arrivals' band/bucket rows (kept) and shingle hashes
  *     (scan-side native expressions over the kept rows);
  *  3. probes the band table for (band, bucket) collisions — the candidate
  *     join touches ONLY matching buckets, the state side carries
  *     (id, band, bucket) rows, never text, and the micro-batch side
  *     BROADCASTS so the accumulated state is scanned, never shuffled.
  *     The candidates are kept, so the state is scanned and probed once
  *     per batch although two joins consume them;
  *  4. verifies candidates by exact Jaccard, re-deriving the OLD doc's
  *     shingles from the corpus table keyed by id (candidates are few;
  *     state stays narrow instead of staging every shingle array);
  *  5. drops arrivals matching an accepted doc, or a LOWER-id arrival of
  *     the same batch (the q44 intra-batch rule) — one action collects
  *     the dropped ids;
  *  6. appends survivors to the corpus table and their bands to the state
  *     table, both filtered by those ids.
  *
  * Semantics: greedy-prefix (online) dedup — every arrival is judged
  * against ACCEPTED documents only, the standard always-on form. On
  * chain-free data this equals the q44 batch sweep (asserted in
  * StreamingSpec); on a chain A~B~C with A≁C the batch sweep also drops C
  * while the online form keeps it (B was never accepted), which is the
  * defensible choice: C duplicates nothing that exists downstream.
  *
  * Durability: survivors append before their band rows, and both appends
  * are exactly-once either way:
  *
  *  - Default: atomic manifest commits ([[Catalog.commitAppend]]) carrying
  *    the micro-batch id. A crash between the two commits replays cleanly
  *    with NO replay probe: the docs commit is skipped (its batch id
  *    already landed), the recomputed survivors are identical (the crashed
  *    attempt's docs have no band rows, so they influence no candidate),
  *    and the bands commit lands — per-table idempotence does the work the
  *    anti-join convention used to.
  *  - `exactlyOnce = true` selects the pre-manifest batch-id-partition
  *    convention ([[MonitoringLoop]]'s ingest pattern): both tables tag
  *    rows with the micro-batch id and partition by it, and a replayed
  *    batch anti-joins away whatever its crashed attempt already
  *    committed, per table — kept for deployments that need a
  *    plain-directory layout; the replay probe reads one batch-id
  *    partition directory and the prior side broadcasts. A crash PARTWAY
  *    through the bands append also replays clean: the probe excludes
  *    this batch's own partially-committed band rows (they are not
  *    accepted state — counting them would drop the batch's docs as
  *    duplicates of themselves and permanently lose their missing bands).
  *
  * Crash-replay is injected and asserted for both modes in StreamingSpec.
  */
final class IncrementalDedup(
    catalog: Catalog, docsTable: String, bandsTable: String,
    textCol: String = "text", idCol: String = "doc_id",
    shingleN: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
    exactlyOnce: Boolean = false) {

  /** Fault-injection hook (tests): throw once AFTER the survivors append
    * but BEFORE the bands append — the window where a plain replay would
    * duplicate the batch's docs. */
  private[graft] var crashBetweenAppendsOnce: Boolean = false

  /** Append `rows` to `table`: an idempotent manifest commit by default,
    * or tagged and batch-id-partitioned when [[exactlyOnce]] (dropping rows
    * a crashed attempt of THIS batch already committed, keyed by `keys`).
    * Both conventions, the two-direction mode guards, and the null-safe
    * replay anti-join are [[StreamingAppend.appendOnce]], shared with
    * [[MonitoringLoop]]'s ingest. */
  private val modeChecked = scala.collection.mutable.Set.empty[String]

  private def appendOnce(rows: DataFrame, table: String, keys: Seq[String],
      batchId: Long): Unit =
    StreamingAppend.appendOnce(catalog, table, rows, batchId,
      keys = keys, partitionBy = Nil, partitionMode = exactlyOnce,
      modeChecked = modeChecked)

  /** Deduplicate one micro-batch against the accumulated corpus and itself;
    * append survivors. Returns the survivor count. Public so batch
    * backfills and tests drive the exact streaming per-tick logic.
    *
    * The collapsed arrivals, their band rows and the state candidates
    * each have several consumers and are materialized once (released in
    * one `finally`, on success and on failure); one action then judges
    * the batch, and the two appends filter by the dropped ids it
    * collected. */
  def processBatch(batchRaw: DataFrame, batchId: Long): Long = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def once(df: DataFrame): DataFrame = {
      cached += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    try {
      // same-id copies within ONE batch never meet the strictly-ordered
      // intra-batch pairing — collapse them first (StreamingAppend
      // scaladoc); bands, shingles and survivors all read these rows, so
      // the source scan and the window shuffle run once
      val batch = once(StreamingAppend.collapseSameId(batchRaw, idCol))
      // band rows feed the state probe, the intra-batch self-join and the
      // bands append — narrow rows, kept once
      val newBands = once(Dedup.minhashTable(batch, textCol, idCol, shingleN, k, bands))
      // the arrivals' shingle hashes join the three verify sides (state
      // candidates; intra-batch a and b) as a broadcast built from the
      // kept arrivals: re-hashing one batch per side costs less than
      // caching the wide arrays and re-reading them (more input bytes and
      // more jobs, measured)
      val newSh = batch.select(col(idCol),
        Dedup.shingleHashes(col(textCol), shingleN).as("sh"))
      def withShingles(pairs: DataFrame, key: String, as: String): DataFrame =
        pairs.join(broadcast(newSh.select(col(idCol).as(key), col("sh").as(as))), Seq(key))
      val jaccard =
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))

      // arrivals colliding with ACCEPTED docs in any (band, bucket) cell.
      // loadIfReadable, not exists+load: a FIRST-batch crash during the
      // bands append (partition mode) leaves only _temporary droppings —
      // readable-nothing takes the fresh-table branch instead of wedging
      // every replay on UNABLE_TO_INFER_SCHEMA
      val droppedVsState: DataFrame =
        StreamingAppend.loadIfReadable(catalog, bandsTable) match {
          case None => batch.select(col(idCol)).limit(0)
          case Some(loadedBands) =>
          // In exactlyOnce mode, a crash PARTWAY through the bands append
          // leaves a subset of this batch's band rows committed (plain
          // parquet appends are atomic per task file, not per job). On
          // replay those rows must not count as accepted state: the
          // batch's docs would collide with THEMSELVES (jaccard 1.0),
          // vanish from survivors, and their missing band rows would
          // never be written — permanent recall loss. The partition
          // convention carries the batch tag, so THIS batch's rows are
          // excluded from the probe; the appendOnce anti-join then fills
          // in exactly the missing rows. (The manifest mode needs no
          // filter: its commits are all-or-nothing, and a replayed batch
          // id is skipped outright.) A same-id re-arrival in a LATER
          // batch still self-collides and drops, as before. ONE copy of
          // the filter, shared with the LSH/simhash twins:
          val state = StreamingAppend.acceptedState(
            loadedBands, batchId, exactlyOnce)
          // candidates feed the old-shingle broadcast AND the verify join:
          // kept once, so the state is scanned and probed once per batch
          val candidates = once(IncrementalDedup.stateCandidates(state, newBands, idCol))
          // old shingles re-derive from the corpus keyed by candidate id —
          // candidates are collision-bounded, so they broadcast and the
          // corpus table is likewise scan-only
          val oldSh = catalog.load(docsTable)
            .join(broadcast(candidates.select(col("old_id").as(idCol)).distinct()),
              Seq(idCol))
            .select(col(idCol).as("old_id"),
              Dedup.shingleHashes(col(textCol), shingleN).as("sh_b"))
          withShingles(candidates, idCol, "sh_a")
            .join(oldSh, Seq("old_id"))
            .filter(jaccard >= threshold)
            .select(col(idCol))
        }

      // intra-batch: an arrival near-duplicating a lower-id arrival drops
      // (the q44 rule applied within the batch)
      val a = newBands.select(col("band"), col("bucket"), col(idCol).as("doc_a"))
      val b = newBands.select(col("band"), col("bucket"), col(idCol).as("doc_b"))
      val pairs = a.join(b, Seq("band", "bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val droppedIntra = withShingles(withShingles(pairs, "doc_a", "sh_a"), "doc_b", "sh_b")
        .filter(jaccard >= threshold)
        .select(col("doc_b").as(idCol))

      // one action judges the batch: every arrival id, flagged when it
      // drops. Dropped ids are a subset of this batch's ids, so they come
      // back to the driver and both appends filter by them — neither
      // append re-runs the probe
      val dropped = droppedVsState.union(droppedIntra).distinct()
        .withColumn("__dropped", lit(true))
      val judged = batch.select(col(idCol))
        .join(broadcast(dropped), Seq(idCol), "left_outer").collect()
      val droppedIds = judged.collect { case r if !r.isNullAt(1) => r.get(0) }
      val n = (judged.length - droppedIds.length).toLong
      val kept = !col(idCol).isin(droppedIds.toSeq: _*)
      if (n > 0) {
        // a null id never matches a dropped one: its row survives, as
        // under an anti-join
        appendOnce(batch.filter(col(idCol).isNull || kept), docsTable,
          Seq(idCol), batchId)
        if (crashBetweenAppendsOnce) {
          crashBetweenAppendsOnce = false
          throw new RuntimeException(
            "injected crash between docs append and bands append")
        }
        // survivors' band rows are a pure function of their text and
        // newBands is still cached here — filtering it reuses them instead
        // of re-running shingling + k minhashes per survivor (null ids
        // carry no band rows, as under the semi-join on survivor ids)
        appendOnce(newBands.filter(col(idCol).isNotNull && kept),
          bandsTable, Seq(idCol, "band"), batchId)
      }
      n
    } finally cached.foreach(_.unpersist(blocking = false))
  }

  /** Attach to a document stream (same trigger conventions as
    * [[MonitoringLoop.start]]). */
  def start(stream: DataFrame, queryName: String = "graft_incremental_dedup",
      continuous: Boolean = false, interval: String = "1 minute",
      checkpoint: Option[String] = None): StreamingQuery =
    StreamingAppend.startForeachBatch(stream, queryName, continuous,
      interval, checkpoint) { (batch, id) => processBatch(batch, id); () }
}

object IncrementalDedup {
  /** (arrival_id, old_id) collision candidates: the corpus-global band
    * table probed by a micro-batch's band rows. The ARRIVALS side
    * broadcasts (micro-batch-bounded by construction) so the accumulated
    * state is scanned, never shuffled — without the hint the planner
    * cannot see that the derived band frame is small and sort-merges BOTH
    * sides, re-shuffling the whole state table every micro-batch (the
    * per-batch cost that turns a streaming dedup loop quadratic over a
    * day of commits). Plan shape is pinned in StreamingSpec. */
  private[graft] def stateCandidates(state: DataFrame, newBands: DataFrame,
      idCol: String): DataFrame =
    state.select(col("band"), col("bucket"), col(idCol).as("old_id"))
      .join(broadcast(newBands), Seq("band", "bucket"))
      .select(col(idCol), col("old_id")).distinct()
}

/** Incremental EXACT payload dedup — the byte-identity rung of the
  * streaming matrix (the state-backed twin of [[graft.ext.Dedup]]'s
  * exact family, which is what the by-kind dispatcher runs for video
  * pools at byte-identical tolerance): state is the accumulated
  * (id, fp) digest relation plus the accepted corpus, both
  * Catalog-persisted. An arrival drops when its md5 digest matches an
  * accepted row's, or a LOWER-id arrival of the same batch (the batch
  * family's min-id-keeper rule, so greedy-prefix == batch sweep on
  * id-ordered arrivals); survivors append exactly-once via
  * [[StreamingAppend.appendOnce]] like every twin. The digest state is
  * 24 bytes/row — the cheapest of the five streaming dedup families. */
final class IncrementalExactDedup(
    catalog: Catalog, docsTable: String, digestsTable: String,
    payloadCol: String = "payload", idCol: String = "media_id",
    exactlyOnce: Boolean = false) {

  /** Fault-injection hook (tests): throw once AFTER the survivors append
    * but BEFORE the digests append. */
  private[graft] var crashBetweenAppendsOnce: Boolean = false

  private val modeChecked = scala.collection.mutable.Set.empty[String]

  private def appendOnce(rows: DataFrame, table: String, keys: Seq[String],
      batchId: Long): Unit =
    StreamingAppend.appendOnce(catalog, table, rows, batchId,
      keys = keys, partitionBy = Nil, partitionMode = exactlyOnce,
      modeChecked = modeChecked)

  /** Deduplicate one micro-batch against the accumulated corpus and
    * itself; append survivors. Returns the survivor count. */
  def processBatch(batchRaw: DataFrame, batchId: Long): Long = {
    val batch = StreamingAppend.collapseSameId(batchRaw, idCol)
    val newFps = batch.select(col(idCol), md5(col(payloadCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val droppedVsState: DataFrame =
        StreamingAppend.loadIfReadable(catalog, digestsTable) match {
          case None => batch.select(col(idCol)).limit(0)
          case Some(loaded) =>
            val state = StreamingAppend.acceptedState(loaded, batchId, exactlyOnce)
            // arrivals broadcast: the accumulated digest state is
            // scanned, never shuffled (the stateCandidates convention)
            state.select(col("fp"))
              .join(broadcast(newFps), Seq("fp"))
              .select(col(idCol)).distinct()
        }
      val a = newFps.select(col("fp"), col(idCol).as("id_a"))
      val droppedIntra = a
        .join(newFps.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_b").as(idCol)).distinct()
      val dropped = droppedVsState.union(droppedIntra).distinct()
      val survivors = batch.join(broadcast(dropped), Seq(idCol), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = survivors.count()
        if (n > 0) {
          appendOnce(survivors, docsTable, Seq(idCol), batchId)
          if (crashBetweenAppendsOnce) {
            crashBetweenAppendsOnce = false
            throw new RuntimeException(
              "injected crash between docs append and digests append")
          }
          appendOnce(
            newFps.join(survivors.select(col(idCol)), Seq(idCol), "left_semi"),
            digestsTable, Seq(idCol), batchId)
        }
        n
      } finally survivors.unpersist(blocking = false)
    } finally newFps.unpersist(blocking = false)
  }

  /** Attach to a media stream (same trigger conventions as the twins). */
  def start(stream: DataFrame, queryName: String = "graft_incremental_exact",
      continuous: Boolean = false, interval: String = "1 minute",
      checkpoint: Option[String] = None): StreamingQuery =
    StreamingAppend.startForeachBatch(stream, queryName, continuous,
      interval, checkpoint) { (batch, id) => processBatch(batch, id); () }
}
