package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.core.Catalog

/** The single-pass incremental deduper every streaming dedup family is a
  * definition over: the always-on form of a batch near-dup sweep, with
  * state kept in append-only [[Catalog]] tables (corpus-global pair state
  * is unbounded by any watermark, so it cannot live in Spark streaming
  * state). Each micro-batch:
  *
  *  1. collapses same-id copies ([[StreamingAppend.collapseSameId]]) and
  *     keeps the collapsed arrivals, so the source is read once;
  *  2. derives the family's unit rows (one per arrival, or one per packed
  *     `fid = id << 6 | segment` whose owner is `fid >> 6`) and cell rows
  *     (the collision keys), each kept or re-derived as the family says;
  *  3. probes the state table with the cell rows broadcast, so the state
  *     is scanned, never shuffled; the candidates are kept, so the state
  *     is scanned once however many joins consume them;
  *  4. scores candidates with the family's accept predicate, fetching old
  *     payloads from a join-back table or from columns the probe carried;
  *  5. drops arrivals matching an accepted unit, or a LOWER-owner arrival
  *     of the same batch (the batch sweeps' min-id-keeper rule) — one
  *     action collects the dropped ids;
  *  6. appends survivors to the corpus, then their state rows, all
  *     filtered by those ids, exactly-once via
  *     [[StreamingAppend.appendOnce]]; everything persisted is released in
  *     one `finally`.
  *
  * Semantics: greedy-prefix (online) dedup against ACCEPTED units only. On
  * chain-free data this equals the batch sweep (each family's StreamingSpec
  * pin); on a chain A~B~C with A≁C the sweep also drops C, the online form
  * keeps it (B was never accepted, so C duplicates nothing downstream).
  *
  * Durability: the corpus appends before the state, so a crash between
  * them replays cleanly in either append mode. Manifest commits (default)
  * skip a replayed batch id per table; the recomputed survivors are the
  * same, because the crashed attempt's corpus rows have no state rows yet.
  * `exactlyOnce = true` tags rows with the batch id and anti-joins a
  * replay against its own partial commit; the probe then excludes this
  * batch's partially committed state rows
  * ([[StreamingAppend.acceptedState]]), or the batch would drop as a
  * duplicate of itself and never write its missing state rows. */
private[streaming] abstract class DedupCore(catalog: Catalog,
    corpusTable: String, idCol: String, exactlyOnce: Boolean,
    defaultQueryName: String) {

  /** Fault-injection hook (tests): throw once AFTER the corpus append but
    * BEFORE the state appends — the window a plain replay would double. */
  private[graft] var crashBetweenAppendsOnce: Boolean = false

  private val modeChecked = mutable.Set.empty[String]
  // the radius stamp is checked once per loop (single-writer contract)
  private var stampChecked = false

  /** Unit ids are packed `fid`s owned by `fid >> 6`, not arrival ids. */
  protected def packed: Boolean = false
  /** The column of unit rows the accept predicate scores. */
  protected def payload: String
  /** Unit rows (`unit`, `payload`) of the collapsed arrivals. */
  protected def units(batch: DataFrame): DataFrame
  /** Cell rows (`unit` and `cellKeys`; also `payload` when the probe
    * carries it, i.e. no join-back). */
  protected def cells(batch: DataFrame, units: DataFrame): DataFrame
  protected def cellKeys: Seq[String]
  protected def keepsUnits: Boolean = true
  protected def keepsCells: Boolean = true
  /** The state table the probe reads. */
  protected def probed: String
  /** Candidates of the state probe: (`unit`, `old_id`) with a join-back,
    * else (`unit`, `<payload>_a`, `<payload>_b`). */
  protected def probe(state: DataFrame, cells: DataFrame): DataFrame
  protected def accept(a: Column, b: Column): Column
  /** Old payloads: a table keyed by `unit` and the payload expression over
    * it, or None when the probe carries them. */
  protected def joinBack: Option[(String, Column)] = None
  /** State appends in order: (table, rows, replay keys). */
  protected def stateAppends(units: DataFrame, cells: DataFrame): Seq[(String, DataFrame, Seq[String])]
  /** The blocking radius the probed table must be stamped with
    * (`max_hamming`), for families whose pigeonhole blocks depend on it. */
  protected def stampedRadius: Option[Int] = None

  private def unit: String = if (packed) "fid" else idCol
  private def owner(c: Column): Column = if (packed) shiftright(c, 6) else c

  /** Deduplicate one micro-batch against the accumulated corpus and itself;
    * append survivors. Returns the survivor count. Public so batch
    * backfills and tests drive the exact streaming per-tick logic. */
  def processBatch(batchRaw: DataFrame, batchId: Long): Long = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def once(df: DataFrame): DataFrame = { cached += df.persist(StorageLevel.MEMORY_AND_DISK); df }
    try {
      val batch = once(StreamingAppend.collapseSameId(batchRaw, idCol))
      val unitRows = if (keepsUnits) once(units(batch)) else units(batch)
      val cellRows = if (keepsCells) once(cells(batch, unitRows)) else cells(batch, unitRows)
      val (pa, pb) = (s"${payload}_a", s"${payload}_b")
      // the arrivals' payloads join each verify side as a broadcast
      def withPayload(pairs: DataFrame, key: String, as: String): DataFrame =
        pairs.join(broadcast(unitRows.select(col(unit).as(key), col(payload).as(as))), Seq(key))

      // loadIfReadable, not exists+load: a FIRST-batch crash during the
      // state append (partition mode) leaves only _temporary droppings,
      // which take the fresh-table branch instead of wedging every replay
      val droppedVsState = StreamingAppend.loadIfReadable(catalog, probed) match {
        case None => batch.select(col(idCol)).limit(0)
        case Some(loaded) =>
          if (!stampChecked) stampedRadius.foreach(checkRadius(loaded, _))
          val candidates = once(probe(
            StreamingAppend.acceptedState(loaded, batchId, exactlyOnce), cellRows))
          val scored = joinBack match {
            case None => candidates
            case Some((table, old)) =>
              // candidates are collision-bounded: their old ids broadcast
              // and the join-back table is scan-only
              val olds = catalog.load(table)
                .join(broadcast(candidates.select(col("old_id").as(unit)).distinct()), Seq(unit))
                .select(col(unit).as("old_id"), old.as(pb))
              withPayload(candidates, unit, pa).join(olds, Seq("old_id"))
          }
          // a bare id column, not an alias of itself, when units are arrivals
          scored.filter(accept(col(pa), col(pb)))
            .select(if (packed) owner(col(unit)).as(idCol) else col(idCol))
      }

      // intra-batch: a unit near-duplicating a LOWER-owner arrival's drops
      val carried = joinBack.isEmpty
      def side(s: String) = cellRows.select(cellKeys.map(col) ++ Seq(col(unit).as(s"u_$s")) ++
        (if (carried) Seq(col(payload).as(s"${payload}_$s")) else Nil): _*)
      val pairs = side("a").join(side("b"), cellKeys)
        .filter(owner(col("u_a")) < owner(col("u_b")))
        .select((Seq("u_a", "u_b") ++ (if (carried) Seq(pa, pb) else Nil)).map(col): _*)
        .distinct()
      val droppedIntra = (if (carried) pairs
          else withPayload(withPayload(pairs, "u_a", pa), "u_b", pb))
        .filter(accept(col(pa), col(pb)))
        .select(owner(col("u_b")).as(idCol))

      // one action judges the batch: every arrival id, flagged when it
      // drops; the appends filter by the collected ids, so neither re-runs
      // the probe
      val dropped = droppedVsState.union(droppedIntra).distinct()
        .withColumn("__dropped", lit(true))
      val judged = batch.select(col(idCol))
        .join(broadcast(dropped), Seq(idCol), "left_outer").collect()
      val droppedIds = judged.collect { case r if !r.isNullAt(1) => r.get(0) }
      val n = (judged.length - droppedIds.length).toLong
      def kept(c: Column): Column = !c.isin(droppedIds.toSeq: _*)
      if (n > 0) {
        // a null id never matches a dropped one: its row survives, as under
        // an anti-join, and carries no state rows
        appendOnce(batch.filter(col(idCol).isNull || kept(col(idCol))), corpusTable,
          Seq(idCol), batchId)
        if (crashBetweenAppendsOnce) {
          crashBetweenAppendsOnce = false
          throw new RuntimeException("injected crash between the corpus append and the state appends")
        }
        stateAppends(unitRows, cellRows).foreach { case (table, rows, keys) =>
          val o = owner(col(unit))
          appendOnce(rows.filter(o.isNotNull && kept(o)), table, keys, batchId)
        }
      }
      n
    } finally cached.foreach(_.unpersist(blocking = false))
  }

  /** Attach to a stream (same trigger conventions as
    * [[MonitoringLoop.start]]). */
  def start(stream: DataFrame, queryName: String = defaultQueryName,
      continuous: Boolean = false, interval: String = "1 minute",
      checkpoint: Option[String] = None): StreamingQuery =
    StreamingAppend.startForeachBatch(stream, queryName, continuous,
      interval, checkpoint) { (batch, id) => processBatch(batch, id); () }

  private def appendOnce(rows: DataFrame, table: String, keys: Seq[String],
      batchId: Long): Unit =
    StreamingAppend.appendOnce(catalog, table, rows, batchId, keys = keys,
      partitionBy = Nil, partitionMode = exactlyOnce, modeChecked = modeChecked)

  /** Blocks encode `radius + 1` pigeonhole slots, so probing a table
    * blocked at another radius silently loses the recall guarantee: the
    * table's self-stamped radius must match. It reads the UNFILTERED rows
    * (a crashed attempt's partial rows carry the stamp too); an empty
    * table (an all-undecodable first batch) carries none yet. */
  private def checkRadius(loaded: DataFrame, radius: Int): Unit =
    loaded.select("max_hamming").limit(1).collect().headOption.foreach { row =>
      require(row.getInt(0) == radius,
        s"block table '$probed' is blocked at radius ${row.getInt(0)} but " +
          s"this loop probes at $radius: the pigeonhole guarantee does not " +
          "transfer across radii — rebuild the table or match the radius")
      stampChecked = true
    }
}
