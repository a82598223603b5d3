package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions._

import graft.core.Catalog

/** The ONE implementation of the micro-batch ingest conventions the
  * streaming loops share — [[MonitoringLoop]]'s ingest and
  * [[DedupCore]]'s per-table appends both delegate here, so the two
  * mode guards and the replay anti-join cannot diverge between copies
  * (they once did: only one copy had grown the guard against a
  * manifest-mode append silently adopting a `__batch_id`-partitioned
  * table, which wedges the table and then orphans its history).
  */
private[streaming] object StreamingAppend {

  /** The table, if it exists AND holds at least one committed parquet
    * footer. A FIRST batch that crashed between job start and commit
    * leaves the directory with only `_temporary` droppings — the directory
    * exists but `load` cannot infer a schema, which would wedge every
    * replay until manual cleanup. Readable-nothing counts as absent: the
    * replay then takes the fresh-table branch, exactly as if the crashed
    * attempt had never created the directory. (Later batches are safe
    * either way — prior committed files carry the schema.) */
  def loadIfReadable(catalog: Catalog, t: String): Option[DataFrame] =
    if (!catalog.exists(t)) None
    else
      try Some(catalog.load(t))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => None
      }

  /** EXACTLY-once append of one micro-batch:
    *
    *  - Default (`partitionMode = false`): an atomic manifest commit
    *    ([[Catalog.commitAppend]]) carrying the micro-batch id — a torn
    *    append publishes nothing a reader can see, and a replayed batch id
    *    is skipped before any data is written.
    *  - `partitionMode = true`: the pre-manifest batch-id-partition
    *    convention for plain-directory layouts: rows are tagged with the
    *    micro-batch id, the table partitions by the tag, and a replayed
    *    batch anti-joins away whatever its crashed attempt already
    *    committed — per KEY, so even a PARTIAL append replays clean. The
    *    anti-join is NULL-SAFE on the keys: plain equality never matches a
    *    null key against its committed copy, which would double-ingest
    *    exactly the malformed rows the replay window is meant to protect.
    *
    * Mode guards run in BOTH directions: a manifest commit must not
    * silently adopt a `__batch_id`-partitioned table (its replay semantics
    * key off the partition column this mode ignores), and the partition
    * convention cannot probe a table without that column — so switching
    * modes over an existing table fails loudly instead of corrupting
    * layout or replay semantics. The guard probe is a schema read (footers
    * only), memoized per table in `modeChecked` once the table is seen:
    * under the single-writer contract the layout cannot change mid-run. */
  def appendOnce(catalog: Catalog, table: String, rows: DataFrame,
      batchId: Long, keys: Seq[String], partitionBy: Seq[String],
      partitionMode: Boolean, modeChecked: mutable.Set[String]): Unit =
    if (!partitionMode) {
      if (!modeChecked.contains(table))
        loadIfReadable(catalog, table).foreach { existing =>
          require(!existing.columns.contains("__batch_id"),
            s"manifest-commit append into '$table' found a __batch_id " +
              "partition column: the table was written in the exactly-once " +
              "partition convention; keep the dedup-keys/exactlyOnce mode " +
              "or start from a fresh table")
          modeChecked += table
        }
      catalog.commitAppend(rows, table, partitionBy, Some(batchId))
    } else {
      val tagged = rows.withColumn("__batch_id", lit(batchId))
      val fresh = loadIfReadable(catalog, table) match {
        case None => tagged
        case Some(existing) =>
          require(existing.columns.contains("__batch_id"),
            s"exactly-once append into '$table' requires a table previously " +
              "written in exactly-once mode (no __batch_id partition column " +
              "found); start from a fresh table or use the manifest mode")
          val prior = existing
            .filter(col("__batch_id") === batchId)
            .select(keys.map(col): _*)
          val cond = keys.map(k => tagged(k) <=> prior(k)).reduce(_ && _)
          tagged.join(broadcast(prior), cond, "left_anti")
            .select(tagged.columns.map(tagged(_)): _*)
      }
      catalog.append(fresh, table, partitionBy :+ "__batch_id")
    }

  /** The accepted-state view of a dedup loop's state `table` while
    * processing batch `batchId` — the replay-correctness convention of
    * [[DedupCore]], which every incremental dedup family runs on (ONE
    * copy, like the mode guards above): in the batch-id-partition mode, a crashed attempt of THIS
    * batch can have partially committed its own state rows, and counting
    * them as accepted state would self-collide the batch's rows (jaccard
    * 1.0 / cosine 1.0 / hamming 0 against themselves), drop them from
    * survivors, and permanently lose their missing state rows — so the
    * batch's own tag is excluded. Manifest commits are all-or-nothing and
    * a replayed batch id is skipped outright, so no filter is needed (the
    * column-presence check keeps a mode mismatch on [[appendOnce]]'s loud
    * guard instead of an unresolved-column error here). */
  def acceptedState(loaded: DataFrame, batchId: Long,
      partitionMode: Boolean): DataFrame =
    if (partitionMode && loaded.columns.contains("__batch_id"))
      loaded.filter(col("__batch_id") =!= batchId)
    else loaded

  /** One row per id WITHIN a micro-batch. An at-least-once upstream can
    * redeliver the same id twice inside one batch (producer retry), and
    * the dedup twins' intra-batch pairing is strictly ordered
    * (`doc_a < doc_b`), so same-id copies never pair — both would survive
    * the anti-join and both append, permanently double-counting the
    * document in the corpus and bloating its state rows (the keyed replay
    * anti-join only protects across ATTEMPTS of a batch, not within one).
    * Keeps the copy with the smallest xxhash64 over all columns — a
    * deterministic choice under any partitioning, so a crashed-and-
    * replayed batch collapses to the same row a clean run keeps. The
    * window shuffle is micro-batch-bounded, never state-sized. */
  def collapseSameId(batch: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(xxhash64(batch.columns.map(col).toSeq: _*))
    batch.withColumn("__sameid_rn", row_number().over(w))
      .filter(col("__sameid_rn") === 1).drop("__sameid_rn")
  }

  /** The shared foreachBatch writer wiring (query name, optional
    * checkpoint for restart durability, polled `AvailableNow` vs
    * continuous `ProcessingTime` trigger) that every streaming loop
    * repeats. */
  def startForeachBatch(stream: DataFrame, queryName: String,
      continuous: Boolean, interval: String, checkpoint: Option[String])(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w0 = stream.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id); () }
    val w = checkpoint.fold(w0)(p => w0.option("checkpointLocation", p))
    (if (continuous) w.trigger(Trigger.ProcessingTime(interval))
     else w.trigger(Trigger.AvailableNow())).start()
  }
}
