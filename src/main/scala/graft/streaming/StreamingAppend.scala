package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions._

import graft.core.Catalog

/** The ONE implementation of the micro-batch ingest convention the
  * streaming loops share — [[MonitoringLoop]]'s ingest and
  * [[DedupCore]]'s per-table appends both delegate here, so the legacy
  * layout guard cannot diverge between copies (it once did: only one copy
  * had grown it, and the other silently adopted a legacy table, which
  * wedges the table and then orphans its history).
  */
private[streaming] object StreamingAppend {

  /** The table, if it exists AND holds at least one committed parquet
    * footer. A plain parquet write that crashed before its first task
    * commit (a directory-layout table from outside the Catalog's commit
    * protocol) leaves the directory with only `_temporary` droppings —
    * the directory exists but `load` cannot infer a schema, which would
    * wedge every replay until manual cleanup. Readable-nothing counts as
    * absent: the replay then takes the fresh-table branch, exactly as if
    * the crashed attempt had never created the directory. */
  def loadIfReadable(catalog: Catalog, t: String): Option[DataFrame] =
    if (!catalog.exists(t)) None
    else
      try Some(catalog.load(t))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => None
      }

  /** EXACTLY-once append of one micro-batch: an atomic manifest commit
    * ([[Catalog.commitAppend]]) carrying the micro-batch id — a torn
    * append publishes nothing a reader can see, and a replayed batch id is
    * skipped before any data is written. This mirrors the reference's
    * idempotent WRITE_TRUNCATE transform (scripts/transform_script:17-24)
    * in append-only form.
    *
    * A table with a `__batch_id` column was written by earlier releases'
    * batch-id-partition convention, whose replay semantics key off that
    * column: adopting it into manifest commits would publish a snapshot
    * that orphans its history, so the append refuses it loudly. The probe
    * is a schema read (footers only), memoized per table in `checked` once
    * the table is seen: under the single-writer contract the layout cannot
    * change mid-run. */
  def appendOnce(catalog: Catalog, table: String, rows: DataFrame,
      batchId: Long, partitionBy: Seq[String], checked: mutable.Set[String]): Unit = {
    if (!checked.contains(table))
      loadIfReadable(catalog, table).foreach { existing =>
        require(!existing.columns.contains("__batch_id"),
          s"manifest-commit append into '$table' found a __batch_id " +
            "partition column: the table was written in the batch-id-partition " +
            "convention of earlier releases, which manifest commits cannot " +
            "adopt; start from a fresh table")
        checked += table
      }
    catalog.commitAppend(rows, table, partitionBy, Some(batchId))
  }

  /** One row per id WITHIN a micro-batch. An at-least-once upstream can
    * redeliver the same id twice inside one batch (producer retry), and
    * the dedup twins' intra-batch pairing is strictly ordered
    * (`doc_a < doc_b`), so same-id copies never pair — both would survive
    * the anti-join and both append, permanently double-counting the
    * document in the corpus and bloating its state rows (the batch-id
    * commit only protects across ATTEMPTS of a batch, not within one).
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

  /** The polled `AvailableNow` trigger (the reference's micro-batch
    * cadence: drain what is queued, then stop) or, with `continuous`, a
    * `ProcessingTime` trigger every `interval` — the one choice every
    * streaming sink here makes. */
  def trigger(continuous: Boolean, interval: String): Trigger =
    if (continuous) Trigger.ProcessingTime(interval) else Trigger.AvailableNow()

  /** The shared foreachBatch writer wiring (query name, optional
    * checkpoint for restart durability, [[trigger]]) that every streaming
    * loop repeats. */
  def startForeachBatch(stream: DataFrame, queryName: String,
      continuous: Boolean, interval: String, checkpoint: Option[String])(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w0 = stream.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id); () }
    val w = checkpoint.fold(w0)(p => w0.option("checkpointLocation", p))
    w.trigger(trigger(continuous, interval)).start()
  }
}
