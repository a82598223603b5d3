package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.ext.Dedup

/** Incremental MinHash-LSH near-duplicate removal — the always-on form of
  * the q29/q44 batch sweep, closing the split [[CurationStream]] documents
  * (stream for ingest hygiene, periodic batch for near-dups): a re-crawled
  * document arriving days later drops on arrival instead of at the next
  * sweep. A [[DedupCore]] definition:
  *
  *  - units: the arrivals' shingle hashes, re-derived from the kept
  *    arrivals for each verify side (re-hashing one batch per side costs
  *    less than caching the wide arrays, measured);
  *  - cells: (doc, band, bucket) rows, kept — narrow, and the state the
  *    probe reads is the accumulated band table, never text;
  *  - accept: Jaccard ≥ `threshold`, with the OLD doc's shingles
  *    re-derived from the corpus keyed by candidate id (state stays
  *    narrow instead of staging every shingle array).
  *
  * Crash-replay is injected and asserted for both append modes in
  * StreamingSpec. */
final class IncrementalDedup(
    catalog: Catalog, docsTable: String, bandsTable: String,
    textCol: String = "text", idCol: String = "doc_id",
    shingleN: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
    exactlyOnce: Boolean = false)
    extends DedupCore(catalog, docsTable, idCol, exactlyOnce, "graft_incremental_dedup") {
  protected def payload = "sh"
  protected def units(batch: DataFrame) =
    batch.select(col(idCol), Dedup.shingleHashes(col(textCol), shingleN).as("sh"))
  protected def cells(batch: DataFrame, units: DataFrame) =
    Dedup.minhashTable(batch, textCol, idCol, shingleN, k, bands)
  protected def cellKeys = Seq("band", "bucket")
  override protected def keepsUnits = false
  protected def probed = bandsTable
  protected def probe(state: DataFrame, cells: DataFrame) =
    IncrementalDedup.stateCandidates(state, cells, idCol)
  protected def accept(a: Column, b: Column) =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)) >= threshold
  override protected def joinBack =
    Some((docsTable, Dedup.shingleHashes(col(textCol), shingleN)))
  protected def stateAppends(units: DataFrame, cells: DataFrame) =
    Seq((bandsTable, cells, Seq(idCol, "band")))
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
  * streaming matrix (the state-backed twin of [[graft.ext.Dedup]]'s exact
  * family, which the by-kind dispatcher runs for video pools at
  * byte-identical tolerance). A [[DedupCore]] definition whose units and
  * cells are the same kept (id, fp) md5 digest rows: the probe joins the
  * digest state on `fp` and carries both digests, and the accept is digest
  * equality. The digest state is one 32-character hex digest per accepted
  * row — the cheapest of the six streaming dedup families. */
final class IncrementalExactDedup(
    catalog: Catalog, docsTable: String, digestsTable: String,
    payloadCol: String = "payload", idCol: String = "media_id",
    exactlyOnce: Boolean = false)
    extends DedupCore(catalog, docsTable, idCol, exactlyOnce, "graft_incremental_exact") {
  protected def payload = "fp"
  protected def units(batch: DataFrame) =
    batch.select(col(idCol), md5(col(payloadCol)).as("fp"))
  protected def cells(batch: DataFrame, units: DataFrame) = units
  protected def cellKeys = Seq("fp")
  override protected def keepsCells = false
  protected def probed = digestsTable
  protected def probe(state: DataFrame, cells: DataFrame) =
    state.select(col("fp").as("fp_b"))
      .join(broadcast(cells), col("fp") === col("fp_b"))
      .select(col(idCol), col("fp").as("fp_a"), col("fp_b"))
  protected def accept(a: Column, b: Column) = a === b
  protected def stateAppends(units: DataFrame, cells: DataFrame) =
    Seq((digestsTable, units, Seq(idCol)))
}
