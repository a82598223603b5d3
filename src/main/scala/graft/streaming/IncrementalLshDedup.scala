package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.ext.{CandidatePairs, Multimodal, Similarity}

/** Incremental embedding near-duplicate removal — [[IncrementalDedup]]'s
  * contract over the hyperplane-LSH collision relation
  * ([[Similarity.lshTable]]): a re-embedded or re-crawled vector arriving
  * days later drops on arrival instead of waiting for the next batch
  * rebuild of the persisted bucket table. A [[DedupCore]] definition:
  * kept vector units and (id, ckey, tbl, bucket) cells, the `ckey`
  * equi-key + XOR-residual probe ([[IncrementalLshDedup.stateCandidates]]),
  * and exact cosine against the OLD vectors joined back from the corpus.
  *
  * On chain-free data the stream equals the batch
  * [[Similarity.nearDupPairsLsh]] sweep at the same explicit
  * (nPlanes, nTables) — asserted in StreamingSpec. The config is EXPLICIT
  * by design: auto-sizing re-derives knobs from the corpus size, but the
  * bucket table's plane set is fixed the moment the first batch lands. */
final class IncrementalLshDedup(
    catalog: Catalog, vecsTable: String, bucketsTable: String,
    nPlanes: Int, nTables: Int, threshold: Double,
    idCol: String = "vec_id", vecCol: String = "embedding")
    extends DedupCore(catalog, vecsTable, idCol, "graft_incremental_lsh") {
  require(nPlanes >= 1 && nTables >= 1,
    s"explicit LSH config required, got ($nPlanes, $nTables)")
  protected def payload = vecCol
  protected def units(batch: DataFrame) = batch.select(col(idCol), col(vecCol))
  protected def cells(batch: DataFrame, units: DataFrame) =
    Similarity.lshTable(units, nPlanes, nTables, idCol, vecCol)
  protected def cellKeys = IncrementalLshDedup.cellKeys
  protected def probed = bucketsTable
  protected def probe(state: DataFrame, cells: DataFrame) =
    IncrementalLshDedup.stateCandidates(state, cells, idCol)
  protected def accept(a: Column, b: Column) = IncrementalLshDedup.accept(a, b, threshold)
  override protected def joinBack = Some((vecsTable, col(vecCol)))
  protected def stateAppends(units: DataFrame, cells: DataFrame) =
    Seq((bucketsTable, cells))
}

object IncrementalLshDedup {
  private[streaming] val cellKeys = Seq("ckey", "tbl", "bucket")

  /** `round(cosine, 6) > threshold`, the scoring row
    * [[Similarity.nearDupPairsLsh]] emits, so stream and sweep agree pair
    * by pair. */
  private[streaming] def accept(a: Column, b: Column, threshold: Double): Column =
    round(Similarity.cosine(a, b), 6) > threshold

  /** (arrival_id, old_id) collision candidates: the corpus-global bucket
    * table probed by a micro-batch's bucket rows — `ckey` equi-key, XOR
    * residuals, and the ARRIVALS side broadcast so the accumulated state
    * is scanned, never shuffled (without the hint the planner sort-merges
    * BOTH sides and re-shuffles the whole state table every micro-batch).
    * Plan shape is pinned in StreamingSpec. */
  private[graft] def stateCandidates(state: DataFrame, newBuckets: DataFrame,
      idCol: String): DataFrame = {
    val olds = state.select(col("ckey"), col("tbl").as("tbl_b"),
      col("bucket").as("bucket_b"), col(idCol).as("old_id"))
    val news = newBuckets.select(col("ckey").as("ckey_a"), col("tbl"),
      col("bucket"), col(idCol))
    olds.join(broadcast(news), col("ckey") === col("ckey_a") &&
        CandidatePairs.sameCell(col("tbl") -> col("tbl_b"), col("bucket") -> col("bucket_b")))
      .select(col(idCol), col("old_id")).distinct()
  }
}

/** Incremental ANY-SEGMENT audio near-duplicate removal — the streaming
  * twin of [[Multimodal.audioAnySegmentNearDups]]: a head-trimmed
  * re-encode (the podcast/ad cut, invisible to the whole-clip envelope
  * the [[IncrementalLshDedup]] audio rung scores) drops ON ARRIVAL when
  * ANY of its fixed-length windows scores above `threshold` cosine
  * against any accepted clip's window. A [[DedupCore]] definition over
  * packed units `fid = media_id << 6 | segment_idx`: kept per-window
  * features, kept hyperplane-LSH cells, and two state tables — the bucket
  * relation the probe reads and the per-segment feature table
  * (`segsTable`) the cosine verification joins back. Clips with no
  * decodable window emit no segment rows: they match nothing and SURVIVE.
  * `spectral = true` swaps the window descriptor for |DFT| magnitudes,
  * the OFF-GRID variant (a re-cut at t·window + δ, δ ≤ the 512-sample
  * band, still drops). Chain-free equality with the batch any-segment
  * sweep is the AudioTrimSpec pin; the LSH config is EXPLICIT (the
  * write-once bucket-table contract of [[IncrementalLshDedup]]). */
final class IncrementalAudioSegmentDedup(
    catalog: Catalog, clipsTable: String, bucketsTable: String,
    segsTable: String,
    nPlanes: Int, nTables: Int, threshold: Double = 0.9,
    segments: Int = 4, segmentSamples: Int = 2048, frames: Int = 16,
    payloadCol: String = "payload", idCol: String = "media_id",
    spectral: Boolean = false)
    extends DedupCore(catalog, clipsTable, idCol, "graft_incremental_audioseg") {
  require(nPlanes >= 1 && nTables >= 1,
    s"explicit LSH config required, got ($nPlanes, $nTables)")
  require(segments >= 1 && segments <= Multimodal.MaxAudioSegments,
    s"segments must be 1..${Multimodal.MaxAudioSegments}, got $segments")
  override protected def packed = true
  protected def payload = "feature"
  protected def units(batch: DataFrame) =
    Multimodal.audioSegmentFeatures(
        batch.select(col(idCol).as("media_id"), col(payloadCol).as("payload")),
        segmentSamples, segments, frames,
        descriptor = if (spectral) "spectral" else "envelope")
      .filter(col("feature").isNotNull)
      .select((shiftleft(col("media_id"), 6) + col("segment_idx")).as("fid"),
        col("feature"))
  protected def cells(batch: DataFrame, units: DataFrame) =
    Similarity.lshTable(units, nPlanes, nTables, "fid", "feature")
  protected def cellKeys = IncrementalLshDedup.cellKeys
  protected def probed = bucketsTable
  protected def probe(state: DataFrame, cells: DataFrame) =
    IncrementalLshDedup.stateCandidates(state, cells, "fid")
  protected def accept(a: Column, b: Column) = IncrementalLshDedup.accept(a, b, threshold)
  override protected def joinBack = Some((segsTable, col("feature")))
  protected def stateAppends(units: DataFrame, cells: DataFrame) =
    Seq((segsTable, units), (bucketsTable, cells))
}
