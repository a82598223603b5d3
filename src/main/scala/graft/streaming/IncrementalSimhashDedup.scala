package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.ext.{Dedup, Multimodal}

/** Incremental SimHash near-duplicate removal: a re-crawled document
  * arriving days later drops on arrival by Manku-blocked hamming
  * distance, instead of waiting for a batch re-mine of the persisted
  * block relation. A [[DedupCore]] definition: kept 64-bit signature
  * units, and block cells re-derived from them per consumer — cheap
  * scan-stage shifts (never cache the (maxHamming+1)x exploded relation).
  * The signature rides IN the block relation, so the probe carries both
  * signatures and verification is a `bit_count(xor)` ≤ radius with no
  * corpus join-back; zero false negatives by the pigeonhole guarantee.
  *
  * `signature` generalizes the loop over ANY nullable 64-bit content
  * signature whose hamming distance is a near-dup radius —
  * [[IncrementalImageDedup]] passes dHash over image payloads. Null
  * signatures (undecodable payloads) emit no block rows: they match
  * nothing and SURVIVE.
  *
  * The radius is FROZEN by the first batch: the table's self-stamped
  * `max_hamming` is checked against this loop's on first probe and a
  * mismatch fails loudly. Equality with the batch [[Dedup.simhashPairs]]
  * sweep on chain-free data is asserted in StreamingSpec. */
final class IncrementalSimhashDedup(
    catalog: Catalog, docsTable: String, blocksTable: String,
    maxHamming: Int = 3, textCol: String = "text", idCol: String = "doc_id",
    exactlyOnce: Boolean = false,
    signature: Column => Column = Dedup.simhash)
    extends DedupCore(catalog, docsTable, idCol, exactlyOnce, "graft_incremental_simhash") {
  require(maxHamming >= 0 && maxHamming <= 15,
    s"maxHamming must be in [0, 15], got $maxHamming")
  protected def payload = "sh"
  protected def units(batch: DataFrame) =
    batch.select(col(idCol), signature(col(textCol)).as("sh")).filter(col("sh").isNotNull)
  protected def cells(batch: DataFrame, units: DataFrame) =
    Dedup.simhashBlockTable(units, idCol, "sh", maxHamming)
  protected def cellKeys = IncrementalSimhashDedup.cellKeys
  override protected def keepsCells = false
  protected def probed = blocksTable
  protected def probe(state: DataFrame, cells: DataFrame) =
    IncrementalSimhashDedup.stateCandidates(state, cells, idCol)
  protected def accept(a: Column, b: Column) = Dedup.hamming(a, b) <= maxHamming
  protected def stateAppends(units: DataFrame, cells: DataFrame) =
    Seq((blocksTable, cells, Seq(idCol, "blk")))
  override protected def stampedRadius = Some(maxHamming)
}

/** Incremental IMAGE near-duplicate removal: a thin dHash instantiation of
  * [[IncrementalSimhashDedup]] (hamming over dHash bits is the same
  * algebra as over token-vote simhash bits). Arrivals are
  * (idCol, payloadCol) rows; a re-uploaded thumbnail within the perceptual
  * radius of an accepted image drops on arrival, and undecodable payloads
  * survive with no block rows. Drop-on-arrival and batch-sweep equality
  * are StreamingSpec-pinned. */
object IncrementalImageDedup {
  def apply(catalog: Catalog, mediaTable: String, blocksTable: String,
      maxHamming: Int = 3, payloadCol: String = "payload",
      idCol: String = "media_id", exactlyOnce: Boolean = false): IncrementalSimhashDedup =
    new IncrementalSimhashDedup(catalog, mediaTable, blocksTable, maxHamming,
      payloadCol, idCol, exactlyOnce,
      signature = p => graft.functions.ImageDHash(p).getField("dhash"))
}

object IncrementalSimhashDedup {
  private[streaming] val cellKeys = Seq("bkey", "blk", "bits")

  /** (arrival_id, old_id, sh_a, sh_b) collision candidates: the
    * corpus-global block table probed by a micro-batch's blocks — `bkey`
    * equi-key, XOR residuals, arrivals broadcast so the accumulated state
    * is scanned, never shuffled. Carries both signatures out so the
    * hamming verify needs no join-back. Plan shape pinned in
    * StreamingSpec. */
  private[graft] def stateCandidates(state: DataFrame, newBlocks: DataFrame,
      idCol: String): DataFrame = {
    val olds = state.select(col("bkey"), col("blk").as("blk_b"),
      col("bits").as("bits_b"), col(idCol).as("old_id"), col("sh").as("sh_b"))
    val news = newBlocks.select(col("bkey").as("bkey_a"), col("blk"),
      col("bits"), col(idCol), col("sh").as("sh_a"))
    olds.join(broadcast(news), col("bkey") === col("bkey_a") &&
        col("blk").bitwiseXOR(col("blk_b")) === lit(0) &&
        col("bits").bitwiseXOR(col("bits_b")) === lit(0L))
      .select(col(idCol), col("old_id"), col("sh_a"), col("sh_b")).distinct()
  }
}

/** Incremental MULTI-FRAME video near-duplicate removal — the streaming
  * twin of the `video_anyframe_dhash` batch family: a re-uploaded video
  * whose leading frames were CUT drops on arrival by any-frame dHash
  * matching, where the frame-0 loop ([[IncrementalImageDedup]] over AVI
  * payloads) measurably misses it (frame-0 detection 0.003 at any trim,
  * any-frame 1.000 through K−1 frames).
  *
  * [[IncrementalSimhashDedup]]'s definition over packed units
  * `fid = media_id << 6 | frame_idx`: each arrival's K frames are
  * fingerprinted scan-side ([[Multimodal.videoFrameFingerprints]];
  * undecodable frames yield no rows, so frameless videos SURVIVE), and an
  * arrival drops when ANY of its frames sits within the radius of an
  * accepted video's frame, or of a LOWER-id arrival's in the same batch.
  * Equality with the batch pair-closure sweep on chain-free data is the
  * StreamingSpec pin (on a chain the batch form drops strictly more). */
final class IncrementalVideoFrameDedup(
    catalog: Catalog, docsTable: String, blocksTable: String,
    frames: Int = 3, maxHamming: Int = 3,
    payloadCol: String = "payload", idCol: String = "media_id",
    exactlyOnce: Boolean = false)
    extends DedupCore(catalog, docsTable, idCol, exactlyOnce, "graft_incremental_videoframe") {
  require(frames >= 1 && frames <= Multimodal.MaxVideoFrames,
    s"frames must be 1..${Multimodal.MaxVideoFrames}, got $frames")
  require(maxHamming >= 0 && maxHamming <= 15,
    s"maxHamming must be in [0, 15], got $maxHamming")
  override protected def packed = true
  protected def payload = "sh"
  protected def units(batch: DataFrame) =
    Multimodal.videoFrameFingerprints(
        batch.select(col(idCol).as("media_id"), col(payloadCol).as("payload")), frames)
      .filter(col("dhash").isNotNull)
      .select((shiftleft(col("media_id"), 6) + col("frame_idx")).as("fid"),
        col("dhash").as("sh"))
  protected def cells(batch: DataFrame, units: DataFrame) =
    Dedup.simhashBlockTable(units, "fid", "sh", maxHamming)
  protected def cellKeys = IncrementalSimhashDedup.cellKeys
  override protected def keepsCells = false
  protected def probed = blocksTable
  protected def probe(state: DataFrame, cells: DataFrame) =
    IncrementalSimhashDedup.stateCandidates(state, cells, "fid")
  protected def accept(a: Column, b: Column) = Dedup.hamming(a, b) <= maxHamming
  protected def stateAppends(units: DataFrame, cells: DataFrame) =
    Seq((blocksTable, cells, Seq("fid", "blk")))
  override protected def stampedRadius = Some(maxHamming)
}
