package graft

import graft.ext.{Dedup, Multimodal, Similarity}
import graft.functions.WavPcm
import org.apache.spark.sql.functions._

/** r20 optimization-round equivalence pins: each restructured operator is
  * pinned ROW-EQUAL to the composition it replaced, so the faster shape
  * can never drift from the published semantics.
  *
  * 1. [[Similarity.lshScoredCollisions]] (pre-distinct survivor stream)
  *    reconciles to exactly [[Similarity.nearDupPairsLsh]]'s pair set —
  *    and the aggregate-form consumer ([[Multimodal.audioAnySegmentNearDups]])
  *    equals the old distinct-first composition.
  * 2. The feature/image assign wrappers, which hand their complete id
  *    set to the one completion join of [[graft.ext.CandidatePairs.assign]],
  *    equal the old assignment-join composition.
  */
class OptR20Spec extends SparkSpec {
  import spark.implicits._

  private val Seg = 2048
  private def clip(seed: Long, windows: Int = 2, trim: Int = 0): Array[Byte] =
    WavPcm.encodePcm16(16000, 1,
      Multimodal.waveformSamples(seed, windows * Seg, trim))

  test("lshScoredCollisions reconciles to nearDupPairsLsh exactly " +
      "(distinct∘stream == published pairs; stream is duplicate-bearing)") {
    val emb = (0L until 64L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val published = Similarity.nearDupPairsLsh(emb, threshold = 0.5,
      nPlanes = 3, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stream = Similarity.lshScoredCollisions(emb, threshold = 0.5,
      nPlanes = 3, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(stream.toSet == published, "stream's SET must equal the pair set")
    // the stream is genuinely pre-reconciliation: with 8 tables a near-dup
    // pair collides in several, so duplicates must exist for the
    // aggregate-form consumers to be absorbing anything real
    assert(stream.length > stream.toSet.size,
      "expected duplicate (pair, table) rows in the pre-distinct stream")
  }

  test("audioAnySegmentNearDups (aggregate form) equals the old " +
      "distinct-first composition row for row") {
    // twins via trim + unrelated clips, the AudioTrimSpec corpus shape
    val rows = Seq(
      (1L, clip(10L)), (2L, clip(10L)), // exact twin
      (3L, clip(30L)), (4L, clip(40L)), (5L, clip(50L)),
      (6L, clip(30L, trim = Seg))) // trimmed twin of 3 (shares a window)
      .toDF("media_id", "payload")
    val segs = Multimodal.audioSegmentFeatures(rows, Seg, 2)
    val agg = Multimodal.audioAnySegmentNearDups(segs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the pre-r20 shape: published pairs (distinct inside) → per-media max
    val packed = segs.filter(col("feature").isNotNull)
      .select((shiftleft(col("media_id"), 6) + col("segment_idx")).as("fid"),
        col("feature"))
    val old = Similarity.nearDupPairsLsh(packed, 0.9,
        idCol = "fid", vecCol = "feature")
      .select(shiftright(col("id_a"), 6).as("media_a"),
        shiftright(col("id_b"), 6).as("media_b"), col("cosine_sim"))
      .filter(col("media_a") =!= col("media_b"))
      .groupBy("media_a", "media_b")
      .agg(max(col("cosine_sim")).as("best_cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(agg == old)
    assert(agg.exists { case (a, b, _) => (a, b) == (1L, 2L) },
      "the exact twin pair must be present")
  }

  test("feature-assign wrappers equal the old nearDupAssign composition") {
    val feats = ((0L until 40L).map { i =>
      // planted twins: i and i+20 share the feature direction
      (i, Some(Array.tabulate(6)(d =>
        (math.cos((i % 20) * 1.1 + d) + 2.0).toFloat).toSeq))
    } :+ (99L, None)).toDF("media_id", "feature")
    val wrapper = Multimodal.featureAssign(feats, threshold = 0.95)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val old = feats.select(col("media_id"))
      .join(Similarity.nearDupAssign(feats.filter(col("feature").isNotNull),
        0.95, idCol = "media_id", vecCol = "feature"),
        Seq("media_id"), "left_outer")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(wrapper == old)
    assert(wrapper.contains((99L, None)), "null-feature rows survive")
    assert(wrapper.exists { case (_, d) => d.isDefined },
      "planted twins must produce eliminations")
  }

  test("videoAnyFrameNearDups (aggregate form) equals the old " +
      "distinct-first composition row for row") {
    val fps = ((0L until 24L).flatMap { m =>
      (0 until 3).map { f =>
        // frame dhashes: media m%8 share patterns → cross-media matches
        (m, f, Some(0x1111111111111111L * (m % 8) + f))
      }
    } :+ ((99L, 0, None))).toDF("media_id", "frame_idx", "dhash")
    val agg = Multimodal.videoAnyFrameNearDups(fps, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val packed = fps.filter(col("dhash").isNotNull)
      .select((shiftleft(col("media_id"), 6) + col("frame_idx")).as("fid"),
        col("dhash"))
    val old = Dedup.simhashPairsFromSigs(packed, "fid", "dhash", maxHamming = 3)
      .select(shiftright(col("doc_a"), 6).as("media_a"),
        shiftright(col("doc_b"), 6).as("media_b"), col("hamming"))
      .filter(col("media_a") =!= col("media_b"))
      .groupBy("media_a", "media_b")
      .agg(min(col("hamming")).cast("long").as("min_hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(agg == old)
    assert(agg.nonEmpty, "shared frame patterns must pair across media")
  }

  test("imageAssign equals the old simhashAssignFromBlocks composition") {
    val fps = ((0L until 30L).map { i =>
      (i, Some(0x0F0F0F0FL * (i % 10) + (i % 3))) // radius-groups + ties
    } :+ (98L, None)).toDF("media_id", "dhash")
    val wrapper = Multimodal.imageAssign(fps, maxHamming = 3)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val old = fps.select(col("media_id"))
      .join(Dedup.simhashAssignFromBlocks(
        Dedup.simhashBlockTable(fps.filter(col("dhash").isNotNull),
          "media_id", "dhash", maxHamming = 3),
        "media_id"), Seq("media_id"), "left_outer")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(wrapper == old)
    assert(wrapper.contains((98L, None)), "null-dhash rows survive")
    assert(wrapper.exists { case (_, d) => d.isDefined },
      "radius groups must produce eliminations")
  }
}
