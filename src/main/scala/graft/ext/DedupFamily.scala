package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One dedup family as the planner knows it: the single definition
  * [[Dedup.recommendFamily]]'s ladders pick from, [[Dedup.plan]] sizes,
  * [[Dedup.runPlan]] executes and [[Dedup.planByKind]] derives a mining
  * table for.
  *
  * @param name           the family name a [[Dedup.DedupPlan]] carries
  * @param entryPoint     the production call it names, given its unit
  *                       count (sampled frames or windows per clip)
  * @param derive         its mining table from `(media_id, payload)` rows
  *                       and a unit count; None for families whose input
  *                       is caller-supplied (text, model embeddings)
  * @param embeddingLike  `plan` sizes it as embedding LSH over `vecCol`
  * @param operatingPoint the cosine threshold its measured detection
  *                       holds at, stamped on every plan of it
  * @param run            its survivor assignment, `(idCol, dup_of)` */
private[graft] final case class DedupFamily(name: String,
    entryPoint: Int => String,
    derive: Option[(DataFrame, Int) => DataFrame],
    embeddingLike: Boolean,
    operatingPoint: Option[Double],
    run: DedupFamily.Run => DataFrame)

private[graft] object DedupFamily {

  /** [[Dedup.runPlan]]'s arguments, as a family's `run` reads them. */
  final case class Run(plan: Dedup.DedupPlan, data: DataFrame, idCol: String,
      textCol: String, vecCol: String, jaccardThreshold: Double,
      maxHamming: Int, scratchDir: String, knownCount: Long) {
    /** The Manku split for the corpus size: the Manku-blocked families
      * size at run time, from `knownCount` when the caller supplies one
      * (a second scan of a large non-parquet input otherwise), else by
      * counting `data` (for the any-frame tier that is frame rows, the
      * axis its collision mass grows on). */
    def blocks: Int =
      Dedup.simhashParams(if (knownCount >= 0) knownCount else data.count(),
        maxHamming)._1
  }

  val Exact = DedupFamily("exact",
    _ => "Dedup.dropExactDuplicates (over text or payload digests)",
    Some((rows, _) => rows), embeddingLike = false, operatingPoint = None,
    run = r => {
      // min id per digest as an assignment relation: one 32-char-keyed
      // shuffle, the dropExactDuplicates survivor set
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col(r.textCol).cast("binary")))
      r.data
        .select(col(r.idCol), min(col(r.idCol)).over(w).as("__keeper"))
        .select(col(r.idCol),
          when(col(r.idCol) === col("__keeper"), lit(null).cast("long"))
            .otherwise(col("__keeper")).as("dup_of"))
    })

  val Simhash = DedupFamily("simhash",
    _ => "Dedup.simhashBlockTable + simhashPairsFromBlocks",
    None, embeddingLike = false, operatingPoint = None,
    run = r => Dedup.simhashAssign(r.data, r.textCol, r.idCol, r.maxHamming,
      r.blocks))

  // the production (k=32, b=8) the detection sweep measured
  val Minhash = DedupFamily("minhash",
    _ => "Dedup.minhashTable + bandCandidates",
    None, embeddingLike = false, operatingPoint = None,
    run = r => Dedup.minhashAssign(r.data, r.textCol, r.idCol, shingleN = 3, k = 32,
      bands = 8, r.jaccardThreshold))

  val EmbeddingLsh = DedupFamily("embedding_lsh",
    _ => "Similarity.lshParamsMeasured + nearDupPairsLsh (at that config)",
    None, embeddingLike = true, operatingPoint = None,
    run = embeddingAssign)

  // data = a (media_id, dhash) fingerprint table
  val ImageDhash = DedupFamily("image_dhash",
    _ => "Multimodal.imageFingerprints + imageAssign",
    Some((rows, _) => Multimodal.imageFingerprints(rows)),
    embeddingLike = false, operatingPoint = None,
    run = r => Multimodal.imageAssign(r.data, r.maxHamming, r.blocks))

  // data = a (media_id, frame_idx, dhash) frame fingerprint table
  val VideoAnyFrameDhash = DedupFamily("video_anyframe_dhash",
    k => s"Multimodal.videoFrameFingerprints(frames = $k) + " +
      "videoAnyFrameNearDups (pair-closure assignment)",
    Some((rows, k) => Multimodal.videoFrameFingerprints(rows, k)),
    embeddingLike = false, operatingPoint = None,
    run = r => pairClosure(r, Multimodal.videoAnyFrameNearDups(r.data, r.maxHamming,
      r.blocks)))

  /** A descriptor tier: the embedding family over a derived
    * (media_id, feature) column, packaged at the cosine operating point
    * its sweep measured. Undecodable payloads (null feature) hash to no
    * cell and survive, the [[Multimodal.featureAssign]] contract; the
    * derived table's ids are the assignment's id set. */
  private def descriptorTier(name: String, features: String,
      derive: DataFrame => DataFrame): DedupFamily =
    DedupFamily(name, _ => s"Multimodal.$features + featureAssign (threshold 0.9)",
      Some((rows, _) => derive(rows)), embeddingLike = true,
      operatingPoint = Some(0.9),
      run = embeddingAssign)

  val ImageGridLsh = descriptorTier("image_grid_lsh", "imageGridFeatures",
    Multimodal.imageGridFeatures(_))
  val ImageSpectralLsh = descriptorTier("image_spectral_lsh",
    "imageSpectralFeatures", Multimodal.imageSpectralFeatures(_))
  val AudioEnvelopeLsh = descriptorTier("audio_envelope_lsh",
    "audioEnvelopeFeatures", Multimodal.audioEnvelopeFeatures(_))
  val AudioSpectralLsh = descriptorTier("audio_spectral_lsh",
    "audioSpectralFeatures", Multimodal.audioSpectralFeatures(_))

  /** An any-segment audio tier over (media_id, segment_idx, feature)
    * windows: its LSH sizes inside [[Multimodal.audioAnySegmentNearDups]]
    * from the segment-row count, so `plan` does not size it, but it runs
    * at the descriptor operating point. */
  private def anySegmentTier(name: String, descriptor: String): DedupFamily =
    DedupFamily(name,
      k => s"Multimodal.audioSegmentFeatures(segments = $k, descriptor = " +
        s"\"$descriptor\") + audioAnySegmentNearDups (threshold 0.9, " +
        "pair-closure assignment)",
      Some((rows, k) => Multimodal.audioSegmentFeatures(rows, segments = k,
        descriptor = descriptor)),
      embeddingLike = false, operatingPoint = Some(0.9),
      run = r => pairClosure(r, Multimodal.audioAnySegmentNearDups(r.data,
        r.plan.threshold)))

  val AudioAnySegmentLsh = anySegmentTier("audio_anysegment_lsh", "envelope")
  val AudioAnySegmentSpectralLsh =
    anySegmentTier("audio_anysegment_spectral_lsh", "spectral")

  val VideoHeaderBlocking = DedupFamily("video_header_blocking",
    _ => "Multimodal.videoHeaderCandidates (candidate pairs ONLY — no verification)",
    Some((rows, _) => rows), embeddingLike = false, operatingPoint = None,
    run = _ => throw new IllegalArgumentException(
      "video_header_blocking is a candidate PRE-FILTER, not an " +
        "assignment: header bands verify nothing about content, so " +
        "runPlan refuses rather than return unverified eliminations — " +
        "call Multimodal.videoHeaderCandidates directly for the candidate " +
        "pairs, or supply a video-embedding column / byte-identical " +
        "tolerance to get an executable plan"))

  val All: Seq[DedupFamily] = Seq(Exact, Simhash, Minhash, EmbeddingLsh,
    ImageDhash, VideoAnyFrameDhash, ImageGridLsh, ImageSpectralLsh,
    AudioEnvelopeLsh, AudioSpectralLsh, AudioAnySegmentLsh,
    AudioAnySegmentSpectralLsh, VideoHeaderBlocking)

  private val byName: Map[String, DedupFamily] = All.map(f => f.name -> f).toMap

  def named(name: String): DedupFamily = byName.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown plan family '$name' — runPlan executes plans built by Dedup.plan"))

  /** The pair-closure assignment of the any-unit tiers: every media id of
    * `data`, `dup_of` = its smallest pair partner. Everything with a
    * smaller partner drops (the batch-sweep convention, more shrinkage on
    * chains than a per-cell greedy star, with the same soundness: each
    * elimination is a verified pair toward a smaller id, and component
    * minima survive); media with no decodable unit match nothing. */
  private def pairClosure(r: Run, pairs: DataFrame): DataFrame =
    r.data.select(col("media_id").as(r.idCol)).distinct()
      .join(pairs.groupBy(col("media_b").as(r.idCol))
        .agg(min(col("media_a")).as("dup_of")),
        Seq(r.idCol), "left_outer")

  /** The embedding families' assignment of every `data` row at the plan's
    * sized (planes, tables): one-shot through the bucket table, or in the
    * plan's P budget-bounded passes (pass files under `scratchDir`, whose
    * lifecycle is the caller's — the lshCandidatesPartitioned contract).
    * Null vectors hash to no cell, so their rows survive. */
  private def embeddingAssign(r: Run): DataFrame = {
    val p = r.plan
    val (planes, tables) = p.lshConfig.getOrElse(throw new IllegalArgumentException(
      s"${p.family} plan carries no lshConfig — build plans with Dedup.plan"))
    val bucketTable = Similarity.lshTable(r.data, planes, tables, r.idCol, r.vecCol)
    if (p.miningMode == "one_shot")
      Similarity.nearDupAssignFromTable(bucketTable, r.data, p.threshold,
        r.idCol, r.vecCol)
    else {
      require(r.scratchDir.nonEmpty,
        "partitioned embedding mining needs a scratchDir (pass files; " +
          "caller-owned lifecycle)")
      val perPass = math.max(1, math.ceil(tables.toDouble / p.partitions).toInt)
      Similarity.nearDupAssignGrouped(bucketTable, r.data, p.threshold,
        r.scratchDir, r.idCol, r.vecCol, perPass)
    }
  }
}
