package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Catalog, Clock, Scope, SystemClock}
import graft.ext.TextStats

/** Streaming twin of the q44 curation pipeline — the always-on ingest form
  * of LLM training-data cleaning.
  *
  * Scan-side stages (language gate, token-count range, quality floor) are
  * the SAME native/codegen column expressions the batch query uses — they
  * attach to a stream unchanged. Exact dedup becomes
  * `dropDuplicatesWithinWatermark` on the content digest: state holds one
  * digest per distinct document inside the watermark horizon and expires
  * with event time, so memory is bounded by the dedup window, not the
  * stream's lifetime.
  *
  * Near-duplicate removal is deliberately NOT in the stream: LSH pair
  * state is cross-batch and corpus-global, which a per-key watermark
  * cannot bound. The production shape is this stream for ingest hygiene +
  * periodic batch LSH sweeps (q29/q44's stage) over the accumulated table
  * — the same split the reference's daily-cron design implies.
  */
object CurationStream {

  /** Curated stream: rows that pass the language/length/quality gates and
    * are the FIRST occurrence of their content digest within the watermark
    * horizon. Column thresholds mirror q44. */
  def curate(docs: DataFrame, textCol: String = "text", tsCol: String = "ts",
      lang: String = "en", minTokens: Long = 5L, maxTokens: Long = 5000L,
      minQuality: Double = 0.0, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .withColumn("lang_guess", TextStats.langGuess(col(textCol)))
      .withColumn("__m", TextStats.metrics(col(textCol)))
      .withColumn("n_tokens", col("__m.n_tokens"))
      .withColumn("quality_score",
        // guarded like TextStats.qualityScore: ANSI double division
        // aborts on a token-less doc, and a stream must survive any row
        when(col("__m.n_tokens") > 0,
          col("__m.stops") / col("__m.n_tokens")) -
          when(col("__m.n_chars") > 0,
            col("__m.punct") / col("__m.n_chars")))
      .drop("__m")
      .filter(col("lang_guess") === lang)
      .filter(col("n_tokens").between(minTokens, maxTokens))
      .filter(col("quality_score") > minQuality)
      .withColumn("__fp", md5(col(textCol).cast("binary")))
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp", "lang_guess")

  /** Media-stream curation gates — the MULTIMODAL twin of [[curate]]: a
    * real header decode ([[graft.functions.MediaHeader]], scan-side)
    * gates decodability and dimensions the way the language/length/
    * quality expressions gate text; exact dedup is
    * `dropDuplicatesWithinWatermark` on the payload digest; the sampling
    * stage is the curation family's own deterministic
    * [[graft.ext.Sampling.mixtureKeep]] on the media id (`sampleRate` =
    * 1.0 keeps everything). Pure column expressions throughout — the SAME
    * frame batch-executes for the StreamingSpec end-to-end equality pin.
    *
    * `geometricTolerance` > 0 (crop-shift pixels, the
    * [[graft.ext.Dedup.recommendFamily]] knob) additionally computes the
    * TRANSLATION-INVARIANT spectral descriptor
    * ([[graft.functions.ImageSpectralFeature]]) scan-side and carries it
    * out as a `feature` column — the embedding the perceptual stage and
    * any downstream ANN key on, extracted exactly once per payload (the
    * [[curateAudio]] shape; the r16 crop sweep measured the spectral tier
    * holding 0.970 detection at 8 px where dHash reads 0.000). With the
    * knob on, a payload whose header passes but whose PIXEL decode fails
    * is REJECTED by the feature gate — the documented stream-vs-batch
    * contract difference [[curateAudio]] pins: a stream curation's output
    * feeds training directly, and "emit clean" is its contract. */
  def curateMedia(media: DataFrame, payloadCol: String = "payload",
      idCol: String = "media_id", tsCol: String = "ts",
      minWidth: Long = 9L, minHeight: Long = 8L, sampleRate: Double = 1.0,
      watermark: String = "1 hour", geometricTolerance: Double = 0.0,
      spectralMaxFreq: Int = 3): DataFrame = {
    val gated = (if (media.isStreaming) media.withWatermark(tsCol, watermark)
                 else media)
      .withColumn("__h", graft.functions.MediaHeader(col(payloadCol)))
      .filter(col("__h.error").isNull &&
        col("__h.width") >= minWidth && col("__h.height") >= minHeight)
      .drop("__h")
      .filter(graft.ext.Sampling.mixtureKeep(col(idCol), sampleRate))
      .withColumn("__fp", md5(col(payloadCol)))
    // batch twin keeps the LOWEST id per digest — deterministic, and the
    // same row the stream's first-arrival keeps under id-ordered arrivals
    // (dropDuplicates would keep an arbitrary one, breaking the
    // StreamingSpec equality pin on replays)
    val exact = (if (media.isStreaming) gated.dropDuplicatesWithinWatermark("__fp")
     else gated
       .withColumn("__keep", col(idCol) === min(col(idCol)).over(
         org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
       .filter(col("__keep")).drop("__keep"))
      .drop("__fp")
    if (geometricTolerance <= 0.0) exact
    else exact
      .withColumn("feature",
        graft.functions.ImageSpectralFeature(col(payloadCol), spectralMaxFreq)
          .getField("feature"))
      .filter(col("feature").isNotNull)
  }

  /** Run [[curateMedia]] end-to-end into a catalog table with STATE-BACKED
    * perceptual near-dup removal — the multimodal pipeline the text form
    * deliberately cannot be: text LSH pair state is corpus-global (batch
    * sweeps own it, see the class scaladoc), but the image family's Manku
    * block state is BOUNDED (maxHamming+1 rows per accepted image), so a
    * multimodal corpus stream-curates END TO END: header/dimension gates →
    * deterministic sample → exact payload dedup → per-batch
    * [[IncrementalImageDedup]] (a re-uploaded thumbnail within the
    * perceptual radius of an accepted image drops on arrival; undecodable
    * payloads already gated). Survivors append exactly-once with the
    * [[curateToTable]] wall-clock `arrival_ts` stamp; drop-on-arrival ==
    * batch-sweep equality is the StreamingSpec pin. */
  /** `geometricTolerance` > 0 swaps the perceptual stage: the spectral
    * descriptor rides out of [[curateMedia]] as a `feature` column and
    * the state-backed dedup becomes [[IncrementalLshDedup]] over it (the
    * [[curateAudioToTable]] shape — `blocksTable` then holds the LSH
    * bucket relation at the EXPLICIT (`nPlanes`, `nTables`) config,
    * fixed the moment the first batch lands), so a re-FRAMED re-upload
    * inside the spectral tier's measured crop band drops on arrival
    * where the dHash tier would silently miss it (r16 sweep: dHash
    * detection 0.000 by 4 px shift). At 0 the dHash tier runs as before. */
  def curateMediaToTable(media: DataFrame, catalog: Catalog, table: String,
      blocksTable: String, clock: Clock = SystemClock,
      payloadCol: String = "payload", idCol: String = "media_id",
      tsCol: String = "ts", minWidth: Long = 9L, minHeight: Long = 8L,
      sampleRate: Double = 1.0, maxHamming: Int = 3,
      watermark: String = "1 hour",
      queryName: String = "graft_media_curation_stream",
      continuous: Boolean = false, interval: String = "1 minute",
      checkpoint: Option[String] = None,
      geometricTolerance: Double = 0.0, spectralMaxFreq: Int = 3,
      nPlanes: Int = 8, nTables: Int = 4,
      threshold: Double = 0.9): StreamingQuery = {
    val gated = curateMedia(media, payloadCol, idCol, tsCol,
      minWidth, minHeight, sampleRate, watermark, geometricTolerance,
      spectralMaxFreq)
    val process: (DataFrame, Long) => Unit =
      if (geometricTolerance > 0.0) {
        val dedup = new IncrementalLshDedup(catalog, table, blocksTable,
          nPlanes, nTables, threshold, idCol, "feature")
        (batch, id) => dedup.processBatch(batch, id)
      } else {
        val dedup = IncrementalImageDedup(catalog, table, blocksTable,
          maxHamming, payloadCol, idCol)
        (batch, id) => dedup.processBatch(batch, id)
      }
    StreamingAppend.startForeachBatch(gated, queryName, continuous,
      interval, checkpoint) { (batch, id) =>
      process(batch.withColumn("arrival_ts", lit(clock.nowTs)), id)
      ()
    }
  }

  /** Audio-stream curation gates — [[curateMedia]] for the audio tier
    * (WAV + FLAC since r18, the [[graft.ext.Dedup.ModalityKinds]] audio
    * set): the [[graft.functions.MediaHeader]] parse gates
    * format/decodability/rate the way dimensions gate images, exact dedup is the payload digest,
    * sampling is the same deterministic `mixtureKeep`, and the envelope
    * DESCRIPTOR is computed scan-side and carried out as a `feature`
    * column — the embedding the perceptual stage and any downstream ANN
    * both key on, extracted exactly once per payload.
    *
    * One deliberate contract difference from the batch survivor relation
    * (where an undecodable clip SURVIVES — it has no content to match):
    * a clip whose header passes but whose PCM decode fails (float/24-bit
    * PCM, truncated data) is REJECTED here — a stream curation's output
    * feeds training directly, and "emit clean" is its contract; the
    * per-row error column is the batch pipeline's affordance. */
  def curateAudio(media: DataFrame, payloadCol: String = "payload",
      idCol: String = "media_id", tsCol: String = "ts",
      minSampleRate: Long = 8000L, sampleRate: Double = 1.0,
      frames: Int = 64, watermark: String = "1 hour"): DataFrame = {
    val gated = (if (media.isStreaming) media.withWatermark(tsCol, watermark)
                 else media)
      .withColumn("__h", graft.functions.MediaHeader(col(payloadCol)))
      // the audio pool's kinds (wav + flac since r18) — the same set the
      // by-kind dispatcher routes, so the two surfaces cannot drift
      .filter(col("__h.error").isNull &&
        col("__h.format").isin(
          graft.ext.Dedup.ModalityKinds("audio").toSeq: _*) &&
        col("__h.sample_rate") >= minSampleRate)
      .drop("__h")
      .filter(graft.ext.Sampling.mixtureKeep(col(idCol), sampleRate))
      .withColumn("__fp", md5(col(payloadCol)))
    val exact =
      (if (media.isStreaming) gated.dropDuplicatesWithinWatermark("__fp")
       else gated
         .withColumn("__keep", col(idCol) === min(col(idCol)).over(
           org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
         .filter(col("__keep")).drop("__keep"))
        .drop("__fp")
    exact
      .withColumn("feature",
        graft.functions.AudioEnvelopeFeature(col(payloadCol), frames)
          .getField("feature"))
      .filter(col("feature").isNotNull)
  }

  /** Run [[curateAudio]] end-to-end into a catalog table with STATE-BACKED
    * perceptual near-dup removal — the audio twin of
    * [[curateMediaToTable]]: the envelope descriptor IS an embedding, so
    * the perceptual stage is [[IncrementalLshDedup]] over the `feature`
    * column (state = the bucket relation, `nTables` rows per ACCEPTED
    * clip — linear like the image family's block state, catalog-backed,
    * arrivals broadcast so state is scanned never shuffled). A re-levelled
    * or lightly-jittered re-upload inside the envelope tier's measured
    * band (SCALE.md r16 sweeps) drops on arrival. The LSH config is
    * EXPLICIT by the streaming convention: the bucket table's plane set
    * is fixed the moment the first batch lands. Drop-on-arrival ==
    * batch-pipeline equality is the StreamingSpec pin. */
  def curateAudioToTable(media: DataFrame, catalog: Catalog, table: String,
      bucketsTable: String, nPlanes: Int, nTables: Int,
      clock: Clock = SystemClock,
      payloadCol: String = "payload", idCol: String = "media_id",
      tsCol: String = "ts", minSampleRate: Long = 8000L,
      sampleRate: Double = 1.0, frames: Int = 64, threshold: Double = 0.9,
      watermark: String = "1 hour",
      queryName: String = "graft_audio_curation_stream",
      continuous: Boolean = false, interval: String = "1 minute",
      checkpoint: Option[String] = None): StreamingQuery = {
    val dedup = new IncrementalLshDedup(catalog, table, bucketsTable,
      nPlanes, nTables, threshold, idCol, "feature")
    val gated = curateAudio(media, payloadCol, idCol, tsCol,
      minSampleRate, sampleRate, frames, watermark)
    StreamingAppend.startForeachBatch(gated, queryName, continuous,
      interval, checkpoint) { (batch, id) =>
      dedup.processBatch(batch.withColumn("arrival_ts", lit(clock.nowTs)), id)
      ()
    }
  }

  /** Mixed-modality streaming curation (r18) — the streaming twin of
    * [[graft.ext.Dedup.runPlanByKind]]: a REAL ingest stream is not one
    * modality, so this router detects each arrival's kind scan-side (ONE
    * [[graft.functions.MediaHeader]] parse per row — the `planByKind`
    * parse) and routes each micro-batch's pools into the existing
    * state-backed dedupers:
    *
    *  - image kinds (png/jpeg/gif/bmp) → [[IncrementalImageDedup]]
    *    (frame-capable dHash through ImageCodecs, radius `maxHamming`) —
    *    the batch dispatcher's `image_dhash` family;
    *  - audio kinds (wav/flac) → envelope descriptor scan-side, then
    *    [[IncrementalLshDedup]] over `feature` — the batch
    *    `audio_envelope_lsh` family at the same explicit config; clips
    *    whose header parses but whose PCM decode fails pass through like
    *    unrecognized rows (the BATCH survivor contract: no content to
    *    match — note this differs from [[curateAudio]]'s emit-clean gate,
    *    because this router's pin is batch equality). An
    *    `audioTrimTolerance` > 0 swaps in
    *    [[IncrementalAudioSegmentDedup]] (any-segment cosine over trim+1
    *    fixed-length windows — the r19 batch knob applied to the stream:
    *    a head-trimmed re-encode drops on arrival; undecodable clips then
    *    survive in the clips table, the runPlanByKind assignment shape);
    *  - video kinds (mp4/avi) → [[IncrementalExactDedup]] payload
    *    digests — the batch video pool's default byte-identical rung; a
    *    `videoTrimTolerance` > 0 swaps in
    *    [[IncrementalVideoFrameDedup]] (any-frame dHash over trim+1
    *    sampled frames — the batch dispatcher's knob applied to the
    *    stream: a re-CUT re-upload drops on arrival). The trim rung
    *    REQUIRES a frame-decodable pool: a micro-batch whose video pool
    *    carries a blocker per [[graft.ext.Dedup.videoPoolBlockers]] — a
    *    kind outside [[graft.ext.Dedup.FrameDecodableKinds]] other than
    *    jpeg-codec mp4, an opaque-codec mp4, a track-less mp4 — refuses
    *    loudly, mirroring the batch dispatcher's require (an undecodable
    *    VALID video yields no frames and would survive forever, even
    *    byte-identical re-uploads);
    *  - unrecognized/undecodable kinds ("unknown", malformed containers)
    *    PASS THROUGH to the others table — the `runPlanByKind`
    *    pass-through contract, never silently dropped.
    *
    * The kind sets are [[graft.ext.Dedup.ModalityKinds]] — the SAME map
    * the batch dispatcher reads, so stream and batch can never drift on
    * pool membership. Per-pool state/corpus tables live under
    * `tablePrefix` (`<p>_image`/`<p>_image_blocks`/`<p>_audio`/
    * `<p>_audio_buckets`/`<p>_audio_segs` (segment rung)/`<p>_video`/
    * `<p>_video_digests`/`<p>_video_blocks` (trim rung)/`<p>_others`).
    * Greedy-prefix == batch-dispatch equality on id-ordered chain-free
    * arrivals is the StreamingSpec pin, malformed classes included. */
  final class KindRouter(catalog: Catalog, tablePrefix: String,
      maxHamming: Int = 3, nPlanes: Int = 8, nTables: Int = 4,
      threshold: Double = 0.9, frames: Int = 64,
      payloadCol: String = "payload", idCol: String = "media_id",
      videoTrimTolerance: Int = 0,
      audioTrimTolerance: Int = 0,
      segmentSamples: Int = 2048,
      audioSegmentSpectral: Boolean = false) {
    require(videoTrimTolerance >= 0 &&
        videoTrimTolerance < graft.ext.Multimodal.MaxVideoFrames,
      s"videoTrimTolerance must be in [0, " +
        s"${graft.ext.Multimodal.MaxVideoFrames}), got $videoTrimTolerance " +
        "(a negative value would leave the video pool with NO rung and " +
        "fail opaquely on the first micro-batch)")
    require(audioTrimTolerance >= 0 &&
        audioTrimTolerance < graft.ext.Multimodal.MaxAudioSegments,
      s"audioTrimTolerance must be in [0, " +
        s"${graft.ext.Multimodal.MaxAudioSegments}), got $audioTrimTolerance")
    private val image = IncrementalImageDedup(catalog, s"${tablePrefix}_image",
      s"${tablePrefix}_image_blocks", maxHamming, payloadCol, idCol)
    // audioTrimTolerance > 0 swaps the audio pool's rung exactly like the
    // batch dispatcher's knob (r19): any-SEGMENT matching over trim+1
    // fixed-length windows (drops a head-trimmed re-encode the whole-clip
    // envelope provably misses — the r19 trim law) instead of the
    // whole-clip envelope LSH
    private val audioLsh: Option[IncrementalLshDedup] =
      if (audioTrimTolerance == 0)
        Some(new IncrementalLshDedup(catalog, s"${tablePrefix}_audio",
          s"${tablePrefix}_audio_buckets", nPlanes, nTables, threshold,
          idCol, "feature"))
      else None
    private val audioSegs: Option[IncrementalAudioSegmentDedup] =
      if (audioTrimTolerance > 0)
        Some(new IncrementalAudioSegmentDedup(catalog,
          s"${tablePrefix}_audio", s"${tablePrefix}_audio_buckets",
          s"${tablePrefix}_audio_segs", nPlanes, nTables, threshold,
          segments = audioTrimTolerance + 1, segmentSamples = segmentSamples,
          payloadCol = payloadCol, idCol = idCol, spectral = audioSegmentSpectral))
      else None
    // videoTrimTolerance > 0 swaps the video pool's rung exactly like the
    // batch dispatcher's knob: any-frame matching over trim+1 sampled
    // frames (drops a re-CUT re-upload the digest rung provably misses)
    // instead of byte-identical digests
    private val videoExact: Option[IncrementalExactDedup] =
      if (videoTrimTolerance == 0)
        Some(new IncrementalExactDedup(catalog, s"${tablePrefix}_video",
          s"${tablePrefix}_video_digests", payloadCol, idCol))
      else None
    private val videoFrames: Option[IncrementalVideoFrameDedup] =
      if (videoTrimTolerance > 0)
        Some(new IncrementalVideoFrameDedup(catalog, s"${tablePrefix}_video",
          s"${tablePrefix}_video_blocks", videoTrimTolerance + 1, maxHamming,
          payloadCol, idCol))
      else None
    private val othersChecked = scala.collection.mutable.Set.empty[String]

    /** Route one micro-batch; returns per-pool survivor counts. */
    def processBatch(batchRaw: DataFrame, batchId: Long): Map[String, Long] = Scope {
      import graft.ext.Dedup.ModalityKinds
      val headed = Scope.persist(batchRaw.withColumn("__kind",
        coalesce(graft.functions.MediaHeader(col(payloadCol))
          .getField("format"), lit("unknown"))))
      def pool(kinds: Set[String]): DataFrame =
        headed.filter(col("__kind").isin(kinds.toSeq: _*)).drop("__kind")
      val img = pool(ModalityKinds("image"))
      val audRaw = pool(ModalityKinds("audio"))
      // the envelope feature is computed ONLY for the whole-clip LSH
      // rung; the segment rung computes its own per-window features
      // inside IncrementalAudioSegmentDedup (one decode per clip)
      def aud = audRaw
        .withColumn("feature",
          graft.functions.AudioEnvelopeFeature(col(payloadCol), frames)
            .getField("feature"))
      val vid = pool(ModalityKinds("video"))
      // the trim rung's promise holds only for frame-decodable
      // containers — a non-decodable arrival (e.g. an opaque-codec mp4)
      // yields no frames and would SURVIVE FOREVER, even byte-identical
      // re-uploads. The batch dispatcher refuses exactly this mixed
      // pool (planByKindFrom's require); mirror it per micro-batch so
      // stream and batch cannot drift (r18 advice, medium).
      if (videoFrames.isDefined) {
        val vidKinds = headed
          .filter(col("__kind").isin(
            graft.ext.Dedup.ModalityKinds("video").toSeq: _*))
          .select("__kind").distinct().collect().map(_.getString(0)).toSet
        val blockers =
          if (vidKinds.subsetOf(graft.ext.Dedup.FrameDecodableKinds))
            Set.empty[String]
          else graft.ext.Dedup.videoPoolBlockers(headed, vidKinds,
            payloadCol)
        require(blockers.isEmpty,
          s"videoTrimTolerance $videoTrimTolerance needs a " +
            "frame-decodable video pool " +
            s"(${graft.ext.Dedup.FrameDecodableKinds.mkString("/")} or " +
            s"jpeg-codec mp4) but batch $batchId carries $blockers — " +
            "drop the knob, split the stream, or supply video " +
            "embeddings (the batch dispatcher refuses this same pool)")
      }
      // coalesce above makes __kind non-null, so a bare NOT-isin is
      // null-safe here (the r17-advice trap this router must not re-dig)
      val handled = ModalityKinds.values.flatten.toSeq
      val others = headed.filter(!col("__kind").isin(handled: _*))
        .drop("__kind")
      // header-parsed but content-undecodable audio SURVIVES (batch
      // contract). Routing differs by rung, each mirroring ITS batch
      // family: the whole-clip LSH rung sends undecodable clips to the
      // others append; the segment rung keeps them in the clips table
      // (they emit no segment rows and match nothing — the
      // runPlanByKind audio-pool assignment shape)
      val audBad =
        if (audioSegs.isDefined) audRaw.limit(0)
        else aud.filter(col("feature").isNull).drop("feature")
      val nImg = image.processBatch(img, batchId)
      val nAud = audioSegs.map(_.processBatch(audRaw, batchId))
        .orElse(audioLsh.map(_.processBatch(
          aud.filter(col("feature").isNotNull), batchId))).get
      val nVid = videoExact.map(_.processBatch(vid, batchId))
        .orElse(videoFrames.map(_.processBatch(vid, batchId))).get
      val passThrough = others.unionByName(audBad)
      val nOth = passThrough.count()
      if (nOth > 0)
        StreamingAppend.appendOnce(catalog, s"${tablePrefix}_others",
          passThrough, batchId, Nil, othersChecked)
      Map("image" -> nImg, "audio" -> nAud, "video" -> nVid,
        "others" -> nOth)
    }
  }

  /** Attach a [[KindRouter]] to a mixed media stream: watermark + exact
    * sampling gates, then per-kind routing each micro-batch, survivors
    * appended per pool with the wall-clock `arrival_ts` stamp. */
  def curateByKindToTable(media: DataFrame, catalog: Catalog,
      tablePrefix: String, clock: Clock = SystemClock,
      payloadCol: String = "payload", idCol: String = "media_id",
      tsCol: String = "ts", sampleRate: Double = 1.0,
      maxHamming: Int = 3, nPlanes: Int = 8, nTables: Int = 4,
      threshold: Double = 0.9, frames: Int = 64,
      watermark: String = "1 hour",
      queryName: String = "graft_mixed_curation_stream",
      continuous: Boolean = false, interval: String = "1 minute",
      checkpoint: Option[String] = None,
      videoTrimTolerance: Int = 0,
      audioTrimTolerance: Int = 0,
      segmentSamples: Int = 2048,
      audioSegmentSpectral: Boolean = false): StreamingQuery = {
    val router = new KindRouter(catalog, tablePrefix, maxHamming, nPlanes,
      nTables, threshold, frames, payloadCol, idCol, videoTrimTolerance,
      audioTrimTolerance, segmentSamples, audioSegmentSpectral)
    val gated = (if (media.isStreaming) media.withWatermark(tsCol, watermark)
                 else media)
      .filter(graft.ext.Sampling.mixtureKeep(col(idCol), sampleRate))
    StreamingAppend.startForeachBatch(gated, queryName, continuous,
      interval, checkpoint) { (batch, id) =>
      router.processBatch(
        batch.withColumn("arrival_ts", lit(clock.nowTs)), id)
      ()
    }
  }

  /** Run [[curate]] end-to-end into a catalog table with WALL-CLOCK arrival
    * stamping: every micro-batch's survivors carry an `arrival_ts` read from
    * the injected clock at commit time (a driver-side literal per batch, not
    * a plan-frozen constant), so downstream freshness and retention checks
    * run on INGESTION time — an ingest stall is visible as a growing
    * `now - max(arrival_ts)` gap even while event timestamps look current,
    * exactly the failure mode an event-clock curation pipeline cannot see.
    * Production passes the default [[SystemClock]]; tests inject a
    * [[graft.core.StepClock]] and assert the stamps advance with it.
    * The per-batch append is an idempotent manifest commit keyed by the
    * micro-batch id, so a replayed batch cannot double-ingest. */
  def curateToTable(docs: DataFrame, catalog: Catalog, table: String,
      clock: Clock = SystemClock,
      textCol: String = "text", tsCol: String = "ts",
      lang: String = "en", minTokens: Long = 5L, maxTokens: Long = 5000L,
      minQuality: Double = 0.0, watermark: String = "1 hour",
      queryName: String = "graft_curation_stream",
      continuous: Boolean = false, interval: String = "1 minute",
      checkpoint: Option[String] = None): StreamingQuery = {
    val curated =
      curate(docs, textCol, tsCol, lang, minTokens, maxTokens, minQuality, watermark)
    StreamingAppend.startForeachBatch(curated, queryName, continuous,
      interval, checkpoint) { (batch, id) =>
      catalog.commitAppend(
        batch.withColumn("arrival_ts", lit(clock.nowTs)), table,
        batchId = Some(id))
      ()
    }
  }
}
