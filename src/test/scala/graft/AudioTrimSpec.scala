package graft

import graft.ext.{Dedup, Multimodal}
import graft.functions.WavPcm
import org.apache.spark.sql.functions._

/** The r19 audio TRIM tier (the r18 verdict's #2 item): fixed-length
  * window features, any-segment pairing, planner knob, and the streaming
  * twin — the video trim machinery's shape applied to audio windows. */
class AudioTrimSpec extends SparkSpec {
  import spark.implicits._

  private val Seg = 2048 // segmentSamples used throughout
  private def clip(seed: Long, windows: Int = 4, trim: Int = 0): Array[Byte] =
    WavPcm.encodePcm16(16000, 1,
      Multimodal.waveformSamples(seed, windows * Seg, trim))

  test("AudioSegmentFeatures: each window's feature IS the envelope of that window") {
    val rows = Seq(
      (1L, clip(10L)),
      (2L, WavPcm.encodePcm16(16000, 1, // 2.5 windows: segment 2 partial → null
        Multimodal.waveformSamples(20L, Seg * 5 / 2, 0))),
      (3L, "not audio".getBytes),
      (4L, WavPcm.encodePcm16(16000, 1, // shorter than ONE window
        Multimodal.waveformSamples(30L, 100, 0))))
      .toDF("media_id", "payload")
    val segs = Multimodal.audioSegmentFeatures(rows, Seg, 4, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((if (r.isNullAt(2)) None else Some(r.getSeq[Float](2))),
          if (r.isNullAt(3)) None else Some(r.getString(3)))).toMap
    // bit-identity: window k of clip 1 == the whole-clip envelope of a
    // WAV holding exactly that window's samples (same integer sums)
    (0 until 4).foreach { k =>
      val windowOnly = Seq((9L, WavPcm.encodePcm16(16000, 1,
        java.util.Arrays.copyOfRange(
          Multimodal.waveformSamples(10L, 4 * Seg, 0), k * Seg, (k + 1) * Seg))))
        .toDF("media_id", "payload")
      val direct = Multimodal.audioEnvelopeFeatures(windowOnly, frames = 16)
        .collect()(0).getSeq[Float](1)
      assert(segs((1L, k))._1 == Some(direct), s"window $k")
    }
    // partial tail: clip 2 has exactly 2 full windows; 2 and 3 are null
    assert(segs((2L, 0))._1.isDefined && segs((2L, 1))._1.isDefined)
    assert(segs((2L, 2))._1.isEmpty && segs((2L, 3))._1.isEmpty)
    // undecodable and too-short clips carry null features + the error
    (0 until 4).foreach { k =>
      assert(segs((3L, k))._1.isEmpty && segs((3L, k))._2.isDefined)
      assert(segs((4L, k))._1.isEmpty &&
        segs((4L, k))._2 == Some("audio_too_short"))
    }
    // every clip emits exactly `segments` rows — the explode contract
    assert(segs.size == 16)
  }

  test("audioAnySegmentNearDups: an on-grid trimmed twin pairs; unrelated clips do not") {
    val rows = Seq(
      (1L, clip(100L)),                 // original: windows 0..3 of field
      (2L, clip(100L, trim = Seg)),     // head-trimmed by ONE window
      (3L, clip(300L)),                 // unrelated
      (4L, "junk".getBytes))            // undecodable — survives
      .toDF("media_id", "payload")
    val segs = Multimodal.audioSegmentFeatures(rows, Seg, 4, 16)
    val pairs = Multimodal.audioAnySegmentNearDups(segs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)), s"trimmed twin not paired: $pairs")
    assert(pairs((1L, 2L)) > 0.99, // shared windows are IDENTICAL samples
      s"best cosine ${pairs((1L, 2L))}")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L ||
      p._2 == 4L), s"spurious pair: $pairs")
  }

  test("planner: the audio trim knob routes to the any-segment family with honest guards") {
    // routing + operating point
    val rec = Dedup.recommendFamily(0.01, modality = "audio", trimTolerance = 1)
    assert(rec.family == "audio_anysegment_lsh", rec.rationale)
    assert(rec.expectedDetection > 0.9)
    val p = Dedup.plan(
      Multimodal.audioSegmentFeatures(
        Seq((1L, clip(1L))).toDF("media_id", "payload"), Seg, 2, 16),
      0.01, modality = "audio", hasEmbeddings = false, trimTolerance = 1)
    assert(p.family == "audio_anysegment_lsh" && p.threshold == 0.9,
      s"${p.family} @ ${p.threshold}")
    // contradiction guards: byte-identity × trim, shift × trim (both
    // unmeasured/unkeepable promises refuse loudly)
    intercept[IllegalArgumentException] {
      Dedup.recommendFamily(0.0, modality = "audio", trimTolerance = 1)
    }
    // r19 off-grid widening: trim + shift ≤ 512 no longer refuses — it
    // routes the spectral-window variant (its own test below); only the
    // beyond-band ask refuses
    assert(Dedup.recommendFamily(0.01, modality = "audio", trimTolerance = 1,
      geometricTolerance = 64.0).family == "audio_anysegment_spectral_lsh")
    // trim without a valid modality still refuses
    intercept[IllegalArgumentException] {
      Dedup.recommendFamily(0.01, modality = "text", trimTolerance = 1)
    }

    // end to end through the by-kind dispatcher: the trimmed twin SURVIVES
    // the default envelope rung and DROPS under the knob
    val media = Seq(
      (1L, clip(500L)), (2L, clip(500L, trim = Seg)),
      (3L, clip(700L)), (4L, "junk".getBytes))
      .toDF("media_id", "payload")
    val noKnob = Dedup.runPlanByKind(media, mutationTolerance = 0.01)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(noKnob(2L).isEmpty, "envelope rung unexpectedly caught the trim")
    val knob = Dedup.runPlanByKind(media, mutationTolerance = 0.01,
        audioTrimTolerance = 1)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(knob(2L) == Some(1L), s"trimmed twin survived the knob: $knob")
    assert(knob(1L).isEmpty && knob(3L).isEmpty && knob(4L).isEmpty)
  }

  test("spectral windows (off-grid trims): bit-identity, routing, and the 512 band edge") {
    // bit-identity: spectral window k == the whole-clip spectral feature
    // of a WAV holding exactly that window's samples
    val rows = Seq((1L, clip(40L))).toDF("media_id", "payload")
    val segs = Multimodal.audioSegmentFeatures(rows, Seg, 4, 16,
      descriptor = "spectral")
      .collect().map(r => r.getInt(1) -> r.getSeq[Float](2)).toMap
    (0 until 4).foreach { k =>
      val windowOnly = Seq((9L, WavPcm.encodePcm16(16000, 1,
        java.util.Arrays.copyOfRange(
          Multimodal.waveformSamples(40L, 4 * Seg, 0), k * Seg, (k + 1) * Seg))))
        .toDF("media_id", "payload")
      val direct = Multimodal.audioSpectralFeatures(windowOnly, maxFreq = 16)
        .collect()(0).getSeq[Float](1)
      assert(segs(k) == direct, s"spectral window $k")
    }

    // routing: trim + off-grid shift ≤ 512 → the spectral segment
    // family quoting the r16 shift law; past 512 → loud refusal naming
    // the band (and the r19 null control)
    val rec = Dedup.recommendFamily(0.01, modality = "audio",
      trimTolerance = 1, geometricTolerance = 256.0)
    assert(rec.family == "audio_anysegment_spectral_lsh", rec.rationale)
    assert(rec.expectedDetection > 0.99, rec.expectedDetection.toString)
    val e = intercept[IllegalArgumentException] {
      Dedup.recommendFamily(0.01, modality = "audio",
        trimTolerance = 1, geometricTolerance = 600.0)
    }
    assert(e.getMessage.contains("512"), e.getMessage)

    // end to end: an OFF-GRID re-cut (one window + 256 samples) survives
    // the envelope trim knob (windows misalign — the measured collapse)
    // and DROPS under the spectral variant
    val media = Seq(
      (1L, clip(5000L)), (2L, clip(5000L, trim = Seg + 256)),
      (3L, clip(5300L))).toDF("media_id", "payload")
    val envGot = Dedup.runPlanByKind(media, mutationTolerance = 0.01,
        audioTrimTolerance = 1)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(envGot(2L).isEmpty,
      "envelope windows unexpectedly caught the off-grid cut")
    val spGot = Dedup.runPlanByKind(media, mutationTolerance = 0.01,
        audioTrimTolerance = 1, audioGeometricTolerance = 256.0)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(spGot(2L) == Some(1L), s"off-grid cut survived: $spGot")
    assert(spGot(3L).isEmpty, "unrelated clip eliminated")

    // streaming twin: the spectral loop drops the same off-grid arrival
    val root = java.nio.file.Files.createTempDirectory("graft-offgrid").toString
    val cat = new graft.core.Catalog(spark, root)
    val loop = new graft.streaming.IncrementalAudioSegmentDedup(cat,
      "cur.sclips", "cur.sbuckets", "cur.ssegs",
      nPlanes = 8, nTables = 4, segments = 2, segmentSamples = Seg,
      spectral = true)
    loop.processBatch(Seq((1L, clip(5000L, windows = 2)))
      .toDF("media_id", "payload"), 1L)
    val n = loop.processBatch(Seq(
      (2L, clip(5000L, windows = 2, trim = Seg + 256)))
      .toDF("media_id", "payload"), 2L)
    assert(n == 0L, "off-grid re-cut survived the spectral stream")
    spark.sharedState.cacheManager.clearCache()
  }

  test("IncrementalAudioSegmentDedup: a trimmed re-upload drops on arrival; equals the batch sweep; crash replay") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // a failed block fetch means a Spark job outlived the batch whose
    // cache it read: Spark logs it at ERROR and recomputes the partition
    val failedFetches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("failed-fetch-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Failed to fetch block")) failedFetches.add(m)
      }
    }
    capture.start()
    val rootLogger = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    rootLogger.addAppender(capture)
    try {
      implicit val sqlCtx = spark.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft-incaudioseg").toString
      val cat = new graft.core.Catalog(spark, root)
      val loop = new graft.streaming.IncrementalAudioSegmentDedup(cat,
        "cur.aclips", "cur.abuckets", "cur.asegs",
        nPlanes = 8, nTables = 4, threshold = 0.9,
        segments = 2, segmentSamples = Seg)
      // batch 1: two originals + an undecodable clip (survives, no state)
      loop.processBatch(Seq((1L, clip(800L, windows = 2)),
        (2L, clip(900L, windows = 2)), (3L, "junk".getBytes))
        .toDF("media_id", "payload"), 1L)
      // batch 2: a head-trimmed re-encode of clip 1 — drops on arrival —
      // and a fresh clip that survives
      val n2 = loop.processBatch(Seq(
        (4L, clip(800L, windows = 2, trim = Seg)),
        (5L, clip(950L, windows = 2)))
        .toDF("media_id", "payload"), 2L)
      assert(n2 == 1L)
      val kept = cat.load("cur.aclips").select("media_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 3L, 5L), s"kept $kept")
      // segment state exists exactly for decodable survivors
      assert(cat.load("cur.asegs")
        .select(shiftright(col("fid"), 6)).distinct()
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))

      // chain-free equality with the batch any-segment sweep
      val all = Seq((1L, clip(800L, windows = 2)), (2L, clip(900L, windows = 2)),
        (3L, "junk".getBytes), (4L, clip(800L, windows = 2, trim = Seg)),
        (5L, clip(950L, windows = 2))).toDF("media_id", "payload")
      val dropB = Multimodal.audioAnySegmentNearDups(
        Multimodal.audioSegmentFeatures(all, Seg, 2, 16), threshold = 0.9)
        .select(col("media_b").as("media_id")).distinct()
      val sweep = all.join(dropB, Seq("media_id"), "left_anti")
        .select("media_id").collect().map(_.getLong(0)).toSet
      assert(sweep == kept, s"batch sweep $sweep vs stream $kept")

      // crash between the clips append and the state appends, then replay:
      // exactly-once (no duplicate clip rows, state converges)
      val root2 = java.nio.file.Files.createTempDirectory("graft-incaudioseg2").toString
      val cat2 = new graft.core.Catalog(spark, root2)
      val loop2 = new graft.streaming.IncrementalAudioSegmentDedup(cat2,
        "cur.bclips", "cur.bbuckets", "cur.bsegs",
        nPlanes = 8, nTables = 4, segments = 2, segmentSamples = Seg)
      loop2.processBatch(Seq((1L, clip(800L, windows = 2)))
        .toDF("media_id", "payload"), 1L)
      loop2.crashBetweenAppendsOnce = true
      val b2 = Seq((2L, clip(800L, windows = 2, trim = Seg)),
        (3L, clip(990L, windows = 2))).toDF("media_id", "payload")
      intercept[RuntimeException] { loop2.processBatch(b2, 2L) }
      loop2.processBatch(b2, 2L) // replay
      assert(cat2.load("cur.bclips").select("media_id")
        .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      assert(cat2.load("cur.bclips").count() == 2L, "duplicate clip rows")
      assert(cat2.load("cur.bsegs").select("fid").distinct().count() ==
        cat2.load("cur.bsegs").count(), "duplicate segment state rows")

      // the KindRouter knob routes the audio pool through this loop
      val root3 = java.nio.file.Files.createTempDirectory("graft-incaudioseg3").toString
      val cat3 = new graft.core.Catalog(spark, root3)
      val router = new graft.streaming.CurationStream.KindRouter(cat3,
        "cur.amix", audioTrimTolerance = 1, segmentSamples = Seg)
      router.processBatch(Seq((1L, clip(800L, windows = 2)))
        .toDF("media_id", "payload"), 1L)
      val counts = router.processBatch(Seq(
        (2L, clip(800L, windows = 2, trim = Seg)))
        .toDF("media_id", "payload"), 2L)
      assert(counts("audio") == 0L, s"trimmed re-upload survived: $counts")
      assert(cat3.load("cur.amix_audio").select("media_id")
        .collect().map(_.getLong(0)).toSet == Set(1L))
      // a negative knob refuses at construction
      intercept[IllegalArgumentException] {
        new graft.streaming.CurationStream.KindRouter(cat3, "cur.aneg",
          audioTrimTolerance = -1)
      }
      // a job still running here would log its failed fetches later
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty)
        Thread.sleep(50)
    } finally {
      rootLogger.removeAppender(capture)
      capture.stop()
    }
    assert(failedFetches.isEmpty, s"failed block fetches: $failedFetches")
    spark.sharedState.cacheManager.clearCache()
  }
}
