package graft.probes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Multimodal

/** Measured detection sweeps for the AUDIO dedup family — the image
  * probe's posture applied to the WAV descriptors: which deterministic
  * descriptor tier still catches a re-levelled / re-trimmed duplicate
  * clip? The numbers this prints are what
  * `Dedup.recommendFamily(modality="audio")` encodes (SCALE.md r16) —
  * selection logic quotes measurements, never guesses.
  *
  * Two sweeps, mirroring the image family's churn-vs-geometry split:
  *
  *  - `--jitterSweep f1,f2,...` — per-SAMPLE churn: dup twins render the
  *    predecessor's waveform at ×1.25 gain (which the mean-centered
  *    envelope is exactly blind to — cosine cancels a scale) plus
  *    `round(f · n)` deterministic single-sample jitters. The aligned-bin
  *    response to value noise.
  *  - `--shiftSweep s1,s2,...` — the GEOMETRIC analogue: dup twins window
  *    the SAME aperiodic field `s` samples later (a re-trim), the
  *    transform that slides samples across frame boundaries exactly like
  *    a crop slides pixels across grid cells. The envelope tier is
  *    expected to collapse as s approaches the frame length; the
  *    DFT-magnitude tier to hold (a shift changes phases, not
  *    magnitudes).
  *
  * `sbt 'Test/runMain graft.probes.AudioDedupProbe [--size N]
  * (--shiftSweep 8,32,...|--jitterSweep 0.001,...|--trimSweep 0,2048,4096
  * --segments 4 --segmentSamples 2048|--throughput)
  * [--family envelope|spectral] [--threshold 0.9] [--samples 2048]
  * [--codec pcm16|ulaw|alaw|flac]'` — exactly one mode in parentheses is
  * required; `--codec` applies to `--jitterSweep`/`--throughput` only
  * — one JSON line per cell: planted detection, total pairs, planted
  * cosine percentiles (locating the twins against the threshold), wall
  * seconds.
  */
object AudioDedupProbe {

  /** Jitter twin corpus: dup twins at ×1.25 gain + `jitters` single-sample
    * perturbations of the predecessor's waveform. Partition-local. */
  def corpus(spark: SparkSession, n: Long, jitters: Int,
      samples: Int, codec: String = "pcm16"): DataFrame = {
    val enc = encoderFor(codec)
    val rdd = spark.range(n).select(col("id").as("doc_id")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val wave = Multimodal.waveformSamples(seed, samples, 0)
        if (isDup) {
          var i = 0
          while (i < wave.length) {
            wave(i) = StrictMath.rint(wave(i) * 1.25).toInt; i += 1
          }
          var j = 0
          while (j < jitters) {
            val p = (java.lang.Math.floorMod(id * 31L + j * 131L, samples.toLong)).toInt
            wave(p) += 1000
            j += 1
          }
        }
        Row(id, enc(16000, 1, wave))
      }
    }
    spark.createDataFrame(rdd, Multimodal.audioSchema)
  }

  /** The per-codec WAV encoder behind the `--codec` knob (r18): pcm16 is
    * the exact baseline; ulaw/alaw measure the G.711 decode rate and the
    * planted detection under LOSSY companding (a measured output). */
  private def encoderFor(codec: String): (Int, Int, Array[Int]) => Array[Byte] =
    codec match {
      case "pcm16" => graft.functions.WavPcm.encodePcm16
      case "ulaw" => graft.functions.WavPcm.encodeUlaw
      case "alaw" => graft.functions.WavPcm.encodeAlaw
      case "flac" => (r, c, m) => graft.functions.FlacPcm.encode(r, c, m)
      case other => throw new IllegalArgumentException(
        s"codec must be pcm16|ulaw|alaw|flac, got '$other'")
    }

  /** Trim twin corpus for the SEGMENT-tier sweep (r19): dup twins window
    * the same aperiodic field `trim` SAMPLES later over a clip of
    * `segments · segmentSamples` samples — the head-cut re-encode (a
    * podcast ad cut). A trim that is a whole multiple of segmentSamples
    * re-aligns `segments − trim/segmentSamples` windows exactly; an
    * off-grid trim misaligns every window (the law's honest boundary). */
  def trimCorpus(spark: SparkSession, n: Long, trim: Int,
      segments: Int, segmentSamples: Int): DataFrame = {
    require(trim >= 0, s"bad trim $trim")
    val total = segments * segmentSamples
    val rdd = spark.range(n).select(col("id").as("doc_id")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val off = if (isDup) trim else 0
        val wave = Multimodal.waveformSamples(seed, total, off)
        Row(id, graft.functions.WavPcm.encodePcm16(16000, 1, wave))
      }
    }
    spark.createDataFrame(rdd, Multimodal.audioSchema)
  }

  /** Shift twin corpus for the GEOMETRIC sweep: dup twins window the same
    * aperiodic field `shift` samples later — same content, re-trimmed. */
  def shiftCorpus(spark: SparkSession, n: Long, shift: Int,
      samples: Int): DataFrame = {
    require(shift >= 0, s"bad shift $shift")
    val rdd = spark.range(n).select(col("id").as("doc_id")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val off = if (isDup) shift else 0
        val wave = Multimodal.waveformSamples(seed, samples, off)
        Row(id, graft.functions.WavPcm.encodePcm16(16000, 1, wave))
      }
    }
    spark.createDataFrame(rdd, Multimodal.audioSchema)
  }

  def main(args: Array[String]): Unit = {
    var size = 20000L
    var shiftSweep: Seq[Int] = Nil
    var jitterSweep: Seq[Double] = Nil
    var family = "envelope"
    var threshold = 0.9
    var samples = 2048
    var throughput = false
    var codec = "pcm16"
    var trimSweep: Seq[Int] = Nil
    var segments = 4
    var segmentSamples = 2048
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--size" if i + 1 < args.length => size = args(i + 1).toLong; i += 2
        case "--shiftSweep" if i + 1 < args.length =>
          shiftSweep = args(i + 1).split(",").map(_.toInt).toSeq; i += 2
        case "--jitterSweep" if i + 1 < args.length =>
          jitterSweep = args(i + 1).split(",").map(_.toDouble).toSeq; i += 2
        case "--family" if i + 1 < args.length => family = args(i + 1); i += 2
        case "--threshold" if i + 1 < args.length =>
          threshold = args(i + 1).toDouble; i += 2
        case "--samples" if i + 1 < args.length => samples = args(i + 1).toInt; i += 2
        case "--throughput" => throughput = true; i += 1
        case "--codec" if i + 1 < args.length => codec = args(i + 1); i += 2
        case "--trimSweep" if i + 1 < args.length =>
          trimSweep = args(i + 1).split(",").map(_.toInt).toSeq; i += 2
        case "--segments" if i + 1 < args.length =>
          segments = args(i + 1).toInt; i += 2
        case "--segmentSamples" if i + 1 < args.length =>
          segmentSamples = args(i + 1).toInt; i += 2
        case other => sys.error(s"unknown arg '$other'; usage: AudioDedupProbe " +
          "[--size N] (--shiftSweep 8,32,...|--jitterSweep 0.001,...|" +
          "--trimSweep 0,2048,4096 --segments 4 --segmentSamples 2048|" +
          "--throughput) [--family envelope|spectral] [--threshold 0.9] " +
          "[--samples 2048] [--codec pcm16|ulaw|alaw|flac] — exactly one " +
          "mode in parentheses")
      }
    }
    require(family == "envelope" || family == "spectral",
      s"--family must be envelope|spectral, got '$family'")
    require(Set("pcm16", "ulaw", "alaw", "flac")(codec),
      s"--codec must be pcm16|ulaw|alaw|flac, got '$codec'")
    // the shift corpus does not take the codec knob — refuse rather than
    // silently ignore it (the r16 silent-discard lesson)
    require(codec == "pcm16" || (shiftSweep.isEmpty && trimSweep.isEmpty),
      "--codec applies to --throughput/--jitterSweep cells only")
    // r16 advice: --throughput with a sweep flag previously passed the
    // guard and silently discarded the sweep (the throughput branch
    // returns early) — reject the combination instead
    require(
      Seq(throughput, shiftSweep.nonEmpty, jitterSweep.nonEmpty,
        trimSweep.nonEmpty).count(identity) == 1,
      "pass exactly one of --shiftSweep / --jitterSweep / --trimSweep / " +
        "--throughput")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Sessions.local(cpus)
    if (throughput) {
      // The at-scale cell: decode + descriptor rate (the blob-to-floats
      // reduction that makes 100 TB of audio joinable) and the survivor
      // walk over the resulting embedding at the auto-sized config —
      // the planted gain+jitter twins measure detection while the
      // accumulator meters the walk's actual work.
      val media = corpus(spark, size, 1, samples, codec)
      // FLAC payloads are variable-length (entropy-coded) — meter the
      // REAL byte volume instead of assuming a canonical layout
      val bytesPerClip = media.agg(
        org.apache.spark.sql.functions.avg(
          org.apache.spark.sql.functions.length(col("payload"))))
        .first().getDouble(0)
      val t0 = System.nanoTime()
      val featsOf =
        if (family == "envelope") Multimodal.audioEnvelopeFeatures(media)
        else Multimodal.audioSpectralFeatures(media)
      val feats = featsOf.filter(col("feature").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = feats.count()
      val dtFeat = (System.nanoTime() - t0) / 1e9
      val dims = feats.select(
        org.apache.spark.sql.functions.size(col("feature"))).first().getInt(0)
      val cmp = spark.sparkContext.longAccumulator("audio_star_comparisons")
      val t1 = System.nanoTime()
      // the AUTO-SIZED config, exactly featureAssign's path: the
      // first cut ran a fixed (8, 4) and measured the predictable
      // failure — comparisons went superlinear (2,093 → 7,800/clip at
      // 200k → 1M on this phase-class-heavy envelope corpus) and
      // rep-capped cells leaked 391/50,000 planted twins; the sizer
      // exists precisely to deepen planes with n
      val (planes, tables) = graft.ext.Similarity.lshParams(size, threshold, 0.98)
      val assign = graft.ext.Similarity.nearDupAssignFromTable(
        graft.ext.Similarity.lshTable(feats, planes, tables, "media_id", "feature"),
        feats, threshold, "media_id", "feature", comparisons = Some(cmp))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val surv = assign.filter(col("dup_of").isNull).count()
      val detected = assign.filter(col("dup_of").isNotNull &&
        pmod(col("media_id"), lit(20)) === 1).count()
      val dtWalk = (System.nanoTime() - t1) / 1e9
      println(f"""{"check":"audio_throughput","family":"$family","codec":"$codec","rows":$size,""" +
        f""""planes":$planes,"tables":$tables,""" +
        f""""samples":$samples,"decoded":$n,"payload_mb":${size * bytesPerClip / 1e6}%.1f,""" +
        f""""feature_mb":${n * dims * 4 / 1e6}%.1f,"decode_feature_s":$dtFeat%.3f,""" +
        f""""clips_per_s":${n / dtFeat}%.0f,"mb_per_s":${size * bytesPerClip / 1e6 / dtFeat}%.1f,""" +
        f""""walk_comparisons":${cmp.value},"survivors":$surv,"detected":$detected,""" +
        f""""true_dups":${size / 20},"walk_s":$dtWalk%.3f}""")
      assign.unpersist(); feats.unpersist()
      spark.stop()
      return
    }
    if (trimSweep.nonEmpty) {
      // ── the r19 SEGMENT tier: trim law (on-grid re-alignment, off-grid
      //    collapse), plus the whole-clip and first-window baselines the
      //    tier rescues/collapses to ──
      trimSweep.foreach { t =>
        val media = trimCorpus(spark, size, t, segments, segmentSamples)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t0 = System.nanoTime()
        val segs = Multimodal.audioSegmentFeatures(media, segmentSamples,
            segments, descriptor = family)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nf = segs.filter(col("feature").isNotNull).count()
        val dtF = (System.nanoTime() - t0) / 1e9
        def planted(pairs: DataFrame): Long = pairs
          .filter(col("media_b") === col("media_a") + 1 &&
            pmod(col("media_b"), lit(20)) === 1)
          .count()
        val t1 = System.nanoTime()
        val anySeg = planted(Multimodal.audioAnySegmentNearDups(segs, threshold))
        val dtA = (System.nanoTime() - t1) / 1e9
        val firstWin = planted(Multimodal.audioAnySegmentNearDups(
          segs.filter(col("segment_idx") === 0), threshold))
        val whole = {
          val feats = Multimodal.audioEnvelopeFeatures(media)
            .filter(col("feature").isNotNull)
          planted(graft.ext.Similarity.nearDupPairsLsh(feats, threshold,
              idCol = "media_id", vecCol = "feature")
            .select(col("id_a").as("media_a"), col("id_b").as("media_b")))
        }
        val trueDups = size / 20
        println(f"""{"check":"audio_trim_detection","rows":$size,""" +
          f""""family":"$family",""" +
          f""""segments":$segments,"segment_samples":$segmentSamples,""" +
          f""""trim":$t,"on_grid":${t % segmentSamples == 0},""" +
          f""""decoded_segments":$nf,"feats_wall_s":$dtF%.3f,""" +
          f""""clips_per_s":${size / dtF}%.0f,""" +
          f""""wholeclip_detected":$whole,"firstwin_detected":$firstWin,""" +
          f""""anyseg_detected":$anySeg,"true_dups":$trueDups,""" +
          f""""wholeclip_detection":${whole.toDouble / trueDups}%.4f,""" +
          f""""firstwin_detection":${firstWin.toDouble / trueDups}%.4f,""" +
          f""""anyseg_detection":${anySeg.toDouble / trueDups}%.4f,""" +
          f""""anyseg_wall_s":$dtA%.3f}""")
        segs.unpersist(); media.unpersist()
        spark.sharedState.cacheManager.clearCache()
      }
      spark.stop()
      return
    }
    def featsOf(media: DataFrame): DataFrame =
      if (family == "envelope") Multimodal.audioEnvelopeFeatures(media)
      else Multimodal.audioSpectralFeatures(media)
    val cells: Seq[(String, Double, DataFrame)] =
      if (shiftSweep.nonEmpty)
        shiftSweep.map(s => ("shift", s.toDouble, shiftCorpus(spark, size, s, samples)))
      else
        jitterSweep.map { f =>
          val jitters = math.max(1, math.round(f * samples).toInt)
          ("jitter", f, corpus(spark, size, jitters, samples, codec))
        }
    cells.foreach { case (kind, knob, media) =>
      val t0 = System.nanoTime()
      val feats = featsOf(media)
        .filter(col("feature").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = graft.ext.Similarity.nearDupPairsLsh(feats, threshold,
        idCol = "media_id", vecCol = "feature")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = pairs.count()
      val detected = pairs.filter(col("id_b") === col("id_a") + 1 &&
        pmod(col("id_b"), lit(20)) === 1).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // planted-pair cosine percentiles, pair-local (untimed): locates
      // the twins against the threshold — the probe's diagnosis column
      val stats = feats.select(col("media_id"), col("feature"))
        .join(feats.select((col("media_id") - 1).as("media_id"),
          col("feature").as("f_b")), "media_id")
        .filter(pmod(col("media_id"), lit(20)) === 0)
        .select(graft.ext.Similarity.cosine(col("feature"), col("f_b")).as("c"))
        .agg(min(col("c")).as("mn"),
          expr("percentile_approx(c, 0.5)").as("md"), max(col("c")).as("mx"))
        .first()
      pairs.unpersist(); feats.unpersist()
      spark.sharedState.cacheManager.clearCache()
      println(f"""{"check":"audio_detection","family":"$family","kind":"$kind",""" +
        f""""rows":$size,"knob":$knob,"threshold":$threshold,"samples":$samples,""" +
        f""""detected":$detected,"true_dups":${size / 20},""" +
        f""""detection":${detected.toDouble / (size / 20)}%.4f,"pairs":$total,""" +
        f""""planted_cosine_min":${stats.getDouble(0)}%.4f,""" +
        f""""planted_cosine_median":${stats.getDouble(1)}%.4f,""" +
        f""""planted_cosine_max":${stats.getDouble(2)}%.4f,"wall_s":$dt%.3f}""")
    }
    spark.stop()
  }
}
