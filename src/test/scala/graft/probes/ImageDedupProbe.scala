package graft.probes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Multimodal

/** Measured detection-vs-mutation sweep for the IMAGE dedup family — the
  * r12 text sweep's posture applied to dHash: how much pixel-level churn
  * can the radius-3 Manku-blocked perceptual pairing still catch? The
  * numbers this prints are what `Dedup.recommendFamily(modality="image")`
  * encodes (SCALE.md r15) — selection logic quotes measurements, never
  * guesses.
  *
  * Corpus: the `Multimodal.syntheticImages` pattern generator at 32×32,
  * with every id%20==1 image rendering its PREDECESSOR's pattern at a
  * parameterized mutation — `round(m · w · h)` deterministic single-pixel
  * jitters (XOR 0x14, the corpus's standard perturbation) plus the +8
  * uniform brightness shift (which dHash is exactly invariant to, so the
  * sweep measures the JITTER response alone). True pairs = n/20 exactly,
  * at every size and mutation.
  *
  * `sbt 'Test/runMain graft.probes.ImageDedupProbe [--size N]
  * [--mutations 0.001,0.01,...] [--radius H] [--blocks B]'`
  * — one JSON line per mutation level: planted detection, total pairs,
  * leakage (pairs beyond the planted ones — all still genuine radius
  * pairs, the verify is exact), and wall seconds.
  */
object ImageDedupProbe {

  /** Parametrized twin corpus: (media_id, payload) PNGs where dup twins
    * jitter `jitters` pixels of the predecessor's pattern. Partition-local
    * generation, nothing collected — `syntheticImages`' batch shape with
    * the mutation knob exposed. */
  def corpus(spark: SparkSession, n: Long, jitters: Int,
      w: Int = 32, h: Int = 32, codec: String = "png"): DataFrame = {
    val rdd = spark.range(n).select(col("id").as("doc_id")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val pix = Multimodal.patternPixels(seed, w, h)
        if (isDup) {
          var i = 0
          while (i < pix.length) { pix(i) = ((pix(i) & 0xff) + 8).toByte; i += 1 }
          var j = 0
          while (j < jitters) {
            // distinct deterministic positions: a stride coprime to w·h
            // (w·h = 1024, 31 is odd) walks all cells before repeating
            val p = (java.lang.Math.floorMod(id * 31L + j * 131L, (w * h).toLong)).toInt
            pix(p) = ((pix(p) & 0xff) ^ 0x14).toByte
            j += 1
          }
        }
        // the codec knob exists for the r17 JPEG-decode throughput cell:
        // jpeg = baseline gray; jpeg420 = 4:2:0 color with NOISY chroma
        // planes the decoder must entropy-walk in sync (the worst case
        // for the luma-only decode path). JPEG is LOSSY, so planted
        // detection under it is a MEASURED output, not an invariant.
        val payload = codec match {
          case "png" => graft.functions.PngGray.encodeGray(w, h, pix)
          case "jpeg" => graft.functions.JpegGray.encodeGray(w, h, pix, 92)
          case "jpegprog" =>
            graft.functions.JpegGray.encodeGrayProgressive(w, h, pix, 92)
          case "gif" => graft.functions.GifGray.encodeGray(w, h, pix)
          case "jpeg420" =>
            val cw = (w + 1) / 2; val ch = (h + 1) / 2
            graft.functions.JpegGray.encodeColor420(w, h, pix,
              Multimodal.patternPixels(seed + 101, cw, ch),
              Multimodal.patternPixels(seed + 211, cw, ch), 92)
          case "bmp" => graft.functions.BmpGray.encodeGray(w, h, pix,
            topDown = id % 2 == 0)
          case "mjpegavi" =>
            // r18 video content tier: the SAME luma field wrapped as a
            // single-frame MJPEG AVI — the sweep then measures planted
            // detection THROUGH the container walk + frame-0 JPEG decode
            graft.functions.MjpegAvi.encode(w, h,
              Seq(graft.functions.JpegGray.encodeGray(w, h, pix, 92)))
          case other => throw new IllegalArgumentException(
            s"codec must be png|jpeg|jpeg420|jpegprog|gif|bmp|mjpegavi, got '$other'")
        }
        Row(id, payload)
      }
    }
    spark.createDataFrame(rdd, Multimodal.imageSchema)
  }

  /** Shift/crop twin corpus for the GEOMETRIC sweep: every image is a
    * 32×32 window into a 40×40 field; dup twins crop at offset
    * (shift, shift) instead of (0, 0) — same content, misaligned against
    * the 9×8 box grid, the transform class the jitter sweep cannot see. */
  def cropCorpus(spark: SparkSession, n: Long, shift: Int,
      w: Int = 32, h: Int = 32): DataFrame = {
    val big = 40
    require(shift >= 0 && shift + math.max(w, h) <= big, s"bad shift $shift")
    val rdd = spark.range(n).select(col("id").as("doc_id")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val field = Multimodal.patternPixels(seed, big, big)
        val off = if (isDup) shift else 0
        val pix = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            pix(y * w + x) = field((y + off) * big + (x + off))
            x += 1
          }
          y += 1
        }
        Row(id, graft.functions.PngGray.encodeGray(w, h, pix))
      }
    }
    spark.createDataFrame(rdd, Multimodal.imageSchema)
  }

  /** Cross-CODEC recode twin corpus (r17): dup twins are the
    * PREDECESSOR'S EXACT pixels re-encoded as baseline JPEG at
    * `quality`, originals stay PNG — the "same image re-uploaded as a
    * JPEG" web scenario the JpegGray decoder exists for. The only
    * difference inside a planted pair is quantization noise, so the
    * sweep reads the dHash radius directly against JPEG quality. */
  def recodeCorpus(spark: SparkSession, n: Long, quality: Int,
      w: Int = 32, h: Int = 32, origin: String = "png"): DataFrame = {
    require(origin == "png" || origin == "jpeg",
      s"recode origin must be png|jpeg, got '$origin'")
    val rdd = spark.range(n).select(col("id").as("doc_id")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val pix = Multimodal.patternPixels(seed, w, h)
        // origin=png (r17): lossless original vs a quality-q JPEG of the
        // SAME pixels — single quantization. origin=jpeg (r18): original
        // stored at the web-norm quality 92, twin = the DECODED q92
        // pixels re-encoded at quality q — true double quantization
        // (already-binned coefficients re-bin), the commonest real
        // re-encounter shape
        val payload =
          if (origin == "png") {
            if (isDup) graft.functions.JpegGray.encodeGray(w, h, pix, quality)
            else graft.functions.PngGray.encodeGray(w, h, pix)
          } else {
            val q92 = graft.functions.JpegGray.encodeGray(w, h, pix, 92)
            if (isDup)
              graft.functions.JpegGray.encodeGray(w, h,
                graft.functions.JpegGray.decode(q92).toOption.get.pix, quality)
            else q92
          }
        Row(id, payload)
      }
    }
    spark.createDataFrame(rdd, Multimodal.imageSchema)
  }

  def main(args: Array[String]): Unit = {
    var size = 200000L
    var mutations = Seq(0.001, 0.005, 0.01, 0.02, 0.05, 0.10)
    var radius = 3
    var blocks = 0
    var survivors = false
    var cropShifts: Seq[Int] = Nil
    var family = "dhash" // dhash | grid (the crop-tolerant descriptor tier)
    var gridThreshold = 0.9
    var codec = "png"
    var throughput = false
    var recodeQualities: Seq[Int] = Nil
    var recodeOrigin = "png"
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--size" if i + 1 < args.length => size = args(i + 1).toLong; i += 2
        case "--mutations" if i + 1 < args.length =>
          mutations = args(i + 1).split(",").map(_.toDouble).toSeq; i += 2
        case "--radius" if i + 1 < args.length => radius = args(i + 1).toInt; i += 2
        case "--blocks" if i + 1 < args.length => blocks = args(i + 1).toInt; i += 2
        case "--survivors" => survivors = true; i += 1
        case "--cropSweep" if i + 1 < args.length =>
          cropShifts = args(i + 1).split(",").map(_.toInt).toSeq; i += 2
        case "--family" if i + 1 < args.length => family = args(i + 1); i += 2
        case "--gridThreshold" if i + 1 < args.length =>
          gridThreshold = args(i + 1).toDouble; i += 2
        case "--codec" if i + 1 < args.length => codec = args(i + 1); i += 2
        case "--throughput" => throughput = true; i += 1
        case "--recodeSweep" if i + 1 < args.length =>
          recodeQualities = args(i + 1).split(",").map(_.toInt).toSeq; i += 2
        case "--recodeOrigin" if i + 1 < args.length =>
          recodeOrigin = args(i + 1); i += 2
        case other => sys.error(s"unknown arg '$other'; usage: ImageDedupProbe " +
          "[--size N] [--mutations 0.01,..] [--radius H] [--blocks B] " +
          "[--survivors] [--cropSweep 1,2,4] [--family dhash|grid|spectral] " +
          "[--gridThreshold 0.9] [--codec png|jpeg|jpeg420|jpegprog|gif|bmp|mjpegavi] [--throughput]")
      }
    }
    require(family == "dhash" || family == "grid" || family == "spectral",
      s"--family must be dhash|grid|spectral, got '$family'")
    require(
      Set("png", "jpeg", "jpeg420", "jpegprog", "gif", "bmp", "mjpegavi")(codec),
      s"--codec must be png|jpeg|jpeg420|jpegprog|gif|bmp|mjpegavi, got '$codec'")
    require(!throughput || cropShifts.isEmpty,
      "--throughput and --cropSweep are separate cells - pass one")
    require(recodeQualities.isEmpty || (!throughput && cropShifts.isEmpty),
      "--recodeSweep is its own cell - pass it alone")
    require(recodeOrigin == "png" ||
      (recodeQualities.nonEmpty && (recodeOrigin == "jpeg")),
      "--recodeOrigin png|jpeg applies to --recodeSweep cells only")
    if (recodeQualities.nonEmpty) {
      // Cross-codec dedup boundary (r17): planted twins are byte-DIFFERENT
      // (PNG original vs JPEG recode of the same pixels) so exact digests
      // see nothing — detection is the dHash radius absorbing pure
      // quantization noise, measured per quality. The median planted
      // hamming locates the noise against the radius the way the crop
      // sweep's does against the grid.
      val cpus0 = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
      val spark0 = graft.core.Sessions.local(cpus0)
      if (family != "dhash") {
        // the descriptor tiers on the SAME recode corpus: where the
        // 64-bit fingerprint's radius saturates (low quality), the
        // float descriptors' cosine cut may still hold — the routing
        // evidence for re-encode-heavy corpora
        recodeQualities.foreach { q =>
          val t0 = System.nanoTime()
          val feats = (if (family == "grid")
            Multimodal.imageGridFeatures(recodeCorpus(spark0, size, q, origin = recodeOrigin))
          else Multimodal.imageSpectralFeatures(recodeCorpus(spark0, size, q, origin = recodeOrigin)))
            .filter(col("feature").isNotNull)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val detected = graft.ext.Similarity.nearDupPairsLsh(feats,
            gridThreshold, idCol = "media_id", vecCol = "feature")
            .filter(col("id_b") === col("id_a") + 1 &&
              pmod(col("id_b"), lit(20)) === 1).count()
          val dt = (System.nanoTime() - t0) / 1e9
          feats.unpersist()
          spark0.sharedState.cacheManager.clearCache()
          println(f"""{"check":"image_recode_detection","family":"$family",""" +
            f""""origin":"$recodeOrigin","rows":$size,"quality":$q,"threshold":$gridThreshold,""" +
            f""""detected":$detected,"true_dups":${size / 20},""" +
            f""""detection":${detected.toDouble / (size / 20)}%.4f,"wall_s":$dt%.3f}""")
        }
        spark0.stop()
        return
      }
      recodeQualities.foreach { q =>
        val t0 = System.nanoTime()
        val fps = Multimodal.imageFingerprints(recodeCorpus(spark0, size, q, origin = recodeOrigin))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val detected = Multimodal.imageNearDups(fps, radius, blocks)
          .filter(col("media_b") === col("media_a") + 1 &&
            pmod(col("media_b"), lit(20)) === 1)
          .count()
        // 65-bin distributed hamming histogram (the crop sweep's shape)
        val valid = fps.filter(col("dhash").isNotNull)
        val hist = valid.select(col("media_id"), col("dhash"))
          .join(valid.select((col("media_id") - 1).as("media_id"),
            col("dhash").as("dhash_b")), "media_id")
          .filter(pmod(col("media_id"), lit(20)) === 0)
          .groupBy(graft.ext.Dedup.hamming(col("dhash"), col("dhash_b"))
            .cast("int").as("ham"))
          .count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        val total = hist.map(_._2).sum
        val med =
          if (total == 0) -1
          else {
            var rem = total / 2 + 1; var m = -1; var k = 0
            while (rem > 0 && k < hist.length) {
              m = hist(k)._1; rem -= hist(k)._2; k += 1
            }
            m
          }
        val maxHam = if (hist.isEmpty) -1 else hist.last._1
        val dt = (System.nanoTime() - t0) / 1e9
        fps.unpersist()
        spark0.sharedState.cacheManager.clearCache()
        println(f"""{"check":"image_recode_detection","origin":"$recodeOrigin","rows":$size,"quality":$q,""" +
          f""""radius":$radius,"detected":$detected,"true_dups":${size / 20},""" +
          f""""detection":${detected.toDouble / (size / 20)}%.4f,""" +
          f""""median_planted_hamming":$med,"max_planted_hamming":$maxHam,""" +
          f""""wall_s":$dt%.3f}""")
      }
      spark0.stop()
      return
    }
    if (throughput) {
      // The r17 at-scale cell (AudioDedupProbe's shape): decode + dHash
      // rate per codec — the blob-to-8-bytes reduction that makes 100 TB
      // of images joinable — then the survivor walk at the auto-deepened
      // split. Payload bytes are measured from the corpus (JPEG sizes
      // vary with content), not modeled.
      val cpus0 = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
      val spark0 = graft.core.Sessions.local(cpus0)
      val media = corpus(spark0, size, 1, codec = codec)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val payloadBytes = media.select(
        sum(length(col("payload")))).first().getLong(0)
      val t0 = System.nanoTime()
      val fps = Multimodal.imageFingerprints(media)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val decoded = fps.filter(col("dhash").isNotNull).count()
      val dtFeat = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (blks, _) = graft.ext.Dedup.simhashParams(size, radius)
      val assign = Multimodal.imageAssign(fps, radius, blocks = blks)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val surv = assign.filter(col("dup_of").isNull).count()
      val detected = assign.filter(col("dup_of").isNotNull &&
        pmod(col("media_id"), lit(20)) === 1).count()
      val dtWalk = (System.nanoTime() - t1) / 1e9
      println(f"""{"check":"image_throughput","codec":"$codec","rows":$size,""" +
        f""""radius":$radius,"blocks":$blks,"decoded":$decoded,""" +
        f""""payload_mb":${payloadBytes / 1e6}%.1f,"decode_hash_s":$dtFeat%.3f,""" +
        f""""images_per_s":${decoded / dtFeat}%.0f,""" +
        f""""mb_per_s":${payloadBytes / 1e6 / dtFeat}%.1f,""" +
        f""""survivors":$surv,"detected":$detected,""" +
        f""""true_dups":${size / 20},"walk_s":$dtWalk%.3f}""")
      assign.unpersist(); fps.unpersist(); media.unpersist()
      spark0.stop()
      return
    }
    // the descriptor families share the (media_id, feature, error) shape
    // and the whole measurement harness — they differ only in the builder
    def featsOf(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (family == "grid") Multimodal.imageGridFeatures(media)
      else Multimodal.imageSpectralFeatures(media)
    if (cropShifts.nonEmpty) {
      // the GEOMETRIC sweep: detection of shift-cropped twins — the
      // transform class where dHash's box grid misaligns and radius-3
      // detection is expected to collapse (the honest boundary of the
      // perceptual-fingerprint family; the embedding tier's job past it)
      val cpus0 = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
      val spark0 = graft.core.Sessions.local(cpus0)
      if (family != "dhash") {
        // the crop-tolerant tier: block-mean grid descriptors through the
        // embedding-LSH pairing, on the SAME shift-cropped twin corpus
        // the dHash cells measured — detection here at shifts where dHash
        // reads 0.000 is the r16 verdict's recovery cell. Planted-pair
        // cosine percentiles (untimed, pair-local) locate the twins
        // against the threshold the way median hamming does for dHash.
        cropShifts.foreach { s =>
          val t0 = System.nanoTime()
          val feats = featsOf(cropCorpus(spark0, size, s))
            .filter(col("feature").isNotNull)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val pairs = graft.ext.Similarity.nearDupPairsLsh(feats, gridThreshold,
            idCol = "media_id", vecCol = "feature")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val total = pairs.count()
          val detected = pairs.filter(col("id_b") === col("id_a") + 1 &&
            pmod(col("id_b"), lit(20)) === 1).count()
          val dt = (System.nanoTime() - t0) / 1e9
          val stats = feats.select(col("media_id"), col("feature"))
            .join(feats.select((col("media_id") - 1).as("media_id"),
              col("feature").as("f_b")), "media_id")
            .filter(pmod(col("media_id"), lit(20)) === 0)
            .select(graft.ext.Similarity
              .cosine(col("feature"), col("f_b")).as("c"))
            .agg(min(col("c")).as("mn"),
              expr("percentile_approx(c, 0.5)").as("md"), max(col("c")).as("mx"))
            .first()
          pairs.unpersist(); feats.unpersist()
          spark0.sharedState.cacheManager.clearCache()
          println(f"""{"check":"image_crop_detection","family":"$family",""" +
            f""""rows":$size,"shift":$s,"threshold":$gridThreshold,""" +
            f""""detected":$detected,"true_dups":${size / 20},""" +
            f""""detection":${detected.toDouble / (size / 20)}%.4f,""" +
            f""""pairs":$total,"planted_cosine_min":${stats.getDouble(0)}%.4f,""" +
            f""""planted_cosine_median":${stats.getDouble(1)}%.4f,""" +
            f""""planted_cosine_max":${stats.getDouble(2)}%.4f,"wall_s":$dt%.3f}""")
        }
        spark0.stop()
        return
      }
      cropShifts.foreach { s =>
        val t0 = System.nanoTime()
        val fps = Multimodal.imageFingerprints(cropCorpus(spark0, size, s))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val detected = Multimodal.imageNearDups(fps, radius, blocks)
          .filter(col("media_b") === col("media_a") + 1 &&
            pmod(col("media_b"), lit(20)) === 1)
          .count()
        // median planted-pair hamming, computed DISTRIBUTIVELY (pair-local
        // self-join on media_id+1, no mining) — locates the twins relative
        // to the radius even when detection is ~0. Hamming of 64-bit
        // fingerprints has ≤ 65 distinct values, so the exact median
        // derives from a 65-row histogram; collecting every fingerprint to
        // a driver map (the r15 form) was an unbounded driver-memory
        // hazard at large --size, unlike the rest of the probe.
        val valid = fps.filter(col("dhash").isNotNull)
        val hist = valid.select(col("media_id"), col("dhash"))
          .join(valid.select((col("media_id") - 1).as("media_id"),
            col("dhash").as("dhash_b")), "media_id")
          .filter(pmod(col("media_id"), lit(20)) === 0)
          .groupBy(graft.ext.Dedup.hamming(col("dhash"), col("dhash_b"))
            .cast("int").as("ham"))
          .count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        val total = hist.map(_._2).sum
        val med =
          if (total == 0) -1
          else {
            // the element at index total/2 of the sorted multiset — the
            // same upper-median convention as the collected form
            var rem = total / 2 + 1; var m = -1; var i = 0
            while (rem > 0 && i < hist.length) {
              m = hist(i)._1; rem -= hist(i)._2; i += 1
            }
            m
          }
        val dt = (System.nanoTime() - t0) / 1e9
        fps.unpersist()
        spark0.sharedState.cacheManager.clearCache()
        println(f"""{"check":"image_crop_detection","rows":$size,"shift":$s,""" +
          f""""radius":$radius,"detected":$detected,"true_dups":${size / 20},""" +
          f""""detection":${detected.toDouble / (size / 20)}%.4f,""" +
          f""""median_planted_hamming":$med,"wall_s":$dt%.3f}""")
      }
      spark0.stop()
      return
    }
    require(size > 0 && mutations.nonEmpty && mutations.forall(m => m >= 0 && m <= 1),
      s"bad knobs: size=$size mutations=$mutations")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Sessions.local(cpus)
    val wh = 32 * 32
    if (survivors) {
      // SURVIVOR-oriented image dedup — the head-mass cell for the fourth
      // family: the synthetic pattern corpus is deliberately LOW-DIVERSITY
      // (48 frequency classes), so its genuine radius-pair mass is
      // quadratic-ish in n (61.5M pairs at 200k docs) — exactly the
      // corpus shape where a pair-path dedup drowns and the greedy star's
      // ~members×promoted-reps work is the point. Reports the block-cell
      // popcount mass the pair path would collapse, the walk's actual
      // comparisons, survivors, and planted-dup detection.
      mutations = mutations.take(1)
      val m = mutations.head
      val jitters = math.max(1, math.round(m * wh).toInt)
      val fps = Multimodal.imageFingerprints(corpus(spark, size, jitters))
        .filter(col("dhash").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val blockTable = graft.ext.Dedup.simhashBlockTable(
        fps, "media_id", "dhash", radius,
        if (blocks == -1) graft.ext.Dedup.simhashParams(size, radius)._1 else blocks)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mass = blockTable.groupBy("bkey", "blk", "bits").count()
        .agg(sum(col("count") * (col("count") - lit(1L))).as("m2"))
        .first().getLong(0) / 2
      val cmp = spark.sparkContext.longAccumulator("image_star_comparisons")
      val t0 = System.nanoTime()
      val assign = graft.ext.Dedup.simhashAssignFromBlocks(blockTable,
        "media_id", comparisons = Some(cmp))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val surv = assign.filter(col("dup_of").isNull).count()
      val detected = assign.filter(col("dup_of").isNotNull &&
        pmod(col("media_id"), lit(20)) === 1).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"check":"image_survivors","rows":$size,"mutation":$m,""" +
        f""""radius":$radius,"raw_pair_mass":$mass,"comparisons":${cmp.value},""" +
        f""""survivors":$surv,"eliminated":${size - surv},"detected":$detected,""" +
        f""""true_dups":${size / 20},"wall_s":$dt%.3f}""")
      assign.unpersist(); blockTable.unpersist(); fps.unpersist()
      spark.stop()
      return
    }
    if (family != "dhash") {
      // pixel-churn response of the grid-descriptor tier on the same
      // jittered twin corpus the dHash sweep measures — the second axis
      // of the r16 routing table (dHash owns churn; this cell verifies
      // the grid tier doesn't LOSE it while buying crop tolerance)
      mutations.foreach { m =>
        val jitters = math.max(1, math.round(m * wh).toInt)
        val t0 = System.nanoTime()
        val feats = featsOf(corpus(spark, size, jitters))
          .filter(col("feature").isNotNull)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pairs = graft.ext.Similarity.nearDupPairsLsh(feats, gridThreshold,
          idCol = "media_id", vecCol = "feature")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val total = pairs.count()
        val detected = pairs.filter(col("id_b") === col("id_a") + 1 &&
          pmod(col("id_b"), lit(20)) === 1).count()
        val dt = (System.nanoTime() - t0) / 1e9
        pairs.unpersist(); feats.unpersist()
        spark.sharedState.cacheManager.clearCache()
        val truth = size / 20
        println(f"""{"check":"image_detection","family":"$family","rows":$size,""" +
          f""""mutation":$m,"jitters":$jitters,"threshold":$gridThreshold,""" +
          f""""detected":$detected,"true_dups":$truth,""" +
          f""""detection":${detected.toDouble / truth}%.4f,"pairs":$total,""" +
          f""""wall_s":$dt%.3f}""")
      }
      spark.stop()
      return
    }
    mutations.foreach { m =>
      val jitters = math.max(1, math.round(m * wh).toInt)
      val t0 = System.nanoTime()
      // fingerprints persist (both self-join sides read them), pairs once
      val fps = Multimodal.imageFingerprints(corpus(spark, size, jitters))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Multimodal.imageNearDups(fps, radius, blocks)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = pairs.count()
      val detected = pairs
        .filter(col("media_b") === col("media_a") + 1 &&
          pmod(col("media_b"), lit(20)) === 1)
        .count()
      val errs = fps.filter(col("error").isNotNull).count()
      val dt = (System.nanoTime() - t0) / 1e9
      pairs.unpersist(); fps.unpersist()
      spark.sharedState.cacheManager.clearCache()
      val truth = size / 20
      println(f"""{"check":"image_detection","rows":$size,"mutation":$m,""" +
        f""""jitters":$jitters,"radius":$radius,"blocks":$blocks,""" +
        f""""detected":$detected,"true_dups":$truth,""" +
        f""""detection":${detected.toDouble / truth}%.4f,"pairs":$total,""" +
        f""""decode_errors":$errs,"wall_s":$dt%.3f}""")
    }
    spark.stop()
  }
}
