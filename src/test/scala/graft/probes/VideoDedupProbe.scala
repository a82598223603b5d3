package graft.probes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Multimodal

/** Measured detection sweep for the MULTI-FRAME video tier (r18) — the
  * trim law: a re-uploaded video with its leading frames dropped shares
  * no frame-0 content with the original, so the q93 frame-0 tier is
  * expected to collapse at ANY trim while the any-frame tier
  * ([[Multimodal.videoAnyFrameNearDups]] over K sampled frames) holds
  * until the trim eats the whole overlap (t ≥ K). This probe plants
  * trimmed twins and measures BOTH tiers per trim — the numbers the
  * planner's video guidance quotes (SCALE.md r18); selection logic
  * quotes measurements, never guesses.
  *
  * Twin construction: video i renders frames from a per-video FIELD
  * SEQUENCE (field k = patternPixels(seed·131 + k)); the dup twin
  * (id % 20 == 1) renders the PREDECESSOR's sequence starting at field
  * `trim` — the same content re-cut, JPEG-encoded identically, so
  * overlapping frames are byte-identical and the law isolates pure
  * trimming (frame-content churn has its own measured law: the AVI-path
  * mutation sweep == the r15 image law).
  *
  * r19 widenings: `--container avi|mp4|mixed` routes the corpus through
  * either decodable container (mixed alternates per id — and because dup
  * twins land on odd ids with even-id seeds, EVERY planted pair is then
  * cross-container: an mp4 re-cut of an AVI original); `--recodeQuality
  * Q` re-encodes the twin's frames at JPEG quality Q (the re-cut AND
  * re-encoded re-upload — the realistic case the r18 verdict asked to
  * compose: trim × churn × recode in one measured cell).
  *
  * `sbt 'Test/runMain graft.probes.VideoDedupProbe [--size N] [--frames K]
  * [--trimSweep 0,1,2,3] [--churn 0.01] [--container avi|mp4|mixed]
  * [--recodeQuality 92]'` — one JSON line per trim cell.
  */
object VideoDedupProbe {

  /** Trim twin corpus: K-frame MJPEG AVIs; dup twins re-cut the
    * predecessor's field sequence `trim` frames later. */
  def corpus(spark: SparkSession, n: Long, trim: Int, frames: Int,
      w: Int = 32, h: Int = 32, churn: Double = 0.0,
      container: String = "avi", recodeQuality: Int = 92): DataFrame = {
    require(trim >= 0, s"bad trim $trim")
    require(churn >= 0.0 && churn <= 1.0, s"bad churn $churn")
    require(Set("avi", "mp4", "mixed").contains(container),
      s"bad container '$container'")
    require(recodeQuality >= 10 && recodeQuality <= 100,
      s"bad recodeQuality $recodeQuality")
    val rdd = spark.range(n).select(col("id").as("doc_id")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val off = if (isDup) trim else 0
        val jitters = math.round(churn * w * h).toInt
        // the twin's frames may be RE-ENCODED at a lower JPEG quality —
        // the re-cut + re-encoded re-upload (r18 verdict item #4's
        // composition axis); originals stay at the corpus quality 92
        val q = if (isDup) recodeQuality else 92
        val fs = (0 until frames).map { k =>
          val pix = Multimodal.patternPixels(seed * 131L + off + k, w, h)
          if (isDup && jitters > 0) {
            // the ImageDedupProbe mutation recipe, applied PER FRAME on
            // top of the trim: the twin is a re-cut AND a re-render
            var j = 0
            while (j < jitters) {
              val pos = java.lang.Math.floorMod(
                id * 31L + k * 7919L + j * 131L, (w * h).toLong).toInt
              pix(pos) = ((pix(pos) & 0xff) ^ 0x14).toByte
              j += 1
            }
          }
          graft.functions.JpegGray.encodeGray(w, h, pix, q)
        }
        // mixed alternates per id: dup twins (odd) become mp4 re-cuts of
        // avi originals (even seeds) — every planted pair cross-container
        val useMp4 = container == "mp4" ||
          (container == "mixed" && java.lang.Math.floorMod(id, 2L) == 1L)
        val payload =
          if (useMp4) graft.functions.Mp4Jpeg.encode(w, h, fs, fps = 25)
          else graft.functions.MjpegAvi.encode(w, h, fs, fps = 25)
        Row(id, payload)
      }
    }
    spark.createDataFrame(rdd, Multimodal.imageSchema)
  }

  def main(args: Array[String]): Unit = {
    var size = 100000L
    var frames = 3
    var trimSweep: Seq[Int] = Seq(0, 1, 2, 3)
    var churn = 0.0
    var container = "avi"
    var recodeQuality = 92
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--size" if i + 1 < args.length => size = args(i + 1).toLong; i += 2
        case "--frames" if i + 1 < args.length => frames = args(i + 1).toInt; i += 2
        case "--trimSweep" if i + 1 < args.length =>
          trimSweep = args(i + 1).split(",").map(_.toInt).toSeq; i += 2
        case "--churn" if i + 1 < args.length =>
          churn = args(i + 1).toDouble; i += 2
        case "--container" if i + 1 < args.length =>
          container = args(i + 1); i += 2
        case "--recodeQuality" if i + 1 < args.length =>
          recodeQuality = args(i + 1).toInt; i += 2
        case other => sys.error(s"unknown arg '$other'; usage: VideoDedupProbe " +
          "[--size N] [--frames K] [--trimSweep 0,1,2,3] [--churn 0.01] " +
          "[--container avi|mp4|mixed] [--recodeQuality 92]")
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Sessions.local(cpus)
    trimSweep.foreach { trim =>
      val media = corpus(spark, size, trim, frames, churn = churn,
        container = container, recodeQuality = recodeQuality)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val t0 = System.nanoTime()
      val fps = Multimodal.videoFrameFingerprints(media, frames)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val decoded = fps.filter(col("dhash").isNotNull).count()
      val dtFps = (System.nanoTime() - t0) / 1e9
      // planted-pair detection, both tiers: (id-1, id) with id%20==1
      def plantedDetected(pairs: DataFrame): Long = pairs
        .filter(col("media_b") === col("media_a") + 1 &&
          pmod(col("media_b"), lit(20)) === 1)
        .count()
      val t1 = System.nanoTime()
      val anyFrame = plantedDetected(Multimodal.videoAnyFrameNearDups(fps))
      val dtAny = (System.nanoTime() - t1) / 1e9
      val frame0 = plantedDetected(
        Multimodal.videoAnyFrameNearDups(fps.filter(col("frame_idx") === 0)))
      val trueDups = size / 20
      println(f"""{"check":"video_trim_detection","rows":$size,"frames":$frames,""" +
        f""""trim":$trim,"churn":$churn,"container":"$container",""" +
        f""""recode_quality":$recodeQuality,"decoded_frames":$decoded,""" +
        f""""fps_wall_s":$dtFps%.3f,"clips_per_s":${size / dtFps}%.0f,""" +
        f""""frame0_detected":$frame0,"anyframe_detected":$anyFrame,""" +
        f""""true_dups":$trueDups,""" +
        f""""frame0_detection":${frame0.toDouble / trueDups}%.4f,""" +
        f""""anyframe_detection":${anyFrame.toDouble / trueDups}%.4f,""" +
        f""""anyframe_wall_s":$dtAny%.3f}""")
      fps.unpersist(); media.unpersist()
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
