package graft.probes

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal}

/** Streaming scale cell for the mixed-modality ingest path (r19 — the
  * r18 verdict's #3 item): the BATCH dispatch capstone is measured
  * (SCALE.md r18 capstone, 1M rows), but a real always-on ingest runs
  * the STREAMING form — [[graft.streaming.CurationStream.KindRouter]]
  * deduplicating each micro-batch against Catalog-persisted state. This
  * probe feeds the SAME six-container corpus through the router in N
  * id-ordered micro-batches and measures:
  *
  *  1. per-batch wall-clock (does the cost grow as state accumulates?);
  *  2. state growth per family after each batch — image block rows,
  *     audio bucket rows, video digest rows (the quantities a capacity
  *     plan needs: rows/accepted-clip per family);
  *  3. end-state agreement with ONE batch `runPlanByKind` over the whole
  *     corpus. EXACT set equality is asserted where the algorithms are
  *     identical (the video pool's payload digests); the image and audio
  *     pools report measured DELTAS instead — at this corpus's collision
  *     density those pools are heavily CHAINED, where greedy-prefix
  *     (stream) and the batch star legitimately keep different (equally
  *     sound) survivors, and the audio rung's fixed write-once LSH
  *     config differs from the batch plan's corpus-aware sizing by
  *     design. The StreamingSpec pin covers exact equality on chain-free
  *     corpora; this cell measures how far the conventions drift at
  *     chain-dense scale.
  *
  * `sbt 'Test/runMain graft.probes.KindRouterStreamProbe [--size N]
  * [--batches B]'` — one JSON line per batch + one summary line. Corpus
  * mix = the capstone's: 40% images / 25% audio / 15% avi / 10% mp4 /
  * 10% garbage, every family's planted-dup structure. */
object KindRouterStreamProbe {

  def main(args: Array[String]): Unit = {
    var size = 1000000L
    var batches = 10
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--size" if i + 1 < args.length => size = args(i + 1).toLong; i += 2
        case "--batches" if i + 1 < args.length =>
          batches = args(i + 1).toInt; i += 2
        case other => sys.error(s"unknown arg '$other'; usage: " +
          "KindRouterStreamProbe [--size N] [--batches B]")
      }
    }
    require(batches >= 1, s"bad --batches $batches")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Sessions.local(cpus)

    def docs(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("body "), col("id").cast("string")).as("text"),
      lit("web").as("source"), lit(10L).as("n_chars"))

    val nImg = size * 40 / 100
    val nAud = size * 25 / 100
    val nAvi = size * 15 / 100
    val nMp4 = size * 10 / 100
    val nJunk = size - nImg - nAud - nAvi - nMp4
    // the r18 capstone's corpus, re-keyed CONTIGUOUSLY so id-ordered
    // micro-batches interleave all six containers (a per-modality id
    // banding would feed whole pools one at a time — not an ingest):
    // media_id = row * 5 + modality slot, preserving the per-family
    // planted-dup structure under the slot multiplication
    val mixed = Multimodal.syntheticImages(docs(nImg))
      .select((col("media_id") * 5).as("media_id"), col("payload"))
      .unionByName(Multimodal.syntheticAudio(docs(nAud))
        .select((col("media_id") * 5 + 1).as("media_id"), col("payload")))
      .unionByName(Multimodal.syntheticVideoAvi(docs(nAvi))
        .select((col("media_id") * 5 + 2).as("media_id"), col("payload")))
      .unionByName(Multimodal.syntheticVideo(docs(nMp4))
        .select((col("media_id") * 5 + 3).as("media_id"), col("payload")))
      .unionByName(spark.range(nJunk)
        .select((col("id") * 5 + 4).as("media_id"),
          concat(lit("garbage payload "), col("id").cast("string"))
            .cast("binary").as("payload")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = mixed.count()
    // batches band the DOC space (media_id / 5) so each micro-batch
    // carries all six containers — the slot multiplication leaves the
    // top of the raw id space empty for the smaller pools
    val maxDoc = Seq(nImg, nAud, nAvi, nMp4, nJunk).max

    val root = java.nio.file.Files.createTempDirectory("graft-krprobe").toString
    val catalog = new graft.core.Catalog(spark, root)
    val router = new graft.streaming.CurationStream.KindRouter(catalog,
      "probe.mix")
    def stateRows(table: String): Long =
      try catalog.load(table).count() catch { case _: Exception => 0L }

    val step = (maxDoc + batches - 1) / batches
    var b = 0
    var totalWall = 0.0
    while (b < batches) {
      val lo = b.toLong * step * 5
      val hi = math.min(maxDoc, (b + 1L) * step) * 5
      val batch = mixed.filter(col("media_id") >= lo && col("media_id") < hi)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nRows = batch.count()
      val t0 = System.nanoTime()
      val counts = router.processBatch(batch, b + 1L)
      val dt = (System.nanoTime() - t0) / 1e9
      totalWall += dt
      println(f"""{"check":"kindrouter_stream_batch","batch":${b + 1},""" +
        f""""rows":$nRows,"wall_s":$dt%.2f,""" +
        f""""rows_per_s":${nRows / dt}%.0f,""" +
        f""""survivors":{"image":${counts("image")},""" +
        f""""audio":${counts("audio")},"video":${counts("video")},""" +
        f""""others":${counts("others")}},""" +
        f""""state_rows":{"image_blocks":${stateRows("probe.mix_image_blocks")},""" +
        f""""audio_buckets":${stateRows("probe.mix_audio_buckets")},""" +
        f""""video_digests":${stateRows("probe.mix_video_digests")}}}""")
      batch.unpersist(blocking = false)
      b += 1
    }

    // ── end-state agreement with the one-shot batch dispatch ──
    def tableIds(t: String): Set[Long] =
      catalog.load(t).select("media_id").collect().map(_.getLong(0)).toSet
    val sImg = tableIds("probe.mix_image")
    val sAud = tableIds("probe.mix_audio") ++
      // the router parks content-undecodable audio in others; the batch
      // call keeps it in the audio pool — same survivors, different shelf
      tableIds("probe.mix_others").filter(id => id % 5 == 1)
    val sVid = tableIds("probe.mix_video")
    val t1 = System.nanoTime()
    val byKind = Dedup.runPlanByKind(mixed, mutationTolerance = 0.01)
    val batchSurv = byKind.filter(col("dup_of").isNull).select("media_id")
      .collect().map(_.getLong(0)).toSet
    val dtBatch = (System.nanoTime() - t1) / 1e9
    byKind.unpersist()
    // modality slots are the corpus construction's own encoding
    val bImg = batchSurv.filter(_ % 5 == 0)
    val bAud = batchSurv.filter(_ % 5 == 1)
    val bVid = batchSurv.filter(id => id % 5 == 2 || id % 5 == 3)
    def delta(a: Set[Long], b: Set[Long]): Double =
      if (b.isEmpty) 0.0
      else ((a -- b).size + (b -- a).size).toDouble / b.size
    // the video pool's payload-digest rung is IDENTICAL in both forms —
    // exact set equality is the hard assertion
    val videoEqual = sVid == bVid
    // the image pool's PROVABLE invariant on chain-dense corpora: the
    // pair-closure survivors (no lower-id image within radius AT ALL —
    // the q44 sweep convention) must be a SUBSET of the stream's: a
    // closure survivor has no possible accepted partner, so the stream
    // cannot have dropped it. The stream's EXCESS over the closure is
    // chain casualties kept alive (B dropped vs A, so C near-B-only
    // survives) — order-dependent but every drop radius-justified.
    val imgFps = Multimodal.imageFingerprints(
      mixed.filter(pmod(col("media_id"), lit(5)) === 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val closureDropped = Multimodal.imageNearDups(imgFps, maxHamming = 3)
      .select(col("media_b").as("media_id")).distinct()
    val closureImg = imgFps.select("media_id")
      .join(closureDropped, Seq("media_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    imgFps.unpersist(blocking = false)
    val closureContained = closureImg.subsetOf(sImg)
    println(f"""{"check":"kindrouter_stream_summary","rows":$total,""" +
      f""""batches":$batches,"stream_total_wall_s":$totalWall%.1f,""" +
      f""""rows_per_s":${total / totalWall}%.0f,""" +
      f""""batch_onecall_wall_s":$dtBatch%.1f,""" +
      f""""stream_over_batch":${totalWall / dtBatch}%.2f,""" +
      f""""video_equal":$videoEqual,""" +
      f""""image_closure":{"survivors":${closureImg.size},""" +
      f""""contained_in_stream":$closureContained},""" +
      f""""image_survivors":{"stream":${sImg.size},"batch":${bImg.size},""" +
      f""""delta_frac":${delta(sImg, bImg)}%.4f},""" +
      f""""audio_survivors":{"stream":${sAud.size},"batch":${bAud.size},""" +
      f""""delta_frac":${delta(sAud, bAud)}%.4f}}""")
    spark.stop()
  }
}
