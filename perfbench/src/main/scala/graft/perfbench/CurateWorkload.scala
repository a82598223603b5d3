package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ext.{Dedup, Multimodal, Similarity}
import graft.queries.ExtQ

/** `curate`: a closed loop of batch dedup passes over registry ops in three
  * groups (text, embedding, media). Time goes to executor work in the ext /
  * functions kernels and candidate-pair self-joins, and each op writes its
  * persisted artifacts through the Catalog. */
object CurateWorkload {
  val groups: Seq[(String, Seq[String])] = Seq(
    "text" -> Seq("q44_curation_pipeline", "q82_simhash_survivors_persisted",
      "q83_minhash_survivors_persisted"),
    "embed" -> Seq("q42_embedding_neardup_auto", "q50_embedding_neardup_tight_auto",
      "q81_near_dup_survivors_persisted"),
    "media" -> Seq("q84_image_survivors_persisted", "q95_video_multiframe_pairs_persisted",
      "q97_audio_anysegment_pairs_persisted", "q98_audio_anysegment_spectral_persisted"))

  def short(name: String): String = name.takeWhile(_ != '_')

  def run(h: Harness): Unit = {
    val defs = ExtQ.defs
    def pass(): Unit = {
      val tPass = System.nanoTime()
      var passOk = true
      groups.foreach { case (g, names) =>
        val t0 = System.nanoTime()
        val ok = names.map(n => Registry.run(h, s"ext.${short(n)}", n, defs(n), dump = h.warming).isDefined)
        if (ok.forall(identity)) h.sample(s"curate_$g", (System.nanoTime() - t0) / 1e9)
        else passOk = false
      }
      if (passOk) h.sample("curate_pass", (System.nanoTime() - tPass) / 1e9)
    }

    // warm-up: one pass whose rows (and Catalog artifacts) the oracle checks;
    // later passes rewrite the same artifacts from the same inputs
    h.warming = true
    pass()
    Registry.writeOracleSql(h, groups.flatMap(_._2).map(n => n -> defs(n)))
    h.startTiming()
    h.closedLoop(pass())
    h.foldProbe()
    groups.foreach { case (g, names) =>
      h.foldProbe(s"curate_$g.spark", names.map(n => s"ext.${short(n)}").toSet)
      names.foreach(n => h.foldProbe(s"ext.${short(n)}.spark", Set(s"ext.${short(n)}")))
    }
  }

  /** Raw bucket collisions of an (id, ckey, tbl, bucket) table: one row per
    * (pair, colliding table), before any reconciliation. */
  private def rawCollisions(table: DataFrame, idCol: String): Long = {
    val a = table.select(col("ckey"), col("tbl").as("tbl_a"), col("bucket").as("bucket_a"),
      col(idCol).as("id_a"))
    val b = table.select(col("ckey").as("ckey_b"), col("tbl").as("tbl_b"),
      col("bucket").as("bucket_b"), col(idCol).as("id_b"))
    a.join(b, col("ckey") === col("ckey_b") && col("tbl_a") === col("tbl_b") &&
      col("bucket_a") === col("bucket_b") && col("id_a") < col("id_b")).count()
  }

  private def record(h: Harness, family: String, raw: Long, cand: Long, pairs: Long): Unit = {
    h.set(s"ext.$family.raw_collisions", raw.toDouble)
    h.set(s"ext.$family.candidates", cand.toDouble)
    h.set(s"ext.$family.pairs", pairs.toDouble)
    h.set(s"ext.$family.pair_yield", if (raw == 0) 0.0 else pairs.toDouble / raw)
    h.clearCache()
  }

  /** The candidate funnel of each dedup family (traced runs, untimed):
    * raw collisions -> distinct candidates -> verified pairs. */
  def funnel(h: Harness, docs: DataFrame, emb: DataFrame): Unit = {
    // text: minhash bands (k=32, 8 bands), q83's Jaccard threshold
    val bands = Dedup.minhashTable(docs, "text", "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    val a = bands.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    record(h, "text",
      a.join(b, Seq("band", "bucket")).filter(col("doc_a") < col("doc_b")).count(),
      Dedup.bandCandidates(bands).count(),
      Dedup.nearDupPairs(docs, threshold = 0.3).count())

    // embedding: q42's auto-sized hyperplane LSH at cosine 0.45
    def lshFunnel(family: String, emb: DataFrame, idCol: String, vecCol: String,
        threshold: Double, recall: Double, pairs: => Long): Unit = {
      val (planes, tables) = Similarity.lshParams(emb.count(), threshold, recall)
      val table = Similarity.lshTable(emb, planes, tables, idCol, vecCol)
        .persist(StorageLevel.MEMORY_AND_DISK)
      record(h, family, rawCollisions(table, idCol),
        Similarity.lshCandidatesFromTable(table, idCol).count(), pairs)
    }
    lshFunnel("embed", emb, "vec_id", "embedding", 0.45, 0.999,
      Similarity.nearDupPairsLsh(emb, threshold = 0.45, targetRecall = 0.999).count())

    // audio: q98's spectral any-segment windows, packed as the operator does
    val segs = Multimodal.audioSegmentFeatures(
      Multimodal.syntheticAudio(docs, samplesPerClip = 4096),
      segmentSamples = 2048, segments = 2, descriptor = "spectral")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val packed = segs.filter(col("feature").isNotNull)
      .select((shiftleft(col("media_id"), 6) + col("segment_idx")).as("fid"), col("feature"))
    lshFunnel("audio", packed, "fid", "feature", 0.9, 0.98,
      Multimodal.audioAnySegmentNearDups(segs, threshold = 0.9).count())
  }
}
