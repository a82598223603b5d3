package graft

import graft.ext.{Dedup, DedupFamily, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** The dedup planner's family table against its ladders: every family
  * [[Dedup.recommendFamily]] can return has a [[DedupFamily]] entry, and
  * every entry's executor runs on a plan of it. */
class DedupFamilySpec extends SparkSpec {
  import spark.implicits._

  private final case class Knobs(modality: String, mutation: Double,
      minDetection: Double, geometric: Double, recode: Double, trim: Int,
      frameDecodable: Boolean, hasEmbeddings: Boolean)

  test("every family the planner recommends has a table entry, and runPlan " +
      "returns one row per input id for each") {
    val grid = for {
      modality <- Seq("text", "image", "audio", "video")
      mutation <- Seq(0.0, 0.001, 0.01, 0.05, 0.3)
      minDetection <- Seq(0.5, 0.9, 0.999)
      geometric <- Seq(0.0, 1.0, 8.0, 32.0, 600.0)
      recode <- Seq(100.0, 30.0)
      trim <- Seq(0, 2)
      frameDecodable <- Seq(false, true)
      hasEmbeddings <- Seq(false, true)
    } yield Knobs(modality, mutation, minDetection, geometric, recode, trim,
      frameDecodable, hasEmbeddings)
    // a knob outside its modality, or a contradiction, is refused; every
    // other combination names a family
    val reached = grid.flatMap { k =>
      try Some(Dedup.recommendFamily(k.mutation, k.minDetection,
        k.hasEmbeddings, k.modality, k.geometric, k.recode, k.frameDecodable,
        k.trim).family -> k)
      catch { case _: IllegalArgumentException => None }
    }.distinctBy(_._1)
    assert(reached.map(_._1).toSet == DedupFamily.All.map(_.name).toSet,
      s"reached ${reached.map(_._1)}")

    // ids 30..39 repeat 0..9 (text, vectors); the media generators plant
    // their own twins
    val ids = spark.range(40).select($"id".as("doc_id"))
    val docs = ids.select($"doc_id",
      concat(lit("the quick brown fox jumps over lazy dog number "),
        ($"doc_id" % 30).cast("string")).as("text"))
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.sin((i % 30) * 0.7 + d).toFloat).toSeq)
    }.toDF("doc_id", "embedding")
    val media = Map(
      "image" -> Multimodal.syntheticImages(ids),
      "audio" -> Multimodal.syntheticAudio(ids),
      "video" -> Multimodal.syntheticVideoAvi(ids))
    try reached.foreach { case (family, k) =>
      val text = k.modality == "text"
      val entry = DedupFamily.named(family)
      val (data, idCol) =
        if (text) (if (entry.embeddingLike) emb else docs, "doc_id")
        else (entry.derive.get(media(k.modality), k.trim + 1), "media_id")
      val vecCol = if (text) "embedding" else "feature"
      val p = Dedup.plan(data, k.mutation, k.minDetection,
        hasEmbeddings = k.hasEmbeddings, vecCol = vecCol,
        modality = k.modality, geometricTolerance = k.geometric,
        recodeQuality = k.recode, frameDecodable = k.frameDecodable,
        trimTolerance = k.trim)
      assert(p.family == family)
      def run(): DataFrame = Dedup.runPlan(p, data, idCol = idCol,
        textCol = if (text) "text" else "payload", vecCol = vecCol)
      if (entry == DedupFamily.VideoHeaderBlocking) {
        val ex = intercept[IllegalArgumentException](run())
        assert(ex.getMessage.contains("videoHeaderCandidates"))
      } else {
        val got = run().select(col(idCol), col("dup_of")).as[(Long, Option[Long])]
          .collect()
        val want = data.select(idCol).distinct().as[Long].collect().toSet
        assert(got.length == want.size && got.map(_._1).toSet == want,
          s"$family: ${got.length} rows for ${want.size} ids")
      }
    }
    finally spark.sharedState.cacheManager.clearCache()
  }

  test("a descriptor tier's assignment joins its id set once") {
    val media = Multimodal.syntheticImages(spark.range(40).select($"id".as("doc_id")))
    val feats = DedupFamily.ImageGridLsh.derive.get(media, 1)
    val p = Dedup.plan(feats, mutationTolerance = 0.01, minDetection = 0.75,
      vecCol = "feature", modality = "image", geometricTolerance = 1)
    assert(p.family == "image_grid_lsh" && p.miningMode == "one_shot")
    val assign = Dedup.runPlan(p, feats, idCol = "media_id", vecCol = "feature")
    // the completion join is the core's: null-feature rows hash to no
    // cell, so the derived table's ids are the assignment's id set
    val outer = new AdaptiveSparkPlanHelper {}.collect(assign.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.joinType == LeftOuter => j
    }
    assert(outer.size == 1, assign.queryExecution.executedPlan.toString)
    assert(assign.count() == 40)
  }
}
