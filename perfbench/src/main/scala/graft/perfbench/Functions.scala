package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ext.{Dedup, Multimodal}
import graft.functions.{AudioSpectralFeature, HyperplaneLsh, ImageDHash, MinHashK}

/** Kernel-level figures every traced run takes on seeded inputs of its own:
  * the cost per row of graft's native expressions and the dedup candidate
  * funnels.
  *
  * A kernel's figure is the noop-sink time of projecting its expression over
  * a materialized input, minus the time of projecting the input column
  * itself over the same input (Spark's per-job planning, scheduling and row
  * iteration), divided by the rows; each time is the median of `reps` passes
  * after `warmups` that compile the projection and let the JIT settle (one
  * is not enough for dHash's image decoding). The inputs are large enough
  * that the kernel's own cost dominates the job. */
object Functions {
  private val warmups = 2
  private val reps = 5

  def run(h: Harness, dir: String): Unit = {
    val spark = h.spark
    val docs = spark.read.parquet(s"$dir/fn_kernel_documents.parquet")
      .persist(StorageLevel.MEMORY_ONLY)
    val emb = spark.read.parquet(s"$dir/fn_kernel_embeddings.parquet")
      .persist(StorageLevel.MEMORY_ONLY)
    val mediaDocs = spark.read.parquet(s"$dir/fn_media_documents.parquet")
    val images = Multimodal.syntheticImages(mediaDocs).persist(StorageLevel.MEMORY_ONLY)
    val audio = Multimodal.syntheticAudio(mediaDocs, samplesPerClip = 4096)
      .persist(StorageLevel.MEMORY_ONLY)
    Seq(docs, emb, images, audio).foreach(_.count())

    def medianTime(name: String, input: DataFrame, expr: Column): Double = {
      val times = (0 until warmups + reps).map { _ =>
        h.time(h.tracer.span("functions", name, 0)(
          input.select(expr.as("x")).write.format("noop").mode("overwrite").save()))
      }.drop(warmups)
      times.sorted.apply(reps / 2)
    }
    def perRow(name: String, input: DataFrame, inputCol: String, expr: Column): Unit = {
      val rows = input.count()
      val kernel = medianTime(name, input, expr)
      val identity = medianTime(s"$name.identity", input, col(inputCol))
      h.set(s"functions.${name}_job_s", kernel)
      h.set(s"functions.${name}_identity_s", identity)
      h.set(s"functions.${name}_ns_per_row", (kernel - identity) * 1e9 / rows)
    }
    perRow("minhash", docs, "text", MinHashK(Dedup.shingleHashes(col("text"), 3), 32))
    perRow("simhash", docs, "text", Dedup.simhash(col("text")))
    perRow("hyperplane_lsh", emb, "embedding", HyperplaneLsh(col("embedding"), 8, 16))
    perRow("image_dhash", images, "payload", ImageDHash(col("payload")))
    perRow("audio_spectral", audio, "payload", AudioSpectralFeature(col("payload"), 24))
    h.clearCache()
    CurateWorkload.funnel(h, spark.read.parquet(s"$dir/fn_documents.parquet"),
      spark.read.parquet(s"$dir/fn_embeddings.parquet"))
  }
}
