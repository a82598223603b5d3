package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Engine/oracle parity precondition on the generated corpus: the engine's
    * cosine returns NULL for a zero-norm vector (undefined; see
    * ext/Similarity.cosine), but DuckDB 1.0.0's `list_cosine_similarity` —
    * the form every cosine oracle uses — returns -1.0 there. No current
    * corpus contains one, and this assertion turns a future regeneration
    * that does into ONE loud, self-explaining failure instead of a spray of
    * inscrutable hash mismatches across the cosine queries. */
  private def assertNoZeroNormVectors(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val zero = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(graft.functions.VectorFunctions.norm2(col("embedding")) === 0.0)
      .count()
    if (zero > 0) sys.error(
      s"[verify] $zero zero-norm vector(s) in $sfDir/embeddings.parquet: " +
        "engine cosine yields NULL there but the DuckDB oracle's " +
        "list_cosine_similarity yields -1.0, so every cosine oracle would " +
        "diverge. Regenerate the corpus without all-zero embeddings or " +
        "align the oracle form first.")
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) sys.error("usage: graft.Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // one session factory for every main — the Q.t timestamp-normalization
    // contract and the join-threshold/AQE posture must not drift per-main
    val spark = graft.core.Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    assertNoZeroNormVectors(spark, sfDir)
    // Optional comma-separated name filter for local iteration (selfcheck
    // walks the output dirs, so a partial dump self-checks fine). The
    // driver never sets this — its gate always dumps the full registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Name order, not Map hash order: the ANN lifecycle witnesses
    // (q68-q70) must re-publish their artifacts from THIS run's testdata
    // before the serving twins (q75-q77) read them — hash order could
    // serve artifacts left by a previous data generation and then let the
    // witness overwrite them before the oracle reads. Bench already sorts.
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // each query runs in its own Scope, which releases the stages it
      // persisted once its result is written
      try graft.core.Scope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // a second safeguard: whatever a query cached outside its Scope
      spark.sharedState.cacheManager.clearCache()
    }
    def q(s: String): String = SparkEntry.jsonString(s)
    // The ANN-artifact oracles (q68-q70) carry a placeholder for the
    // persisted-artifact directory; resolve it against THIS run's sf dir
    // so the dumped SQL always reads where the engine actually wrote.
    val annDir = graft.queries.ExtQ.annRoot(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(graft.queries.ExtQ.AnnOracleRoot, annDir))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
