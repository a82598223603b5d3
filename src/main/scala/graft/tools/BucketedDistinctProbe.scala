package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.ext.Similarity

/** Measures the COMPOSED bounded-scratch pairing posture: a `ckey`-
  * bucketed published LSH table ([[graft.core.Catalog.saveBucketed]],
  * whose exchange-free self-join is plan-pinned in ExtSpec) under the
  * pair-space partitioned distinct
  * ([[graft.ext.Similarity.lshCandidatesPartitioned]]).
  *
  * Why this cell exists: `DedupScaleProbe --partitionedDistinct` over a
  * PLAIN parquet bucket table measured its per-pass peak pinned at the
  * JOIN-INPUT shuffle (~both table sides, re-paid every pass), not at the
  * raw/P distinct slice the mode bounds — the join inputs become the
  * floor once the distinct is sliced. Bucketing the published table by
  * `ckey` removes exactly that exchange (the production publish path
  * q53/q71 already use), so the composition's peak transient should fall
  * to the raw/P slice alone. This probe measures it instead of arguing
  * it: same corpus, same pinned config, same listener metric as the
  * DedupScaleProbe rows it sits beside in SCALE.md.
  *
  * Run via `sbt 'runMain graft.tools.BucketedDistinctProbe [--rows N]
  * [--pinnedLsh PxT] [--partitions P] [--buckets B]'`. Reuses the
  * DedupScaleProbe parquet table cache when present; the bucketed copy
  * publishes under the session warehouse and is dropped at exit. */
object BucketedDistinctProbe {

  def main(args: Array[String]): Unit = {
    var rows = 16000000L
    var planes = 21
    var tables = 14
    var partitions = 8
    var buckets = 64
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--rows" if i + 1 < args.length => rows = args(i + 1).toLong; i += 2
        case "--pinnedLsh" if i + 1 < args.length =>
          val p = args(i + 1).split("[x,]").map(_.trim.toInt)
          require(p.length == 2, s"--pinnedLsh wants PLANESxTABLES, got '${args(i + 1)}'")
          planes = p(0); tables = p(1); i += 2
        case "--partitions" if i + 1 < args.length =>
          partitions = args(i + 1).toInt; i += 2
        case "--buckets" if i + 1 < args.length => buckets = args(i + 1).toInt; i += 2
        case other => sys.error(s"unknown arg '$other'; usage: " +
          "BucketedDistinctProbe [--rows N] [--pinnedLsh PxT] [--partitions P] [--buckets B]")
      }
    }
    require(rows > 0 && partitions >= 1 && buckets >= 1 && planes >= 1 && tables >= 1,
      "bad sizes")
    val root = sys.env.getOrElse("SPARK_GRAFT_DEDUP_ROOT", "/tmp/graft_dedup_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Sessions.local(cpus)

    // the same cache layout as DedupScaleProbe, so a probed size reuses
    // the already-built table bytes
    val dir = s"$root/n$rows/lshbuckets_p${planes}t$tables"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      System.err.println(s"[bucketed-probe] building $dir ...")
      Similarity.lshTable(DedupScaleProbe.syntheticVecCorpus(spark, rows),
        planes, tables).write.mode("overwrite").parquet(dir)
    }

    val cat = new Catalog(spark, s"$root/bucketed_probe_catalog")
    val t0 = System.nanoTime()
    val tb = cat.saveBucketed(spark.read.parquet(dir), "probe.lshbuckets",
      "ckey", buckets)
    val publishS = (System.nanoTime() - t0) / 1e9

    val scratch = s"$root/n$rows/bucketed_part_scratch"
    // the scratch metrics cover the pairing only — the verification query
    // below is not part of the bounded-distinct cost being measured
    val ((df, pairs, wallS), peakGb, totalGb) = DedupScaleProbe.shuffleWriteGb(spark) {
      val t1 = System.nanoTime()
      val df = Similarity.lshCandidatesPartitioned(spark.table(tb), scratch,
        "vec_id", partitions)
      val pairs = df.count()
      (df, pairs, (System.nanoTime() - t1) / 1e9)
    }
    val detected = df.filter(col("id_b") === col("id_a") + 1 &&
      pmod(col("id_b"), lit(20)) === 1).count()
    println(f"""{"check":"bucketed_partitioned_distinct","rows":$rows,""" +
      f""""planes":$planes,"tables":$tables,"buckets":$buckets,""" +
      f""""partitions":$partitions,"publish_s":$publishS%.3f,"pairs":$pairs,""" +
      f""""detected":$detected,"true_dups":${rows / 20},""" +
      f""""peak_stage_shuffle_gb":$peakGb%.3f,""" +
      f""""total_shuffle_gb":$totalGb%.3f,"wall_s":$wallS%.3f}""")
    val scratchPath = new org.apache.hadoop.fs.Path(scratch)
    scratchPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(scratchPath, true)
    cat.dropBucketed("probe.lshbuckets")
    spark.stop()
  }
}
