package graft.probes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Ivf, Pq, Similarity}

/** Measured ANN serving recall on CLUSTERED corpora — the r12 verdict's
  * task #3. The q75-q77 serving paths' recall invariants were established
  * on hash-derived (near-isotropic) corpora; clustering is exactly what
  * changes IVF and PQ quality — coarse centroids fit real structure
  * (helping IVF's probed-cell coverage) while ADC quantization error
  * turns anisotropic (hurting PQ's shortlist ordering) — so the claim
  * "recall holds on realistic data" needs numbers, not extrapolation.
  *
  * For each corpus (`hash` = [[DedupScaleProbe.syntheticVecCorpus]],
  * `clustered` = [[DedupScaleProbe.syntheticClusteredVecCorpus]] — same
  * deterministic generators as the dedup probes, so the two probes'
  * corpora can never drift apart) this probe:
  *
  *   1. takes `queries` corpus members at deterministic ids as the query
  *      workload (self-queries with `excludeSelf`, the q43/q47 shape);
  *   2. computes EXACT ground truth per index family's own ranking
  *      metric — cosine for IVF (its rerank metric), raw dot product for
  *      PQ / IVF-PQ (`pqTopKRerankVec`'s rerank metric; on clustered
  *      corpora norms vary by cluster, so scoring truth in the index's
  *      metric keeps recall measuring the INDEX, not a metric mismatch);
  *   3. measures recall@k for IVF (`Similarity.topKBatch` with
  *      `Probe.Ivf`), PQ with exact
  *      rerank (`pqTopKRerankVec`), and IVF-PQ (`ivfPqTopKVec`) at the
  *      production default shortlist, across probe budgets.
  *
  * Emits one JSON line per (corpus, family, config). Run via
  * `sbt 'Test/runMain graft.probes.AnnRecallProbe [--rows N] [--queries Q]
  * [--k K] [--corpora hash,clustered]'`. ExtSpec pins the clustered-
  * corpus lower bounds at test scale; SCALE.md records the probe-scale
  * rows. */
object AnnRecallProbe {

  def main(args: Array[String]): Unit = {
    var rows = 1000000L
    var nQueries = 32
    var k = 10
    var corpora = Seq("hash", "clustered")
    var shortlists = Seq(4, 8)
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--rows" if i + 1 < args.length => rows = args(i + 1).toLong; i += 2
        case "--queries" if i + 1 < args.length => nQueries = args(i + 1).toInt; i += 2
        case "--k" if i + 1 < args.length => k = args(i + 1).toInt; i += 2
        case "--corpora" if i + 1 < args.length =>
          corpora = args(i + 1).split(",").map(_.trim).toSeq; i += 2
        case "--shortlists" if i + 1 < args.length =>
          shortlists = args(i + 1).split(",").map(_.trim.toInt).toSeq; i += 2
        case other => sys.error(s"unknown arg '$other'; usage: AnnRecallProbe " +
          "[--rows N] [--queries Q] [--k K] [--corpora hash,clustered] " +
          "[--shortlists 4,8,..]")
      }
    }
    require(rows > 0 && nQueries > 0 && k > 0, "bad sizes")
    require(corpora.nonEmpty && corpora.forall(Set("hash", "clustered")),
      s"--corpora must name hash|clustered, got $corpora")
    require(shortlists.nonEmpty && shortlists.forall(_ >= 1),
      s"bad --shortlists: $shortlists")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Sessions.local(cpus)
    corpora.foreach { c =>
      val emb = (if (c == "clustered")
        DedupScaleProbe.syntheticClusteredVecCorpus(spark, rows)
      else DedupScaleProbe.syntheticVecCorpus(spark, rows))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try probeCorpus(spark, emb, c, rows, nQueries, k, shortlists)
      finally emb.unpersist()
    }
    spark.stop()
  }

  /** Query ids spread across the corpus, avoiding the planted-dup residue
    * classes (twins live at id % 20 ∈ {0, 1}; a dup's top-1 is trivially
    * its twin — real queries shouldn't all be the easy case). The stride
    * can land step·q + 3 on a twin residue for some (rows, nQueries)
    * combinations (e.g. step ≡ 2 mod 20, q = 9), so ids that hit one are
    * nudged past both residues explicitly. */
  private def queryIds(rows: Long, nQueries: Int): Seq[Long] =
    (0 until nQueries).map { q =>
      val id = (rows / nQueries) * q + 3
      if (id % 20 <= 1) id + 2 else id
    }

  /** Runs the recall matrix on `emb`, printing one JSON row per config
    * and RETURNING the recalls keyed by `"index@knob"` (e.g. `"ivf@16"`,
    * `"pq_rerank@8"`, `"ivf_pq@16"`) so ExtSpec can pin test-scale
    * clustered lower bounds against the same code path the probe runs. */
  private[graft] def probeCorpus(spark: SparkSession, emb: DataFrame,
      corpus: String, rows: Long, nQueries: Int, k: Int,
      shortlists: Seq[Int] = Seq(4, 8)): Map[String, Double] = {
    val ids = queryIds(rows, nQueries)
    val qRows = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding")).collect()
    val queries = qRows.toSeq.map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

    val out = scala.collection.mutable.Map.empty[String, Double]
    def timedRecall(name: String, knob: Int, meta: String)(body: => Double): Unit = {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      out(s"$name@$knob") = r
      println(f"""{"check":"ann_recall","corpus":"$corpus","rows":$rows,""" +
        f""""queries":$nQueries,"k":$k,"index":"$name",$meta""" +
        f""""recall":$r%.4f,"wall_s":$dt%.3f}""")
    }
    def topSet(df: DataFrame, qCol: String, idCol: String): Map[Long, Set[Long]] =
      df.select(col(qCol), col(idCol)).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def meanRecall(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size

    // ---- cosine ground truth + IVF (cosine is ivf's rerank metric)
    val cosTruth = topSet(Similarity.topKBatch(emb, queries, k,
      excludeSelf = true), "query_id", "vec_id")
    val centroids = Ivf.trainCentroids(emb, k = 256, iters = 5)
    val assigned = Ivf.assign(emb, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    Seq(1, 4, 8, 16).foreach { nProbe =>
      timedRecall("ivf", nProbe, s""""cells":256,"nprobe":$nProbe,""") {
        meanRecall(topSet(Similarity.topKBatch(assigned, queries, k,
          Similarity.Probe.Ivf(centroids, nProbe), excludeSelf = true),
          "query_id", "vec_id"), cosTruth)
      }
    }

    // ---- dot-product ground truth + PQ / IVF-PQ (dot is the rerank
    // metric of pqTopKRerankVec; self-rows excluded to match)
    def dotTruth(qid: Long, qv: Array[Double]): Set[Long] =
      emb.filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.dot(
            col("embedding").cast("array<double>"), typedLit(qv.toSeq)).as("s"))
        .orderBy(desc("s"), col("vec_id")).limit(k)
        .collect().map(_.getLong(0)).toSet
    val dTruth = queries.map { case (qid, qv) => qid -> dotTruth(qid, qv) }.toMap
    val cb = Pq.trainCodebooks(emb, m = 8, k = 16, iters = 5)
    val encoded = Pq.encode(emb, cb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    encoded.count()
    shortlists.foreach { shortlist =>
      timedRecall("pq_rerank", shortlist, s""""m":8,"shortlist":$shortlist,""") {
        queries.map { case (qid, qv) =>
          val got = Pq.pqTopKRerankVec(encoded.filter(col("vec_id") =!= qid),
            qv, cb, k, shortlist).collect().map(_.getLong(0)).toSet
          got.intersect(dTruth(qid)).size.toDouble / k
        }.sum / queries.size
      }
    }
    val clusteredEncoded = encoded
      .join(assigned.select(col("vec_id"), col("cluster")), "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    clusteredEncoded.count()
    // JOINT (nProbe × shortlist) sweep — the composed path multiplies
    // both error sources (missed cells × ADC mis-ranking) and IS the
    // 100 TB serving shape, so its recall surface is measured jointly
    // (r13 verdict task #5) rather than inferred from the two marginals.
    // The max-shortlist cell keeps the bare "ivf_pq@<nProbe>" key the
    // ExtSpec floor pins read; other cells key as "ivf_pq@<nProbe>x<sl>".
    Seq(4, 16).foreach { nProbe =>
      shortlists.foreach { sl =>
        val t0 = System.nanoTime()
        val recall = queries.map { case (qid, qv) =>
          val got = Pq.ivfPqTopKVec(
            clusteredEncoded.filter(col("vec_id") =!= qid), centroids, cb,
            qv, k, nProbe, sl).collect().map(_.getLong(0)).toSet
          got.intersect(dTruth(qid)).size.toDouble / k
        }.sum / queries.size
        val dt = (System.nanoTime() - t0) / 1e9
        val key = if (sl == shortlists.max) s"ivf_pq@$nProbe"
          else s"ivf_pq@${nProbe}x$sl"
        out(key) = recall
        println(f"""{"check":"ann_recall","corpus":"$corpus","rows":$rows,""" +
          f""""queries":$nQueries,"k":$k,"index":"ivf_pq","cells":256,""" +
          f""""nprobe":$nProbe,"m":8,"shortlist":$sl,"recall":$recall%.4f,""" +
          f""""wall_s":$dt%.3f}""")
      }
    }
    assigned.unpersist(); encoded.unpersist(); clusteredEncoded.unpersist()
    spark.sharedState.cacheManager.clearCache()
    out.toMap
  }
}
