package graft.probes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Ivf, Pq}

/** Measured IVF recall under APPEND CHURN — the r16 scale lever: a trained
  * coarse quantizer is a train-once artifact, but a 100 TB corpus appends
  * daily through [[graft.ext.Ivf.appendAssign]] (assign to the persisted
  * centroids, no retrain). Nothing in the r15 engine measured what that
  * costs in recall or when a rebuild pays — this probe does, and its curve
  * is what `Ivf.MeasuredRebuildFraction` (the [[graft.ext.Ivf.IvfLedger]]
  * default) encodes.
  *
  * Corpus model: base vectors draw from `cells` hash-derived cluster
  * centers plus noise; appended batches draw EITHER from the same centers
  * (`iid` — the control: the trained quantizer has seen every regime) OR
  * from a disjoint center set (`drift` — the worst case: every appended
  * vector is a regime the quantizer never trained on). Real churn sits
  * between the two curves.
  *
  * Per appended fraction f, the probe reports recall@k (vs exact brute
  * force over the union, [[graft.ext.Ivf.measureRecall]]) three ways:
  * appended-only queries on the STALE quantizer (the drift casualty),
  * all-corpus queries on the stale quantizer (the blended number a
  * dashboard sees), and appended-only queries on a RETRAINED quantizer
  * (what a rebuild buys back). The rebuild threshold is where stale
  * appended-query recall falls materially below the retrained column.
  *
  * `--family pq` runs the SAME protocol for the PQ tier
  * ([[graft.ext.Pq.appendEncode]]): what staleness costs there is not
  * placement but QUANTIZATION DISTORTION — appended vectors from an
  * unseen regime sit farther from every codeword, so their ADC orderings
  * blur ([[graft.ext.Pq.measureRecall]], pure ADC — rerank would mask
  * exactly the distortion being metered).
  *
  * `sbt 'Test/runMain graft.probes.IvfDriftProbe [--base N] [--fractions
  * 0.25,0.5,1,2] [--cells K] [--nProbe P] [--queries M] [--dim D]
  * [--family ivf|pq|ivfpq] [--m M] [--codewords K]'`
  *
  * `--family ivfpq` (r17) runs the COMPOSED protocol over the q92
  * artifact shape: both quantizers stale vs both retrained, serving
  * recall of the full probe→ADC-shortlist→exact-rerank pipeline against
  * brute-force exact-dot truth on unit-normalized vectors.
  *
  * MEASURED VERDICT (SCALE.md r17): a NULL instrument on this corpus
  * family — end-to-end recall is TIE-dominated (tight hash-clusters put
  * thousands of near-identical candidates inside the top-10's score
  * band, so exact truth is a lottery any shortlist loses), and the
  * tell is that IID-fresh quantizers read as low as unseen-regime stale
  * ones while stale-vs-retrain deltas (±0.1) sit inside the 32-query
  * sampling noise. The composed rebuild policy therefore stays on the
  * DECOMPOSED gates — the IVF fraction threshold (placement) and the
  * PQ shortlist meter (distortion), both of which read clean signals
  * here — with q92's oracle proving the composed pipeline itself is
  * mechanically exact after appends. Three instrument iterations got
  * here honestly: fixed shortlist 10× read ADC saturation (~0.05
  * everywhere, the r16 "meter that lied" trap composed), corpus-sized
  * shortlists still read tie noise on raw vectors (dot-serving atop
  * L2-probing diverges structurally on norm-diverse vectors), and
  * unit normalization plus the engine's own k=64 codebooks still left
  * the tie lottery in charge.
  */
object IvfDriftProbe {

  /** Deterministic clustered vectors: ids [lo, hi) draw a center from
    * [centerBase, centerBase + cells) by id hash, then add per-id noise —
    * pure row functions, byte-identical on any partitioning. */
  private def clustered(spark: SparkSession, lo: Long, hi: Long, dim: Int,
      cells: Int, centerBase: Int, noise: Double,
      normalize: Boolean = false): DataFrame = {
    val id = col("id")
    def h(src: org.apache.spark.sql.Column, d: Int, salt: Int) =
      (pmod(hash(src, lit(d), lit(salt)), lit(2001)) - lit(1000))
        .cast("double") / 1000.0
    val center = (pmod(hash(id, lit(99)), lit(cells)) + lit(centerBase)).cast("int")
    val raw = spark.range(lo, hi).select(id.as("vec_id"),
      array((0 until dim).map(d =>
        (h(center, d, 17) + h(id, d, 18) * noise).cast("float")): _*)
        .as("embedding"))
    if (!normalize) raw
    else {
      // unit-normalize for the COMPOSED family: its serving pipeline
      // ranks by dot atop L2 probing, and on a norm-diverse corpus those
      // orderings diverge structurally (the first composed cell read
      // ~0.05 recall for stale AND retrained — metric geometry, not
      // drift). Real embedding deployments normalize; on unit vectors
      // argmax dot ≡ argmin L2 and the meter reads DRIFT.
      val e = col("embedding").cast("array<double>")
      val nrm = sqrt(aggregate(e, lit(0.0d), (acc, x) => acc + x * x))
      raw.select(col("vec_id"),
        transform(e, x => x / nrm).cast("array<float>").as("embedding"))
    }
  }

  def main(args: Array[String]): Unit = {
    var base = 200000L
    var fractions = Seq(0.25, 0.5, 1.0, 2.0)
    var cells = 64
    var nProbe = 3
    var queries = 32
    var dim = 32
    var family = "ivf"
    var m = 8
    var codewords = 16
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--base" if i + 1 < args.length => base = args(i + 1).toLong; i += 2
        case "--fractions" if i + 1 < args.length =>
          fractions = args(i + 1).split(",").map(_.toDouble).toSeq; i += 2
        case "--cells" if i + 1 < args.length => cells = args(i + 1).toInt; i += 2
        case "--nProbe" if i + 1 < args.length => nProbe = args(i + 1).toInt; i += 2
        case "--queries" if i + 1 < args.length => queries = args(i + 1).toInt; i += 2
        case "--dim" if i + 1 < args.length => dim = args(i + 1).toInt; i += 2
        case "--family" if i + 1 < args.length => family = args(i + 1); i += 2
        case "--m" if i + 1 < args.length => m = args(i + 1).toInt; i += 2
        case "--codewords" if i + 1 < args.length =>
          codewords = args(i + 1).toInt; i += 2
        case other => sys.error(s"unknown arg '$other'; usage: IvfDriftProbe " +
          "[--base N] [--fractions 0.25,..] [--cells K] [--nProbe P] " +
          "[--queries M] [--dim D] [--family ivf|pq] [--m M] [--codewords K]")
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Sessions.local(cpus)
    val baseDf = clustered(spark, 0L, base, dim, cells, 0, 0.25,
      normalize = family == "ivfpq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // train on a bounded deterministic subsample — the ServeScaleProbe rule
    val step = math.max(1L, base / 100000L)
    require(family == "ivf" || family == "pq" || family == "ivfpq",
      s"--family must be ivf|pq|ivfpq, got '$family'")
    // the stale artifact trains once on the base (the bounded
    // deterministic subsample rule), each cell retrains on the union
    val trainedCents =
      if (family == "ivf" || family == "ivfpq") Ivf.trainCentroids(
        baseDf.filter(pmod(col("vec_id"), lit(step)) === 0), k = cells, iters = 3)
      else null
    val trainedCb =
      if (family == "pq" || family == "ivfpq") Pq.trainCodebooks(
        baseDf.filter(pmod(col("vec_id"), lit(step)) === 0),
        m = m, k = codewords, iters = 3)
      else null

    /** Composed-serving recall (family ivfpq): the FULL q70/q92 pipeline
      * — probe nProbe cells, ADC-shortlist, exact-dot rerank — over a
      * composed artifact built from the given quantizers, scored against
      * brute-force exact-dot top-k on the union. This is the number a
      * serving capacity plan actually watches: probe misses (IVF
      * placement drift) and shortlist misses (ADC distortion) COMPOSED,
      * with the rerank's exactness inside the probed cells left in. */
    def composedRecall(union: DataFrame, cents: Array[Array[Double]],
        cb: Pq.Codebooks, appendedOnly: Boolean, base0: Long,
        shortlist: Int): Double = {
      val corpus = Pq.encode(Ivf.assign(union, cents), cb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        corpus.count()
        val qs = corpus
          .filter(if (appendedOnly) col("vec_id") >= base0 else lit(true))
          .select(col("vec_id"), col("embedding"),
            xxhash64(col("vec_id")).as("h"))
          .orderBy("h").limit(queries).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        require(qs.nonEmpty, "composedRecall: empty query sample")
        val recalls = qs.map { case (qid, qv) =>
          val qCol = org.apache.spark.sql.functions.typedLit(qv.toSeq)
          val vd = col("embedding").cast("array<double>")
          // truth and serving share the rounded-dot-desc, id-asc ordering
          // convention (the q70 oracle's)
          val truth = union.filter(col("vec_id") =!= qid)
            .select(col("vec_id"), org.apache.spark.sql.functions.round(
              graft.functions.VectorFunctions.dot(vd, qCol), 6).as("s"))
            .orderBy(col("s").desc, col("vec_id")).limit(10)
            .collect().map(_.getLong(0)).toSet
          val served = Pq.ivfPqTopKVec(corpus.filter(col("vec_id") =!= qid),
            cents, cb, qv, topK = 10, nProbe = nProbe, shortlist = shortlist)
            .collect().map(_.getLong(0)).toSet
          truth.intersect(served).size.toDouble / truth.size
        }
        recalls.sum / recalls.length
      } finally corpus.unpersist(blocking = false)
    }
    fractions.foreach { f =>
      val app = math.max(1L, (base * f).toLong)
      Seq(("iid", 0), ("drift", cells)).foreach { case (mode, centerBase) =>
        val appended = clustered(spark, base, base + app, dim, cells,
          centerBase, 0.25, normalize = family == "ivfpq")
        val union = baseDf.unionAll(appended)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t0 = System.nanoTime()
        if (family == "ivfpq") {
          // the serving config each artifact would actually run: its OWN
          // measured shortlist multiplier (the r16 production loop —
          // appendEncode + periodic measureShortlist). A fixed small
          // shortlist reads near-tie ADC saturation for stale AND
          // retrained alike (the r16 "meter that lied" trap, composed):
          // the first cut of this cell did exactly that at 10x (~0.05
          // recall everywhere — quantization resolution, not drift).
          val staleSl = Pq.measureShortlist(appended, trainedCb, k = 10,
            targetRecall = 0.9, nQueries = queries)
          val staleAppended = composedRecall(union, trainedCents, trainedCb,
            appendedOnly = true, base, staleSl.shortlist)
          val staleAll = composedRecall(union, trainedCents, trainedCb,
            appendedOnly = false, base, staleSl.shortlist)
          val retrainedCents = Ivf.trainCentroids(
            union.filter(pmod(col("vec_id"), lit(step)) === 0), k = cells, iters = 3)
          val retrainedCb = Pq.trainCodebooks(
            union.filter(pmod(col("vec_id"), lit(step)) === 0),
            m = m, k = codewords, iters = 3)
          val retrainSl = Pq.measureShortlist(appended, retrainedCb, k = 10,
            targetRecall = 0.9, nQueries = queries)
          val retrainAppended = composedRecall(union, retrainedCents,
            retrainedCb, appendedOnly = true, base, retrainSl.shortlist)
          val dt = (System.nanoTime() - t0) / 1e9
          union.unpersist()
          spark.sharedState.cacheManager.clearCache()
          println(f"""{"check":"ivfpq_append_drift","base":$base,"appended":$app,""" +
            f""""fraction":$f,"mode":"$mode","cells":$cells,"n_probe":$nProbe,""" +
            f""""m":$m,"codewords":$codewords,""" +
            f""""shortlist_stale":${staleSl.shortlist},""" +
            f""""shortlist_retrain":${retrainSl.shortlist},""" +
            f""""recall_stale_appended":$staleAppended%.4f,""" +
            f""""recall_stale_all":$staleAll%.4f,""" +
            f""""recall_retrain_appended":$retrainAppended%.4f,""" +
            f""""queries":$queries,"wall_s":$dt%.3f}""")
        } else if (family == "ivf") {
          val staleAppended = Ivf.measureRecall(union, trainedCents, k = 10,
            nProbe = nProbe, nQueries = queries,
            queryFilter = col("vec_id") >= base)
          val staleAll = Ivf.measureRecall(union, trainedCents, k = 10,
            nProbe = nProbe, nQueries = queries)
          val retrained = Ivf.trainCentroids(
            union.filter(pmod(col("vec_id"), lit(step)) === 0), k = cells, iters = 3)
          val retrainAppended = Ivf.measureRecall(union, retrained, k = 10,
            nProbe = nProbe, nQueries = queries,
            queryFilter = col("vec_id") >= base)
          val dt = (System.nanoTime() - t0) / 1e9
          union.unpersist()
          spark.sharedState.cacheManager.clearCache()
          println(f"""{"check":"ivf_append_drift","base":$base,"appended":$app,""" +
            f""""fraction":$f,"mode":"$mode","cells":$cells,"n_probe":$nProbe,""" +
            f""""recall_stale_appended":$staleAppended%.4f,""" +
            f""""recall_stale_all":$staleAll%.4f,""" +
            f""""recall_retrain_appended":$retrainAppended%.4f,""" +
            f""""queries":$queries,"wall_s":$dt%.3f}""")
        } else {
          // PQ's drift signal is the SHORTLIST MULTIPLIER rerank needs to
          // reach target recall (Pq.measureShortlist — the production
          // sizing instrument): pure-ADC top-k recall on a near-tie
          // corpus reads ~0 for stale AND retrained codebooks alike
          // (quantization resolution, not drift — measured, SCALE.md
          // r16), so the meaningful question is how much WIDER the
          // serving shortlist must get before rerank recovers, stale vs
          // retrained, on the appended regime.
          val staleApp = Pq.measureShortlist(appended, trainedCb, k = 10,
            targetRecall = 0.9, nQueries = queries)
          val retrainedCb = Pq.trainCodebooks(
            union.filter(pmod(col("vec_id"), lit(step)) === 0),
            m = m, k = codewords, iters = 3)
          val retrainApp = Pq.measureShortlist(appended, retrainedCb, k = 10,
            targetRecall = 0.9, nQueries = queries)
          val staleBase = Pq.measureShortlist(baseDf, trainedCb, k = 10,
            targetRecall = 0.9, nQueries = queries)
          val dt = (System.nanoTime() - t0) / 1e9
          union.unpersist()
          spark.sharedState.cacheManager.clearCache()
          // fixed-rung recalls expose sub-rung drift the chosen
          // multiplier's 2x ladder quantizes away
          def rung(mm: graft.ext.Pq.ShortlistMeasurement, r: Int): Double =
            mm.ladder.find(_._1 == r).map(_._2).getOrElse(-1.0)
          println(f"""{"check":"pq_append_drift","base":$base,"appended":$app,""" +
            f""""fraction":$f,"mode":"$mode","m":$m,"codewords":$codewords,""" +
            f""""shortlist_stale_appended":${staleApp.shortlist},""" +
            f""""recall_stale_appended":${staleApp.measuredRecall}%.4f,""" +
            f""""stale_r4":${rung(staleApp, 4)}%.4f,"stale_r8":${rung(staleApp, 8)}%.4f,""" +
            f""""shortlist_retrain_appended":${retrainApp.shortlist},""" +
            f""""recall_retrain_appended":${retrainApp.measuredRecall}%.4f,""" +
            f""""retrain_r4":${rung(retrainApp, 4)}%.4f,"retrain_r8":${rung(retrainApp, 8)}%.4f,""" +
            f""""shortlist_stale_base":${staleBase.shortlist},""" +
            f""""base_r8":${rung(staleBase, 8)}%.4f,""" +
            f""""queries":$queries,"wall_s":$dt%.3f}""")
        }
      }
    }
    baseDf.unpersist()
    spark.stop()
  }
}
