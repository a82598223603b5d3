package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, Scope}
import graft.functions.{NearestCentroid, PqAdc}

/** Product quantization (PQ) — the memory-bound serving shape of ANN
  * (Jégou et al. 2011): each embedding splits into `m` subvectors, each
  * subvector quantizes to one of `k` learned codewords, and the corpus
  * stores `m` small codes instead of `dim` floats (64-dim float → 8 codes
  * is 32×). Search is asymmetric (ADC): the query stays full-precision,
  * one m·k lookup table is computed per query driver-side, and every
  * corpus row scores in `m` adds — the approximation that makes
  * billion-vector in-memory serving possible where full-precision vectors
  * (3 TB/10^9 at 768-dim) cannot fit.
  *
  * Composition: PQ is orthogonal to the coarse structures — encode a
  * [[Ivf]]-clustered corpus and probe nProbe cells with ADC scoring
  * (IVF-PQ, the standard pairing), or rerank ADC's top candidates with
  * exact [[Similarity]] dot products (`rerank` here).
  *
  * Determinism: codebooks train per-subvector through the same
  * [[Ivf.trainCentroids]] Lloyd loop (float subvectors ⇒ bit-reproducible
  * on any partitioning), codes are [[NearestCentroid]] argmins (ties to
  * the lowest index), and ADC accumulates in fixed subvector order — so
  * encode + search reproduce exactly across layouts, test-pinned.
  *
  * On UNIT vectors squared-L2 order equals cosine order
  * (`‖q−x‖² = 2−2·cos`), so ADC ascending approximates cosine top-k
  * descending — the recall test measures exactly that correspondence.
  */
object Pq {

  /** Trained PQ codebooks: `books(m)(k)(subDim)` plus the split geometry. */
  case class Codebooks(books: Array[Array[Array[Double]]], subDim: Int) {
    def m: Int = books.length
    def k: Int = books.head.length
  }

  /** Train per-subvector codebooks with the deterministic Lloyd loop.
    * `dim` must divide evenly into `m` subvectors; `k` codewords each.
    *
    * All `m` loops run FUSED: one corpus pass per iteration assigns every
    * subvector's cluster (an array of [[NearestCentroid]] argmins over
    * sliced views), one `(sub, cluster, dim)`-keyed aggregation computes
    * every codebook's means — `iters + 2` Spark jobs total instead of the
    * `m·(iters + 2)` a per-subvector delegation would launch. The math is
    * identical to m independent [[Ivf.trainCentroids]] runs (same hashed-id
    * seed rows sliced per subvector, same means, same dead-centroid
    * convention), with [[Ivf]]'s determinism story: float corpora
    * reproduce bit-for-bit on any partitioning. */
  def trainCodebooks(emb: DataFrame, m: Int, k: Int = 16, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): Codebooks = {
    require(m >= 1 && k >= 1 && iters >= 1)
    // loud on an empty corpus: head() on zero rows is an opaque
    // NoSuchElementException far from the bad argument (the Pq.encode /
    // PqAdc loud-contract applied to the training entry point)
    val dimRows = emb.select(size(col(vecCol))).take(1)
    require(dimRows.nonEmpty, "trainCodebooks: empty corpus — nothing to train on")
    val dim = dimRows(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subvectors")
    val subDim = dim / m
    Scope {
      val proj = Scope.persist(emb.select(col(idCol), col(vecCol)))
      // seed: the k vectors with smallest hashed id (Ivf's convention),
      // sliced driver-side into every subvector's initial codebook
      val seeds = proj
        .select(col(vecCol), xxhash64(col(idCol)).as("h"))
        .orderBy("h").limit(k)
        .collect().map(Similarity.toVec(_, 0))
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m)(j => seeds.map(_.slice(j * subDim, (j + 1) * subDim)))
      var it = 0
      while (it < iters) {
        val assigns = array(books.indices.map(j =>
          NearestCentroid(slice(col(vecCol), j * subDim + 1, subDim), books(j))): _*)
        val sub = (col("pos") / subDim).cast("int")
        // the persist MATERIALIZES cl once per row: without a barrier
        // here, the generate loop below inlines the m-argmin array
        // expression and re-evaluates it per EXPLODED row — a dim×
        // blowup of the assignment cost (measured 25× at dim 64). A
        // cache (storage-local) beats a repartition barrier (iters ×
        // corpus bytes over the network) — training shuffle volume
        // stays m·k·subDim, the Ivf contract.
        val sums = Scope {
          Scope.persist(proj.select(col(vecCol), assigns.as("cl")))
            .select(col("cl"), posexplode(col(vecCol)))
            .select(sub.as("sub"), element_at(col("cl"), sub + 1).as("cluster"),
              pmod(col("pos"), lit(subDim)).as("d"), col("col"))
            .groupBy("sub", "cluster", "d").agg(avg("col").as("mavg"))
            .collect()
        }
        val bySub = sums.groupBy(_.getInt(0))
        books = Array.tabulate(m) { j =>
          val byCluster = bySub.getOrElse(j, Array.empty).groupBy(_.getInt(1))
          books(j).zipWithIndex.map { case (prev, c) =>
            byCluster.get(c)
              .map(_.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
              .getOrElse(prev)
          }
        }
        it += 1
      }
      Codebooks(books, subDim)
    }
  }

  /** Corpus + `codes` column (`array<int>`, length m): each subvector's
    * nearest codeword. Scan-stage — m [[NearestCentroid]] argmins over
    * sliced views, no shuffle; write the result once and serve from it.
    * Rows whose vector dimension does not match the codebook geometry
    * fail loudly — a silently truncated slice would argmin over nothing
    * and emit code 0 (corrupt codes with no error). */
  def encode(emb: DataFrame, cb: Codebooks, vecCol: String = "embedding"): DataFrame = {
    val expectDim = cb.m * cb.subDim
    emb.withColumn("codes",
      // null must fail as loudly as a wrong dim: size(null) is null, so the
      // =!= guard alone would fall through and emit all-null codes, which
      // PqAdc's primitive getInt reads as codeword 0 — the row would score
      // with a FABRICATED distance and could silently enter a top-k
      when(col(vecCol).isNull,
        raise_error(lit(s"pq encode: null $vecCol (expected $expectDim floats)")))
        .when(size(col(vecCol)) =!= expectDim,
          raise_error(concat(lit(s"pq encode: vector dim "),
            size(col(vecCol)).cast("string"),
            lit(s" != codebook geometry $expectDim"))))
        .otherwise(array(cb.books.indices.map(j =>
          NearestCentroid(slice(col(vecCol), j * cb.subDim + 1, cb.subDim),
            cb.books(j))): _*)))
  }

  /** The per-query ADC lookup table: `table(j·k + c) = ‖q_j − books(j)(c)‖²`
    * flattened in subvector-major order (what [[PqAdc]] expects). */
  def adcTable(query: Array[Double], cb: Codebooks): Array[Double] = {
    require(query.length == cb.m * cb.subDim,
      s"query dim ${query.length} != ${cb.m}×${cb.subDim}")
    val tab = new Array[Double](cb.m * cb.k)
    for (j <- 0 until cb.m; c <- 0 until cb.k) {
      var s = 0.0
      var d = 0
      while (d < cb.subDim) {
        val diff = query(j * cb.subDim + d) - cb.books(j)(c)(d)
        s += diff * diff
        d += 1
      }
      tab(j * cb.k + c) = s
    }
    tab
  }

  /** Approximate top-k by ADC over an [[encode]]d corpus — vector-first
    * (the serving shape: external queries never scan the corpus for a
    * lookup). Plan: scan-stage [[PqAdc]] score + `TakeOrderedAndProject`;
    * ties break on id for determinism. Scores round to 6 decimals BEFORE
    * the cut — the [[Similarity]] rounded-cosine convention — so the
    * top-k boundary is a function of values any engine reproduces (what
    * lets a DuckDB oracle replay the search over persisted codes), not of
    * last-ulp summation order. */
  def pqTopKVec(encoded: DataFrame, query: Array[Double], cb: Codebooks,
      topK: Int, idCol: String = "vec_id"): DataFrame =
    encoded
      .withColumn("adc",
        round(PqAdc(col("codes"), adcTable(query, cb).toSeq, cb.k), 6))
      .orderBy(col("adc"), col(idCol))
      .limit(topK)
      .select(col(idCol), col("adc"))

  /** ADC shortlist → exact rerank: score `shortlist`× more candidates with
    * the table, then rerank those by exact dot product against the raw
    * vectors carried on the encoded corpus — the standard PQ accuracy
    * recovery, costing exact math on shortlist·topK rows instead of the
    * corpus. */
  def pqTopKRerankVec(encoded: DataFrame, query: Array[Double], cb: Codebooks,
      topK: Int, shortlist: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qCol = typedLit(query.toSeq)
    pqTopKVec(encoded, query, cb, topK * shortlist, idCol)
      .join(encoded.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("score",
        round(graft.functions.VectorFunctions.dot(
          col(vecCol).cast("array<double>"), qCol), 6))
      .orderBy(desc("score"), col(idCol))
      .limit(topK)
      .select(col(idCol), col("score"))
  }

  /** Append maintenance for a persisted PQ codes artifact —
    * [[Ivf.appendAssign]]'s posture applied to the codebooks: encode the
    * new vectors with the PERSISTED codebooks (no retrain; [[encode]] is
    * deterministic given the codebooks, so appended rows carry codes
    * BIT-IDENTICAL to what a full re-encode would give them — the spec
    * pin) and append into the codes table. What staleness costs is NOT
    * placement (PQ has no cells to misroute) but QUANTIZATION
    * DISTORTION — and the measured verdict (`probes.IvfDriftProbe --family pq`,
    * SCALE.md r16) is a NULL result worth having: the shortlist
    * multiplier reaching 0.9 recall is 16× in every probed condition —
    * stale or retrained codebooks, iid or fully-unseen-regime appends,
    * to 2× appended mass — because each subvector's MARGINAL barely
    * moves when new cluster centers appear. So the fraction gate on the
    * shared [[Ivf.IvfLedger]] is an IVF instrument; the PQ maintenance
    * loop is this append plus a periodic [[measureShortlist]]
    * re-measurement (a corpus whose subvector marginals DO shift is a
    * changed `corpusDigest`, which already invalidates the persisted
    * shortlist). q90 hash-proves the append path end to end (train on
    * half, append half, search == DuckDB replay). */
  def appendEncode(catalog: Catalog, codesRef: String, codebooksRef: String,
      newRows: DataFrame, vecCol: String = "embedding",
      ledgerRef: String = ""): Long = {
    val cb = loadCodebooks(catalog, codebooksRef)
    // single-evaluation discipline (the Ivf.appendAssign contract): the
    // ledger count and the written rows come from the same cached frame
    Scope {
      val encoded = Scope.persist(encode(newRows, cb, vecCol))
      val n = encoded.count()
      catalog.append(encoded, codesRef)
      if (ledgerRef.nonEmpty) {
        val l = Ivf.loadLedger(catalog, ledgerRef)
        Ivf.saveLedger(catalog, ledgerRef,
          l.copy(appendedCount = l.appendedCount + n))
      }
      n
    }
  }

  /** COMPOSED IVF-PQ append maintenance (r17 verdict item #3): extend a
    * corpus carrying BOTH reductions (cluster partitions + m-byte codes,
    * [[ivfPqTopKVec]]'s input — the artifact a real serving index runs
    * daily) by assigning new rows to the PERSISTED centroids AND encoding
    * them against the PERSISTED codebooks, no retrain of either. One
    * cached evaluation of the input feeds the count, the write, and the
    * ledger bump (the [[Ivf.appendAssign]] single-evaluation contract);
    * the ONE shared ledger counts each appended row once — both
    * quantizers age together, so one rebuild decision governs the
    * composed artifact (spec-pinned to trip [[Ivf.shouldRebuild]]).
    * Collects nothing but the k centroids/codebooks; appended rows land
    * in their cluster partitions so probe pruning keeps reading
    * nProbe/k of the corpus after any number of appends. */
  def appendAssignEncode(catalog: Catalog, corpusRef: String,
      centroidsRef: String, codebooksRef: String, newRows: DataFrame,
      vecCol: String = "embedding", ledgerRef: String = ""): Long = {
    val cents = Ivf.loadCentroids(catalog, centroidsRef)
    val cb = loadCodebooks(catalog, codebooksRef)
    Scope {
      val prepared = Scope.persist(encode(Ivf.assign(newRows, cents, vecCol), cb, vecCol))
      val n = prepared.count()
      catalog.append(prepared, corpusRef, partitionBy = Seq("cluster"))
      if (ledgerRef.nonEmpty) {
        val l = Ivf.loadLedger(catalog, ledgerRef)
        Ivf.saveLedger(catalog, ledgerRef,
          l.copy(appendedCount = l.appendedCount + n))
      }
      n
    }
  }

  /** ADC-ordering recall vs the exact squared-L2 ordering — [[Ivf
    * .measureRecall]]'s shape for the PQ tier, the drift meter an
    * [[appendEncode]] deployment watches (pure ADC, no rerank: the
    * rerank stage recovers exact math and would mask the codebook
    * distortion this meters). Ground truth is EXACT L2, not cosine —
    * ADC approximates L2 by construction, and measuring it against the
    * dot-product ordering would read the r14 dot-vs-L2 ordering
    * mismatch (the reason shortlists exist) instead of quantization
    * quality: the first cut of this meter did exactly that and read
    * ~0.01 recall on STALE AND RETRAINED codebooks alike (SCALE.md r16
    * footnote). Queries sample deterministically by hashed id;
    * `queryFilter` restricts to e.g. appended rows.
    *
    * CONTRACT: a pre-existing `codes` column must have been produced by
    * `cb` (the maintained-artifact case: [[encode]]/[[appendEncode]]
    * under these codebooks). A stale-encoded corpus paired with
    * retrained codebooks would make the ADC tables index foreign codes —
    * silently wrong recall, or an out-of-bounds codeword read. The shape
    * guard below rejects the detectable mismatches (wrong m, code ≥ k);
    * to compare retrained codebooks against a corpus encoded by OLD
    * ones, drop `codes` first so the meter re-derives them from `cb`. */
  def measureRecall(emb: DataFrame, cb: Codebooks, k: Int = 10,
      nQueries: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryFilter: org.apache.spark.sql.Column = lit(true)): Double = {
    // accepts raw vectors OR an already-encoded corpus: the meter's
    // question is "what would ADC under THESE codebooks return", so a
    // `codes` column is (re)derived from them when absent
    val encoded =
      if (emb.columns.contains("codes")) {
        // loud shape guard (r16 advice): codes from codebooks with a
        // different m or k than `cb` must fail here, not read OOB in the
        // ADC tables or return a plausible-but-foreign recall
        val shape = emb.agg(
          max(size(col("codes"))).as("maxM"),
          max(array_max(col("codes"))).as("maxCode"),
          min(size(col("codes"))).as("minM")).collect()(0)
        if (!shape.isNullAt(0)) {
          require(shape.getInt(0) == cb.m,
            s"measureRecall: 'codes' has ${shape.getInt(0)} subvectors but " +
              s"cb.m=${cb.m} - these codes were not produced by the passed " +
              "codebooks; drop the column to re-encode under cb")
          // ragged corpora (mixed-m rows whose MAX happens to equal cb.m,
          // e.g. partial re-encodes with fewer subvectors) must fail as
          // loudly as a uniformly-wrong m
          require(shape.getInt(2) == cb.m,
            s"measureRecall: 'codes' is ragged - min ${shape.getInt(2)} vs " +
              s"max ${shape.getInt(0)} subvectors; some rows were not " +
              "encoded under the passed codebooks; drop the column to " +
              "re-encode under cb")
          val maxCode = if (shape.isNullAt(1)) -1 else shape.getInt(1)
          require(shape.isNullAt(1) || maxCode < cb.k,
            s"measureRecall: 'codes' references codeword $maxCode >= " +
              s"cb.k=${cb.k} - these codes were not produced by the " +
              "passed codebooks; drop the column to re-encode under cb")
        }
        emb
      } else encode(emb, cb, vecCol)
    val qs = encoded.filter(queryFilter)
      .select(col(idCol), col(vecCol), xxhash64(col(idCol)).as("h"))
      .orderBy("h").limit(nQueries).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    // an EMPTY query sample must fail loudly, not report perfection: the
    // documented drift-dashboard usage filters to appended-only rows, and
    // a vacuously-false predicate (wrong column, appends not landed)
    // returning recall 1.0 is indistinguishable from a healthy index —
    // the monitoring gate would silently never fire
    require(qs.nonEmpty,
      "measureRecall: queryFilter matched no rows - the meter cannot " +
        "report a recall (a default 1.0 here would mask exactly the " +
        "drift condition being monitored)")
    val recalls = qs.map { case (qid, qv) =>
      // exact squared L2 up to the |q|² constant: |v|² − 2·q·v, rounded
      // 6dp before the cut (the engine-independent-boundary convention)
      val qCol = typedLit(qv.toSeq)
      val vd = col(vecCol).cast("array<double>")
      val exact = encoded.filter(col(idCol) =!= qid)
        .select(col(idCol), round(
          graft.functions.VectorFunctions.dot(vd, vd) -
            lit(2.0) * graft.functions.VectorFunctions.dot(vd, qCol), 6)
          .as("d2"))
        .orderBy(col("d2"), col(idCol)).limit(k)
        .collect().map(_.getLong(0)).toSet
      val approx = pqTopKVec(encoded.filter(col(idCol) =!= qid), qv, cb, k,
        idCol).collect().map(_.getLong(0)).toSet
      if (exact.isEmpty) 1.0
      else exact.intersect(approx).size.toDouble / exact.size
    }
    recalls.sum / recalls.length
  }

  /** IVF-PQ — the standard pairing: restrict ADC search to the `nProbe`
    * coarse cells nearest the query, then shortlist + exact rerank inside
    * them. `clusteredEncoded` carries both a `cluster` column
    * ([[Ivf.assign]]; write it as a partition column and the probe filter
    * prunes to nProbe directories, [[Ivf.ivfTopKPartitionedVec]]'s story)
    * and `codes` ([[encode]]) — at 100 TB the scan reads nProbe/k of the
    * corpus AND each row it reads is m bytes, the two reductions composed. */
  def ivfPqTopKVec(clusteredEncoded: DataFrame, centroids: Array[Array[Double]],
      cb: Codebooks, query: Array[Double], topK: Int, nProbe: Int = 2,
      shortlist: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    TableShapes.requireColumns(clusteredEncoded, Seq("cluster", "codes"),
      "ivfPqTopKVec", "'cluster' comes from Ivf.assign, 'codes' from Pq.encode")
    pqTopKRerankVec(
      Similarity.Probe.Ivf(centroids, nProbe)
        .rowsFor(clusteredEncoded, Seq(query), vecCol),
      query, cb, topK, shortlist, idCol, vecCol)
  }

  // ───── Corpus-aware shortlist sizing (r13 verdict task #2) ─────

  /** A measured shortlist decision: the multiplier [[pqTopKRerankVec]]
    * needs on THIS corpus to reach `targetRecall`, plus the full measured
    * recall ladder it was chosen from (so the artifact records the
    * evidence, not just the verdict). `measuredRecall` is the ladder
    * value at the chosen multiplier — when even `maxShortlist` missed the
    * target, the choice clamps there and `measuredRecall < targetRecall`
    * says so honestly. */
  final case class ShortlistMeasurement(shortlist: Int, targetRecall: Double,
      measuredRecall: Double, ladder: Seq[(Int, Double)])

  /** SAMPLE-MEASURED shortlist multiplier — the
    * [[Similarity.measureNonUniformityLaw]] move applied to PQ's one open
    * quality knob (the r13 `probes.AnnRecallProbe --shortlists` sweep measured
    * recall@k 0.18→0.74 from 4×k to 128×k on a near-tie corpus while the
    * contrastful regime saturates at 4×k — no fixed default serves both).
    *
    * Method: on a seeded corpus sample, replay the EXACT serving
    * pipeline's two orderings driver-side — ADC ascending (the shortlist
    * cut, [[pqTopKVec]]'s rounded ordering) and exact dot descending (the
    * rerank metric and ground truth) — for `nQueries` spread sample
    * members, and read recall@(s·k) off the resulting rank distribution
    * for each ladder multiplier. The smallest s reaching `targetRecall`
    * wins; ties in both orderings break on id exactly as the engine
    * expressions do. The measurement runs where the evidence is cheapest:
    * collected sample rows (bounded at `sampleRows`·dim doubles — ~4 MB
    * at the 8192×64 default, ~50 MB at 768 dims; the same driver-scale
    * contract as codebook training's k·dim collect) with the same
    * deterministic seeded sample as the LSH law instrument, so a given
    * corpus always measures the same shortlist.
    *
    * The sample estimates rank-of-true-neighbor within the SAMPLE, which
    * understates the absolute rank in the full corpus — but the shortlist
    * is a multiplier of k over the probed set, and the quantity that
    * decides it (how many distractors ADC-score between the query and its
    * true neighbors, relative to neighborhood size) is a local contrast
    * property the sample preserves; the ExtSpec pins check the END
    * metric (serving recall with the measured shortlist) on both probe
    * corpus geometries. */
  def measureShortlist(emb: DataFrame, cb: Codebooks, k: Int,
      targetRecall: Double = 0.9, sampleRows: Int = 8192, nQueries: Int = 64,
      maxShortlist: Int = 128,
      idCol: String = "vec_id", vecCol: String = "embedding"): ShortlistMeasurement = {
    require(k >= 1 && targetRecall > 0 && targetRecall <= 1 && nQueries >= 1 &&
      sampleRows > k && maxShortlist >= 1, "bad measureShortlist knobs")
    val n = emb.count()
    val sampled = collectSample(emb, n, sampleRows, idCol, vecCol)
    val ladder = Seq(1, 2, 4, 8, 16, 32, 64, 128).filter(_ <= maxShortlist)
    val (ranks, _) = rankStats(sampled, cb, k, nQueries, centroids = None)
    val total = ranks.size.toDouble
    val recalls = ladder.map(s => s -> ranks.count(_ <= s.toLong * k) / total)
    val chosen = recalls.find(_._2 >= targetRecall)
      .getOrElse(recalls.last)
    ShortlistMeasurement(chosen._1, targetRecall, chosen._2, recalls)
  }

  /** The per-(query, true-neighbor) rank statistics BOTH sizing
    * instruments read ([[measureShortlist]], [[planIvfPq]]) — one
    * implementation so the two measurements the r14 product model
    * requires to agree can never drift: for each spread sample query,
    * exact-dot truth (descending, id tie-break), each true neighbor's
    * rank in the rounded-ADC ascending ordering, and — when `centroids`
    * are given — the rank of the neighbor's assigned cell in the query's
    * centroid-distance order (the cells [[ivfPqTopKVec]] probes, same
    * argmin/tie conventions as [[Ivf.assign]]/[[Ivf.nearestClusters]]). */
  private def rankStats(sampled: Array[(Long, Array[Double])], cb: Codebooks,
      k: Int, nQueries: Int,
      centroids: Option[Array[Array[Double]]]): (Seq[Int], Seq[Int]) = {
    val m = sampled.length
    val codes = sampled.map { case (_, v) => encodeLocal(v, cb) }
    val cellOf = centroids.map(c =>
      sampled.map { case (_, v) => Ivf.nearestClusters(v, c, 1).head })
    val qIdx = (0 until math.min(nQueries, m)).map(q => (m.toLong * q / nQueries).toInt)
      .distinct
    val adcRanks = scala.collection.mutable.ArrayBuffer.empty[Int]
    val cellRanks = scala.collection.mutable.ArrayBuffer.empty[Int]
    qIdx.foreach { qi =>
      val (qid, qv) = sampled(qi)
      val tab = adcTable(qv, cb)
      val adc = Array.tabulate(m) { i =>
        var s = 0.0; var j = 0
        val c = codes(i)
        while (j < cb.m) { s += tab(j * cb.k + c(j)); j += 1 }
        round6(s)
      }
      val dot = Array.tabulate(m) { i =>
        var s = 0.0; var d = 0
        val v = sampled(i)._2
        while (d < qv.length) { s += v(d) * qv(d); d += 1 }
        round6(s)
      }
      val others = (0 until m).filter(i => sampled(i)._1 != qid)
      val truth = others.sortBy(i => (-dot(i), sampled(i)._1)).take(k)
      val adcOrder = others.sortBy(i => (adc(i), sampled(i)._1))
      val rankOf = adcOrder.zipWithIndex.toMap
      val cellRankOf = centroids.map(c =>
        Ivf.nearestClusters(qv, c, c.length).zipWithIndex.toMap)
      truth.foreach { i =>
        adcRanks += rankOf(i) + 1
        for (cro <- cellRankOf; co <- cellOf) cellRanks += cro(co(i))
      }
    }
    (adcRanks.toSeq, cellRanks.toSeq)
  }

  // ───── Joint IVF-PQ serving config from measured marginals ─────

  /** A measured IVF-PQ serving plan: the cheapest (nProbe, shortlist)
    * whose PREDICTED composed recall — the product of the two
    * sample-measured marginals — reaches the target. The product model
    * is itself a measurement, not an assumption: the r14 joint sweep
    * (SCALE.md) read every (nProbe × shortlist) cell within ~4% of
    * ivf(nProbe)·pq(shortlist) on the 1M clustered corpus — no
    * interaction term (probing the right cells does not improve ADC tie
    * ranking, and ADC mis-ranking does not hide cell misses) — so the
    * two knobs can be budgeted independently and multiplied. When even
    * the max corner misses the target, the plan clamps there and
    * `predictedRecall < targetRecall` says so honestly. */
  final case class IvfPqPlan(nProbe: Int, shortlist: Int, ivfRecall: Double,
      pqRecall: Double, predictedRecall: Double,
      ivfLadder: Seq[(Int, Double)], pqLadder: Seq[(Int, Double)])

  /** Measure both serving marginals on ONE seeded corpus sample and
    * solve for the cheapest feasible (nProbe, shortlist):
    *
    *  - IVF marginal: recall@p = the fraction of true top-k neighbors
    *    (exact dot, the rerank metric) whose assigned cell sits among
    *    the query's p nearest centroids — exactly the cells
    *    [[ivfPqTopKVec]] probes, same argmin/tie conventions as
    *    [[Ivf.assign]]/[[Ivf.nearestClusters]];
    *  - PQ marginal: [[measureShortlist]]'s rank statistic, computed on
    *    the same sample pass.
    *
    * Cost model for the solve: probing scans p·(n/cells) codes at m adds
    * each; the rerank touches s·k full vectors at dim mults each — the
    * two scan-stage costs the composed plan pays per query. The minimal-
    * cost feasible corner wins; ladder monotonicity, minimality, and the
    * end metric (serving recall with the planned config) are
    * ExtSpec-pinned on both probe corpus geometries. */
  def planIvfPq(emb: DataFrame, centroids: Array[Array[Double]], cb: Codebooks,
      k: Int, targetRecall: Double = 0.9, sampleRows: Int = 8192,
      nQueries: Int = 64, maxShortlist: Int = 128,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqPlan = {
    require(k >= 1 && targetRecall > 0 && targetRecall <= 1 && nQueries >= 1 &&
      sampleRows > k && maxShortlist >= 1 && centroids.nonEmpty,
      "bad planIvfPq knobs")
    val n = emb.count()
    val sampled = collectSample(emb, n, sampleRows, idCol, vecCol)
    val pqLadderS = Seq(1, 2, 4, 8, 16, 32, 64, 128).filter(_ <= maxShortlist)
    val probeLadderP = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256)
      .filter(_ <= centroids.length)
    val (adcRanks, cellRanks) = rankStats(sampled, cb, k, nQueries,
      Some(centroids))
    val total = adcRanks.size.toDouble
    val pqLadder = pqLadderS.map(s => s -> adcRanks.count(_ <= s.toLong * k) / total)
    val ivfLadder = probeLadderP.map(p => p -> cellRanks.count(_ < p) / total)
    val dim = cb.m * cb.subDim
    def cost(p: Int, s: Int): Double =
      p.toDouble * n / centroids.length * cb.m + s.toDouble * k * dim
    val corners = for {
      (p, ri) <- ivfLadder
      (s, rp) <- pqLadder
    } yield (p, s, ri, rp, ri * rp)
    val chosen = corners.filter(_._5 >= targetRecall)
      .sortBy { case (p, s, _, _, _) => (cost(p, s), p, s) }
      .headOption
      .getOrElse(corners.maxBy(c => (c._5, -cost(c._1, c._2))))
    IvfPqPlan(chosen._1, chosen._2, chosen._3, chosen._4, chosen._5,
      ivfLadder, pqLadder)
  }

  /** Persist an [[IvfPqPlan]] beside the centroids/codebooks it was
    * measured for — one row, ladders flattened to parallel arrays. */
  def saveIvfPqPlan(catalog: Catalog, ref: String, plan: IvfPqPlan): Unit = {
    import catalog.spark.implicits._
    catalog.save(
      Seq((plan.nProbe, plan.shortlist, plan.ivfRecall, plan.pqRecall,
        plan.predictedRecall,
        plan.ivfLadder.map(_._1), plan.ivfLadder.map(_._2),
        plan.pqLadder.map(_._1), plan.pqLadder.map(_._2)))
        .toDF("nprobe", "shortlist", "ivf_recall", "pq_recall",
          "predicted_recall", "ivf_ladder_p", "ivf_ladder_recall",
          "pq_ladder_s", "pq_ladder_recall"),
      ref)
  }

  def loadIvfPqPlan(catalog: Catalog, ref: String): IvfPqPlan = {
    val rows = catalog.load(ref).select(col("nprobe"), col("shortlist"),
      col("ivf_recall"), col("pq_recall"), col("predicted_recall"),
      col("ivf_ladder_p"), col("ivf_ladder_recall"),
      col("pq_ladder_s"), col("pq_ladder_recall")).collect()
    require(rows.length == 1,
      s"loadIvfPqPlan('$ref'): expected one plan row, got ${rows.length}")
    val r = rows(0)
    IvfPqPlan(r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4),
      r.getSeq[Int](5).zip(r.getSeq[Double](6)),
      r.getSeq[Int](7).zip(r.getSeq[Double](8)))
  }

  /** The seeded sample both sizing instruments share ([[measureShortlist]],
    * [[planIvfPq]]) — deterministic for a given (corpus, sampleRows), id-
    * sorted so query spreading is layout-independent. */
  private def collectSample(emb: DataFrame, n: Long, sampleRows: Int,
      idCol: String, vecCol: String): Array[(Long, Array[Double])] = {
    val base = emb.select(col(idCol), col(vecCol))
    (if (n <= sampleRows) base
     else base.sample(withReplacement = false,
       math.min(1.0, sampleRows.toDouble * 1.05 / n), seed = 42)
       .limit(sampleRows))
      .collect()
      .map(r => (r.getLong(0), Similarity.toVec(r, 1)))
      .sortBy(_._1)
  }

  /** Driver-side [[NearestCentroid]] twin: squared-L2 argmin per
    * subvector, ties to the lowest index — the encode convention the
    * sizing instrument must share with the engine expression. */
  private def encodeLocal(v: Array[Double], cb: Codebooks): Array[Int] = {
    require(v.length == cb.m * cb.subDim,
      s"sample vector dim ${v.length} != codebook geometry ${cb.m}×${cb.subDim}")
    Array.tabulate(cb.m) { j =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.k) {
        var s = 0.0; var d = 0
        while (d < cb.subDim) {
          val diff = v(j * cb.subDim + d) - cb.books(j)(c)(d)
          s += diff * diff
          d += 1
        }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }
  }

  /** Catalyst double-`round(…, 6)` semantics (HALF_UP on the shortest
    * decimal representation) — the scoring expressions round before their
    * cuts, so the instrument must too. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Persist a [[ShortlistMeasurement]] beside its codebooks — the index
    * config travels WITH the artifact it was measured for, so a serving
    * job can never silently pair a near-tie corpus's codes with a
    * contrastful default. One row; ladder flattened to parallel arrays. */
  def saveShortlist(catalog: Catalog, ref: String, sm: ShortlistMeasurement): Unit = {
    import catalog.spark.implicits._
    catalog.save(
      Seq((sm.shortlist, sm.targetRecall, sm.measuredRecall,
        sm.ladder.map(_._1), sm.ladder.map(_._2)))
        .toDF("shortlist", "target_recall", "measured_recall",
          "ladder_s", "ladder_recall"),
      ref)
  }

  def loadShortlist(catalog: Catalog, ref: String): ShortlistMeasurement = {
    val rows = catalog.load(ref).select(col("shortlist"), col("target_recall"),
      col("measured_recall"), col("ladder_s"), col("ladder_recall")).collect()
    require(rows.length == 1,
      s"loadShortlist('$ref'): expected one measurement row, got ${rows.length}")
    val r = rows(0)
    ShortlistMeasurement(r.getInt(0), r.getDouble(1), r.getDouble(2),
      r.getSeq[Int](3).zip(r.getSeq[Double](4)))
  }

  /** Persist codebooks through the [[Catalog]] — (sub, code, centroid)
    * rows, m·k·subDim doubles; the train-once artifact (doubles round-trip
    * parquet exactly, like [[Ivf.saveCentroids]]). */
  def saveCodebooks(catalog: Catalog, ref: String, cb: Codebooks): Unit = {
    import catalog.spark.implicits._
    catalog.save(
      cb.books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
      }.toSeq.toDF("sub", "code", "centroid"), ref)
  }

  def loadCodebooks(catalog: Catalog, ref: String): Codebooks = {
    val rows = catalog.load(ref).select(col("sub"), col("code"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getInt(1), Similarity.toVec(r, 2)))
    val books = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
    require(books.nonEmpty && books.head.nonEmpty,
      s"loadCodebooks('$ref'): artifact table is empty — not a trained codebook")
    Codebooks(books, books.head.head.length)
  }
}
