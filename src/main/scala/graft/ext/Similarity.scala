package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Scope
import graft.functions.NearestCentroid

/** Similarity search over an embedding column `array<float>` (BASELINE.json
  * extension surface): one top-k search — a [[Similarity.Probe]] choosing
  * the rows a query scores (all of them, LSH buckets or IVF cells), then
  * one exact rounded-cosine rerank — plus embedding near-dup mining.
  *
  * The arithmetic stays in codegen'd native expressions: floats widen to
  * double and accumulate left-to-right, which both keeps it deterministic
  * and matches the oracle's semantics.
  *
  * Scale design: a single query is one scan with a TakeOrderedAndProject —
  * fine for one query vector over any corpus size (no shuffle of the
  * corpus). A cell probe cuts that scan to ~nProbe/cells of the corpus, and
  * a corpus that stores its cell column as the partition key prunes files
  * instead of scanning, so a 1000-executor cluster reads only probed cells.
  */
object Similarity {

  /** Codegen'd native dot product (graft.functions.DotProduct) — same
    * left-to-right double accumulation as the HOF fold it replaced, ~40×
    * faster on the O(n²) pair joins (no per-element boxing). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot(a, b)

  def norm2(a: Column): Column = graft.functions.VectorFunctions.norm2(a)

  /** cosine = dot / (sqrt(|a|²) * sqrt(|b|²)) — same shape DuckDB's
    * list_cosine_similarity uses, so the oracle matches bit-for-bit.
    *
    * The division is `try_divide`: a ZERO-norm vector (all-zero embedding)
    * would otherwise be a double divide-by-zero, which this Spark build's
    * ANSI mode raises as a JOB-ABORTING error (the varianceFrom lesson —
    * see Exact.scala). try_divide yields NULL on the zero denominator.
    * NOTE the q-oracles' `list_cosine_similarity` is NOT that shape for
    * this degenerate input: DuckDB 1.0.0 returns -1.0 for a zero-norm
    * vector (verified; its raw x/0 is NULL). NULL here is the deliberate
    * choice — cosine is undefined at zero norm, and NULL propagates/sorts
    * honestly where a fake -1.0 would rank as "maximally dissimilar" —
    * and Verify asserts the corpus carries no zero-norm vector, so the
    * divergence cannot reach an oracle comparison (see
    * Verify.assertNoZeroNormVectors). try_divide is bit-identical to plain
    * division everywhere else. NOT `nullif(denom, 0)`: that expands to a
    * CASE evaluating the denominator TWICE, and the denominator carries an
    * O(dim) norm2 per scored pair — measured ~1.3-1.5x on every
    * pair-scoring query before this form replaced it. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(norm2(a)) * sqrt(norm2(b)))

  /** [[cosine]] with one side's squared norm precomputed. Pair-scoring
    * paths project `norm2(vec)` once per VECTOR and feed it here, so each
    * scored pair costs one dot product instead of three — the values are
    * bit-identical (same IEEE operations in the same order; `norm2` is the
    * same left-to-right fold whether evaluated per pair or per row). */
  def cosinePre(a: Column, b: Column, n2b: Column): Column =
    try_divide(dot(a, b), sqrt(norm2(a)) * sqrt(n2b))

  /** [[cosine]] with BOTH squared norms precomputed — one dot per pair. */
  def cosinePre2(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    try_divide(dot(a, b), sqrt(n2a) * sqrt(n2b))

  /** Collected array column row → double vector (floats widen). A null
    * vector or null element fails with a usable message instead of an
    * opaque driver NPE/MatchError deep inside a lookup. */
  private[ext] def toVec(row: org.apache.spark.sql.Row, i: Int): Array[Double] = {
    val seq = row.getSeq[Any](i)
    require(seq != null, "embedding vector is null for the requested id")
    seq.map {
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
      case null => throw new IllegalArgumentException(
        "embedding vector contains a null element")
    }.toArray
  }

  /** Left-to-right squared norm of a collected vector — the SAME fold order
    * as [[norm2]]'s expression (floats widen to double, then accumulate in
    * element order), so driver-side and scan-side values are
    * bit-identical. */
  private[ext] def norm2Vec(qv: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < qv.length) { s += qv(i) * qv(i); i += 1 }
    s
  }

  /** Sign-bit bucket of a vector under `nPlanes` seeded hyperplanes,
    * starting at plane index `planeOffset` (so independent LSH tables can
    * draw disjoint plane sets from the same deterministic family). Backed by
    * the native single-pass [[graft.functions.HyperplaneLsh]] expression. */
  def lshBucket(vec: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    element_at(graft.functions.HyperplaneLsh(vec, nPlanes, 1, planeOffset), 1)

  /** The multi-probe bucket sequence for a query vector: its own bucket,
    * then the buckets reached by flipping its lowest-|projection| sign bits
    * in margin order, truncated to `nProbe`. Derived driver-side from the
    * same deterministic plane family the scan-side expression folds
    * (bit-identity test-pinned), so callers can persist or push it as a
    * literal IN-filter with no extra job. */
  def probeSet(qv: Array[Double], nPlanes: Int, nProbe: Int): Seq[Long] = {
    val projs = graft.functions.HyperplaneLsh.projections(qv, nPlanes)
    val base = graft.functions.HyperplaneLsh.bucketOf(projs)
    val flipOrder = projs.zipWithIndex.sortBy { case (p, _) => math.abs(p) }
    (base +: flipOrder.map { case (_, p) =>
      base ^ (1L << (nPlanes - 1 - p))
    }).take(math.max(1, nProbe)).toSeq
  }

  // ───── Top-k search: one probe step, one exact rerank ─────

  /** Which corpus rows a query scores — the candidate-pruning step of every
    * top-k search; the exact rounded-cosine rerank after it is shared.
    *
    * [[Probe.All]] scores every row (exact search). A cell probe scores
    * only the rows in the query's probed cells: hyperplane-LSH buckets
    * ([[Probe.Lsh]], via [[probeSet]]) or IVF cells ([[Probe.Ivf]], the
    * nearest centroids). The cells derive DRIVER-side from the query
    * vector, so probing runs no job and the cell filter is a pushable
    * literal IN-predicate. A cell probe reads the corpus's stored cell
    * column (`bucket` / `cluster`) when it has one — assigned once at
    * ingest, optionally as the partition column, so the probe filter
    * partition-prunes to the probed cell directories — and derives it
    * inline otherwise. Membership follows the analyzer's rules
    * ([[TableShapes.hasColumn]]): a stored column is never silently
    * re-assigned. A stored column must come from the same planes /
    * centroids as the probe. */
  sealed trait Probe {
    /** `corpus` cut to the rows in the cells any of `qvs` probes. */
    private[ext] def rowsFor(corpus: DataFrame, qvs: Seq[Array[Double]],
        vecCol: String): DataFrame
  }

  object Probe {
    case object All extends Probe {
      private[ext] def rowsFor(corpus: DataFrame, qvs: Seq[Array[Double]],
          vecCol: String): DataFrame = corpus
    }

    /** A probe over the cells named by one corpus column. */
    sealed abstract class Cells(private[ext] val cellCol: String) extends Probe {
      /** The scan-side cell of a vector, for a corpus without the column. */
      protected def assign(vec: Column): Column
      /** The cells a query vector probes. */
      private[ext] def cellsOf(qv: Array[Double]): Seq[Long]

      private[ext] def rowsFor(corpus: DataFrame, qvs: Seq[Array[Double]],
          vecCol: String): DataFrame = {
        val celled =
          if (TableShapes.hasColumn(corpus, cellCol)) corpus
          else corpus.withColumn(cellCol, assign(col(vecCol)))
        celled.filter(col(cellCol).isin(qvs.flatMap(cellsOf).distinct: _*))
      }
    }

    /** Multi-probe hyperplane LSH: the query's bucket under `nPlanes`
      * planes plus its lowest-margin bit flips, `nProbe` buckets in all
      * (1 = the plain single-bucket probe). A vector near a hyperplane is
      * the one whose true neighbours sit on the other side — flipping
      * that bit recovers them without paying for more tables. Recall vs
      * probes is measured in ExtSpec. */
    final case class Lsh(nPlanes: Int, nProbe: Int = 1) extends Cells("bucket") {
      protected def assign(vec: Column): Column = lshBucket(vec, nPlanes)
      private[ext] def cellsOf(qv: Array[Double]): Seq[Long] =
        probeSet(qv, nPlanes, nProbe)
    }

    /** IVF: the `nProbe` cells whose centroids lie nearest the query (L2,
      * index tie-break) — [[graft.ext.Ivf.trainCentroids]]' quantizer,
      * whose corpus-side assignment is [[graft.ext.Ivf.assign]]. */
    final case class Ivf(centroids: Array[Array[Double]], nProbe: Int = 2)
        extends Cells("cluster") {
      protected def assign(vec: Column): Column = NearestCentroid(vec, centroids)
      private[ext] def cellsOf(qv: Array[Double]): Seq[Long] =
        graft.ext.Ivf.nearestClusters(qv, centroids, nProbe).map(_.toLong)
    }
  }

  /** The (id, vector) rows of `ids` in `corpus` — one collect, the single
    * lookup every id-keyed search goes through. Missing ids are absent
    * from the result; a null vector fails here with [[toVec]]'s message. */
  def vectors(corpus: DataFrame, ids: Seq[Long], idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Long, Array[Double])] =
    corpus.filter(col(idCol).isin(ids: _*))
      .select(col(idCol), col(vecCol)).collect()
      .toSeq.map(r => (r.getLong(0), toVec(r, 1)))

  /** Top-k neighbours of one query vector — the serving entry point: the
    * vector comes from OUTSIDE the corpus (embedded on the fly), so no
    * lookup runs. The plan is one scan of the `probe`'s candidate rows, the
    * vector and its norm riding as plan literals, cut by a
    * TakeOrderedAndProject — no shuffle of the corpus at any size.
    * Ordering is by the 6dp-rounded cosine with an id tie-break, the
    * convention every oracle equality depends on. `excludeId` drops one
    * corpus id (how [[topKById]] excludes the query's own row). */
  def topK(corpus: DataFrame, qv: Array[Double], k: Int,
      probe: Probe = Probe.All, excludeId: Option[Long] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rows = probe.rowsFor(corpus, Seq(qv), vecCol)
    excludeId.fold(rows)(q => rows.filter(col(idCol) =!= q))
      .select(col(idCol), round(cosinePre(col(vecCol),
        array(qv.map(lit).toSeq: _*), lit(norm2Vec(qv))), 6).as("cosine_sim"))
      .orderBy(desc("cosine_sim"), col(idCol))
      .limit(k)
  }

  /** Top-k neighbours for a BATCH of (label, vector) queries in ONE corpus
    * pass.
    *
    * m single-query plans would mean m corpus scans. Here the queries
    * broadcast — one row per (query, probed cell), norms precomputed by
    * [[norm2Vec]] — and join the probe's candidate rows on the cell column
    * (a cross join for [[Probe.All]]); every pair scores one dot in the
    * scan stage, and the per-query top-k reduces through
    * [[graft.functions.TopKAgg]], a bounded Aggregator whose map-side
    * partial aggregation sends at most k·partitions rows per query through
    * the shuffle instead of the n·m scored rows a `row_number()` window
    * would move. Its comparator (score DESC, id ASC) is a total order, so
    * results are identical on any partitioning and equal [[topK]] per
    * query (test-pinned). `excludeSelf` drops corpus rows whose id equals
    * the query's label — pass `vectors(corpus, ids)` with it set for
    * corpus-member queries; external labels leave it false. */
  def topKBatch(corpus: DataFrame, queries: Seq[(Long, Array[Double])], k: Int,
      probe: Probe = Probe.All, excludeSelf: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = probe.rowsFor(corpus, queries.map(_._2), vecCol)
    val joined = probe match {
      case Probe.All => rows.crossJoin(broadcast(queries
        .map { case (q, v) => (q, v, norm2Vec(v)) }.toDF("query_id", "qv", "n2q")))
      case p: Probe.Cells => rows.join(broadcast(queries
        .flatMap { case (q, v) => p.cellsOf(v).map(c => (q, c, v, norm2Vec(v))) }
        .toDF("query_id", p.cellCol, "qv", "n2q")), Seq(p.cellCol))
    }
    val scored = (if (excludeSelf) joined.filter(col(idCol) =!= col("query_id")) else joined)
      .select(col("query_id"), col(idCol).as("id"),
        round(cosinePre(col(vecCol), col("qv"), col("n2q")), 6).as("score"))
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, s) => graft.functions.Scored(id, s) }
      .agg(graft.functions.TopK.column(k))
      .flatMap { case (q, hits) => hits.map(h => (q, h.id, h.score)) }
      .toDF("query_id", idCol, "cosine_sim")
      .orderBy(col("query_id"), desc("cosine_sim"), col(idCol))
  }

  /** Top-k neighbours of the corpus row `id`: one [[vectors]] lookup, then
    * [[topK]] with the row itself excluded (bit-identical — test-pinned).
    * A missing id degrades to an empty (idCol, cosine_sim) result. */
  def topKById(corpus: DataFrame, id: Long, k: Int, probe: Probe = Probe.All,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    vectors(corpus, Seq(id), idCol, vecCol).headOption match {
      case Some((_, qv)) => topK(corpus, qv, k, probe, Some(id), idCol, vecCol)
      case None => corpus.select(col(idCol), lit(0.0d).as("cosine_sim")).limit(0)
    }

  /** All near-duplicate pairs above a cosine threshold (embedding-space
    * near-dup dedup). Exact form is the O(n²) self-join — acceptable for
    * oracle checks; the scale path buckets both sides with [[lshBucket]]
    * first (same trick as [[Dedup.nearDupPairs]]). */
  def nearDupPairs(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      norm2(col(vecCol)).as("n2_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      norm2(col(vecCol)).as("n2_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosinePre2(col("v_a"), col("v_b"), col("n2_a"), col("n2_b")), 6)
          .as("cosine_sim"))
      // Spark SQL orders NaN ABOVE every double, so a bare `> threshold`
      // would pass NaN-element pairs that the survivor walk (roundedCosine
      // → -Infinity, never a match) rejects — the NaN guard keeps the
      // pinned pair-path/walk parity contract exact on hostile corpora
      .filter(col("cosine_sim") > threshold && !isnan(col("cosine_sim")))
      .orderBy(desc("cosine_sim"), col("id_a"), col("id_b"))
  }

  /** (nPlanes, nTables) sized to the corpus and threshold.
    *
    * Planes first: enough sign bits that the MEAN bucket holds about
    * `targetBucketRows` vectors — candidate volume per table is then
    * ~n·targetBucketRows/2, i.e. LINEAR in n for a fixed target, which is
    * the property that makes the bucket join survive a 100× scale-up.
    * Tables second: a pair at cosine `threshold` (angle θ) collides per
    * table with probability p^nPlanes (p = 1 − θ/π), so
    * recall = 1 − (1 − p^nPlanes)^nTables; solve for the table count that
    * reaches `targetRecall`. If that exceeds `maxTables`, planes are
    * dropped one at a time (recall beats pruning) — for LOOSE thresholds
    * over huge corpora hyperplane LSH fundamentally cannot give both high
    * recall and deep pruning, and this function makes that trade explicit
    * instead of silently emitting Θ(n²) candidates.
    *
    * The depth may then DEEPEN past the corpus-size floor: each extra
    * plane halves a table's random bucket collisions while growing the
    * recall-solving table count by only ~1/p per plane, so the final depth
    * is the minimizer of an explicit per-vector cost proxy
    * `tables·(planes + 4·w(planes)·n/2^(planes+1))` over every
    * recall-feasible depth at or past the floor (tables still capped): the
    * first term is the projection work (one dot per plane per table), the
    * second the expected random same-bucket candidates per table, weighted
    * 4× for a candidate's rerank dot PLUS join/shuffle machinery and a
    * further `w(planes)` for the MEASURED sign-bucket non-uniformity
    * (realized Σ C(|cell|,2) vs the uniform model — r12 probes at 250k-64M
    * docs; pricing collisions below the measured rate made the pre-r12
    * proxy under-deepen at ≥64M and step candidate volume ×9.6 per ×4
    * data, where the weighted proxy measures ×3.8 at the same step). The
    * weight is a DEPTH-KEYED law ([[NonUniformityLaw]]): the measured
    * ratio grows exponentially in depth, and pass the corpus's OWN
    * sample-measured law ([[measureNonUniformityLaw]]) when the corpus is
    * clustered — hash-derived vectors are the floor, real embedding
    * corpora sit higher (r13 clustered-corpus probes).
    * In the
    * TIGHT regime (p ≥ 0.8, cosine ≳ 0.81) deepening wins ≥ 1.6× per
    * plane; in the LOOSE regime the table count grows faster (≥ 1.56× per
    * plane) yet the minimizer still finds real wins wherever the table cap
    * is not already binding — measured at sf0.1 (n = 2000, threshold
    * 0.45, recall 0.999): the floor config (2 planes, 13 tables) runs the
    * q42 sweep in 3.5 s where the minimizer's (5, 57) takes 2.4 s with
    * identical pairs, because the raw bucket-join volume (Σ|bucket|² per
    * table) nearly halves even while the distinct candidate set barely
    * moves on a near-saturated small corpus. For huge corpora at loose
    * thresholds the cap binds and the minimizer degenerates to the
    * cap-dropped floor — the explicit recall-beats-pruning trade above. */
  /** Recall-solving OR-amplification table count at depth `nPlanes` for a
    * cosine `threshold`: the fewest independent tables making a
    * threshold-cosine pair's all-tables miss probability ≤ 1 − recall.
    * THE formula behind [[lshParams]] — exposed so external validators
    * (e.g. `DedupScaleProbe --pinnedLsh`, SCALE.md "Embedding-LSH posture
    * at 16M docs") probe exactly the configs the engine would produce
    * instead of replicating the math and silently drifting. */
  def lshTablesFor(nPlanes: Int, threshold: Double, targetRecall: Double): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    lshTablesForCollision(math.pow(p, nPlanes), targetRecall)
  }

  /** OR-amplification table count solved from a PER-TABLE collision
    * probability — the inner solve of [[lshTablesFor]], exposed for
    * callers that MEASURE the collision rate instead of deriving it from
    * a cosine threshold (the multi-probe decision probe). Degenerate
    * rates (collision certain or impossible) take one table: more tables
    * can neither help nor hurt, and the log-solve would divide by
    * log(0)/log(1). */
  def lshTablesForCollision(pTable: Double, targetRecall: Double): Int =
    if (pTable >= 1.0 || pTable <= 0.0) 1
    else math.ceil(math.log(1.0 - math.min(0.999999, targetRecall)) /
      math.log(1.0 - pTable)).toInt

  def lshParams(n: Long, threshold: Double, targetRecall: Double = 0.98,
      targetBucketRows: Long = 1024L, maxTables: Int = 64,
      law: NonUniformityLaw = HashCorpusNonUniformity): (Int, Int) = {
    def tablesFor(k: Int): Int = lshTablesFor(k, threshold, targetRecall)
    var planes = math.min(MaxPlanes, math.max(2,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketRows)) / math.log(2.0)).toInt))
    while (planes > 2 && tablesFor(planes) > maxTables) planes -= 1
    // deepen past the floor to the cost-proxy minimizer over every
    // recall-feasible depth (tables still capped) — all regimes; where the
    // cap already binds the floor is the only feasible depth and nothing
    // changes. The collision term is weighted by BOTH the join-machinery
    // factor AND the measured bucket non-uniformity — without the latter
    // the proxy defects from occupancy-constancy exactly where it matters
    // (r12 measured the defection at 64M docs: the uniform-model proxy
    // stopped at 24 planes, occupancy doubled, and raw candidate volume
    // stepped ×9.6 for ×4 data — the weighted proxy deepens past 24
    // there and measures ×3.8, with 4.2× less absolute volume; individual
    // steps stay lumpy because depth moves in whole planes, but the
    // 4M→64M envelope reads n^1.29 vs the old n^1.45-and-rising; see
    // SCALE.md "posture" sections).
    val feasible = (planes to MaxPlanes).filter(k => tablesFor(k) <= maxTables)
    if (feasible.nonEmpty)
      planes = feasible.minBy(lshCostProxy(_, n, threshold, targetRecall, law))
    (planes, math.max(1, math.min(maxTables, tablesFor(planes))))
  }

  /** The per-vector modeled cost [[lshParams]] minimizes over depth —
    * exposed so tests can pin the FLATNESS of the surface around the
    * minimizer (the property that makes a fitted/sampled law safe to
    * substitute for the exact curve: a one-plane mis-step never costs
    * more than ~1.3× modeled compute in the dedup band; PropertiesSpec
    * pins ≤1.5 over n ∈ [1e5, 1e12]). */
  private[graft] def lshCostProxy(k: Int, n: Long, threshold: Double,
      targetRecall: Double,
      law: NonUniformityLaw = HashCorpusNonUniformity): Double =
    lshTablesFor(k, threshold, targetRecall).toDouble *
      (k + CollisionMachineryWeight * law.weight(k) * n / math.pow(2.0, k + 1))

  /** Depth scan bound for [[lshParams]]. 40 sign bits keep the bucket well
    * inside [[graft.functions.HyperplaneLsh]]'s 63-bit long and hold the
    * occupancy-constancy posture to ~2^40·2 ≈ 2×10^12 vectors — past any
    * 100 TB corpus — where the pre-r12 bound of 24 forced occupancy (and
    * with it candidate volume per doc) to start doubling from ~32M rows.
    * Clustered corpora (r13) hit this bound from ~16M docs under their
    * sample-measured law, but there it is NOT the r12 regret reborn: at
    * measured growth ~1.73×/plane the net win per extra plane is
    * (2/1.73)/1.07 ≈ 8% and the 64-table recall cap binds by ~42 planes
    * anyway — deepening past 40 is volume-neutral, and the residual
    * volume is the corpus's intrinsic near-threshold pair mass
    * (SCALE.md r13 clustered section, reading 3). */
  private val MaxPlanes = 40

  /** A random same-bucket candidate costs its rerank dot plus the join
    * and shuffle machinery that carries it — the proxy's original 4×. */
  private val CollisionMachineryWeight = 4.0

  /** Bucket non-uniformity as an exponential-in-depth LAW
    * `weight(k) = max(1, amplitude · growthPerPlane^k)`: the realized
    * Σ C(|cell|,2) over sign buckets runs above the uniform-occupancy
    * model by a depth-keyed factor (per-plane correlations cascade
    * multiplicatively), and the sizer's cost proxy must price collisions
    * at roughly the measured rate or it under-deepens exactly where depth
    * matters (the r12 lesson at 64M docs). The law clamps at ≥1 — a
    * fixed-marginal occupancy cannot realize FEWER pairs than uniform in
    * expectation — and holds the weight constant past
    * `maxMeasuredDepth + ExtrapolationPlanes`: the exponential fit is
    * trusted a few planes past its measurement band, never to the 40-bit
    * scan bound (an overestimated weight deepens ≤1-2 planes on a cost
    * surface measured flat to <2%; an underestimate re-opens the ×9.6
    * quadratic step). */
  final case class NonUniformityLaw(amplitude: Double, growthPerPlane: Double,
      maxMeasuredDepth: Int, measured: Seq[(Int, Double)] = Nil) {
    require(amplitude > 0 && growthPerPlane >= 1.0 && maxMeasuredDepth >= 2,
      s"degenerate non-uniformity law ($amplitude, $growthPerPlane, $maxMeasuredDepth)")
    def weight(planes: Int): Double = math.max(1.0, amplitude *
      math.pow(growthPerPlane, math.min(planes,
        maxMeasuredDepth + NonUniformityLaw.ExtrapolationPlanes)))
  }
  object NonUniformityLaw {
    /** How many planes past the measurement band the exponential fit is
      * trusted before the weight freezes (≈ one octave of weight at the
      * hash law's 1.12/plane). */
    val ExtrapolationPlanes = 6
  }

  /** The default law: least-squares fit of ln(ratio) vs depth over the
    * nine r12 `probes.DedupScaleProbe --rawVolume` measurements on hash-derived
    * (near-isotropic) corpora — 2.80× at 19 planes, 3.26-3.40× at 21,
    * 4.24-4.35× at 23, 4.77-4.82× at 24, 7.09× at 27 (SCALE.md "The 64M
    * step") — which the fit reproduces within 4% at every point, and
    * whose ≥1 clamp holds the shallow loose band at exactly 1.0 (the raw
    * fit runs below 1 there: 0.29·1.125⁸ ≈ 0.74 at 8 planes, first
    * reaching ~1.6× only near 14-15 planes) where the r12 constant 4.5
    * overpriced that regime. Hash corpora are the non-uniformity
    * FLOOR: clustered corpora (real embeddings) measure higher (r13
    * clustered probes, SCALE.md), so corpus-aware callers should pass
    * [[measureNonUniformityLaw]]'s sample-measured law instead. */
  val HashCorpusNonUniformity: NonUniformityLaw =
    NonUniformityLaw(amplitude = 0.29, growthPerPlane = 1.125,
      maxMeasuredDepth = 27)

  /** SAMPLE-MEASURED [[NonUniformityLaw]] for a concrete corpus — the
    * corpus-aware sizing path. Hashes `sampleRows` sampled vectors into
    * sign buckets at several depths, measures the realized-vs-uniform
    * pair ratio Σ C(|cell|,2) / (tables·C(m,2)/2^k) at each, and fits the
    * exponential depth law through the measurements (least squares on
    * ln ratio). The ratio is a PAIR-COLLISION statistic, so a uniform
    * subsample estimates it unbiasedly at any depth where the uniform
    * model still expects enough pairs to read — depths are chosen so each
    * measurement carries ≥ ~200 expected uniform pairs, and the fitted
    * slope (the corpus's own per-plane cascade) extrapolates deeper under
    * [[NonUniformityLaw]]'s clamp rules. Degenerate fits fall back
    * conservatively: fewer than two measurable depths, or a DECREASING
    * fit (sampling noise — the cascade cannot shrink with depth), yield a
    * flat law at the maximum measured ratio.
    *
    * Cost: one small job per depth over m = `sampleRows` vectors
    * (default 100k — ~seconds beside the table build the sizing
    * precedes). Determinism: `sample` is seeded, so a given corpus +
    * sampleRows always measures the same law. */
  def measureNonUniformityLaw(emb: DataFrame, n: Long,
      sampleRows: Long = 100000L, nTables: Int = 8,
      vecCol: String = "embedding",
      depths: Seq[Int] = Nil): NonUniformityLaw = {
    val m = math.min(n, sampleRows)
    Scope {
      val sample = Scope.persist(
        if (m >= n) emb.select(col(vecCol))
        else emb.select(col(vecCol))
          .sample(withReplacement = false, math.min(1.0, m.toDouble * 1.05 / n),
            seed = 42)
          .limit(m.toInt))
      val mm = sample.count()
      // deepest depth where tables·C(m,2)/2^k still expects ≥200 uniform
      // pairs — past it the ratio estimate is shot noise
      val kMax = math.min(MaxPlanes, (math.log(nTables.toDouble * mm * (mm - 1)
        / 2.0 / 200.0) / math.log(2.0)).toInt)
      val ks =
        if (depths.nonEmpty) depths.filter(k => k >= 2 && k <= kMax)
        else Seq(kMax, kMax - 3, kMax - 6, kMax - 9).filter(_ >= 4).distinct
      // a corpus too small to measure ANY depth (a few hundred rows) has
      // no collision economics to speak of — fall back to the hash floor
      if (ks.isEmpty) HashCorpusNonUniformity
      else fitNonUniformity(ks.sorted.map { k =>
        val realized = lshTable(sample.withColumn("vec_id", lit(0L)), k,
            nTables, "vec_id", vecCol)
          .groupBy("ckey").count()
          .agg(sum(col("count") * (col("count") - lit(1L))).as("r2"))
          .first().getLong(0) / 2.0
        val uniform = nTables.toDouble * mm * (mm - 1) / 2.0 /
          math.pow(2.0, k)
        k -> math.max(1.0, realized / uniform)
      })
    }
  }

  /** The log-linear fit behind [[measureNonUniformityLaw]], exposed for
    * tests and for fitting externally measured (depth, ratio) tables. */
  private[graft] def fitNonUniformity(
      measured: Seq[(Int, Double)]): NonUniformityLaw = {
    require(measured.nonEmpty, "no measurable depths for the law fit")
    val flat = NonUniformityLaw(measured.map(_._2).max, 1.0,
      measured.map(_._1).max, measured)
    if (measured.size < 2) flat
    else {
      val xs = measured.map(_._1.toDouble)
      val ys = measured.map(p => math.log(p._2))
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
      if (slope <= 0 || den == 0) flat
      else NonUniformityLaw(math.exp(my - slope * mx), math.exp(slope),
        measured.map(_._1).max, measured)
    }
  }

  // ───── Law persistence beside the LSH artifact (r13 verdict task #4) ─

  /** Corpus identity for sizing-artifact reuse: (row count,
    * order-insensitive xxhash64 fold over (id, vector)). One scan, no
    * wide shuffle — the cost a build-time artifact op can afford; any
    * row added, dropped, or mutated moves the digest. */
  def corpusDigest(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): (Long, Long) = {
    val r = emb.agg(count(lit(1)),
      expr(s"bit_xor(xxhash64($idCol, $vecCol))")).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Persist a measured [[NonUniformityLaw]] beside the LSH table it
    * sized, stamped with the corpus digest it was measured on — so a
    * re-mine or serve over the persisted artifact reuses the ~20-25 s
    * measurement instead of re-paying it, and a CHANGED corpus can never
    * be served a stale law (the digest gates the reuse). */
  def saveLshLaw(catalog: graft.core.Catalog, ref: String,
      law: NonUniformityLaw, digest: (Long, Long)): Unit = {
    import catalog.spark.implicits._
    catalog.save(
      Seq((law.amplitude, law.growthPerPlane, law.maxMeasuredDepth,
        law.measured.map(_._1), law.measured.map(_._2),
        digest._1, digest._2))
        .toDF("amplitude", "growth_per_plane", "max_measured_depth",
          "measured_k", "measured_ratio", "digest_rows", "digest_hash"),
      ref)
  }

  def loadLshLaw(catalog: graft.core.Catalog, ref: String): (NonUniformityLaw, (Long, Long)) = {
    val rows = catalog.load(ref).select(col("amplitude"), col("growth_per_plane"),
      col("max_measured_depth"), col("measured_k"), col("measured_ratio"),
      col("digest_rows"), col("digest_hash")).collect()
    require(rows.length == 1,
      s"loadLshLaw('$ref'): expected one law row, got ${rows.length}")
    val r = rows(0)
    (NonUniformityLaw(r.getDouble(0), r.getDouble(1), r.getInt(2),
      r.getSeq[Int](3).zip(r.getSeq[Double](4))),
      (r.getLong(5), r.getLong(6)))
  }

  /** [[measureNonUniformityLaw]] with artifact reuse: when `ref` holds a
    * law measured on a corpus with THIS corpus's digest, return it
    * without re-measuring; otherwise measure, persist under the digest,
    * and return the fresh fit. The round-trip identity (measure → persist
    * → reload sizes to the identical config) and both branches are
    * ExtSpec-pinned. */
  def measureNonUniformityLawCached(catalog: graft.core.Catalog, ref: String,
      emb: DataFrame, n: Long, sampleRows: Long = 100000L,
      idCol: String = "vec_id", vecCol: String = "embedding"): NonUniformityLaw = {
    val digest = corpusDigest(emb, idCol, vecCol)
    val stored =
      if (!catalog.exists(ref)) None
      else {
        val (law, storedDigest) = loadLshLaw(catalog, ref)
        if (storedDigest == digest) Some(law) else None
      }
    stored.getOrElse {
      val law = measureNonUniformityLaw(emb, n, sampleRows, vecCol = vecCol)
      saveLshLaw(catalog, ref, law, digest)
      law
    }
  }

  /** [[lshParams]] with the non-uniformity law SAMPLE-MEASURED from the
    * corpus itself (see [[measureNonUniformityLaw]]) — the sizing call for
    * corpora whose clustering is unknown: a clustered corpus measures a
    * higher collision law than the hash-corpus floor and sizes deeper,
    * which is exactly the under-deepening protection the r12 retune
    * bought for hash corpora, made corpus-aware. */
  def lshParamsMeasured(emb: DataFrame, threshold: Double,
      targetRecall: Double = 0.98, targetBucketRows: Long = 1024L,
      maxTables: Int = 64, sampleRows: Long = 100000L,
      vecCol: String = "embedding"): (Int, Int) = {
    val n = emb.count()
    lshParams(n, threshold, targetRecall, targetBucketRows, maxTables,
      measureNonUniformityLaw(emb, n, sampleRows, vecCol = vecCol))
  }

  /** The (tbl, bucket) self-join candidate pairs for [[nearDupPairsLsh]] —
    * exposed so tests can assert candidate VOLUME (the actual scale
    * property), not just the absence of a CartesianProduct plan node.
    * The bucket table is persisted into the caller's [[graft.core.Scope]]. */
  def lshCandidates(emb: DataFrame, nPlanes: Int, nTables: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // the bucket table feeds both sides of the self-join — materialize so
    // the corpus scan + nPlanes·nTables hyperplane projections run once
    lshCandidatesFromTable(Scope.persist(lshTable(emb, nPlanes, nTables, idCol, vecCol)), idCol)

  /** The persistable multi-table LSH bucket relation — the
    * [[graft.ext.Dedup.minhashTable]]/[[graft.ext.Dedup.bandCandidates]]
    * split applied to embedding near-dup mining: a deployment fixing its
    * (nPlanes, nTables) config computes buckets once at ingest and
    * re-mines pairs per run from the artifact. One row per (id, table)
    * carrying a SINGLE collision key `ckey = xxhash64(tbl, bucket)` (the
    * table index hashed in — raw hyperplane buckets RECUR across tables,
    * so joining on the bucket value alone would inflate matches ~tables×)
    * plus the raw `tbl`/`bucket` for the residual exactness check. Publish
    * with `Catalog.saveBucketed(…, "ckey", n)` and
    * [[lshCandidatesFromTable]] re-derives candidates with NO
    * collision-key exchange (plan-pinned in ExtSpec). */
  def lshTable(emb: DataFrame, nPlanes: Int, nTables: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol),
        posexplode(graft.functions.HyperplaneLsh(col(vecCol), nPlanes, nTables)))
      .toDF(idCol, "tbl", "bucket")
      .select(col(idCol), xxhash64(col("tbl"), col("bucket")).as("ckey"),
        col("tbl"), col("bucket"))

  /** The cell columns of an [[lshTable]]-shaped relation. */
  private[graft] val LshCells = Seq("ckey", "tbl", "bucket")

  private def requireLshTable(bucketTable: DataFrame, idCol: String,
      caller: String): DataFrame = {
    TableShapes.requireColumns(bucketTable, LshCells :+ idCol, caller,
      "build it with Similarity.lshTable(emb, nPlanes, nTables)")
    bucketTable
  }

  /** Candidate pairs over an (id, ckey, tbl, bucket) [[lshTable]]-shaped
    * relation. `ckey` is the ONLY equi-key — the same planner contract as
    * [[graft.ext.Dedup.bandCandidates]]: table/bucket equality rides as
    * XOR-form residual predicates Catalyst cannot lift into the join keys,
    * so a table published bucketed on `ckey` self-joins with no exchange
    * on the collision key. Semantics vs a plain three-key equi-join are
    * fuzz-pinned in PropertiesSpec on tables whose ckey deliberately
    * collides across (tbl, bucket) values. The input feeds both sides:
    * persist an inline-built table first, as [[lshCandidates]] does. */
  def lshCandidatesFromTable(bucketTable: DataFrame, idCol: String = "vec_id"): DataFrame = {
    requireLshTable(bucketTable, idCol, "lshCandidatesFromTable")
    lshCandidatesRaw(bucketTable, idCol).distinct()
  }

  /** The PRE-distinct bucket-collision pairs — the self-join output before
    * the cross-table reconciliation, one row per (pair, colliding table).
    * Shared by the one-shot distinct above and the partitioned mode below,
    * so their pair semantics can never drift. */
  private def lshCandidatesRaw(bk: DataFrame, idCol: String): DataFrame =
    CandidatePairs.collisions(bk, idCol, "ckey", Seq("tbl", "bucket"))
      .select("id_a", "id_b")

  /** PAIR-SPACE partitioned candidate distinct: the same (id_a, id_b) pair
    * set as [[lshCandidatesFromTable]], computed in `partitions` passes
    * that each keep only the pairs whose hash lands in their slice — so
    * the peak TRANSIENT shuffle is ~raw/partitions rows no matter how
    * large the distinct output is.
    *
    * Why pair-space slices and not table stages: accumulating the
    * distinct pair set a few tables at a time re-shuffles the
    * distinct-so-far every stage, so its peak stage carries
    * ~(raw·g/T + |distinct so far|) rows, and on workloads where
    * raw ≈ distinct (hash-floor corpora: the r12 16M-pinned DNF measured
    * 2.78B raw vs ~2.6B distinct) that approaches the one-shot cost
    * (measured at 2.6× the total shuffle and 2.5× the wall time of
    * one-shot for a peak only 7% lower, SCALE.md r13).
    * Partitioning the PAIR SPACE instead makes the passes independent:
    * pass p keeps the pairs with `pmod(xxhash64(id_a), P) = p`. Keying
    * the slice by id_a ALONE (not the pair hash) is what keeps total
    * compute linear: the join emits pairs with `id_a < id_b`, so every
    * pair lives in exactly one id_a slice — per-slice distinct is
    * globally valid — AND the predicate references only the build side's
    * columns, so Catalyst pushes it BELOW the join onto the a-side
    * (plan-pinned in ExtSpec): pass p's join MATCHES only the sliced
    * a-rows against the full b-side, generating ~raw/P pairs instead of
    * generating all raw and discarding (P−1)/P — across all passes the
    * match work stays ~raw, where a pair-hash slice would pay raw×P.
    * Slices are disjoint by construction, so their union is globally
    * distinct with no reconciliation pass. The residual ×P cost is the
    * b-side SCAN per pass (storage-local for persisted tables; no
    * exchange at all over a `ckey`-bucketed publish). Peak transient =
    * ~raw/P shuffle rows + one slice's aggregation; the output parquet
    * (= the answer) is the only thing that accumulates. Each pass is
    * also independently restartable, which is the posture a
    * 1000-executor run wants anyway. Slice balance rides id_a's
    * pair-degree distribution — bounded for LSH tables, whose per-cell
    * degree is capped by the sizer's target occupancy × tables.
    * Measured against one-shot in `probes.DedupScaleProbe
    * --partitionedDistinct` (SCALE.md r13). Pair-set equality vs the
    * one-shot distinct is pinned in ExtSpec.
    *
    * The returned frame reads the slice files; callers own `scratchDir`'s
    * lifecycle. */
  def lshCandidatesPartitioned(bucketTable: DataFrame, scratchDir: String,
      idCol: String = "vec_id", partitions: Int = 8): DataFrame = {
    require(partitions >= 1, s"partitions must be >= 1, got $partitions")
    requireLshTable(bucketTable, idCol, "lshCandidatesPartitioned")
    val raw = lshCandidatesRaw(bucketTable, idCol)
    writePasses(bucketTable, scratchDir, "slice", partitions)(p =>
      raw.where(pmod(xxhash64(col("id_a")), lit(partitions.toLong))
          === lit(p.toLong))
        .distinct())
  }

  /** The pass files of the bounded forms ([[lshCandidatesPartitioned]],
    * [[nearDupAssignGrouped]]): pass `i` of `passes` lands as parquet in
    * `scratchDir/<name>_i`, and the returned frame reads them all back.
    * Each pass is independently restartable; callers own `scratchDir`'s
    * lifecycle (the files are not manifest-atomic). */
  private def writePasses(from: DataFrame, scratchDir: String, name: String,
      passes: Int)(pass: Int => DataFrame): DataFrame = {
    val paths = (0 until passes).map(i => s"$scratchDir/${name}_$i")
    paths.zipWithIndex.foreach { case (path, i) =>
      pass(i).write.mode("overwrite").parquet(path)
    }
    from.sparkSession.read.parquet(paths: _*)
  }

  // ───── Survivor-oriented dedup (greedy star per cell) ─────

  /** Near-dup SURVIVOR mining — the head-mass answer (r13 verdict task #1).
    *
    * Why it exists: a corpus with a constant-fraction head cluster has
    * Θ(n²) NEAR-THRESHOLD pair mass intrinsically (SCALE.md r13 reading
    * 4) — no LSH sizing prunes it, because the pairs are real. But DEDUP
    * does not need the pair list; it needs a survivor set. Greedy-star
    * representative clustering gets one in ~m·k comparisons per cell
    * (k = representatives the cell promotes) instead of the C(m,2) the
    * pair path pays: within each (table, bucket) cell, members walk in
    * id order against the cell's representative set — the first match
    * (exact rounded cosine > threshold, the [[nearDupPairs]] convention)
    * eliminates the member; a non-match PROMOTES it. On a head-cluster
    * blob the first representative eliminates essentially the whole
    * cell, so k stays ~1 and the quadratic mass never materializes.
    *
    * Semantics (deterministic, order-free): a doc is eliminated iff some
    * cell's greedy walk matched it against an earlier-id CELL-LOCAL
    * representative; `dup_of` is the smallest eliminating representative
    * across cells. Representatives are cell-local, so a doc eliminated in
    * one cell can still eliminate later members in another — `dup_of`
    * chains like a union-find parent pointer, which collapses chain
    * components TOWARD the closure. The invariants (ExtSpec-pinned):
    * every elimination is a genuine exact-rounded-cosine pair with a
    * smaller id (the operator never drops a non-duplicate); each
    * component's min id always survives, so survivors ⊇ the closure's
    * min-per-component set; and on corpora whose duplicate groups are
    * cliques above the threshold (the planted-dup shape) the survivor
    * set EQUALS the closure's (pinned including a head-cluster corpus).
    *
    * Scale shape: one shuffle of (multi-occupied cell member × vector)
    * rows — singleton cells semi-join away first, so the vector
    * amplification is ≤ nTables× and usually far less; no pair relation
    * ever materializes, which is why this composes with the same
    * persisted [[lshTable]] artifacts the bounded-distinct modes mine
    * ([[nearDupAssignFromTable]]). The walk is [[CandidatePairs.assign]]
    * with [[cosineEvidence]].
    *
    * Returns ALL docs as (idCol, dup_of): `dup_of` null ⇒ survivor;
    * filter to `dup_of IS NULL` for the survivor ids. Sizing knobs as
    * [[nearDupPairsLsh]]; for corpus-measured sizing pass
    * [[lshParamsMeasured]]'s config explicitly. */
  def nearDupAssign(emb: DataFrame, threshold: Double, nPlanes: Int = 0,
      nTables: Int = 0, idCol: String = "vec_id", vecCol: String = "embedding",
      targetRecall: Double = 0.98): DataFrame = {
    require(nPlanes >= 0 && nTables >= 0 && (nPlanes > 0) == (nTables > 0),
      s"pass BOTH nPlanes and nTables explicitly or NEITHER (auto-sizing); " +
        s"got nPlanes=$nPlanes, nTables=$nTables")
    val (planes, tables) =
      if (nPlanes > 0) (nPlanes, nTables)
      else lshParams(emb.count(), threshold, targetRecall)
    nearDupAssignFromTable(lshTable(emb, planes, tables, idCol, vecCol), emb,
      threshold, idCol, vecCol)
  }

  /** [[nearDupAssign]] over a persisted [[lshTable]]-shaped relation — the
    * re-mine path for deployments that publish the bucket table once at
    * ingest (optionally `ckey`-bucketed). `comparisons`, when given,
    * accumulates the number of member-vs-representative cosine
    * evaluations the walk performed — a PROBE metric (task retries can
    * double-count it), there so `probes.DedupScaleProbe --survivors` can
    * read rerank work against the cell pair mass it replaces. Rows of
    * `emb` with a null vector hash to no cell and survive. */
  def nearDupAssignFromTable(bucketTable: DataFrame, emb: DataFrame,
      threshold: Double, idCol: String = "vec_id", vecCol: String = "embedding",
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    CandidatePairs.assign(emb.select(col(idCol)),
      requireLshTable(bucketTable, idCol, "nearDupAssignFromTable"), LshCells,
      idCol, cosineEvidence(emb, threshold, idCol, vecCol), comparisons)

  /** [[nearDupAssignFromTable]] with the one scale-sensitive shuffle
    * BOUNDED: the walk's input is (multi-cell member × vector) rows —
    * ~n·tables vector copies on dense corpora — and this form processes
    * the tables `tablesPerPass` at a time, landing each pass's
    * eliminations in `scratchDir` parquet, so the peak vector shuffle is
    * ~n·tablesPerPass copies instead of n·tables.
    *
    * Unlike the pair-space distinct (where slicing had to be engineered
    * so total match work stayed ~raw), grouping is FREE here: every
    * elimination is cell-local and cells never span tables, so the union
    * of per-pass eliminations followed by the same min-reconciliation is
    * EXACTLY the one-shot assignment (set equality pinned in ExtSpec at
    * several widths). Pass files as [[lshCandidatesPartitioned]]'s. */
  def nearDupAssignGrouped(bucketTable: DataFrame, emb: DataFrame,
      threshold: Double, scratchDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tablesPerPass: Int = 4,
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    require(tablesPerPass >= 1, s"tablesPerPass must be >= 1, got $tablesPerPass")
    requireLshTable(bucketTable, idCol, "nearDupAssignGrouped")
    val tbls = bucketTable.select("tbl").distinct().collect()
      .map(_.getInt(0)).sorted
    // an empty bucket table writes zero pass files, and a zero-path
    // parquet read throws — the one-shot form's answer there is
    // everyone-survives, so match it instead of diverging at width 0
    if (tbls.isEmpty)
      return emb.select(col(idCol))
        .withColumn("dup_of", lit(null).cast("long"))
    val groups = tbls.grouped(tablesPerPass).toSeq
    val ev = cosineEvidence(emb, threshold, idCol, vecCol)
    val elim = writePasses(emb, scratchDir, "pass", groups.size)(i =>
      CandidatePairs.eliminations(
        bucketTable.where(col("tbl").isin(groups(i).toSeq.map(Int.box): _*)),
        LshCells, idCol, ev, comparisons))
    emb.select(col(idCol))
      .join(CandidatePairs.minDupOf(elim, idCol), Seq(idCol), "left_outer")
  }

  /** The embedding families' greedy-star evidence: the vector and its
    * squared norm joined back from `emb`, matched by exact rounded cosine
    * above `threshold` ([[roundedCosine]]). Null vectors sit the walk
    * out. */
  private[graft] def cosineEvidence(emb: DataFrame, threshold: Double,
      idCol: String, vecCol: String): CandidatePairs.Evidence[(Array[Double], Double)] = {
    // float corpora shuffle their vectors UN-widened (half the bytes of a
    // cast to double — the walk widens per element, the same exact IEEE
    // widening the expression dot performs); double corpora ride as-is.
    // Never downcast: a double→float cast would change cosines.
    val isFloat = emb.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val thr = threshold
    CandidatePairs.Evidence[(Array[Double], Double)](Seq(col("n2"), col("v")),
      // null vectors never pair (see cosine) — they sit the walk out
      read = r => if (r.isNullAt(2)) null else {
        val v =
          if (isFloat) r.getSeq[Float](2).iterator.map(_.toDouble).toArray
          else r.getSeq[Double](2).toArray
        (v, r.getDouble(1))
      },
      matches = { case ((rv, rn2), (v, n2)) => roundedCosine(rv, rn2, v, n2) > thr },
      source = Some(emb.select(col(idCol),
        (if (isFloat) col(vecCol) else col(vecCol).cast("array<double>")).as("v"),
        norm2(col(vecCol)).as("n2"))))
  }

  /** The greedy star's match: exact cosine with [[nearDupPairs]]' fold
    * order — the same left-to-right dot fold, the same dot/(√n2·√n2)
    * shape — and Catalyst's double-`round(…, 6)` semantics (HALF_UP on
    * the shortest decimal representation), so a pair the pair path scores
    * at exactly the threshold boundary gets the identical verdict in the
    * walk (equivalence is test-pinned). Returns −∞ (never a match) where
    * the expression form yields NULL (zero norm) or NaN. */
  private def roundedCosine(a: Array[Double], n2a: Double,
      b: Array[Double], n2b: Double): Double = {
    if (a.length != b.length) return Double.NegativeInfinity
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    val denom = math.sqrt(n2a) * math.sqrt(n2b)
    if (denom == 0.0) return Double.NegativeInfinity
    val c = s / denom
    if (java.lang.Double.isNaN(c)) return Double.NegativeInfinity
    BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** The production form of [[nearDupPairs]]: OR-amplified multi-table LSH.
    *
    * Each of `nTables` independent tables buckets every vector by `nPlanes`
    * hyperplane sign bits (disjoint plane sets per table); candidate pairs
    * are ids that share a (table, bucket) cell in ANY table. Pass
    * `nPlanes = 0` (the default) to size both knobs from the corpus row
    * count via [[lshParams]] — candidate volume is then
    * Θ(n · targetBucketRows · nTables), linear in the corpus; an explicit
    * (nPlanes, nTables) pair is honored verbatim for reproducible configs
    * (the q35 oracle proof pins (4, 32), where exhaustive-scan DuckDB
    * agreement proves zero false negatives on the verify corpora — a
    * loose-threshold config whose candidate coverage is near-total, only
    * for oracle-scale data). The knobs are all-or-nothing: passing only
    * one of them is rejected rather than silently mixing an explicit value
    * with an auto-sized partner.
    *
    * Shuffle discipline: the vectors ride the bucket rows and the exact
    * cosine is scored inside the self-join ([[lshScoredCollisions]]), so
    * the cross-table distinct only sees pairs that already cleared the
    * threshold and no join-back runs. With auto-sized params no step is quadratic in the corpus; candidate
    * growth is asserted in ExtSpec (count-based, not plan-node-based).
    * Where even the candidate distinct's one exchange outgrows executor
    * scratch (measured cliff: 2.78B raw pairs vs ~75 GB local scratch,
    * SCALE.md r12/r13), run the relation level directly — [[lshTable]]
    * then [[lshCandidatesPartitioned]] (peak transient ~raw/P) — and
    * verify survivors with the same exact-cosine join-back this operator uses;
    * the default inline path here stays one-shot deliberately (lazy plan,
    * no scratch-dir contract). */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double, nPlanes: Int = 0,
      nTables: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetRecall: Double = 0.98): DataFrame = {
    require(nPlanes >= 0 && nTables >= 0 && (nPlanes > 0) == (nTables > 0),
      s"pass BOTH nPlanes and nTables explicitly or NEITHER (auto-sizing); " +
        s"got nPlanes=$nPlanes, nTables=$nTables")
    // targetRecall is the honest knob of the approximation: at the default
    // 0.98, ~2% of pairs sitting exactly AT the threshold can drop (e.g.
    // the sf0.1 driver corpus recovers 142/144 = 98.6% of loose-threshold
    // pairs, matching the target; the sf0.01 oracle corpora happen to have
    // full recall). Dial 0.999 when completeness beats cost — tables (and
    // candidate volume) grow roughly with log(1 - recall).
    lshScoredCollisions(emb, threshold, nPlanes, nTables, idCol, vecCol,
      targetRecall)
      // cross-table reconciliation AFTER the threshold filter: cosine_sim
      // is a pure function of the pair, so distinct over
      // (id_a, id_b, cosine_sim) is pair-distinct — it just runs over the
      // filter's survivors instead of the full collision mass
      .distinct()
      .orderBy(desc("cosine_sim"), col("id_a"), col("id_b"))
  }

  /** The pre-reconciliation scored collision stream behind
    * [[nearDupPairsLsh]]: one `(id_a, id_b, cosine_sim)` row per (pair,
    * colliding table) that already cleared the threshold — a pair
    * colliding in t tables appears t times, all with the identical
    * cosine. Package-private for consumers whose NEXT operator is itself
    * an aggregate over the pair key ([[Multimodal.audioAnySegmentNearDups]]'
    * per-media max): max over a multiset equals max over its set, so they
    * absorb the duplicates in the aggregate they already pay and skip the
    * distinct's extra hash-aggregate pass over the survivor multiplicity
    * entirely (guide §2.3 — r20; the q98 survivor stream carries ~20M
    * duplicate-bearing rows at sf0.1 where the distinct pairs are ~1M). */
  private[graft] def lshScoredCollisions(emb: DataFrame, threshold: Double,
      nPlanes: Int = 0, nTables: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetRecall: Double = 0.98): DataFrame = {
    // one count serves both the auto-sizing and the data-sized partition
    // count below (the explicit-config path pays it only for the sizing
    // of the repartition — one zero-column scan)
    val n = emb.count()
    val (planes, tables) =
      if (nPlanes > 0) (nPlanes, nTables)
      else lshParams(n, threshold, targetRecall)
    // Rerank-in-join (r19 optimization round, guide §2.3/§2.4): the vector
    // and its squared norm ride the bucket rows, the exact cosine is
    // computed IN the self-join's projection, and the threshold filter
    // runs BEFORE the cross-table reconciliation — so the distinct (and
    // the two join-backs the old shape paid) only ever see pairs that
    // already cleared the threshold. On clustered corpora the collision
    // mass is the dominant term (q98's spectral corpus: 48.6M raw
    // collisions → 24.9M distinct candidates of C(10k,2) = 50M — measured
    // r19), and shuffling that mass through a distinct plus joining it
    // back to the vectors twice cost ~7× the dots themselves. The trade: a
    // pair colliding in t tables pays t dot products (map-side, codegen,
    // zero shuffle) instead of one dot plus (distinct + 2 joins) shuffle
    // rows — measured 48.6M dots ≈ 2 s vs 33 s for the distinct alone at
    // sf0.1. Pair-set equality with the old shape is exact: distinct∘filter
    // = filter∘distinct for a per-pair-deterministic cosine (same vectors,
    // same IEEE fold order via cosinePre2 → bit-identical values), pinned
    // in ExtSpec against the exhaustive oracles. The explicit repartition
    // spreads the bucket build: a small persisted corpus arrives in 1-2
    // file partitions and the broadcast self-join inherits the PROBE
    // side's partitioning, so without it the whole collision stream lands
    // on 1-2 cores (measured r19: the q98 distinct ran 33 s on 2 of 32
    // cores); keyed by idCol (deterministic, not round-robin) and
    // DATA-SIZED (r20, guide §2 partition sizing):
    // min(defaultParallelism, ceil(n·tables / BucketRowsPerTask)) — the
    // unconditional defaultParallelism count put 32 tasks under tiny
    // corpora where scheduling cost ate the spread's win. Sized on the
    // POST-EXPLODE bucket rows (n·tables), not the input rows: the
    // self-join's probe stage — whose collision-dot work dominates on
    // loose thresholds — inherits this partitioning, and sizing on n
    // alone under-parallelized exactly there (measured r20: q42 2.60 →
    // 3.02 s at ceil(n/256)=8 partitions; restored at bucket-row
    // sizing). At scale n·tables/4096 ≫ cores, so the count saturates
    // at defaultParallelism — the 100 TB shape is unchanged.
    val par = math.max(1L, math.min(
      emb.sparkSession.sparkContext.defaultParallelism.toLong,
      (n * tables + BucketRowsPerTask - 1) / BucketRowsPerTask)).toInt
    val fat = Scope.persist(emb
      .repartition(par, col(idCol))
      .select(col(idCol), col(vecCol), norm2(col(vecCol)).as("n2"),
        posexplode(graft.functions.HyperplaneLsh(col(vecCol), planes, tables)))
      .toDF(idCol, vecCol, "n2", "tbl", "bucket")
      .select(col(idCol), col(vecCol), col("n2"),
        xxhash64(col("tbl"), col("bucket")).as("ckey"),
        col("tbl"), col("bucket")))
    // the same collision join as [[lshCandidatesRaw]], vectors carried
    CandidatePairs.collisions(fat, idCol, "ckey", Seq("tbl", "bucket"), Seq(vecCol, "n2"))
      .select(col("id_a"), col("id_b"),
        round(cosinePre2(col(s"${vecCol}_a"), col(s"${vecCol}_b"), col("n2_a"), col("n2_b")), 6)
          .as("cosine_sim"))
      // NaN guard as in [[nearDupPairs]]: NaN sorts above every double in
      // Spark SQL, so without it NaN-element pairs pass here while the
      // walk's roundedCosine (NaN → -Infinity) rejects them — the parity
      // the survivor specs pin would silently diverge on hostile corpora
      .filter(col("cosine_sim") > threshold && !isnan(col("cosine_sim")))
  }

  /** Target post-explode bucket rows per task for
    * [[lshScoredCollisions]]' repartition — sized so a task carries
    * enough collision-probe work to amortize scheduling while tiny
    * corpora stop fanning to the full core count. Measured r20; see
    * OPTIMIZATION_r20.md. */
  private val BucketRowsPerTask = 4096L
}
