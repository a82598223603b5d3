package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, Scope}
import graft.functions.NearestCentroid

/** IVF (inverted-file) approximate nearest neighbour — the k-means-coarse-
  * quantizer alternative to the hyperplane-LSH path in [[Similarity]].
  *
  * IVF beats LSH when the corpus is CLUSTERED (real embedding corpora are):
  * the coarse quantizer adapts its cells to the data distribution, while
  * hyperplane buckets are data-oblivious. Cost: a training pass; LSH needs
  * none.
  *
  * Determinism: seeding by `xxhash64(id)` order and argmin ties to the
  * lowest centroid index ([[NearestCentroid]]) are exact; the per-cluster
  * means are Spark double `avg`s, whose partial sums are EXACT for
  * `array<float>` corpora (24-bit mantissas summed in 53-bit doubles, n
  * far below 2^29 per cluster) — so float-embedding train + probe
  * reproduce bit-for-bit on any partitioning (repartition-invariance is
  * test-pinned). For `array<double>` corpora the merge order of partial
  * sums can differ in the last ulp across partitionings; assignments are
  * then deterministic only up to boundary vectors within an ulp of two
  * centroids.
  *
  * Scale design: training touches the corpus `iters` times but each pass is
  * one scan + one (cluster, dim)-keyed aggregation — shuffle rows = k·dim,
  * not corpus size. The centroid matrix (k·dim doubles) rides inside the
  * [[NearestCentroid]] expression, so assignment is scan-stage work with no
  * join; at 100 TB, write `cluster` as a partition column once
  * (`partitionBy("cluster")`) and every probe prunes to nProbe/k of the
  * files — the classic IVF file-pruning story, expressed as Spark
  * partition pruning.
  */
object Ivf {

  private def toVec(row: org.apache.spark.sql.Row, i: Int): Array[Double] =
    Similarity.toVec(row, i)

  /** Deterministic Lloyd k-means over an `array<float|double>` column.
    * Returns the k centroids (empty clusters keep their previous centroid,
    * mirroring the standard "dead centroid" convention). */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    require(k >= 1 && iters >= 1)
    // training issues iters+1 actions over the same projection — persist
    // for its duration (and release after: the function is fully
    // materialized, so the cache has no live consumers once it returns)
    Scope {
      val proj = Scope.persist(emb.select(col(idCol), col(vecCol)))
      // seed: the k vectors with smallest hashed id — a deterministic
      // pseudo-random sample, independent of row order and partitioning
      var cents: Array[Array[Double]] = proj
        .select(col(vecCol), xxhash64(col(idCol)).as("h"))
        .orderBy("h").limit(k)
        .collect().map(toVec(_, 0))
      var it = 0
      while (it < iters) {
        // elementwise means per cluster: explode to (cluster, dim, value),
        // aggregate — k·dim result rows regardless of corpus size.
        // The assignment persists BEFORE the explode: selected beside
        // posexplode, whole-stage codegen inlines the argmin into the
        // generate loop and re-evaluates it per EXPLODED row — a dim×
        // blowup of the k·dim distance scan (the Pq.trainCodebooks
        // lesson; a cache barrier costs no network, unlike a shuffle)
        val sums = Scope {
          Scope.persist(proj
            .select(NearestCentroid(col(vecCol), cents).as("cluster"), col(vecCol)))
            .select(col("cluster"), posexplode(col(vecCol)))
            .groupBy(col("cluster"), col("pos"))
            .agg(avg(col("col")).as("m"))
            .collect()
        }
        val byCluster = sums.groupBy(_.getInt(0))
        cents = cents.zipWithIndex.map { case (prev, c) =>
          byCluster.get(c)
            .map(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
            .getOrElse(prev)
        }
        it += 1
      }
      cents
    }
  }

  /** Cluster assignment column for writing/bucketing the corpus. */
  def assign(emb: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame =
    emb.withColumn("cluster", NearestCentroid(col(vecCol), centroids))

  /** Centroid matrix → (cluster, centroid) rows, the persistable form. */
  def centroidsToDF(spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cluster", "centroid")
  }

  /** (cluster, centroid) rows → centroid matrix, ordered by cluster id. */
  def centroidsFromDF(df: DataFrame): Array[Array[Double]] =
    df.select(col("cluster"), col("centroid")).collect()
      .sortBy(_.getInt(0)).map(toVec(_, 1))

  /** Persist trained centroids through the [[Catalog]] — k·dim doubles, the
    * train-once artifact every later probe reuses. Doubles round-trip
    * parquet exactly, so a reloaded quantizer assigns (and therefore
    * probes) bit-identically to the in-memory one — test-pinned. At 100 TB
    * this is the split that matters: training touches the corpus; probing
    * a new query needs only this k·dim table plus nProbe partitions of the
    * clustered corpus. */
  def saveCentroids(catalog: Catalog, ref: String,
      centroids: Array[Array[Double]]): Unit =
    catalog.save(centroidsToDF(catalog.spark, centroids), ref)

  def loadCentroids(catalog: Catalog, ref: String): Array[Array[Double]] =
    centroidsFromDF(catalog.load(ref))

  // ───── Append churn: maintaining a trained index without retraining ──

  /** Assign NEW vectors to an ALREADY-TRAINED quantizer and append them to
    * the cluster-partitioned corpus — the 100 TB maintenance path. A
    * trained IVF index is a train-once artifact, but a training corpus
    * appends daily; retraining per batch would re-cluster (and re-WRITE)
    * the whole corpus for a marginal centroid move. This instead reuses
    * the persisted centroids (scan-stage [[NearestCentroid]], no join, no
    * shuffle beyond the partitioned write), so an append costs
    * O(batch·k·dim) compute and touches only the batch's own partitions.
    *
    * Search semantics stay EXACT over the union (probe + exact-cosine
    * rerank never approximates within probed cells; append-then-search ==
    * full-retrain search while the appended distribution matches the
    * trained one — spec-pinned), but RECALL drifts as appended data
    * diverges from the trained cells: new-regime vectors land in
    * stretched cells the probe ranks poorly. The measured curve
    * (`probes.IvfDriftProbe`, SCALE.md r16) is what [[IvfLedger]] encodes:
    * track appended mass against the trained base and rebuild at the
    * measured threshold instead of guessing.
    *
    * Returns the appended row count (also accumulated into `ledgerRef`
    * when given — pass the ledger saved at train time by [[saveLedger]]).
    * The append inherits the table's `cluster` partition layout; on a
    * manifest-committed corpus it publishes atomically
    * ([[graft.core.Catalog.append]]'s contract). */
  def appendAssign(catalog: Catalog, corpusRef: String, centroidsRef: String,
      newRows: DataFrame, vecCol: String = "embedding",
      ledgerRef: String = ""): Long = {
    val cents = loadCentroids(catalog, centroidsRef)
    // one evaluation of the input lineage: a separate pre-count would run
    // the (possibly expensive, possibly non-deterministic-between-
    // actions) source twice AND could let the ledger count disagree with
    // the rows actually written — persist, count the cached frame, write
    // the same cache
    Scope {
      val assigned = Scope.persist(assign(newRows, cents, vecCol))
      val n = assigned.count()
      catalog.append(assigned, corpusRef, partitionBy = Seq("cluster"))
      if (ledgerRef.nonEmpty) {
        val l = loadLedger(catalog, ledgerRef)
        saveLedger(catalog, ledgerRef,
          l.copy(appendedCount = l.appendedCount + n))
      }
      n
    }
  }

  /** The rebuild-policy ledger persisted beside the centroids: how much
    * was trained on, how much has been appended since, and the measured
    * append fraction past which the quantizer must retrain.
    * `maxAppendFraction` defaults to [[MeasuredRebuildFraction]] — a
    * MEASURED threshold (`probes.IvfDriftProbe`), not a guess. */
  final case class IvfLedger(baseCount: Long, appendedCount: Long,
      maxAppendFraction: Double) {
    def appendFraction: Double =
      if (baseCount <= 0) Double.PositiveInfinity
      else appendedCount.toDouble / baseCount
  }

  /** The r16-measured rebuild threshold (`probes.IvfDriftProbe`, SCALE.md
    * r16, 200k base / 32 queries / nProbe 3 of 64 cells). The measured
    * shape: iid appends cost NOTHING (stale appended-query recall 1.000
    * at every fraction to 2.0× — a rebuild never pays); fully-unseen-
    * regime appends (the worst case, drift is bounded above by it) cost a
    * ~9-12 point STEP on appended-query recall (0.909/0.909/0.884/0.900
    * at 0.25/0.5/1.0/2.0× vs the retrained index's 1.000) that appears
    * with the first drifted batch and stays ~flat, so the BLENDED
    * all-corpus recall declines with the appended share:
    * ≈ (1 + f·0.91)/(1 + f). 0.5 is where that worst-case blend crosses
    * ~0.97 — the default fraction at which [[shouldRebuild]] fires; a
    * deployment that measures its own appends iid can raise it, one that
    * needs appended-query recall ≥ its target under drift should watch
    * [[measureRecall]] with an appended-only `queryFilter` instead. */
  val MeasuredRebuildFraction: Double = 0.5

  def shouldRebuild(ledger: IvfLedger): Boolean =
    ledger.appendFraction > ledger.maxAppendFraction

  def saveLedger(catalog: Catalog, ref: String, ledger: IvfLedger): Unit = {
    import catalog.spark.implicits._
    catalog.save(Seq((ledger.baseCount, ledger.appendedCount,
      ledger.maxAppendFraction))
      .toDF("base_count", "appended_count", "max_append_fraction"), ref)
  }

  def loadLedger(catalog: Catalog, ref: String): IvfLedger = {
    val r = catalog.load(ref).select(
      col("base_count"), col("appended_count"), col("max_append_fraction"))
      .first()
    IvfLedger(r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  /** Mean recall@k of the IVF probe path against exact brute force, over
    * `nQueries` deterministically-sampled query vectors (smallest hashed
    * id — the [[trainCentroids]] seeding rule, so the sample is
    * partitioning-independent). The drift meter: run it over the
    * appended-union corpus to read what churn cost, and over appended
    * rows only (`queryFilter`) to read the worst case — drifted queries
    * probing cells trained without them. A corpus that stores its
    * `cluster` column is probed through the STORED cells (the served
    * index, [[Similarity.Probe]]'s rule), so measure candidate centroids on
    * a corpus without that column. Driver loop of 2·nQueries
    * k-sized jobs; persist `emb` in the caller's [[graft.core.Scope]] when
    * it is not already storage-backed. */
  def measureRecall(emb: DataFrame, centroids: Array[Array[Double]],
      k: Int = 10, nProbe: Int = 2, nQueries: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryFilter: Column = lit(true)): Double = {
    val qs = emb.filter(queryFilter)
      .select(col(idCol), col(vecCol), xxhash64(col(idCol)).as("h"))
      .orderBy("h").limit(nQueries).collect()
      .map(r => (r.getLong(0), toVec(r, 1)))
    // an EMPTY query sample must fail loudly, not report perfection: the
    // documented drift-dashboard usage filters to appended-only rows, and
    // a vacuously-false predicate (wrong column, appends not landed)
    // returning recall 1.0 is indistinguishable from a healthy index —
    // the monitoring gate would silently never fire
    require(qs.nonEmpty,
      "measureRecall: queryFilter matched no rows - the meter cannot " +
        "report a recall (a default 1.0 here would mask exactly the " +
        "drift condition being monitored)")
    def ids(probe: Similarity.Probe, qid: Long, qv: Array[Double]): Set[Long] =
      Similarity.topK(emb, qv, k, probe, Some(qid), idCol, vecCol)
        .collect().map(_.getLong(0)).toSet
    val recalls = qs.map { case (qid, qv) =>
      val exact = ids(Similarity.Probe.All, qid, qv)
      val approx = ids(Similarity.Probe.Ivf(centroids, nProbe), qid, qv)
      if (exact.isEmpty) 1.0
      else exact.intersect(approx).size.toDouble / exact.size
    }
    recalls.sum / recalls.length
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    // loud on a dim mismatch — NearestCentroid's contract applied to the
    // driver-side probe: a min(len) loop would argmin over TRUNCATED
    // distances (e.g. stale 32-dim centroids against a 64-dim query) and
    // the partitioned/PQ probe paths have no downstream check to catch
    // the silently wrong cell set
    require(a.length == b.length,
      s"vector dim mismatch: ${a.length} vs ${b.length} (stale centroids?)")
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The `nProbe` cluster indices nearest `qv` (L2 to centroid, index
    * tie-break via the tuple sort). */
  private[ext] def nearestClusters(qv: Array[Double], centroids: Array[Array[Double]],
      nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) => (l2(qv, c), i) }
      .sorted.take(nProbe).map(_._2).toSeq

  /** IVF top-k over a CLUSTER-PARTITIONED corpus — the 100 TB serving
    * shape, kept as a named form for its loud shape check: [[Similarity.topK]]
    * with [[Similarity.Probe.Ivf]] would silently assign an unclustered
    * corpus inline, scanning all of it.
    *
    * `clustered` must carry a stored `cluster` column, i.e. the corpus was
    * written once via `Catalog.save(Ivf.assign(emb, cents), ref,
    * partitionBy = Seq("cluster"))` and re-loaded. The probe filter then
    * hits the PARTITION column, so with the query vector in hand the WHOLE
    * query is a single FileSourceScan pruned to the nProbe probed cell
    * directories (plan-asserted in ExtSpec) — no id lookup, no
    * re-assignment. Train once ([[saveCentroids]]), cluster-write once,
    * then every external query reads nProbe/k of the corpus. */
  def ivfTopKPartitionedVec(clustered: DataFrame, centroids: Array[Array[Double]],
      qv: Array[Double], k: Int, nProbe: Int = 2, excludeId: Option[Long] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(TableShapes.hasColumn(clustered, "cluster"),
      "ivfTopKPartitionedVec requires a stored 'cluster' column — write the " +
        "corpus once via Catalog.save(Ivf.assign(emb, centroids), ref, " +
        "partitionBy = Seq(\"cluster\")) and pass the re-loaded table " +
        "(use Similarity.topK with Probe.Ivf for an unpartitioned corpus)")
    Similarity.topK(clustered, qv, k, Similarity.Probe.Ivf(centroids, nProbe),
      excludeId, idCol, vecCol)
  }
}
