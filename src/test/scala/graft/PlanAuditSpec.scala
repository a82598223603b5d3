package graft

/** Structural audit of every registry query's physical plan at sf0.001 —
  * the guard that keeps "no accidental quadratic plans" true as the
  * registry grows. Only the RETURNED DataFrame's plan is inspected (never
  * executed), but building it runs each registry function, and the
  * artifact-backed entries execute real jobs on the way to their plan:
  * q53/q54 publish bucketed recon tables into the session warehouse and
  * q68-q70/q75-q78 train/persist ANN + media artifacts under
  * `/tmp/graft_ann/sf0.001` (the sf-keyed leaf, so a concurrent bench at
  * another SF is never clobbered). Rejects CartesianProduct everywhere, allowing
  * BroadcastNestedLoopJoin only for the queries that intentionally
  * broadcast a ONE-ROW side (single-query-vector similarity scans, scalar
  * CTE combines) — a 1-row BNLJ is a map-side probe, not a pair blow-up.
  * Also audits resource ownership: every query run inside a
  * [[graft.core.Scope]] leaves no persisted stage behind, and the scope's
  * own rules are pinned.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // bounded-broadcast probes: exact top-k / ANN / IVF against a single
  // query vector, scalar-CTE cross joins, and the batched top-k whose
  // build side is the (few, explicit) query vectors — BNLJ with an O(1)-
  // row build side is a map-side probe, not a pair blow-up
  private val oneRowBroadcastOk = Set(
    "q10_revenue_zscore", "q13_same_hour_baseline", "q20_quality_cross",
    "q31_embedding_cosine_topk", "q32_ann_lsh_topk", "q39_approx_distinct",
    "q43_ivf_topk", "q47_embedding_topk_batch", "q49_ann_multiprobe_topk")

  // Queries whose SinglePartition exchange is DELIBERATE: global scalar
  // aggregates, unkeyed day-series windows over O(days) rows, global
  // top-k/sort finals over already-reduced results. A new registry entry
  // that single-partitions corpus-sized data must either fix its plan or
  // consciously join this list with a justification.
  private val singlePartitionOk: Set[String] = Set(
    // global scalar aggregates: the one-row final stage IS the result
    "q02_global_totals", "q03_null_profile", "q04_count_distinct",
    "q05_dup_stats", "q24_dedup_exact", "q36_retention_scan",
    "q39_approx_distinct",
    // scalar-CTE combines over already-reduced 1-row frames
    "q10_revenue_zscore", "q13_same_hour_baseline", "q19_velocity_sla",
    "q20_quality_cross",
    // union/rollup of O(sources) per-source scalar rows
    "q18_freshness_union",
    // unkeyed day-series windows over O(days) rows — the keyed q40/q41
    // twins carry the hashpartitioning scale form (OpsSpec-pinned)
    "q22_trailing_window_zscore", "q23_ma7_window")

  test("no registry query plans a CartesianProduct; BNLJ only on 1-row probes; " +
      "SinglePartition only where a global reduction is the point") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      val cartesian = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
        !oneRowBroadcastOk.contains(name)
      val singlePart = plan.contains("Exchange SinglePartition") &&
        !singlePartitionOk.contains(name)
      if (cartesian || bnlj || singlePart)
        Some(s"$name: cartesian=$cartesian unexpectedBnlj=$bnlj " +
          s"unexpectedSinglePartition=$singlePart")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every registry query run in a Scope leaves nothing persisted and fetches no released block") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val sc = spark.sparkContext
    def cleared(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    // a failed block fetch means a job read a cache released under it
    val failedFetches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("registry-fetch-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Failed to fetch block")) failedFetches.add(m)
      }
    }
    capture.start()
    val rootLogger = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    rootLogger.addAppender(capture)
    cleared()
    val leaks = try {
      val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        graft.core.Scope { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        val rdds = sc.getPersistentRDDs.size
        val cacheEmpty = spark.sharedState.cacheManager.isEmpty
        if (rdds == 0 && cacheEmpty) None
        else {
          cleared()
          Some(s"$name: $rdds persisted RDDs, cache manager empty: $cacheEmpty")
        }
      }
      // a job still running here would log its failed fetches later
      while (sc.statusTracker.getActiveJobIds().nonEmpty) Thread.sleep(50)
      found
    } finally {
      rootLogger.removeAppender(capture)
      capture.stop()
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
    assert(failedFetches.isEmpty, s"failed block fetches: $failedFetches")
  }

  test("Scope: a failing body releases, a nested scope releases only its own, " +
      "a caller's cache survives, no scope leaves the session the owner") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel
    import graft.core.Scope
    import spark.implicits._
    def cached(df: org.apache.spark.sql.DataFrame) = df.storageLevel != StorageLevel.NONE
    def frame(i: Int) = spark.range(10).select((col("id") * i).as("v"))
    // a throwing body releases what it registered
    val failed = frame(2)
    intercept[IllegalStateException] {
      Scope { Scope.persist(failed).count(); throw new IllegalStateException("mid-query") }
    }
    assert(!cached(failed), "a failing scope kept its frame")
    // a nested scope releases only its own frames; a registered frame it
    // returns passes to the enclosing scope
    val (outer, inner, returned) = (frame(3), frame(4), frame(5))
    Scope {
      Scope.persist(outer)
      val kept = Scope { Scope.persist(inner).count(); Scope.persist(returned) }
      assert(kept eq returned)
      assert(!cached(inner), "the inner scope kept its frame")
      assert(cached(outer) && cached(returned), "the inner scope released the outer's frames")
    }
    assert(!cached(outer) && !cached(returned), "the outer scope kept its frames")
    // a frame the caller cached beforehand is not the scope's: the
    // contaminationPredicate case, whose eval n-grams are often cached once
    // and reused across shards
    val evalNg = graft.ext.Decontaminate.evalNgrams(
      Seq("the quick brown fox jumps over the lazy dog").toDF("text"), $"text", 4).persist()
    Scope { graft.ext.Decontaminate.contaminationPredicate(evalNg, $"text", 4) }
    assert(cached(evalNg), "the scope evicted the caller's cache")
    evalNg.unpersist()
    // with no scope open, the session owns the persist
    val sessionOwned = Scope.persist(frame(6))
    assert(cached(sessionOwned))
    sessionOwned.unpersist()
  }

  test("q44 curation pipeline scans documents once (persisted stage reused)") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = SparkEntry.queries("q44_curation_pipeline")(spark, sfDir)
      .queryExecution.optimizedPlan
    // Every consumer branch (near-dup shingle pass a/b sides, final
    // anti-join) must read the persisted exact-dedup stage, not re-derive
    // it from parquet: the optimized plan may reference documents ONLY
    // through InMemoryRelation leaves — the single parquet scan lives
    // inside the cached plan and runs once on cache miss. (The physical
    // tree hides under AQE and the printed plan repeats cached subtrees,
    // so neither supports a reliable count.)
    val cachedReads = plan.collect { case r: InMemoryRelation => r }
    assert(cachedReads.nonEmpty, "no cached stage in q44's plan")
    val uncachedDocScans = plan.collect {
      case l: LogicalRelation if (l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.mkString(",").contains("documents.parquet")
        case _ => false
      }) => l
    }
    assert(uncachedDocScans.isEmpty,
      s"${uncachedDocScans.length} uncached documents scans — stage recomputed")
  }

  test("q47 batched top-k reduces partially before the shuffle") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    // the TopKAgg claim is structural: a partial ObjectHashAggregate below
    // the exchange and a final one above it — NOT one window over all
    // scored rows (sparkPlan is pre-AQE, so the tree is traversable)
    val plan = SparkEntry.queries("q47_embedding_topk_batch")(spark, sfDir)
      .queryExecution.sparkPlan
    val aggs = plan.collect {
      case a if a.nodeName.contains("ObjectHashAggregate") => a
    }
    assert(aggs.size >= 2, s"expected partial+final aggregate pair:\n$plan")
    assert(plan.collect { case w if w.nodeName.contains("Window") => w }.isEmpty,
      "batched top-k fell back to a window over all scored rows")
  }
}
