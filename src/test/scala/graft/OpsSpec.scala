package graft

import org.apache.spark.sql.functions._

import graft.ops._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("Exact.sum2 is reproducible at any parallelism") {
    val vals = (1 to 10000).map(i => i * 0.01)
    val a = vals.toDF("v").repartition(1).agg(Exact.sum2(col("v"))).head().getDouble(0)
    val b = vals.toDF("v").repartition(13).agg(Exact.sum2(col("v"))).head().getDouble(0)
    assert(a == b)
    assert(a == 500050.0)
  }

  test("BaselineStats.stats computes sample stddev / exact median") {
    val df = Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0).toDF("x")
    val r = BaselineStats.stats(df, "x").head()
    assert(math.abs(r.getDouble(0) - 5.0) < 1e-12)       // mean
    assert(math.abs(r.getDouble(1) - 2.138089935299395) < 1e-9) // sample stddev
    assert(r.getDouble(2) == 4.5)                         // median interpolated
    assert(r.getDouble(3) == 2.0 && r.getDouble(4) == 9.0 && r.getLong(5) == 8)
  }

  test("Exact guards: n=1 variance and all-null avg are NULL, not an ANSI abort") {
    // Spark 4.1 ANSI raises DIVIDE_BY_ZERO for DOUBLE division too, so the
    // unguarded (q - s*s/n)/(n-1) ABORTED the whole job the first time a
    // baseline had a single sample (found via StreamingMonitor's
    // one-day-history case; every stddevFrom consumer shared the hazard)
    val one = Seq(5.0).toDF("x")
      .agg(Exact.sum2(col("x")).as("s"), Exact.sumSq2(col("x")).as("q"),
        count(col("x")).as("n"))
      .select(Exact.stddevFrom(col("s"), col("q"), col("n")).as("std"),
        col("n"))
      .head()
    assert(one.getLong(1) == 1L && one.isNullAt(0))
    // n >= 2 values are untouched by the guard (same expression branch)
    val two = Seq(2.0, 4.0).toDF("x")
      .agg(Exact.sum2(col("x")).as("s"), Exact.sumSq2(col("x")).as("q"),
        count(col("x")).as("n"))
      .select(Exact.stddevFrom(col("s"), col("q"), col("n")).as("std"))
      .head()
    assert(math.abs(two.getDouble(0) - math.sqrt(2.0)) < 1e-12)
    // avg2 over an all-null column: NULL, not a 0/0 abort
    val nul = Seq[Option[Double]](None, None).toDF("x")
      .agg(Exact.avg2(col("x")).as("a")).head()
    assert(nul.isNullAt(0))
  }

  test("ZScore guards: zero stddev -> 0, zero expected -> 0 deviation") {
    val df = Seq((10.0, 10.0, 0.0)).toDF("x", "m", "s")
    val r = df.select(
      ZScore.z(col("x") + 5, col("m"), col("s")),
      ZScore.deviationPct(col("x"), lit(0.0))).head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
  }

  test("Profiles.nullProfile counts per-column nulls in one pass") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None))
      .toDF("i", "s")
    val r = Profiles.nullProfile(df).head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 1 && r.getLong(2) == 1)
  }

  test("Profiles.dupStats exact and approx") {
    val df = Seq(1, 1, 2, 3, 3, 3).toDF("k")
    val r = Profiles.dupStats(df, "k").head()
    assert(r.getLong(0) == 6 && r.getLong(1) == 3 && r.getLong(2) == 3)
    assert(math.abs(r.getDouble(3) - 50.0) < 1e-12)
  }

  test("Joins.missingKeys = expected minus arrived (anti-join)") {
    val expected = Seq("a", "b", "c").toDF("k")
    val arrived = Seq("b").toDF("k")
    val missing = Joins.missingKeys(expected, arrived, "k").as[String].collect().sorted
    assert(missing.toSeq == Seq("a", "c"))
  }

  test("Joins.reconcile coalesces missing hours to zero") {
    val src = Seq((1L, 10L), (2L, 20L)).toDF("hour", "source_count")
    val dst = Seq((2L, 15L), (3L, 5L)).toDF("hour", "dest_count")
    val rows = Joins.reconcile(src, dst, "hour").orderBy("hour").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 10L, 0L, 10L), (2L, 20L, 15L, 5L), (3L, 0L, 5L, -5L)))
  }

  test("TimeFilters ranges push down to the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pushdown").toString
    spark.range(100).select(
      org.apache.spark.sql.functions.timestamp_micros(col("id") * 86400L * 1000000L).as("ts"),
      col("id")).write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)
      .filter(TimeFilters.onDate(col("ts"), java.time.LocalDate.parse("1970-01-05")))
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"))
    assert(scanned.count() == 1)
  }

  test("trailingWindow computes per-key trailing baselines without cross-key leakage") {
    val daily = Seq(
      ("A", "2024-01-01", 10.0), ("A", "2024-01-02", 20.0), ("A", "2024-01-03", 30.0),
      ("B", "2024-01-01", 100.0), ("B", "2024-01-02", 200.0))
      .toDF("k", "d", "v").withColumn("d", to_date(col("d")))
    val w = BaselineStats.trailingWindow(daily, "d", "v", days = 30, partitionBy = Seq("k"))
      .orderBy("k", "d").collect()
    // first row per key has an empty (null) baseline; later rows only see own key
    assert(w(0).isNullAt(w(0).fieldIndex("baseline_avg")))
    assert(w(2).getAs[Double]("baseline_avg") == 15.0) // avg(10,20), no B values
    assert(w(4).getAs[Double]("baseline_avg") == 100.0)
    assert(w(2).getAs[Long]("baseline_n") == 2)
    // the scale property: a keyed window hash-partitions by key (parallel
    // sort per key); only the unkeyed form collapses to a single partition
    val keyedPlan = BaselineStats.trailingWindow(daily, "d", "v", 30, Seq("k"))
      .queryExecution.executedPlan.toString
    val globalPlan = BaselineStats.trailingWindow(daily, "d", "v", 30)
      .queryExecution.executedPlan.toString
    assert(!keyedPlan.contains("SinglePartition"), keyedPlan)
    assert(keyedPlan.contains("hashpartitioning(k"), keyedPlan)
    assert(globalPlan.contains("SinglePartition"))
  }

  test("missingKeysBloom is exactly equivalent to the left_anti missingKeys") {
    val rnd = new scala.util.Random(11)
    val expected = (1 to 500).map(i => f"KEY_$i%04d").toDF("k")
    // arrivals: a random subset of expected plus plenty of out-of-universe
    // noise keys (the rows the bloom filter prunes before the shuffle)
    val arrived = ((1 to 500).filter(_ => rnd.nextBoolean()).map(i => f"KEY_$i%04d")
      ++ (1 to 2000).map(i => s"NOISE_$i")
      ++ Seq("KEY_0007", "KEY_0007")) // duplicates must not matter
      .toDF("k")
    val exact = Joins.missingKeys(expected, arrived, "k")
      .orderBy("k").as[String].collect().toSeq
    val bloom = Joins.missingKeysBloom(expected, arrived, "k",
      approxExpectedKeys = 500L)
      .orderBy("k").as[String].collect().toSeq
    assert(bloom == exact)
    assert(exact.nonEmpty && exact.forall(_.startsWith("KEY_")))
    // long-typed keys go through the string cast transparently
    val expL = (1L to 100L).toDF("k")
    val arrL = (1L to 100L by 2).toDF("k")
    val exactL = Joins.missingKeys(expL, arrL, "k").orderBy("k").as[Long].collect().toSeq
    val bloomL = Joins.missingKeysBloom(expL, arrL, "k", 100L)
      .orderBy("k").as[Long].collect().toSeq
    assert(bloomL == exactL && exactL == (2L to 100L by 2))
  }

  test("Skew.saltedJoin preserves equi-join results under hot keys") {
    val big = (Seq.fill(500)("hot") ++ Seq("a", "b", "c")).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val small = Seq(("hot", 1), ("a", 2), ("z", 9)).toDF("k", "w")
    val plain = big.join(small, Seq("k")).agg(count(lit(1)), sum($"v"), sum($"w")).head()
    val salted = Skew.saltedJoin(big, small, "k", factor = 8)
      .agg(count(lit(1)), sum($"v"), sum($"w")).head()
    assert(plain == salted)
    // left join parity incl. unmatched rows
    val lp = big.join(small, Seq("k"), "left").count()
    assert(Skew.saltedJoin(big, small, "k", 8, "left").count() == lp)
  }

  test("Skew.saltedAggregate two-phase hot-key aggregation") {
    val df = (Seq.fill(1000)(("hot", 1.0)) ++ Seq(("cold", 2.0))).toDF("k", "v")
    val r = Skew.saltedAggregate(df, Seq("k"), factor = 8,
      partial = Seq(sum($"v").as("ps"), count(lit(1)).as("pc")),
      finalAggs = Seq(sum($"ps").as("total"), sum($"pc").as("n")))
      .orderBy("k").collect()
    assert(r.map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSeq ==
      Seq(("cold", 2.0, 1L), ("hot", 1000.0, 1000L)))
  }

  test("Skew.saltedAggregate skips map columns and honors explicit salt") {
    // a MapType column must not break the default hash-derived salt
    val df = (Seq.fill(200)(("hot", 1.0)) ++ Seq(("cold", 2.0)))
      .toDF("k", "v")
      .withColumn("m", map(lit("a"), $"v"))
    val r = Skew.saltedAggregate(df, Seq("k"), factor = 4,
      partial = Seq(sum($"v").as("ps")), finalAggs = Seq(sum($"ps").as("total")))
      .orderBy("k").collect()
    assert(r.map(x => (x.getString(0), x.getDouble(1))).toSeq ==
      Seq(("cold", 2.0), ("hot", 200.0)))
    // all-map frame: default salt is underivable -> explicit salt required
    val allMaps = Seq(Map("a" -> 1.0)).toDF("m")
    assertThrows[IllegalArgumentException] {
      Skew.saltedAggregate(allMaps, Seq.empty, 4,
        Seq(count(lit(1)).as("pc")), Seq(sum($"pc").as("n")))
    }
    // duplicate-heavy hot key: caller-supplied salt restores spreading
    val dup = (Seq.fill(400)(("hot", 1.0)) ++ Seq(("cold", 2.0))).toDF("k", "v")
    val spread = Skew.saltedAggregate(dup, Seq("k"), factor = 8,
      partial = Seq(sum($"v").as("ps"), count(lit(1)).as("pc")),
      finalAggs = Seq(sum($"ps").as("total"), sum($"pc").as("n")),
      salt = Some(pmod(hash($"k", monotonically_increasing_id()), lit(8))))
      .orderBy("k").collect()
    assert(spread.map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSeq ==
      Seq(("cold", 2.0, 1L), ("hot", 400.0, 400L)))
  }

  test("bucketed tables co-locate: join plans without a shuffle") {
    val a = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("x"))
    val b = spark.range(1000).select($"id".as("k"), ($"id" * 3).as("y"))
    val cat = new graft.core.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-bkt").toString)
    val ta = cat.saveBucketed(a, "wh.facts_a", "k", 4)
    val tb = cat.saveBucketed(b, "wh.facts_b", "k", 4)
    // force the large-to-large path (tiny test tables would broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(ta).join(spark.table(tb), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("banded-LSH candidates from a bucketed band table join without a bucket shuffle") {
    // a corpus with deliberate near-dups so the candidate relation is
    // non-empty (shared shingles => shared band buckets)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "a completely different document about spark bucketing"),
      (4L, "a completely different document about spark bucketing too"),
      (5L, "unrelated text with no twin anywhere in this corpus")
    ).toDF("doc_id", "text")
    val bands = graft.ext.Dedup.minhashTable(docs, "text", "doc_id")
    val cat = new graft.core.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-lshb").toString)
    val tb = cat.saveBucketed(bands, "ann.bands", "bucket", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // `bucket` is bandCandidates' only equi-key (band equality rides as
      // a residual predicate), so the bucket-bucketed scans satisfy the
      // join's clustering requirement outright: the self-join plans NO
      // exchange on the collision key — only the pair aggregation shuffles
      val cand = graft.ext.Dedup.bandCandidates(spark.table(tb))
      val plan = cand.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("hashpartitioning(band"),
        s"bucketed band self-join still shuffles on the collision key:\n$plan")
      assert(!plan.contains("hashpartitioning(bucket"),
        s"bucketed band self-join still shuffles on the collision key:\n$plan")
      // and the result is exactly the inline form's
      val got = cand.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = graft.ext.Dedup.bandCandidates(bands).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want && got.nonEmpty, s"got=$got want=$want")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sharedState.cacheManager.clearCache()
  }

  test("servable requires the job-commit marker: a torn artifact write forces a rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft-srv").toString
    val cat = new graft.core.Catalog(spark, root)
    cat.save(spark.range(5).toDF("x"), "ann.t_centroids")
    assert(graft.queries.ExtQ.servable(cat, "ann.t_centroids"))
    // absent ref: unservable (and no exception)
    assert(!graft.queries.ExtQ.servable(cat, "ann.t_centroids", "ann.t_missing"))
    // a killed job leaves part files without _SUCCESS — Catalog.exists says
    // present, servable must say rebuild
    val m = new org.apache.hadoop.fs.Path(s"$root/ann/t_centroids/_SUCCESS")
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m, false)
    assert(cat.exists("ann.t_centroids"))
    assert(!graft.queries.ExtQ.servable(cat, "ann.t_centroids"))
  }

  test("dropBucketed retires every version, the plain name, and stray staging dirs") {
    val cat = new graft.core.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-dropb").toString)
    val df = spark.range(10).select($"id".as("k"), ($"id" * 3).as("x"))
    cat.saveBucketed(df, "mig.legacy_facts", "k", 2)
    val latest = cat.saveBucketed(df, "mig.legacy_facts", "k", 2)
    assert(cat.bucketedTable("mig.legacy_facts") == latest)
    // a stray staged dir with no catalog entry (the crash shape)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "mig_legacy_facts__v9")
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(wh)
    val dropped = cat.dropBucketed("mig.legacy_facts")
    assert(dropped >= 1)
    intercept[NoSuchElementException](cat.bucketedTable("mig.legacy_facts"))
    assert(!fs.exists(wh), "stray staging dir survived the sweep")
    // idempotent on an already-clean ref, and blind to OTHER refs sharing
    // a name prefix
    cat.saveBucketed(df, "mig.legacy_facts_other", "k", 2)
    assert(cat.dropBucketed("mig.legacy_facts") == 0)
    assert(spark.catalog.tableExists(cat.bucketedTable("mig.legacy_facts_other")))
    cat.dropBucketed("mig.legacy_facts_other")
  }

  test("re-bucketing publishes stage-and-swap: in-flight reader survives, no torn window") {
    val cat = new graft.core.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-rebkt").toString)
    def facts(n: Int) = spark.range(n).select($"id".as("k"), ($"id" * 2).as("x"))
    val v1 = cat.saveBucketed(facts(1000), "wh.facts_r", "k", 4)
    assert(cat.bucketedTable("wh.facts_r") == v1)
    // a reader resolves v1, then a re-bucketing publishes v2 underneath it:
    // the reader's snapshot stays whole (grace-of-one keeps v1 alive) and
    // at no point does resolution come up empty — registration of the
    // fully-written v2 is the only visible transition
    val inFlight = spark.table(v1)
    val v2 = cat.saveBucketed(facts(500), "wh.facts_r", "k", 4)
    assert(v2 != v1)
    assert(inFlight.count() == 1000)
    assert(cat.bucketedTable("wh.facts_r") == v2)
    assert(spark.table(v2).count() == 500)
    // the publish after that retires v1 (vacuum with a one-version grace)
    val v3 = cat.saveBucketed(facts(250), "wh.facts_r", "k", 4)
    assert(!spark.catalog.tableExists(v1))
    assert(spark.catalog.tableExists(v2) && spark.catalog.tableExists(v3))
    assert(cat.bucketedTable("wh.facts_r") == v3)
    // a crash BEFORE registration leaves only an unregistered staging dir:
    // simulate one and confirm the next publish claims that version cleanly
    val orphan = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "wh_facts_r__v4")
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(orphan)
    val v4 = cat.saveBucketed(facts(100), "wh.facts_r", "k", 4)
    assert(v4 == "wh_facts_r__v4" && spark.table(v4).count() == 100)
  }

  test("q53 bucketed reconciliation joins without an event_id shuffle") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val df = graft.SparkEntry.queries("q53_bucketed_recon")(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    // the merge hint pins the sort-merge path; same-bucketed sides mean the
    // ONLY exchange in the plan is the event_type aggregation — the join
    // key never shuffles (that is what bucketing bought)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("hashpartitioning(event_id"),
      s"bucketed join still shuffles on the join key:\n$plan")
    // the read-side twin resolves the tables q53 just published (no
    // rewrite) and its join is equally exchange-free — the steady-state
    // per-query plan the write-time shuffle bought
    val cat = new graft.core.Catalog(spark, "/root/testdata/sf0.001")
    // refs are sf-keyed so one session can hold several scale factors
    val (srcRef, dstRef) = graft.queries.ExtQ.reconRefs("/root/testdata/sf0.001")
    val published = (cat.bucketedTable(srcRef), cat.bucketedTable(dstRef))
    val rd = graft.SparkEntry.queries("q54_bucketed_recon_read")(spark, "/root/testdata/sf0.001")
    val rplan = rd.queryExecution.executedPlan.toString
    assert(rplan.contains("SortMergeJoin"), rplan)
    assert(!rplan.contains("hashpartitioning(event_id"),
      s"read-side bucketed join still shuffles on the join key:\n$rplan")
    assert((cat.bucketedTable(srcRef), cat.bucketedTable(dstRef)) == published,
      "q54 must read the published tables, not republish them")
    assert(rd.count() > 0)
  }

  test("q68/q70 persisted ANN search plans prune to the probed cluster partitions") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // the registry queries persist the clustered corpus themselves, so the
    // probe filter must reach the parquet scan as a PARTITION filter and
    // read at most nProbe = 3 cell directories — the inverted-file lookup
    // expressed as partition pruning, pinned on the actual registry plans
    for (name <- Seq("q68_ivf_search_persisted", "q70_ivfpq_search_persisted")) {
      val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val scans = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
      assert(scans.nonEmpty, s"$name: no partition-pruned scan in the plan")
      assert(scans.forall(_.selectedPartitions.partitionCount <= 3),
        s"$name read ${scans.map(_.selectedPartitions.partitionCount)} cells, want <= 3")
      assert(df.count() > 0)
    }
  }

  test("q55-q57 curation plans: no single-partition window, keyed exchanges only") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val dir = "/root/testdata/sf0.001"
    // q55: the split is a pure projection — no window, no join; the only
    // exchanges feed the 3-row summary aggregation
    val p55 = graft.SparkEntry.queries("q55_hash_split")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p55.contains("Window"), p55)
    assert(!p55.contains("SinglePartition"), p55)
    // q56/q57/q58: NTILE / row_number / cumulative-sum windows are
    // PARTITIONED (lang / source) — hash exchange, parallel per-group
    // sort, never the single-partition global sort an unkeyed window
    // degrades to
    for ((name, key) <- Seq("q56_quality_strata" -> "lang",
        "q57_source_cap" -> "source", "q58_token_shards" -> "lang",
        "q59_group_sample" -> "source")) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Window"), s"$name: $plan")
      assert(!plan.contains("SinglePartition"), s"$name window collapsed:\n$plan")
      assert(plan.contains(s"hashpartitioning($key"), s"$name: $plan")
    }
    // q60/q62: pure scan-stage assignments — partial agg before any
    // exchange, never a single partition. q65: assembly aggregates on the
    // composite (lang, shard) key — the shard fan-out IS the parallelism
    for (name <- Seq("q60_mixture_sample", "q62_shuffle_order",
        "q65_packed_sequences")) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), s"$name collapsed:\n$plan")
      assert(plan.contains("hashpartitioning"), s"$name: $plan")
    }
    assert(graft.SparkEntry.queries("q65_packed_sequences")(spark, dir)
      .queryExecution.executedPlan.toString.contains("hashpartitioning(lang"),
      "q65 must key the assembly exchange on (lang, shard)")
  }

  test("approx_count_distinct tracks exact within its error bound") {
    val df = spark.range(20000).select((col("id") % 7919).as("k"))
    val r = df.agg(
      countDistinct(col("k")), approx_count_distinct(col("k"), 0.01)).head()
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(exact == 7919.0)
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("Velocity.measure derives records/hour with NULLIF guard") {
    val df = Seq(
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:30:00Z")))
      .toDF("ts")
    val r = Velocity.measure(df, "ts").head()
    assert(r.getLong(0) == 2 && r.getLong(3) == 30)
    assert(math.abs(r.getDouble(4) - 4.0) < 1e-12)
    // single record -> 0 minutes -> null rate, not a division error
    val one = Seq(java.sql.Timestamp.from(java.time.Instant.now())).toDF("ts")
    assert(Velocity.measure(one, "ts").head().isNullAt(4))
  }
}
