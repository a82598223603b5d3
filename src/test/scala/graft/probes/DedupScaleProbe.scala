package graft.probes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}

/** Measured sublinearity evidence for the dedup families, at corpus sizes
  * that outgrow sf0.1 (the [[ServeScaleProbe]] treatment applied to dedup —
  * the r10 review's remaining "asserted, not measured" scale property).
  *
  * The candidate-volume curve tests in ExtSpec prove the collision
  * relations are bucketed-not-all-pairs at sf0.1 (~500 docs); this probe
  * runs the SAME production entry points for all three families
  * ([[Dedup.minhashTable]] → [[Dedup.bandCandidates]],
  * [[Dedup.simhashBlockTable]] → [[Dedup.simhashPairsFromBlocks]],
  * [[Similarity.lshTable]] → [[Similarity.lshCandidatesFromTable]] with
  * production [[Similarity.lshParams]] auto-sizing) on deterministic
  * synthetic corpora of 250k/1M/4M documents and records, per size: table
  * build time, candidate derivation time, and candidate-pair volume. The
  * claim under test — the one that decides whether the design survives
  * 100 TB — is that BOTH time and volume grow ~linearly in corpus size
  * (all-pairs would grow the pair count quadratically: 4M docs =>
  * 8×10^12 raw pairs, vs the ~linear dup-rate × n this probe expects).
  *
  * Corpus: a pure row function of doc id (hash-derived words; rebuilds are
  * byte-identical — the [[ServeScaleProbe]] determinism contract). Every
  * 20th document is a mutated copy of its predecessor (~5% of positions
  * re-rolled), so the TRUE near-dup pair count is n/20 by construction at
  * every size — a known-linear ground truth the measured candidate volume
  * can be read against: candidates ≈ n/20 + band-collision leakage, and
  * leakage growing faster than n would indict the banding, not the host.
  *
  * Pairing is timed from the PERSISTED table (written to parquet first),
  * mirroring the q71/q72 write-once/pair-many serving form and keeping the
  * derivation number independent of generation cost.
  *
  * Not part of the driver contract; run via
  * `sbt 'Test/runMain graft.probes.DedupScaleProbe [--sizes N,N,..] [--reps N]
  * [--families minhash,simhash,embedding] [--pinnedLsh PxT] [--mutDenom D]
  * [--multiProbeCheck] [--rawVolume] [--plantedRecall]
  * [--corpus hash|clustered] [--measureLaw] [--partitionedDistinct P]
  * [--scratchCapGB X]'`.
  * `--families` restricts a run to a subset (the 16M step only needs the
  * embedding family); `--pinnedLsh 21x14` adds a pinned-config embedding
  * row beside the auto-sized one (the posture comparison: a config frozen
  * at a smaller corpus, re-run when the data outgrows it); `--mutDenom`
  * sets the text-corpus per-position mutation probability to 1/D for the
  * detection-vs-mutation sweep (default 20 ≈ 5%); `--multiProbeCheck`
  * runs the driver-side multi-probe-vs-OR-amplification decision
  * measurement (see [[multiProbeDecision]]); `--rawVolume` reports the
  * exact pre-distinct candidate volume Σ C(|cell|,2) per embedding bucket
  * table via an occupancy aggregation instead of running the full pairing
  * — the join-input cost, measurable even where a posture's distinct
  * outgrows local scratch. r13 knobs: `--corpus clustered` swaps the
  * embedding family onto [[syntheticClusteredVecCorpus]] (power-law
  * mixture-of-Gaussians — the realistic-corpus stress for the sizer's
  * non-uniformity law; bucket tables cache under a `_cl` suffix);
  * `--measureLaw` prints the corpus's sample-measured
  * [[graft.ext.Similarity.measureNonUniformityLaw]] fit as a
  * `"check":"law"` row and adds a `"measured"` posture sized by it
  * whenever that differs from the hash-law auto config (`--lawOnly`
  * emits just the law row + sized config — the sizing-instrument cell
  * at corpus sizes whose tables outgrow the host);
  * `--partitionedDistinct P` runs the full pairing through the pair-space
  * [[graft.ext.Similarity.lshCandidatesPartitioned]] at P hash slices —
  * the mode whose peak transient shuffle is ~raw/P regardless of the
  * distinct size — reporting the listener-measured peak single-stage
  * shuffle write (and failing if `--scratchCapGB` is set and breached). r14: `--survivors` runs the greedy-star
  * [[graft.ext.Similarity.nearDupAssignFromTable]] over the same bucket
  * tables, reporting the walk's comparison count against the raw cell
  * pair mass the pair path would rerank (`--survivorsThreshold` moves
  * the near-dup threshold; `--noise X` overrides the clustered corpus's
  * noiseScale — 0.05 makes every cluster a clique, the head-mass shape).
  * Tables cache under
  * /tmp/graft_dedup_scale/n<rows> and are rebuilt only when absent. */
object DedupScaleProbe {

  /** `body`'s result with the peak single-stage and the total shuffle
    * write, in GB, of the Spark stages that completed while it ran —
    * the scratch metric of the bounded-distinct cells (this probe's
    * `--partitionedDistinct`, r13's BucketedDistinctProbe). The listener
    * bus is async, so late stage-completed events get a moment to land
    * before the listener detaches. */
  def shuffleWriteGb[A](spark: SparkSession)(body: => A): (A, Double, Double) = {
    val peak = new java.util.concurrent.atomic.AtomicLong(0)
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val b = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        total.addAndGet(b)
        peak.getAndUpdate(p => math.max(p, b))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(500)
      (out, peak.get() / 1e9, total.get() / 1e9)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    var sizes = Seq(250000L, 1000000L, 4000000L)
    var reps = 2
    var families = Set("minhash", "simhash", "embedding")
    var pinnedLsh: Option[(Int, Int)] = None
    var mutDenom = 20
    var multiProbeCheck = false
    var rawVolume = false
    var rawDirect = false
    var plantedRecallCheck = false
    var corpus = "hash"
    var measureLaw = false
    var lawOnly = false
    var partitionedDistinct = 0
    var scratchCapGb = 0.0
    var survivors = false
    var survivorsThreshold = 0.98
    var survivorsTablesPerPass = 0
    var noiseOverride: Option[Double] = None
    var simhashBlocks = 0 // 0 = legacy maxHamming+1 split; -1 = simhashParams auto
    var blockMassOnly = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--sizes" if i + 1 < args.length =>
          sizes = args(i + 1).split(",").map(_.trim.toLong).toSeq; i += 2
        case "--reps" if i + 1 < args.length => reps = args(i + 1).toInt; i += 2
        case "--families" if i + 1 < args.length =>
          families = args(i + 1).split(",").map(_.trim).toSet; i += 2
        case "--pinnedLsh" if i + 1 < args.length =>
          val parts = args(i + 1).split("[x,]").map(_.trim.toInt)
          require(parts.length == 2, s"--pinnedLsh wants PLANESxTABLES, got '${args(i + 1)}'")
          pinnedLsh = Some((parts(0), parts(1))); i += 2
        case "--mutDenom" if i + 1 < args.length =>
          mutDenom = args(i + 1).toInt; i += 2
        case "--multiProbeCheck" => multiProbeCheck = true; i += 1
        case "--rawVolume" => rawVolume = true; i += 1
        case "--rawVolumeDirect" => rawVolume = true; rawDirect = true; i += 1
        case "--plantedRecall" => plantedRecallCheck = true; i += 1
        case "--corpus" if i + 1 < args.length => corpus = args(i + 1); i += 2
        case "--measureLaw" => measureLaw = true; i += 1
        case "--lawOnly" => lawOnly = true; i += 1
        case "--partitionedDistinct" if i + 1 < args.length =>
          partitionedDistinct = args(i + 1).toInt; i += 2
        case "--scratchCapGB" if i + 1 < args.length =>
          scratchCapGb = args(i + 1).toDouble; i += 2
        case "--survivors" => survivors = true; i += 1
        case "--survivorsThreshold" if i + 1 < args.length =>
          survivorsThreshold = args(i + 1).toDouble; i += 2
        case "--survivorsTablesPerPass" if i + 1 < args.length =>
          survivorsTablesPerPass = args(i + 1).toInt; i += 2
        case "--simhashBlocks" if i + 1 < args.length =>
          simhashBlocks = args(i + 1).toInt; i += 2
        case "--blockMassOnly" => blockMassOnly = true; i += 1
        case "--noise" if i + 1 < args.length =>
          noiseOverride = Some(args(i + 1).toDouble); i += 2
        case other => sys.error(
          s"unknown arg '$other'; usage: DedupScaleProbe [--sizes N,..] " +
            "[--reps N] [--families minhash,simhash,embedding] " +
            "[--pinnedLsh PxT] [--mutDenom D] [--multiProbeCheck] " +
            "[--rawVolume|--rawVolumeDirect] [--plantedRecall] " +
            "[--corpus hash|clustered] [--measureLaw] " +
            "[--partitionedDistinct P] [--scratchCapGB X] " +
            "[--survivors [--survivorsThreshold T] [--noise X]]")
      }
    }
    // fail at parse time, not with a NoSuchElementException after an
    // hour of table building
    require(reps >= 1, s"--reps must be >= 1, got $reps")
    require(sizes.nonEmpty && sizes.forall(_ > 0), s"bad --sizes: $sizes")
    val known = Set("minhash", "simhash", "embedding")
    require(families.nonEmpty && families.subsetOf(known),
      s"--families must be a non-empty subset of $known, got $families")
    // a per-position mutation probability of 1/mutDenom; 20 is the r11
    // corpus (~5%), 50 and 100 give the 2%/1% rows of the
    // detection-vs-mutation sweep. Only the TEXT families read it — the
    // dup STRUCTURE (every 20th doc) is independent of the rate, so
    // true_dups stays n/20 at every setting.
    require(mutDenom >= 2, s"--mutDenom must be >= 2, got $mutDenom")
    // --rawVolume/--plantedRecall/--pinnedLsh only do anything on the
    // embedding rows; silently ignoring them after hours of text-family
    // building would violate this block's fail-at-parse-time rule
    require(families("embedding") ||
        (!rawVolume && !plantedRecallCheck && pinnedLsh.isEmpty),
      "--rawVolume/--plantedRecall/--pinnedLsh measure the embedding " +
        s"family; add embedding to --families (got $families)")
    require(!(rawVolume && plantedRecallCheck),
      "--rawVolume and --plantedRecall are distinct modes; pick one")
    require(pinnedLsh.forall { case (p, t) => p >= 1 && p <= 63 && t >= 1 },
      s"--pinnedLsh out of range: $pinnedLsh")
    require(Set("hash", "clustered")(corpus), s"--corpus must be hash|clustered, got $corpus")
    require(families("embedding") || (corpus == "hash" && !measureLaw &&
        partitionedDistinct == 0),
      "--corpus clustered/--measureLaw/--partitionedDistinct " +
        s"measure the embedding family; add embedding to --families (got $families)")
    require(!lawOnly || (measureLaw && !rawVolume && !plantedRecallCheck &&
        partitionedDistinct == 0),
      "--lawOnly emits just the --measureLaw row; drop the posture modes")
    require(partitionedDistinct >= 0 && scratchCapGb >= 0.0,
      s"--partitionedDistinct/--scratchCapGB must be non-negative")
    require(scratchCapGb == 0.0 || partitionedDistinct > 0,
      "--scratchCapGB bounds the bounded-distinct mode; pass " +
        "--partitionedDistinct P with it")
    require(partitionedDistinct == 0 ||
        (!rawVolume && !plantedRecallCheck),
      "bounded-distinct modes run the full pairing; drop --rawVolume/--plantedRecall")
    require(!survivors || (!rawVolume && !plantedRecallCheck && !lawOnly &&
        partitionedDistinct == 0),
      "--survivors is its own mode; drop the other posture modes")
    require(!survivors || families("embedding") ||
        (survivorsThreshold == 0.98 && survivorsTablesPerPass == 0),
      "--survivorsThreshold/--survivorsTablesPerPass tune the embedding " +
        s"family's walk; add embedding to --families (got $families)")
    require(survivorsThreshold > 0.0 && survivorsThreshold < 1.0,
      s"--survivorsThreshold out of (0,1): $survivorsThreshold")
    require(survivorsTablesPerPass >= 0 && (survivorsTablesPerPass == 0 || survivors),
      "--survivorsTablesPerPass bounds the --survivors walk; pass them together")
    require(noiseOverride.forall(x => x > 0.0 && survivors && corpus == "clustered"),
      "--noise overrides the clustered corpus's noiseScale for the " +
        "--survivors head-mass cell; pass it with --survivors --corpus clustered")
    require(simhashBlocks >= -1 && (simhashBlocks == 0 || families("simhash")),
      "--simhashBlocks deepens the simhash family's Manku split " +
        s"(-1 = simhashParams auto); add simhash to --families (got $families)")
    require(!blockMassOnly || families("simhash"),
      "--blockMassOnly reports the simhash block-collision mass without " +
        s"running the pairing; add simhash to --families (got $families)")
    val root = sys.env.getOrElse("SPARK_GRAFT_DEDUP_ROOT", "/tmp/graft_dedup_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Sessions.local(cpus)

    def timed[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = body
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      (dt, a)
    }

    /** Deterministic corpus: doc i is `words` vocabulary draws, each a pure
      * hash of (source id, position). Docs with id % 20 == 1 re-draw from
      * their OWN id at ~5% of positions and from the predecessor elsewhere
      * — a near-dup at Jaccard ~0.9 (shingle-level) of id-1, so true
      * near-dup pairs = n/20 exactly, at every size. Vocabulary 50k keeps
      * random cross-doc shingle overlap negligible: candidate leakage
      * measures BAND collisions, not accidental real similarity. */
    def synthetic(n: Long, words: Int = 60, vocab: Int = 50000): DataFrame = {
      val id = col("id")
      val isDup = pmod(id, lit(20)) === 1
      val base = when(isDup, id - 1).otherwise(id)
      val text = array_join(
        transform(sequence(lit(0), lit(words - 1)), p =>
          concat(lit("w"), pmod(hash(
            when(isDup && pmod(hash(id, p, lit(777)), lit(mutDenom)) === 0, id)
              .otherwise(base), p), lit(vocab)))),
        " ")
      spark.range(n).select(id.as("doc_id"), text.as("text"))
    }

    /** Returns true when it actually built — a cached re-run's ~0s
      * "build time" must not be emitted as a measurement. */
    def ensure(path: String)(build: => DataFrame): Boolean =
      if (new java.io.File(s"$path/_SUCCESS").exists()) false
      else {
        System.err.println(s"[dedup-probe] building $path ...")
        build.write.mode("overwrite").parquet(path)
        true
      }

    sizes.foreach { n =>
      val dir = s"$root/n$n"
      // non-default mutation rates cache under their own suffix so the
      // sweep can never serve the 5% corpus as a 1% measurement
      val mutSuffix = if (mutDenom == 20) "" else s"_m$mutDenom"
      // ---- build once per size, through the production scan-side paths;
      // the JSON fragment reports the measured seconds only for a REAL
      // build (a cached re-run says so instead of passing a File.exists
      // check off as scan-side work)
      def buildJson(t: (Double, Boolean)): String =
        if (t._2) f""""build_s":${t._1}%.3f""" else """"build_cached":true"""
      lazy val bandBuild = timed {
        ensure(s"$dir/bands$mutSuffix") {
          Dedup.minhashTable(synthetic(n), "text", "doc_id", shingleN = 3,
            k = 32, bands = 8)
        }
      }
      // the deepened-split posture (r15): --simhashBlocks B (or -1 = the
      // simhashParams auto choice for THIS n) builds the combination
      // block table; cache dirs are keyed by the split so a legacy table
      // is never served as a deepened measurement or vice versa
      lazy val shBlocks =
        if (simhashBlocks == -1) Dedup.simhashParams(n, maxHamming = 3)._1
        else if (simhashBlocks == 0) 4
        else simhashBlocks
      lazy val blockSuffix = if (shBlocks == 4) "" else s"_b$shBlocks"
      lazy val blockPath = s"$dir/blocks$mutSuffix$blockSuffix"
      lazy val blockBuild = timed {
        ensure(blockPath) {
          Dedup.simhashBlockTable(
            synthetic(n).select(col("doc_id"),
              Dedup.simhash(col("text")).as("simhash")),
            "doc_id", "simhash", maxHamming = 3, blocks = shBlocks)
        }
      }
      // embedding-LSH family: production auto-sizing picks (planes,
      // tables) per corpus size — depth growing with n is exactly what
      // keeps candidate volume linear, so the probe exercises the sizing,
      // not a pinned config. A --pinnedLsh row builds a SECOND bucket
      // table at an explicit (planes, tables) — the posture comparison:
      // what a deployment that froze a smaller corpus's config pays when
      // the data outgrows it. EVERY bucket-table cache dir is keyed by
      // its (planes, tables) — including the auto one: if lshParams'
      // minimizer is ever retuned, a stale table must miss the cache
      // instead of being served under the new config's label (when
      // --pinnedLsh matches the auto sizing the two postures share a dir,
      // and the second build correctly reports build_cached).
      lazy val (planes, tables) = Similarity.lshParams(n, threshold = 0.98)
      // clustered bucket tables cache under their own suffix — the two
      // corpora must never serve each other's tables; a --noise override
      // gets its own suffix too (a low-noise clique corpus must never be
      // served as the 0.35 default or vice versa)
      val corpusSuffix = (if (corpus == "clustered") "_cl" else "") +
        noiseOverride.map(x => s"_nz${(x * 100).round}").getOrElse("")
      def vecCorpus(nn: Long): DataFrame =
        if (corpus == "clustered") syntheticClusteredVecCorpus(spark, nn,
          noiseScale = noiseOverride.getOrElse(0.35))
        else syntheticVecCorpus(spark, nn)
      // the corpus-aware posture: the sizer's non-uniformity law sampled
      // from THIS corpus (hash corpora re-measure ≈ the default law;
      // clustered corpora measure higher and size deeper). The law row
      // prints the measured (depth, ratio) points so SCALE.md quotes
      // measurements, not just the fit.
      lazy val measuredCfg: (Int, Int) = {
        val t0 = System.nanoTime()
        val law = Similarity.measureNonUniformityLaw(vecCorpus(n), n)
        val dt = (System.nanoTime() - t0) / 1e9
        val cfg = Similarity.lshParams(n, 0.98, law = law)
        val pts = law.measured.map { case (k, r) => f"[$k,$r%.2f]" }
          .mkString("[", ",", "]")
        println(f"""{"check":"law","rows":$n,"corpus":"$corpus","points":$pts,""" +
          f""""amplitude":${law.amplitude}%.4f,"growth":${law.growthPerPlane}%.4f,""" +
          f""""max_measured_depth":${law.maxMeasuredDepth},""" +
          f""""planes":${cfg._1},"tables":${cfg._2},"measure_s":$dt%.3f}""")
        cfg
      }
      def lshDir(pp: Int, tt: Int) = s"$dir/lshbuckets_p${pp}t$tt$corpusSuffix"
      def ensureLsh(pp: Int, tt: Int): (Double, Boolean) = timed {
        ensure(lshDir(pp, tt)) { Similarity.lshTable(vecCorpus(n), pp, tt) }
      }
      // ---- pairing, timed from the persisted table (min-of-reps wall
      // time; volume is identical every rep — it's a deterministic count).
      // `detected` re-derives once, untimed, to count surviving PLANTED
      // pairs (id_b = id_a + 1 with id_b in the dup residue class) — for
      // the text families candidates ≈ detected by construction, but the
      // embedding family's fixed-depth buckets admit random collisions,
      // and leakage = pairs − detected is the quantity that must not
      // outgrow n.
      def run(fam: String, build: String, meta: String,
          derive: () => DataFrame, aCol: String, bCol: String): Unit = {
        val rs = (1 to reps).map(_ => timed(derive().count()))
        val pairs = rs.head._2
        require(rs.forall(_._2 == pairs),
          s"$fam candidate count varied across reps: ${rs.map(_._2)}")
        val detected = derive()
          .filter(col(bCol) === col(aCol) + 1 && pmod(col(bCol), lit(20)) === 1)
          .count()
        spark.sharedState.cacheManager.clearCache()
        val secs = rs.map(_._1)
        println(f"""{"rows":$n,"family":"$fam",$build,""" +
          f""""pairs_s":${secs.min}%.3f,"pairs_runs":${secs.map(s => f"$s%.3f")
            .mkString("[", ",", "]")},"pairs":$pairs,"detected":$detected,""" +
          f""""true_dups":${n / 20}$meta}""")
      }
      val mutMeta = if (mutDenom == 20) "" else s""","mut_denom":$mutDenom"""
      // text-family SURVIVOR cells (--survivors with minhash/simhash in
      // --families): the greedy-star assignment over the same cached
      // relations the pairing cells read, reporting comparisons against
      // the cell pair mass and the planted-dup detection — detection for
      // simhash at the default ~5% churn is the family's MEASURED ~0.24
      // (the r12 sweep), not a defect
      def survivorsTextCell(fam: String, build: String,
          cellCols: Seq[String], tablePath: String,
          assign: (DataFrame, org.apache.spark.util.LongAccumulator) => DataFrame): Unit = {
        val table = spark.read.parquet(tablePath)
        val mass = table.groupBy(cellCols.map(col): _*)
          .count()
          .agg(sum(col("count") * (col("count") - lit(1L))).as("m2"))
          .first().getLong(0) / 2
        val cmp = spark.sparkContext.longAccumulator(s"${fam}_star_comparisons")
        val t = timed {
          val a = assign(table, cmp)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val surv = a.filter(col("dup_of").isNull).count()
          val detected = a.filter(col("dup_of").isNotNull &&
            pmod(col("doc_id"), lit(20)) === 1).count()
          a.unpersist()
          (surv, detected, cmp.value)
        }
        val (surv, detected, comparisons) = t._2
        println(f"""{"check":"survivors","rows":$n,"family":"$fam",$build,""" +
          f""""raw_pair_mass":$mass,"comparisons":$comparisons,""" +
          f""""survivors":$surv,"eliminated":${n - surv},"detected":$detected,""" +
          f""""true_dups":${n / 20},"wall_s":${t._1}%.3f$mutMeta}""")
      }
      if (families("minhash")) {
        if (survivors)
          survivorsTextCell("minhash", buildJson(bandBuild),
            Seq("band", "bucket"), s"$dir/bands$mutSuffix",
            (table, cmp) => Dedup.minhashAssignFromBands(table,
              synthetic(n).select(col("doc_id"),
                Dedup.shingleHashes(col("text"), 3).as("sh")),
              threshold = 0.5, comparisons = Some(cmp)))
        else
          run("minhash_lsh", buildJson(bandBuild), mutMeta, () =>
            Dedup.bandCandidates(spark.read.parquet(s"$dir/bands$mutSuffix"), "doc_id"),
            "doc_a", "doc_b")
      }
      if (families("simhash")) {
        // raw block-collision mass Σ_cells C(|cell|,2) — the popcount
        // count the blocked self-join emits pre-collapse, THE quantity
        // the r15 auto-sizing bounds (legacy 4×16-bit split: ~4·n²/2¹⁷;
        // simhashParams split: ≤ targetMassPerDoc·n by construction).
        // One occupancy aggregation over the persisted table, computable
        // even where the legacy pairing itself would outgrow the host —
        // the rawPairs posture applied to the simhash family.
        def blockMass: Long = {
          val b = blockBuild // ensure built before reading
          val mass = spark.read.parquet(blockPath)
            .groupBy("bkey", "blk", "bits").count()
            .agg(sum(col("count") * (col("count") - lit(1L))).as("m2"))
            .first().getLong(0) / 2
          if (b._2) () // build time already reported via buildJson
          mass
        }
        // the mass aggregation is a full extra pass over the persisted
        // block table and runs OUTSIDE the timed section — interpolating
        // it into every pairing cell's meta silently inflated probe cost
        // (r15 advice). Pairing cells report just the split; the mass is
        // its own cell behind --blockMassOnly.
        lazy val blocksMeta = s""","blocks":$shBlocks"""
        if (blockMassOnly)
          println(f"""{"check":"block_mass","rows":$n,"family":"simhash",""" +
            f""""blocks":$shBlocks,"mass":$blockMass,${buildJson(blockBuild)}""" +
            f"""$mutMeta}""")
        else if (survivors)
          survivorsTextCell("simhash", buildJson(blockBuild),
            Seq("bkey", "blk", "bits"), blockPath,
            (table, cmp) => Dedup.simhashAssignFromBlocks(table,
              comparisons = Some(cmp)))
        else
          run("simhash", buildJson(blockBuild), mutMeta + blocksMeta, () =>
            Dedup.simhashPairsFromBlocks(
              spark.read.parquet(blockPath), "doc_id"),
            "doc_a", "doc_b")
      }
      // RAW candidate volume Σ_cells C(|cell|,2): the exact pre-distinct
      // pair count the bucket self-join emits — the cost that actually
      // hits the shuffle at scale (the post-distinct `pairs` number is
      // what survives it). One small occupancy aggregation per table,
      // computable even where the full distinct outgrows local scratch
      // (the pinned-at-16M posture did exactly that).
      def rawPairs(path: String): Long =
        // sum the (always even) product in LONG and halve driver-side:
        // `/` on long columns is DOUBLE division in Spark SQL, and an
        // exact count must not round-trip through floating point
        spark.read.parquet(path).groupBy("ckey").count()
          .agg(sum(col("count") * (col("count") - lit(1L))).as("raw2"))
          .first().getLong(0) / 2
      if (families("embedding") && lawOnly) {
        // law row only — the sizing-instrument cost/stability cell at
        // corpus sizes whose TABLES (let alone pairings) outgrow this
        // host: the sample-bounded measurement + the config it sizes,
        // nothing materialized
        val cfg = measuredCfg
        System.err.println(s"[dedup-probe] lawOnly: measured law sizes n=$n " +
          s"to (${cfg._1}, ${cfg._2}); hash-law auto would be ($planes, $tables)")
      } else if (families("embedding")) {
        // the "measured" posture dedupes against "auto" when the sampled
        // law lands on the same config (hash corpora usually do — that
        // agreement IS a result; the dedupe only avoids re-timing it)
        val measuredPosture =
          if (measureLaw && measuredCfg != ((planes, tables)))
            List((measuredCfg._1, measuredCfg._2, "measured"))
          else { if (measureLaw) System.err.println(
            s"[dedup-probe] measured law sizes to the auto config ($planes, $tables)")
            Nil }
        val postures = (planes, tables, "auto") +: measuredPosture :::
          pinnedLsh.map { case (pp, tt) => (pp, tt, "pinned") }.toList
        postures.foreach { case (pp, tt, mode) =>
          if (plantedRecallCheck) {
            // no bucket table at all: detection measured pair-locally
            val t = timed { plantedRecall(spark, n, pp, tt,
              clustered = corpus == "clustered") }
            val (hit, truth) = t._2
            println(f"""{"check":"planted_recall","rows":$n,"mode":"$mode",""" +
              f""""corpus":"$corpus","planes":$pp,"tables":$tt,"detected":$hit,""" +
              f""""true_dups":$truth,"recall":${hit.toDouble / truth}%.4f,""" +
              f""""wall_s":${t._1}%.3f}""")
          } else if (survivors) {
            // SURVIVOR-ORIENTED dedup (greedy star per cell) — the
            // head-mass cell (r13 verdict task #1): on a corpus whose
            // head cluster is a near-dup blob above the threshold, the
            // pair path's rerank work is the raw cell pair mass
            // Σ C(|cell|,2) (quadratic in the blob), while the greedy
            // walk's comparisons stay ~members × promoted reps. The row
            // reports both numbers from the SAME bucket table, plus the
            // survivor count and planted-dup detection (every id%20==1
            // doc should be eliminated by SOMETHING — its twin sits at
            // cosine ≈ 0.999). Survivor-set equality vs the exact pair
            // closure is ExtSpec's pin (test scale); this cell measures
            // the WORK ratio at sizes where the pair list cannot exist.
            val build = ensureLsh(pp, tt)
            val raw = rawPairs(lshDir(pp, tt))
            val cmp = spark.sparkContext.longAccumulator("greedy_star_comparisons")
            val scratch = s"$dir/survivors_scratch"
            val t = timed {
              val assign = (if (survivorsTablesPerPass > 0)
                Similarity.nearDupAssignGrouped(
                  spark.read.parquet(lshDir(pp, tt)), vecCorpus(n),
                  survivorsThreshold, scratch,
                  tablesPerPass = survivorsTablesPerPass,
                  comparisons = Some(cmp))
              else Similarity.nearDupAssignFromTable(
                spark.read.parquet(lshDir(pp, tt)), vecCorpus(n),
                survivorsThreshold, comparisons = Some(cmp)))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              val surv = assign.filter(col("dup_of").isNull).count()
              val detected = assign.filter(col("dup_of").isNotNull &&
                pmod(col("vec_id"), lit(20)) === 1).count()
              assign.unpersist()
              (surv, detected)
            }
            val (surv, detected) = t._2
            val scratchPath = new org.apache.hadoop.fs.Path(scratch)
            val fs = scratchPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.exists(scratchPath)) fs.delete(scratchPath, true)
            println(f"""{"check":"survivors","rows":$n,"mode":"$mode",""" +
              f""""corpus":"$corpus","noise":${noiseOverride.getOrElse(0.35)},""" +
              f""""tables_per_pass":$survivorsTablesPerPass,""" +
              f""""threshold":$survivorsThreshold,"planes":$pp,"tables":$tt,""" +
              f"""${buildJson(build)},"raw_pair_mass":$raw,""" +
              f""""comparisons":${cmp.value},"survivors":$surv,""" +
              f""""eliminated":${n - surv},"detected":$detected,""" +
              f""""true_dups":${n / 20},"wall_s":${t._1}%.3f}""")
          } else if (partitionedDistinct > 0) {
            // SCRATCH-BOUNDED pairing: the pair-partitioned distinct, with the peak single-stage shuffle write measured
            // by listener — the number that must stay under an executor's
            // scratch where the one-shot distinct's full-raw-volume
            // shuffle could not
            val build = ensureLsh(pp, tt)
            val (check, knobJson) =
              ("partitioned_distinct", s""""partitions":$partitionedDistinct""")
            val scratch = s"$dir/${check}_scratch"
            // the scratch metrics cover the pairing only — the
            // verification query below is not part of the bounded-distinct
            // cost this mode exists to measure
            val (t, peakGb, totalGb) = shuffleWriteGb(spark)(timed {
              val df = Similarity.lshCandidatesPartitioned(
                spark.read.parquet(lshDir(pp, tt)), scratch, "vec_id",
                partitions = partitionedDistinct)
              (df, df.count())
            })
            val (bounded, pairs) = t._2
            val detected = bounded
              .filter(col("id_b") === col("id_a") + 1 &&
                pmod(col("id_b"), lit(20)) === 1).count()
            println(f"""{"check":"$check","rows":$n,"mode":"$mode",""" +
              f""""corpus":"$corpus","planes":$pp,"tables":$tt,${buildJson(build)},""" +
              f"""$knobJson,"pairs":$pairs,""" +
              f""""detected":$detected,"true_dups":${n / 20},""" +
              f""""peak_stage_shuffle_gb":$peakGb%.3f,""" +
              f""""total_shuffle_gb":$totalGb%.3f,"wall_s":${t._1}%.3f}""")
            val scratchPath = new org.apache.hadoop.fs.Path(scratch)
            scratchPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(scratchPath, true)
            require(scratchCapGb == 0.0 || peakGb <= scratchCapGb,
              f"$check peak stage shuffle $peakGb%.2f GB broke the " +
                f"enforced --scratchCapGB $scratchCapGb%.2f cap")
          } else if (rawVolume && rawDirect) {
            // BUILDLESS exact occupancy: per-(table, bucket) C(|cell|,2)
            // summed from scan-side projections in table batches, each
            // batch generating ONLY its own tables' planes (planeOffset
            // arithmetic — no wasted projections) — so the shuffle per
            // batch is n x batch rows and raw volume is measurable at
            // sizes whose bucket TABLE outgrows local disk (the 64M
            // clustered measured-config case: a 53-table parquet table
            // would be ~65 GB this host does not have)
            // batch width trades scan count (corpus regeneration is the
            // dominant cost) against per-batch shuffle width (n × batch
            // rows ≈ 12 GB at 64M × 8 — fine for local scratch)
            val batch = 8
            val agg = timed {
              (0 until tt by batch).map { t0 =>
                val b = math.min(batch, tt - t0)
                vecCorpus(n).select(posexplode(graft.functions.HyperplaneLsh(
                    col("embedding"), pp, b, t0 * pp)))
                  .toDF("tbl", "bucket")
                  .groupBy("tbl", "bucket").count()
                  .agg(sum(col("count") * (col("count") - lit(1L))).as("r2"))
                  .first().getLong(0) / 2
              }.sum
            }
            println(f"""{"check":"raw_volume","rows":$n,"mode":"$mode",""" +
              f""""corpus":"$corpus","planes":$pp,"tables":$tt,"direct":true,""" +
              f""""raw_pairs":${agg._2},"agg_s":${agg._1}%.3f}""")
          } else {
          val build = ensureLsh(pp, tt)
          if (rawVolume) {
            // build and aggregation timed SEPARATELY (and the build
            // honestly marked cached when it was): agg_s must mean the
            // occupancy aggregation alone, not a multi-minute cold build
            val agg = timed { rawPairs(lshDir(pp, tt)) }
            println(f"""{"check":"raw_volume","rows":$n,"mode":"$mode",""" +
              f""""corpus":"$corpus","planes":$pp,"tables":$tt,${buildJson(build)},""" +
              f""""raw_pairs":${agg._2},"agg_s":${agg._1}%.3f}""")
          } else {
            run("embedding_lsh", buildJson(build),
              s""","planes":$pp,"tables":$tt,"mode":"$mode","corpus":"$corpus"""",
              () => Similarity.lshCandidatesFromTable(
                spark.read.parquet(lshDir(pp, tt)), "vec_id"),
              "id_a", "id_b")
          }
          }
        }
      }
    }
    if (multiProbeCheck) multiProbeDecision()
    spark.stop()
  }

  /** Measures whether single-bit multi-probe banding (the q49 trick: probe
    * the buckets reached by flipping a vector's lowest-|projection| sign
    * bits) could replace OR-amplified tables in the SELF-JOIN dedup
    * relation at a sub-auto candidate volume — the r11 verdict's option
    * (b) for flattening the auto-sizer's table growth.
    *
    * The check is a property of the plane family and the threshold, not of
    * any corpus, so it runs driver-side and deterministic (seeded):
    * synthetic unit-vector pairs at EXACTLY the sizing threshold's cosine
    * (the pair the recall target is solved for) are bucketed under the
    * production [[graft.functions.HyperplaneLsh]] planes across many
    * independent tables, and for each probe budget q the measured
    * per-table collision probability with probing
    * (agree + 1-bit mismatches whose differing bit is among EITHER
    * vector's q lowest margins — the self-join sees both directions) is
    * fed back through [[Similarity.lshTablesFor]]'s own recall solve. The
    * verdict figure is `volume_factor`: (tables_mp × (1+q)) / tables_auto
    * — in the A=home ⋈ B=home∪probe join every probe row multiplies each
    * table's bucket-join volume the same way a home row does (probing is
    * an ASYMMETRIC trick: in q49's query-side search the probes multiply
    * only the query's touched buckets, never a corpus×corpus join side),
    * so a factor above 1.0 means multi-probe GROWS dedup candidate volume
    * at equal recall and the auto-sizer's extra tables are the cheaper
    * recall instrument. [[multiProbeDecision]] prints these rows as JSON;
    * determinism, isotropy (measured agreement tracks the analytic p^k),
    * recovery monotonicity, and the neutral volume-factor band are pinned
    * in CoreSpec so the SCALE.md decision table stays reproducible.
    *
    * One row per (depth, probe budget): the per-table collision statistics
    * at `planes` sign bits with `probes` low-margin flips, and the derived
    * table count + candidate-volume factor vs pure OR-amplification. */
  private[graft] case class MultiProbeRow(planes: Int, probes: Int,
      pTableAuto: Double, pTableMp: Double, oneBitShare: Double,
      recoveredShare: Double, tablesAuto: Int, tablesMp: Int,
      volumeFactor: Double)

  private[graft] def multiProbeRows(threshold: Double = 0.98,
      targetRecall: Double = 0.98, dim: Int = 64, nPairs: Int = 2000,
      nTablesSampled: Int = 32,
      depths: Seq[Int] = Seq(17, 19, 21, 23, 24, 27)): Seq[MultiProbeRow] = {
    import graft.functions.HyperplaneLsh
    val rnd = new scala.util.Random(42)
    def gaussian(k: Int): Array[Double] = Array.fill(k)(rnd.nextGaussian())
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    /** A unit vector and a partner at exactly cos(angle)=threshold. */
    def pairAtThreshold(): (Array[Double], Array[Double]) = {
      val v = normed(gaussian(dim))
      val w0 = gaussian(dim)
      val d = w0.zip(v).map { case (a, b) => a * b }.sum
      val w = normed(w0.zip(v).map { case (a, b) => a - d * b })
      val s = math.sqrt(1.0 - threshold * threshold)
      (v, v.zip(w).map { case (a, b) => threshold * a + s * b })
    }
    val pairs = Seq.fill(nPairs)(pairAtThreshold())
    // default depths: the r11 sizer's measured autos at 250k/1M/4M/16M
    // plus the r12-retuned sizer's 16M (24) and 64M (27) choices, so the
    // volume-neutrality verdict is measured at every config either sizer
    // actually picked
    depths.flatMap { k =>
      val tablesAuto = Similarity.lshTablesFor(k, threshold, targetRecall)
      var agree = 0L
      var oneBit = 0L
      val recovered = Array.fill(4)(0L) // q = 1..3 at index q
      var total = 0L
      for (((a, b), pi) <- pairs.zipWithIndex; t <- 0 until nTablesSampled) {
        // disjoint plane sets per (pair, table) so the nPairs × nTables
        // samples are independent draws from the SAME family the scan
        // uses — plane index never collides across samples
        val off = (pi.toLong * nTablesSampled + t) * k
        require(off + k < Int.MaxValue, "plane offset overflow")
        val pa = HyperplaneLsh.projections(a, k, off.toInt)
        val pb = HyperplaneLsh.projections(b, k, off.toInt)
        val mismatches = (0 until k).filter(i => (pa(i) >= 0) != (pb(i) >= 0))
        total += 1
        if (mismatches.isEmpty) agree += 1
        else if (mismatches.size == 1) {
          oneBit += 1
          val bit = mismatches.head
          def lowestQ(p: Array[Double], q: Int): Boolean =
            p.zipWithIndex.sortBy { case (x, _) => math.abs(x) }
              .take(q).exists(_._2 == bit)
          for (q <- 1 to 3)
            if (lowestQ(pa, q) || lowestQ(pb, q)) recovered(q) += 1
        }
      }
      val pAuto = agree.toDouble / total
      (1 to 3).map { q =>
        val p1 = (agree + recovered(q)).toDouble / total
        // the engine's own guarded solve: a measured p1 of exactly 1.0
        // (tight threshold / small sample) means one table, not log(0)
        val tablesMp = Similarity.lshTablesForCollision(p1, targetRecall)
        MultiProbeRow(k, q, pAuto, p1, oneBit.toDouble / total,
          recovered(q).toDouble / math.max(1, oneBit), tablesAuto, tablesMp,
          tablesMp.toDouble * (1 + q) / tablesAuto)
      }
    }
  }

  private[probes] def multiProbeDecision(): Unit =
    multiProbeRows().foreach { r =>
      println(f"""{"check":"multi_probe","planes":${r.planes},"probes":${r.probes},""" +
        f""""p_table_auto":${r.pTableAuto}%.4f,"p_table_mp":${r.pTableMp}%.4f,""" +
        f""""one_bit_share":${r.oneBitShare}%.4f,""" +
        f""""recovered_share":${r.recoveredShare}%.4f,""" +
        f""""tables_auto":${r.tablesAuto},"tables_mp":${r.tablesMp},""" +
        f""""volume_factor":${r.volumeFactor}%.3f}""")
    }

  /** Deterministic embedding corpus, same dup structure as the text one:
    * docs with id % 20 == 1 carry the predecessor's vector plus a
    * 5%-amplitude hash-derived perturbation — cosine ≈ 0.999 to the
    * original, far above the 0.98 probe threshold, while unrelated
    * hash-vectors sit near 0. True near-dup pairs = n/20, as in the text
    * corpus. Object-level (not a main-local def) so [[plantedRecall]] and
    * its spec can reach it. */
  private[graft] def syntheticVecCorpus(spark: SparkSession, n: Long,
      dim: Int = 64): DataFrame = {
    val id = col("id")
    val isDup = pmod(id, lit(20)) === 1
    val base = when(isDup, id - 1).otherwise(id)
    def h(src: org.apache.spark.sql.Column, d: Int, salt: Int) =
      (pmod(hash(src, lit(d), lit(salt)), lit(2001)) - lit(1000))
        .cast("double") / 1000.0
    spark.range(n).select(id.as("vec_id"),
      array((0 until dim).map(d =>
        (h(base, d, 0) + when(isDup, h(id, d, 1) * 0.05).otherwise(lit(0.0)))
          .cast("float")): _*).as("embedding"))
  }

  /** Deterministic CLUSTERED embedding corpus — the r13 stress for the
    * sizer's non-uniformity assumption. The hash corpus above is
    * near-isotropic (its sign buckets are the non-uniformity FLOOR); real
    * embedding corpora cluster, which concentrates vectors into few sign
    * buckets and raises the realized-vs-uniform collision ratio — the
    * quantity [[graft.ext.Similarity.measureNonUniformityLaw]] samples at
    * sizing time. Construction (public-knowledge mixture model, every
    * value a pure hash of ids — rebuilds byte-identical):
    *
    *   - `clusters` centers with hash-derived coordinates in [-1, 1];
    *   - POWER-LAW cluster sizes via inverse-CDF skew: member cluster =
    *     ⌊clusters · u^sizeSkew⌋ for u = hash-uniform(doc) — density
    *     ∝ c^(1/skew − 1), so at the default skew 3 the head cluster
    *     holds ~(1/clusters)^(1/3) ≈ 6% of a 4096-cluster corpus and the
    *     tail is thousands of small cells (the web-corpus shape);
    *   - member = center + `noiseScale`·hash-noise: intra-cluster cosine
    *     concentrates near 1/(1+noiseScale²) ≈ 0.89 at the default 0.35 —
    *     BELOW the 0.98 probe threshold (cluster-mates are not near-dups)
    *     while far above the ~0 cross-cluster cosine, which is exactly
    *     what piles cluster-mates into shared sign buckets;
    *   - the dup structure is the hash corpus's, unchanged: id % 20 == 1
    *     carries the predecessor's vector + 5%-amplitude perturbation
    *     (cosine ≈ 0.999), so true planted pairs = n/20 and
    *     [[plantedRecall]] reads identically on both corpora. */
  private[graft] def syntheticClusteredVecCorpus(spark: SparkSession, n: Long,
      dim: Int = 64, clusters: Int = 4096, sizeSkew: Double = 3.0,
      noiseScale: Double = 0.35): DataFrame = {
    val id = col("id")
    val isDup = pmod(id, lit(20)) === 1
    val base = when(isDup, id - 1).otherwise(id)
    def h(src: org.apache.spark.sql.Column, d: Int, salt: Int) =
      (pmod(hash(src, lit(d), lit(salt)), lit(2001)) - lit(1000))
        .cast("double") / 1000.0
    // u in [0, 1) from the base id; pow-skew picks the cluster
    val u = (pmod(hash(base, lit(555)), lit(1000000)).cast("double")) / 1000000.0
    val cluster = floor(pow(u, sizeSkew) * clusters).cast("int")
    spark.range(n).select(id.as("vec_id"),
      array((0 until dim).map(d =>
        (h(cluster, d, 556) + h(base, d, 557) * noiseScale +
          when(isDup, h(id, d, 1) * 0.05).otherwise(lit(0.0)))
          .cast("float")): _*).as("embedding"))
  }

  /** MEASURED detection of the planted near-dup pairs under an explicit
    * (planes, tables) config, without building, persisting, or
    * self-joining a bucket table: both vectors of every planted pair
    * derive scan-side from the deterministic corpus, and detection is
    * positional bucket agreement in ≥1 of the OR-amplified tables — the
    * exact collision event [[Similarity.lshCandidatesFromTable]]'s join
    * keys encode. O(n/20) result rows and one narrow n/10-row shuffle,
    * so the recall cell is measurable at sizes where the full pairing's
    * distinct shuffle outgrows local scratch (the 64M row in SCALE.md).
    * `clustered = true` reads the planted pairs of
    * [[syntheticClusteredVecCorpus]] instead — same dup structure, so the
    * two corpora's recall cells are directly comparable. */
  private[graft] def plantedRecall(spark: SparkSession, n: Long,
      planes: Int, tables: Int, clustered: Boolean = false): (Long, Long) = {
    import graft.functions.HyperplaneLsh
    val v = if (clustered) syntheticClusteredVecCorpus(spark, n)
      else syntheticVecCorpus(spark, n)
    val dups = v.where(pmod(col("vec_id"), lit(20)) === 1)
      .select((col("vec_id") - 1).as("orig_id"), col("embedding").as("emb_dup"))
    val origs = v.where(pmod(col("vec_id"), lit(20)) === 0)
      .select(col("vec_id").as("orig_id"), col("embedding").as("emb_orig"))
    val hit = dups.join(origs, "orig_id")
      .where(exists(zip_with(
        HyperplaneLsh(col("emb_dup"), planes, tables),
        HyperplaneLsh(col("emb_orig"), planes, tables),
        (a, b) => a === b), x => x))
      .count()
    (hit, (n + 18) / 20)
  }
}
