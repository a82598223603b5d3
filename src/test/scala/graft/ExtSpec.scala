package graft

import org.apache.spark.sql.functions._

import graft.ext._
import graft.ext.Similarity.Probe

class ExtSpec extends SparkSpec {
  import spark.implicits._

  // the canonical 67-byte 1x1 RGBA PNG (public bytes) — ONE copy, shared
  // by the SQL-surface parity test and the MediaHeader fixture walk so the
  // two can never drift onto different fixture bytes
  private val Png1x1Hex: String =
    "89504E470D0A1A0A0000000D4948445200000001000000010806000000" +
      "1F15C4890000000A49444154789C63000100000500010D0A2DB4" +
      "0000000049454E44AE426082"

  // walk a throwable's cause chain (Spark wraps expression failures in
  // several layers; which layer carries the message differs by code path)
  private def causeChain(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causeChain(t.getCause)

  // three tight 20-vector clusters around orthogonal 4-dim anchors, and
  // their k=3 trained centroids — ONE construction shared by the Ivf
  // probe-pruning / vec-form / batch tests, so the three provably compare
  // shapes over the SAME corpus geometry instead of three copies that can
  // drift independently
  private lazy val threeClusterEmb = {
    val rnd = new scala.util.Random(5)
    def near(base: Array[Float]) = base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    ((0L until 20L).map(i => (i, near(Array(1.0f, 0.0f, 0.0f, 0.0f)))) ++
      (20L until 40L).map(i => (i, near(Array(0.0f, 1.0f, 0.0f, 0.0f)))) ++
      (40L until 60L).map(i => (i, near(Array(0.0f, 0.0f, 1.0f, 0.0f)))))
      .toDF("vec_id", "embedding")
  }
  private lazy val threeClusterCents = Ivf.trainCentroids(threeClusterEmb, k = 3, iters = 4)

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the old barn today", "en"),
    (1L, "the quick brown fox jumps over the lazy dog near the old barn tonight", "en"), // near-dup of 0
    (2L, "completely different content about spark query engines and shuffles here", "en"),
    (3L, "the quick brown fox jumps over the lazy dog near the old barn today", "en"), // exact dup of 0
    (4L, "der hund und die katze sind nicht ein problem für das haus", "de"),
    (5L, "le chat est dans la maison et il est pour une pomme", "fr"))
    .toDF("doc_id", "text", "lang")

  test("TextStats: token counts, quality, fingerprint determinism") {
    val r = docs.select(
      TextStats.tokenCount($"text"),
      TextStats.stopwordCount($"text"),
      TextStats.fingerprint($"text")).collect()
    assert(r(0).getLong(0) == 14)
    assert(r(0).getLong(1) == 3) // 'the' x3
    assert(r(0).getLong(2) == r(3).getLong(2)) // same text, same fingerprint
    assert(r(0).getLong(2) != r(2).getLong(2))
    // an EMPTY doc has n_chars = 0, so the punct ratio's denominator is
    // zero — under Spark 4.1 ANSI (which raises DIVIDE_BY_ZERO for DOUBLE
    // division too) the unguarded score ABORTED the whole job. Guarded,
    // it is NULL — DuckDB's own divide-by-zero value, so the mirrored
    // q26/q44/q56/q57 oracles agree even on degenerate corpora.
    // (n_tokens is never 0: "" tokenizes to one empty token, so
    // whitespace-only text still scores — only n_chars can hit zero.)
    val degenerate = Seq((0L, ""), (1L, "   \t  "), (2L, "a b c"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextStats.qualityScore($"text").as("qs"))
      .orderBy("doc_id").collect()
    assert(degenerate(0).isNullAt(1))
    assert(!degenerate(1).isNullAt(1) && !degenerate(2).isNullAt(1))
  }

  test("TextStats.langGuess identifies marker languages") {
    val got = docs.select($"lang", TextStats.langGuess($"text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.count { case (want, g) => want == g } >= 5)
    val zh = Seq((9L, "这 是 中文 文本")).toDF("doc_id", "text")
    assert(zh.select(TextStats.langGuess($"text")).head().getString(0) == "zh")
  }

  test("LangId native expression is equivalent to the composable form") {
    // Edge cases: empty, whitespace-only, tabs/newlines, ties, shared
    // markers ("la" is fr+es, "que" is fr+es), CJK override, no-marker text.
    val edge = Seq(
      "", "   ", "\t\n ", "xyzzy plugh", "la la la", "que", "la que",
      "the und", "von with", "mixed 中文 and english the the",
      "  leading and trailing the of   ", "UPPER THE AND OF CASE")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = edge.union(docs.select($"doc_id" + 100L, $"text"))
      .select(
        TextStats.langGuess($"text").as("native"),
        TextStats.langGuessComposable($"text").as("composable"))
      .collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1), s"mismatch: $r"))
  }

  test("DocFingerprint native expression is equivalent to the composable form") {
    // Edge cases: empty / all-space / all-separator inputs (leading and
    // trailing empty tokens), non-space ASCII whitespace at the edges after
    // the space-only trim, NON-ASCII whitespace (U+00A0 is NOT a Java \s
    // separator — must stay inside its token), multi-byte UTF-8, and
    // adjacent separator runs.
    val edge = Seq(
      "", " ", "   ", "\t", "\t\n ", "a", " a ", "a  b", "\ta\tb\t",
      "a b c", "中文 漢字 test", "émojis 🎉 and ümlauts", "one",
      "trailing space ", " leading", "a\u00A0b", "a\nb\rc\fde",
      "the quick brown fox. the quick brown fox!")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = edge.union(docs.select($"doc_id" + 100L, $"text"))
      .select(
        TextStats.fingerprint($"text").as("native"),
        TextStats.fingerprintComposable($"text").as("composable"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch: $r"))
  }

  test("Dedup.exactClusters keys by digest; dropExactDuplicates keeps one") {
    val clusters = Dedup.exactClusters(docs).collect()
    assert(clusters.length == 1 && clusters.head.getAs[Long]("n_docs") == 2)
    assert(clusters.head.getAs[Long]("keeper_id") == 0L)
    val kept = Dedup.dropExactDuplicates(docs)
    assert(kept.count() == 5)
    // the survivor is DETERMINISTICALLY the minimum id (= exactClusters'
    // keeper_id), not whichever row the partitioning happened to order
    // first — and it stays the keeper under a different layout
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet.contains(0L))
    val reparted = Dedup.dropExactDuplicates(docs.repartition(7))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reparted == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  // whitespace edges: leading tab (split yields a leading empty token after
  // the space-only trim), trailing newline (trailing empty token), multiple
  // spaces, short docs (whole-text fallback shingle), empty text
  private lazy val edgeDocs = (docs.select($"doc_id", $"text") union Seq(
    (100L, ""), (101L, "   "), (102L, "\tleading tab doc with words"),
    (103L, "trailing newline doc\n"), (104L, "double  space   doc here"),
    (105L, "short doc"), (106L, "one"),
    (107L, null.asInstanceOf[String]), // null text: composable yields [""]
    (108L, null.asInstanceOf[String])).toDF("doc_id", "text"))

  test("TextMetrics struct is bit-identical to the composable measure pipeline") {
    // the four pre-native expressions, inlined
    val toks = split(trim($"text"), "\\s+")
    val composable = edgeDocs.select($"doc_id",
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => t.isin(TextStats.EnglishStopwords: _*)))
        .cast("long").as("stops"),
      length(regexp_replace($"text", "[^.!?,;:]", "")).cast("long").as("punct"),
      length($"text").cast("long").as("n_chars"))
      .orderBy("doc_id").collect()
      .map(r => (1 to 4).map(i => if (r.isNullAt(i)) null else r.getLong(i)))
    val native = edgeDocs.select($"doc_id", TextStats.metrics($"text").as("m"))
      .select($"doc_id", $"m.n_tokens", $"m.stops", $"m.punct", $"m.n_chars")
      .orderBy("doc_id").collect()
      .map(r => (1 to 4).map(i => if (r.isNullAt(i)) null else r.getLong(i)))
    assert(native.toSeq == composable.toSeq)
  }

  test("RepetitionMetrics is bit-identical to the composable HOF pipeline") {
    // line dups, word-count ties (byte-order break), unicode codepoints,
    // whitespace edges — plus the shared edgeDocs corpus
    val tricky = Seq(
      (200L, "abc\nabc\nxyz\n\nabc"), (201L, "b a b a"),
      (202L, "héé wörld héé\nhéé"),
      (203L, "𝄞 𝄞 x"), (204L, "one\none\n"),
      (205L, " x\ty "), (206L, "same same same same different"))
      .toDF("doc_id", "text")
    for (df <- Seq(tricky, edgeDocs)) {
      val fields = Seq("n_lines", "dup_lines", "dup_line_chars", "line_chars",
        "n_words", "top_word_count", "top_word_chars")
      def dump(c: org.apache.spark.sql.Column) =
        df.select($"doc_id", c.as("m"))
          .select($"doc_id" +: fields.map(f => col(s"m.$f")): _*)
          .orderBy("doc_id").collect()
          .map(r => (1 to 7).map(i => if (r.isNullAt(i)) null else r.getLong(i)))
      assert(dump(TextStats.repetition($"text")).toSeq ==
        dump(TextStats.repetitionComposable($"text")).toSeq)
    }
    // spot-check the semantics on the richest doc: 4 non-empty lines, 'abc'
    // 3x (2 dups, 6 dup chars); \s+ collapses the blank line, so 4 tokens
    // with 'abc' the top word (3 of them, 9 chars)
    val m = tricky.filter($"doc_id" === 200L)
      .select(TextStats.repetition($"text").as("m")).select($"m.*").head()
    assert(m.toSeq == Seq(4L, 2L, 6L, 12L, 4L, 3L, 9L))
    // tie at two counts each: top word is the byte-order smallest ('a')
    val tie = tricky.filter($"doc_id" === 201L)
      .select(TextStats.repetition($"text").as("m"))
      .select($"m.top_word_count", $"m.top_word_chars").head()
    assert(tie.toSeq == Seq(2L, 2L))
  }

  test("ShingleHashes is bit-identical to the composable transform pipeline") {
    val composable = edgeDocs.select($"doc_id",
      transform(Dedup.shingles($"text", 3), s => xxhash64(s)).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val native = edgeDocs.select($"doc_id", Dedup.shingleHashes($"text", 3).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(native.toSeq == composable.toSeq)
  }

  test("MinHashK native signatures are bit-identical to the aggregate form") {
    val k = 32
    // the pre-native pipeline: explode shingles, hash once, k min-aggs
    val aggs = (0 until k).map(j => min(xxhash64(lit(j), col("base"))).as(s"mh_$j"))
    val viaAgg = edgeDocs
      .select($"doc_id", explode(Dedup.shingles($"text", 3)).as("sh"))
      .select($"doc_id", xxhash64($"sh").as("base"))
      .groupBy($"doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("doc_id").collect()
      .map(r => (0 until k).map(j => r.getLong(j + 1)))
    val viaNative = Dedup.minhashSignatures(edgeDocs, "text", "doc_id", 3, k)
      .orderBy("doc_id").collect()
      .map(r => (0 until k).map(j => r.getLong(j + 1)))
    assert(viaNative.toSeq == viaAgg.toSeq)
    // and the native plan has no shuffle at all
    val plan = Dedup.minhashSignatures(docs, "text", "doc_id", 3, k)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("Dedup minhash-LSH finds near-dup and exact-dup pairs, verified by jaccard") {
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.3)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L))) // exact dup, jaccard 1.0
    assert(keys.contains((0L, 1L)) || keys.contains((1L, 3L))) // near dup
    assert(pairs.forall(_._3 >= 0.3))
    assert(pairs.find(p => (p._1, p._2) == (0L, 3L)).exists(_._3 == 1.0))
  }

  test("Dedup.bandingParams deepens bands with the threshold; auto candidates shrink") {
    // recall solves at the returned params, and tighter thresholds get
    // DEEPER bands (more signature rows per band = geometrically fewer
    // random candidates), the MinHash twin of lshParams' depth trade
    val (kLoose, bLoose) = Dedup.bandingParams(0.3)
    val (kTight, bTight) = Dedup.bandingParams(0.7)
    val rLoose = kLoose / bLoose
    val rTight = kTight / bTight
    assert(rTight > rLoose, s"rows/band did not deepen: $rLoose -> $rTight")
    assert(kLoose <= 128 && kTight <= 128)
    def recall(k: Int, b: Int, t: Double): Double =
      1.0 - math.pow(1.0 - math.pow(t, (k / b).toDouble), b.toDouble)
    assert(recall(kLoose, bLoose, 0.3) >= 0.98 - 1e-9)
    assert(recall(kTight, bTight, 0.7) >= 0.98 - 1e-9)

    // candidate volume on a common mid-similarity corpus (docs built from a
    // shared phrase pool, pairwise Jaccard mostly 0.1-0.5): the tight
    // sizing admits a fraction of the loose sizing's candidates
    val rnd = new scala.util.Random(13)
    val phrases = Vector(
      "the quick brown fox", "jumps over the lazy dog", "near the old barn",
      "spark query engines shuffle", "data pipelines at scale",
      "language models need tokens", "dedup keeps one copy",
      "buckets join narrow rows", "signatures stay scan side",
      "candidates verify exactly")
    val corpus = (0L until 120L).map { i =>
      (i, Seq.fill(6)(phrases(rnd.nextInt(phrases.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val cLoose = Dedup.minhashCandidates(corpus, k = kLoose, bands = bLoose).count()
    val cTight = Dedup.minhashCandidates(corpus, k = kTight, bands = bTight).count()
    assert(cLoose > 0, "loose config found no candidates — corpus too dissimilar")
    assert(cTight < cLoose, s"tight candidates $cTight !< loose $cLoose")

    // the auto path still finds the known dup pairs of the shared fixture
    val auto = Dedup.nearDupPairsAuto(docs, 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.contains((0L, 3L)))
    assert(auto.contains((0L, 1L)) || auto.contains((1L, 3L)))
  }

  test("Dedup.simhash: identical texts collide, hamming ladder sane") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(3L))
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(1L)) < java.lang.Long.bitCount(sh(0L) ^ sh(2L)))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 15).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("Dedup.simhashPairs multi-block candidates have ZERO false negatives (pigeonhole)") {
    // every pair within maxHamming bits must surface — compare the blocked
    // join against the exhaustive O(n²) scan at several radii.
    // Null text coalesces to "" (the shingleHashes contract, shared since
    // round 9): signatures are never null, so the two null-text docs and
    // the empty/whitespace-only docs all pair at hamming 0 instead of
    // silently surviving dedup through null-propagating comparisons.
    val rows = edgeDocs.select($"doc_id", Dedup.simhash($"text").as("sh")).collect()
    assert(rows.forall(!_.isNullAt(1)), "simhash must never be null")
    val sigs = rows.map(r => r.getLong(0) -> r.getLong(1))
    val bySig = sigs.toMap
    assert(bySig(107L) == bySig(108L) && bySig(107L) == bySig(100L))
    for (h <- Seq(0, 3, 7, 15)) {
      val exact = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= h
      } yield (ia, ib)).toSet
      val blocked = Dedup.simhashPairs(edgeDocs, maxHamming = h).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == exact, s"maxHamming=$h: blocked=$blocked exact=$exact")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("Dedup.bandCandidates counts shared bands; minhashCandidates delegates") {
    // hand-built band table: docs 1/2 collide in bands 0 AND 1; docs 1/3
    // and 2/3 only in band 0 (doc 3's band-1 bucket differs)
    val bt = Seq(
      (1L, 0, 100L), (1L, 1, 200L),
      (2L, 0, 100L), (2L, 1, 200L),
      (3L, 0, 100L), (3L, 1, 999L)).toDF("doc_id", "band", "bucket")
    val got = Dedup.bandCandidates(bt).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
    spark.sharedState.cacheManager.clearCache()

    // the delegating minhashCandidates pair set over a real corpus equals
    // bandCandidates' keys over the same freshly-built band table
    val viaBands = Dedup.bandCandidates(
        Dedup.minhashTable(docs, "text", "doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(direct == viaBands)
    spark.sharedState.cacheManager.clearCache()
  }

  test("Dedup.simhashPairsFromSigs equals the inline simhashPairs form") {
    val sigs = edgeDocs.select($"doc_id", Dedup.simhash($"text").as("simhash"))
    for (h <- Seq(0, 3, 7)) {
      val fromSigs = Dedup.simhashPairsFromSigs(sigs, maxHamming = h).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val inline = Dedup.simhashPairs(edgeDocs, maxHamming = h).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(fromSigs == inline, s"maxHamming=$h")
      spark.sharedState.cacheManager.clearCache()
    }
    // an id repeated with two signatures at the same distance from a
    // partner publishes the pair once: the distinct runs after the verify,
    // over (doc_a, doc_b, hamming), not over the signatures
    val repeated = Seq((1L, 0x0L), (1L, 0x3L), (2L, 0x1L)).toDF("doc_id", "simhash")
    assert(Dedup.simhashPairsFromSigs(repeated).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq == Seq((1L, 2L, 1)))
    spark.sharedState.cacheManager.clearCache()
  }

  test("simhash block table: bucketed self-join is exchange-free; radius self-stamped") {
    val sigs = edgeDocs.select($"doc_id", Dedup.simhash($"text").as("simhash"))
    val cat = new graft.core.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-shblk").toString)
    val tb = cat.saveBucketed(
      Dedup.simhashBlockTable(sigs, maxHamming = 3), "sh.blocks", "bkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // bkey is the only equi-key (blk/bits ride as XOR residuals), so the
      // bkey-bucketed scans co-locate and the self-join plans no exchange
      // on the collision key; the radius comes from the table's own stamp
      val pairs = Dedup.simhashPairsFromBlocks(spark.table(tb))
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("hashpartitioning(bkey"),
        s"bucketed block self-join still shuffles on the collision key:\n$plan")
      val got = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = Dedup.simhashPairs(edgeDocs, maxHamming = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want && got.nonEmpty, s"got=$got want=$want")
      // the DEEPENED combination split publishes and re-pairs under the
      // same contract — bkey stays the single equi-key, so the bucketed
      // scan still satisfies the join's clustering with no exchange
      val tbDeep = cat.saveBucketed(
        Dedup.simhashBlockTable(sigs, maxHamming = 3, blocks = 6),
        "sh.blocks_b6", "bkey", 4)
      val deepPairs = Dedup.simhashPairsFromBlocks(spark.table(tbDeep))
      val deepPlan = deepPairs.queryExecution.executedPlan.toString
      assert(!deepPlan.contains("hashpartitioning(bkey"),
        s"deepened bucketed self-join shuffles on the collision key:\n$deepPlan")
      assert(deepPairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sharedState.cacheManager.clearCache()
  }

  test("Similarity: codegen dot matches manual math; topk ordering deterministic") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val d = emb.filter($"vec_id" === 1)
      .select(Similarity.dot($"embedding", $"embedding")).head().getDouble(0)
    val expected = 0.9f.toDouble * 0.9f.toDouble + 0.1f.toDouble * 0.1f.toDouble
    assert(d == expected) // floats widen to double exactly, sum is sequential
    val top = Similarity.topKById(emb, 0L, 2).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(top.head.getDouble(1) > 0.99)
  }

  test("Similarity: SQL surface via SparkSessionExtensions (graft_dot)") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head()
    assert(r.getDouble(0) == 11.0)
  }

  // Distinct pre-verify candidate pairs of a blocked corpus — the volume
  // the bkey self-join actually feeds the hamming verify, computed
  // driver-side from the (small) exploded relation.
  private def simhashCandidateVolume(corpus: org.apache.spark.sql.DataFrame,
      maxHamming: Int): Long = {
    val rows = Dedup.simhashBlockTable(
        corpus.select($"doc_id", Dedup.simhash($"text").as("simhash")),
        maxHamming = maxHamming)
      .select($"bkey", $"blk", $"bits", $"doc_id").collect()
    rows.groupBy(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .valuesIterator.flatMap { g =>
        val ids = g.map(_.getLong(3)).sorted
        for (i <- ids.indices.iterator; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet.size.toLong
  }

  private def simhashVolumeCorpus(n: Int): org.apache.spark.sql.DataFrame = {
    // spread background (20 tokens from a 5000-word vocab: block collisions
    // rare) + a linear stream of duplicate twins (every 5th doc repeats its
    // predecessor exactly — hamming 0, collision certain) — the shape where
    // candidate growth SHOULD be ~linear in corpus size. Near-dups with a
    // token swapped are NOT used here: 20-token vote margins are small, so
    // a swap can flip arbitrary bits and the collision count turns into a
    // coin flip; recall at radius is pinned by the pigeonhole test above.
    val rnd = new scala.util.Random(7)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until n).foreach { i =>
      if (i % 5 == 4 && texts.nonEmpty) texts += texts.last
      else texts += Seq.fill(20)(s"w${rnd.nextInt(5000)}").mkString(" ")
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text")
  }

  test("simhash block candidates grow ~linearly when the corpus doubles at fixed radius") {
    val small = simhashCandidateVolume(simhashVolumeCorpus(150), maxHamming = 3)
    val large = simhashCandidateVolume(simhashVolumeCorpus(300), maxHamming = 3)
    assert(small > 0, "no candidates at all — twins failed to collide")
    val growth = large.toDouble / small
    // linear would be ~2x, quadratic ~4x; the 16-bit blocks at radius 3
    // keep background collisions near zero, so the twin stream dominates
    assert(growth < 3.0, s"candidate growth $growth ($small -> $large) is " +
      "superlinear — block pruning has collapsed")
  }

  test("simhash radius knob degrades gracefully: volume monotone, collapsing only at the cap") {
    val corpus = simhashVolumeCorpus(200)
    val allPairs = 200L * 199L / 2L
    val vols = Seq(0, 3, 7, 15).map(h => h -> simhashCandidateVolume(corpus, h))
    vols.sliding(2).foreach { case Seq((hA, vA), (hB, vB)) =>
      assert(vA <= vB, s"volume not monotone in radius: h=$hA:$vA > h=$hB:$vB")
    }
    val byH = vols.toMap
    // production radius 3 (16-bit blocks) prunes hard...
    assert(byH(3) < allPairs / 20,
      s"radius-3 volume ${byH(3)} is not a strong prune of $allPairs pairs")
    // ...and the documented degradation at the cap (4-bit blocks barely
    // prune) is real but still strictly below all-pairs
    assert(byH(15) > byH(7), "cap volume did not continue the curve")
    assert(byH(15) < allPairs,
      s"radius-15 volume ${byH(15)} reached all-pairs $allPairs — blocking is inert")
  }

  test("collision-relation shape guards resolve columns like the analyzer (case-insensitive)") {
    // a caller-built table with off-case names must pass the guard exactly
    // when the downstream query would resolve it (spark.sql.caseSensitive
    // defaults to false)
    val offCase = Seq((1L, 0, 7L), (2L, 0, 7L))
      .toDF("DOC_ID", "Band", "BUCKET")
    val pairs = Dedup.bandCandidates(offCase).collect()
    assert(pairs.length == 1 && pairs.head.getLong(0) == 1L)
    // and a genuinely missing column still fails with the builder hint
    val err = intercept[IllegalArgumentException](
      Dedup.bandCandidates(offCase.drop("Band")))
    assert(err.getMessage.contains("minhashTable"))
  }

  test("SQL surface exposes lang_id, simhash and hyperplane_lsh natively") {
    graft.functions.GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_lang_id('le chat est dans la maison')")
      .head().getString(0) == "fr")
    // simhash over a token array; SQL and column forms agree on one text
    val sqlHash = spark.sql(
      "SELECT graft_simhash64(split(trim('the quick brown fox'), '\\\\s+'))")
      .head().getLong(0)
    assert(sqlHash == docs.limit(1)
      .select(Dedup.simhash(lit("the quick brown fox"))).head().getLong(0))
    // lsh buckets: nTables entries, deterministic across invocations
    val b = spark.sql(
      "SELECT graft_hyperplane_lsh(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT)), 4, 3)")
      .head().getSeq[Long](0)
    assert(b.size == 3 && b.forall(x => x >= 0 && x < 16))
    assert(b == spark.sql(
      "SELECT graft_hyperplane_lsh(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT)), 4, 3)")
      .head().getSeq[Long](0))
    // non-literal plane count is rejected with a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT graft_hyperplane_lsh(array(CAST(1.0 AS FLOAT)), CAST(rand() * 4 AS INT))")
        .head()
    }
    assert(e.getMessage.contains("literal"))
    // shingle + minhash compose in SQL and agree with the column forms
    val viaSql = spark.sql(
      "SELECT graft_minhash(graft_shingle_hashes('the quick brown fox jumps', 3), 8)")
      .head().getSeq[Long](0)
    val viaCols = spark.range(1)
      .select(graft.functions.MinHashK(
        Dedup.shingleHashes(lit("the quick brown fox jumps"), 3), 8))
      .head().getSeq[Long](0)
    assert(viaSql == viaCols && viaSql.size == 8)
    // doc fingerprint in SQL agrees with the column form
    assert(spark.sql("SELECT graft_doc_fingerprint('the quick brown fox')")
      .head().getLong(0) ==
      spark.range(1).select(TextStats.fingerprint(lit("the quick brown fox")))
        .head().getLong(0))
    // text metrics / repetition metrics / word ngrams in SQL agree with the
    // column forms
    assert(spark.sql(
        "SELECT m.* FROM (SELECT graft_text_metrics('the quick brown fox') AS m)")
      .head().toSeq ==
      spark.range(1).select(TextStats.metrics(lit("the quick brown fox")).as("m"))
        .select($"m.*").head().toSeq)
    assert(spark.sql("SELECT m.* FROM (SELECT graft_repetition_metrics('a b a') AS m)")
      .head().toSeq ==
      spark.range(1).select(TextStats.repetition(lit("a b a")).as("m"))
        .select($"m.*").head().toSeq)
    assert(spark.sql("SELECT graft_word_ngrams('a b c d', 2)").head().getSeq[String](0) ==
      Seq("a b", "b c", "c d"))
    intercept[Exception] {
      spark.sql("SELECT graft_word_ngrams('a b c', CAST(rand()*2 AS INT))").collect()
    }
    // media header in SQL agrees with the column form (the shared
    // canonical 1x1 PNG, hex-encoded inline)
    val pngHex = Png1x1Hex
    assert(spark.sql(
        s"SELECT m.* FROM (SELECT graft_media_header(unhex('$pngHex')) AS m)")
      .head().toSeq ==
      spark.range(1)
        .select(graft.functions.MediaHeader(unhex(lit(pngHex))).as("m"))
        .select($"m.*").head().toSeq)
    assert(spark.sql("SELECT graft_media_header(CAST('junk' AS BINARY)).error")
      .head().getString(0) == "unknown_format")
    // the media descriptor family in SQL agrees with the column forms —
    // same canonical PNG for the image tier, an inline-encoded WAV for
    // the audio tier (bit-identical structs, defaults and explicit knobs)
    assert(spark.sql(
        s"SELECT m.* FROM (SELECT graft_image_dhash(unhex('$pngHex')) AS m)")
      .head().toSeq ==
      spark.range(1)
        .select(graft.functions.ImageDHash(unhex(lit(pngHex))).as("m"))
        .select($"m.*").head().toSeq)
    val wavHex = graft.functions.WavPcm
      .encodePcm16(8000, 1, Array.tabulate(256)(i => i * 100 - 12800))
      .map("%02X".format(_)).mkString
    assert(spark.sql(
        s"SELECT m.* FROM (SELECT graft_audio_envelope(unhex('$wavHex'), 16) AS m)")
      .head().toSeq ==
      spark.range(1)
        .select(graft.functions.AudioEnvelopeFeature(unhex(lit(wavHex)), 16).as("m"))
        .select($"m.*").head().toSeq)
    assert(spark.sql(
        s"SELECT m.* FROM (SELECT graft_audio_spectral(unhex('$wavHex'), 8) AS m)")
      .head().toSeq ==
      spark.range(1)
        .select(graft.functions.AudioSpectralFeature(unhex(lit(wavHex)), 8).as("m"))
        .select($"m.*").head().toSeq)
    // hostile payloads refuse through SQL exactly like the column form
    // (the canonical 1x1 fixture is RGBA — a REAL decode since the r17
    // alpha widening, so the refusal moved downstream to the descriptor
    // families' tiny-image gate; the loud error IS the parity check)
    assert(spark.sql(
        s"SELECT graft_image_grid(unhex('$pngHex')).error").head().getString(0)
      == "image_too_small")
    assert(spark.sql(
        s"SELECT graft_image_spectral(unhex('$pngHex'), 3).error").head().getString(0)
      == "image_too_small")
    // a foldable NULL parameter gets the clear literal-integer message,
    // not a bare NPE out of the analyzer
    val nullLit = intercept[Exception] {
      spark.sql("SELECT graft_word_ngrams('a b c', CAST(NULL AS INT))").collect()
    }
    assert(causeChain(nullLit).exists(t =>
      Option(t.getMessage).exists(_.contains("literal integer"))), nullLit.toString)
  }

  test("vector natives: null array slots fail loudly, never read as 0") {
    import graft.functions.{HyperplaneLsh, MinHashK, NearestCentroid}
    def msgHas(t: Throwable, s: String): Boolean =
      causeChain(t).exists(x => Option(x.getMessage).exists(_.contains(s)))
    // a null element would read as 0.0/0L through the unsafe getters —
    // plausible-but-wrong scores/buckets/signatures with no error (the
    // PqAdc null-slot contract, applied to the rest of the family)
    val holey = Seq((1L, Seq[java.lang.Float](1.0f, null, 3.0f)))
      .toDF("id", "v")
    val dotE = intercept[Exception](
      holey.select(Similarity.dot($"v", $"v")).collect())
    assert(msgHas(dotE, "graft_dot: null element"), dotE.toString)
    val ncE = intercept[Exception](
      holey.select(NearestCentroid($"v", Array(Array(1.0, 0.0, 0.0)))).collect())
    assert(msgHas(ncE, "nearest_centroid: null element"), ncE.toString)
    val lshE = intercept[Exception](
      holey.select(HyperplaneLsh($"v", 4, 1)).collect())
    assert(msgHas(lshE, "hyperplane_lsh: null element"), lshE.toString)
    // MinHashK: a null shingle hash is a phantom shingle; an empty array
    // would be one shared sentinel signature banding all empty docs
    val holeyHashes = Seq((1L, Seq[java.lang.Long](42L, null)))
      .toDF("id", "sh")
    val mhE = intercept[Exception](
      holeyHashes.select(MinHashK($"sh", 4)).collect())
    assert(msgHas(mhE, "minhash_k: null shingle hash"), mhE.toString)
    val emptyE = intercept[Exception](
      Seq((1L, Seq.empty[Long])).toDF("id", "sh")
        .select(MinHashK($"sh", 4)).collect())
    assert(msgHas(emptyE, "minhash_k: empty shingle array"), emptyE.toString)
  }

  test("PqAdc: geometry mismatches fail loudly, never mis-score") {
    import graft.functions.PqAdc
    def msgHas(t: Throwable, s: String): Boolean =
      causeChain(t).exists(x => Option(x.getMessage).exists(_.contains(s)))
    val tab = (0 until 8).map(_.toDouble) // m=2 subvectors, k=4 entries each
    assert(Seq(Seq(1, 3)).toDF("codes").select(PqAdc($"codes", tab, 4))
      .head().getDouble(0) == 1.0 + 7.0)
    // codes from a different m (3 codes vs the m=2 table): loud, not a
    // partial sum over someone else's subvector entries
    val badM = intercept[Exception](
      Seq(Seq(1, 2, 3)).toDF("codes").select(PqAdc($"codes", tab, 4)).collect())
    assert(msgHas(badM, "pq_adc"), badM.toString)
    // a code value from a larger codebook (5 >= k=4): loud, not a read
    // into the next subvector's table block
    val badK = intercept[Exception](
      Seq(Seq(1, 5)).toDF("codes").select(PqAdc($"codes", tab, 4)).collect())
    assert(msgHas(badK, "pq_adc"), badK.toString)
    // a null element: getInt would read 0 — a valid-looking wrong code
    val badNull = intercept[Exception](
      Seq(Seq[Integer](1, null)).toDF("codes")
        .select(PqAdc($"codes", tab, 4)).collect())
    assert(msgHas(badNull, "pq_adc"), badNull.toString)
  }

  test("SQL surface exposes the sampling family (graft_hash_split, graft_mixture_keep)") {
    graft.functions.GraftExtensions.register(spark)
    val ids = spark.range(2000).select($"id")
    ids.createOrReplaceTempView("sampling_ids")
    // hash_split: SQL and column forms assign every row identically, at
    // the defaults and at explicit percentages
    val viaSql = spark.sql(
      "SELECT id, graft_hash_split(id) AS s, graft_hash_split(id, 0.5, 0.25) AS s2 " +
        "FROM sampling_ids").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val viaCols = ids.select($"id", Sampling.hashSplit($"id").as("s"),
        Sampling.hashSplit($"id", 0.5, 0.25).as("s2")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(viaSql.toSeq == viaCols.toSeq)
    assert(viaSql.map(_._2).toSet == Set("train", "val", "test"))
    // mixture_keep: same kept set as the column predicate, and nested
    // (raising the rate only grows the kept set)
    val keptSql = spark.sql(
      "SELECT id FROM sampling_ids WHERE graft_mixture_keep(id, 0.35)")
      .collect().map(_.getLong(0)).toSet
    val keptCols = ids.filter(Sampling.mixtureKeep($"id", 0.35))
      .collect().map(_.getLong(0)).toSet
    assert(keptSql == keptCols && keptSql.nonEmpty)
    val keptMore = spark.sql(
      "SELECT id FROM sampling_ids WHERE graft_mixture_keep(id, 0.7)")
      .collect().map(_.getLong(0)).toSet
    assert(keptSql.subsetOf(keptMore))
    // invalid literals fail loudly through the same validation as the
    // column forms; non-literal rates are rejected
    intercept[Exception] {
      spark.sql("SELECT graft_hash_split(id, 0.9, 0.2) FROM sampling_ids").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT graft_mixture_keep(id, rand()) FROM sampling_ids").collect()
    }
  }

  test("Similarity: ANN buckets are deterministic and recall is measurable") {
    val emb = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat))).toDF("vec_id", "embedding")
    val exact = Similarity.topKById(emb, 0L, 5).collect().map(_.getLong(0)).toSet
    val ann = Similarity.topKById(emb, 0L, 5, Probe.Lsh(nPlanes = 2))
      .collect().map(_.getLong(0)).toSet
    assert(ann.nonEmpty)
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.2) // probe-1 LSH trades recall for scan reduction
  }

  test("Ivf: deterministic k-means separates clusters; probe-1 recall is total") {
    // two tight clusters around orthogonal anchors
    val rnd = new scala.util.Random(5)
    def near(base: Array[Float]) = base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val emb = ((0L until 20L).map(i => (i, near(a))) ++
      (20L until 40L).map(i => (i, near(b)))).toDF("vec_id", "embedding")
    val cents = Ivf.trainCentroids(emb, k = 2, iters = 4)
    assert(cents.length == 2)
    // training is deterministic on any partitioning
    val again = Ivf.trainCentroids(emb.repartition(7), k = 2, iters = 4)
    assert(cents.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // assignment puts each cluster's members in one cell
    val assigned = Ivf.assign(emb, cents).select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0L until 20L).map(assigned).toSet.size == 1)
    assert((20L until 40L).map(assigned).toSet.size == 1)
    assert(assigned(0L) != assigned(39L))
    // probing ONE cell already recovers the exact top-k (query in cluster A)
    val exact = Similarity.topKById(emb, 3L, 5)
      .collect().map(_.getLong(0)).toSeq
    val ivf = Similarity.topKById(emb, 3L, 5, Probe.Ivf(cents, nProbe = 1))
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == exact)
    // and the probed scan touched only the query's cell
    assert(Ivf.assign(emb, cents).filter($"cluster" === assigned(3L)).count() == 20)
  }

  test("TopKAgg handles NaN, signed zero, and ties like the engines' DESC sort") {
    import graft.functions.{Scored, TopKAgg}
    val agg = new TopKAgg(3)
    def run(xs: Seq[Scored]): Seq[Long] =
      agg.finish(xs.foldLeft(agg.zero)(agg.reduce)).map(_.id)
    // NaN sorts largest (Spark/DuckDB semantics), regardless of arrival order
    val withNaN = Seq(Scored(1, 0.5), Scored(2, Double.NaN), Scored(3, 0.9))
    assert(run(withNaN) == Seq(2L, 3L, 1L))
    assert(run(withNaN.reverse) == Seq(2L, 3L, 1L))
    // -0.0 ties with 0.0 and the id breaks it, on either arrival order.
    // The -0.0 row carries the SMALLER id on purpose: a raw
    // Double.compare (which ranks 0.0 above -0.0) would emit (5,4) here,
    // while the normalized tie-break emits (4,5) — with the ids swapped
    // both implementations would produce the same output and the
    // regression TopK.scala warns about would be invisible.
    assert(run(Seq(Scored(4, -0.0), Scored(5, 0.0))) == Seq(4L, 5L))
    assert(run(Seq(Scored(5, 0.0), Scored(4, -0.0))) == Seq(4L, 5L))
    // merge of partial buffers equals the single-pass reduction
    val all = Seq(Scored(1, 0.1), Scored(2, 0.9), Scored(3, 0.9),
      Scored(4, 0.5), Scored(5, 0.7))
    val (l, r) = all.splitAt(2)
    val merged = agg.finish(agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
    assert(merged.map(_.id) == run(all))
    assert(merged.map(_.id) == Seq(2L, 3L, 5L))
  }

  test("zero-norm vectors score NULL, not an ANSI divide-by-zero job abort") {
    // an all-zero embedding makes the cosine denominator 0.0, and this
    // Spark build's ANSI mode raises DIVIDE_BY_ZERO for double division —
    // the nullif guard scores such rows NULL (DuckDB's own x/0 value) and
    // they sort to the bottom of the DESC top-k instead of killing the job
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.topK(emb, Array(1.0, 0.0), k = 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(top(2).isNullAt(1)) // the zero vector's score is NULL
    // and a zero QUERY vector degrades to all-NULL scores, no abort
    val zq = Similarity.topK(emb, Array(0.0, 0.0), k = 3).collect()
    assert(zq.length == 3 && zq.forall(_.isNullAt(1)))
  }

  test("Ivf probe: a centroid/query dim mismatch fails loudly, never truncates") {
    // stale 3-dim centroids against a 2-dim query: the driver-side probe
    // must raise (a min(len) loop would argmin over truncated distances
    // and return a silently wrong cell set — NearestCentroid's contract)
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val e = intercept[IllegalArgumentException](
      Similarity.topK(emb, Array(1.0, 0.0), k = 1, Probe.Ivf(cents)))
    assert(e.getMessage.contains("dim mismatch"))
  }

  test("batched top-k equals per-query exact results and is partitioning-invariant") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 80L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val qids = Seq(0L, 1L, 2L)
    val qvs = Similarity.vectors(emb, qids)
    val batch = Similarity.topKBatch(emb, qvs, k = 5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // the single-query TakeOrdered form is the reference semantics
    val perQuery = qids.flatMap(q =>
      Similarity.topKById(emb, q, 5).collect()
        .map(r => (q, r.getLong(0), r.getDouble(1))))
    assert(batch == perQuery)
    // the bounded-heap partial aggregation must not depend on row layout
    val again = Similarity.topKBatch(emb.repartition(13), qvs, 5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(again == batch)
    // ANN batch trades recall for bucket pruning, measurably
    val ann = Similarity.topKBatch(emb, qvs, 5, Probe.Lsh(nPlanes = 2), excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.nonEmpty)
    val recall = ann.intersect(batch.map(t => (t._1, t._2)).toSet).size.toDouble / batch.size
    assert(recall >= 0.2, s"recall $recall")
  }

  test("multi-probe ANN: driver buckets match the expression; recall grows with probes") {
    val rnd = new scala.util.Random(3)
    val emb = (0L until 200L).map(i => (i, Array.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // driver-side bucket derivation is bit-identical to the expression
    val expBuckets = emb
      .select($"vec_id", Similarity.lshBucket($"embedding", 5).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    emb.collect().foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val driverB = graft.functions.HyperplaneLsh.bucketOf(
        graft.functions.HyperplaneLsh.projections(v, 5))
      assert(driverB == expBuckets(r.getLong(0)), s"bucket mismatch @${r.getLong(0)}")
    }
    // more probes => recall monotonically approaches the exact answer
    val exact = Similarity.topKById(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    def recall(nProbe: Int): Double = {
      val got = Similarity.topKById(emb, 0L, 10, Probe.Lsh(nPlanes = 5, nProbe = nProbe))
        .collect().map(_.getLong(0)).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val r1 = recall(1); val r3 = recall(3); val r6 = recall(6)
    assert(r1 <= r3 + 1e-9 && r3 <= r6 + 1e-9, s"recall not monotone: $r1 $r3 $r6")
    assert(r6 > r1, s"probing more buckets bought nothing: $r1 -> $r6")
    // nProbe = 1 scores exactly the query's own scan-side bucket
    val single = Similarity.topKById(
      emb.filter(Similarity.lshBucket($"embedding", 5) === expBuckets(0L)), 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mp1 = Similarity.topKById(emb, 0L, 10, Probe.Lsh(nPlanes = 5, nProbe = 1))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(single == mp1)
  }

  test("persisted-bucket ANN: bit-identical to the inline forms; probe prunes partitions") {
    val rnd = new scala.util.Random(7)
    val emb = (0L until 200L).map(i => (i, Array.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val qv = emb.filter($"vec_id" === 0L).head().getSeq[Float](1).map(_.toDouble).toArray

    // bucket-PARTITIONED corpus: search equals the inline-hashed corpus
    // bit-for-bit, and the probe IN-filter prunes to exactly nProbe cells
    val root = java.nio.file.Files.createTempDirectory("graft-annp").toString
    val catalog = new graft.core.Catalog(spark, root)
    catalog.save(emb.withColumn("bucket", Similarity.lshBucket($"embedding", 3)),
      "vectors.bucketed", partitionBy = Seq("bucket"))
    val corpus = catalog.load("vectors.bucketed")
    val probes = Similarity.probeSet(qv, nPlanes = 3, nProbe = 2)
    assert(probes.size == 2 && probes.distinct.size == 2)
    val persisted = Similarity.topK(corpus, qv, k = 10,
      Probe.Lsh(nPlanes = 3, nProbe = 2), excludeId = Some(0L))
    val inline = Similarity.topK(emb, qv, k = 10,
      Probe.Lsh(nPlanes = 3, nProbe = 2), excludeId = Some(0L))
    assert(persisted.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      inline.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val scans = persisted.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty, "no partition-filtered scan in the persisted probe plan")
    assert(scans.exists(_.selectedPartitions.partitionCount == 2),
      s"scan read ${scans.map(_.selectedPartitions.partitionCount)} partitions, want nProbe=2")

    // stored-column corpus: the batched join on the persisted bucket equals
    // the inline re-hash of a corpus without it (same TopKAgg reduction,
    // same ordering)
    catalog.save(emb.withColumn("bucket", Similarity.lshBucket($"embedding", 2)),
      "vectors.stored")
    val stored = catalog.load("vectors.stored")
    val batchP = Similarity.topKBatch(stored, Similarity.vectors(stored, 0L until 8L),
      k = 10, Probe.Lsh(nPlanes = 2), excludeSelf = true)
    val batchI = Similarity.topKBatch(emb, Similarity.vectors(emb, 0L until 8L),
      k = 10, Probe.Lsh(nPlanes = 2), excludeSelf = true)
    assert(batchP.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      batchI.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("Ivf: missing queryId degrades to empty; partitioned probe prunes to nProbe cells") {
    val emb = threeClusterEmb
    val cents = threeClusterCents

    // a missing queryId degrades to an empty sibling-shaped result, no throw
    val missing = Similarity.topKById(emb, 9999L, k = 5, Probe.Ivf(cents))
    assert(missing.columns.toSeq == Seq("vec_id", "cosine_sim"))
    assert(missing.count() == 0)

    // cluster-partitioned write + reload: the probe filter hits the stored
    // partition column and the scan reads ONLY the nProbe cell directories
    val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val catalog = new graft.core.Catalog(spark, root)
    catalog.save(Ivf.assign(emb, cents), "vectors.clustered", partitionBy = Seq("cluster"))
    val clustered = catalog.load("vectors.clustered")
    val pruned = Similarity.topKById(clustered, 3L, k = 5, Probe.Ivf(cents, nProbe = 2))
    val full = Similarity.topKById(emb, 3L, k = 5, Probe.Ivf(cents, nProbe = 2))
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      full.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty, "no partition-filtered scan in the pruned probe plan")
    assert(scans.exists(_.selectedPartitions.partitionCount == 2),
      s"scan read ${scans.map(_.selectedPartitions.partitionCount)} partitions, want nProbe=2")
    assert(Similarity.topKById(clustered, 9999L, 5, Probe.Ivf(cents)).count() == 0)

    // an unclustered corpus is rejected with a clear message, not a
    // confusing unresolved-column analysis error
    val e = intercept[IllegalArgumentException] {
      Ivf.ivfTopKPartitionedVec(emb, cents, Similarity.vectors(emb, Seq(3L)).head._2, 5)
    }
    assert(e.getMessage.contains("cluster"))
  }

  test("ivf appendAssign: maintained corpus searches exactly like a retrain; ledger gates rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val cat = new graft.core.Catalog(spark, root)
    // train on HALF the three-cluster fixture, cluster-write that half,
    // append the other half against the PERSISTED centroids — no retrain
    val evens = threeClusterEmb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odds = threeClusterEmb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val cents = Ivf.trainCentroids(evens, k = 3, iters = 4)
    Ivf.saveCentroids(cat, "ann.ap_centroids", cents)
    cat.save(Ivf.assign(evens, cents), "ann.ap_corpus", partitionBy = Seq("cluster"))
    Ivf.saveLedger(cat, "ann.ap_ledger",
      Ivf.IvfLedger(evens.count(), 0L, maxAppendFraction = 0.5))
    val appended = Ivf.appendAssign(cat, "ann.ap_corpus", "ann.ap_centroids",
      odds, ledgerRef = "ann.ap_ledger")
    assert(appended == odds.count())
    // the union is all 60 vectors, appended rows in the right partitions
    val corpus = cat.load("ann.ap_corpus")
    assert(corpus.count() == 60)

    // BELOW the drift threshold (iid appends: the quantizer has seen every
    // regime), the maintained index's search EQUALS a full retrain's: the
    // well-separated fixture assigns identically under both quantizers, so
    // probe sets carry the same members and the exact rerank scores them
    // bit-identically
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val maintained = res(Similarity.topKById(corpus, 2L, k = 5,
      Probe.Ivf(Ivf.loadCentroids(cat, "ann.ap_centroids"), nProbe = 1)))
    val retrainCents = Ivf.trainCentroids(threeClusterEmb, k = 3, iters = 4)
    val retrained = res(Similarity.topKById(threeClusterEmb, 2L, k = 5,
      Probe.Ivf(retrainCents, nProbe = 1)))
    assert(maintained == retrained,
      s"append-maintained search diverged from retrain: $maintained vs $retrained")
    assert(maintained.nonEmpty)
    // recall meter: on the seen-regime union both quantizers are exact
    assert(Ivf.measureRecall(corpus, cents, k = 5, nProbe = 1, nQueries = 8) == 1.0)

    // the ledger accumulated the append and trips the measured threshold
    val l = Ivf.loadLedger(cat, "ann.ap_ledger")
    assert(l == Ivf.IvfLedger(30L, 30L, 0.5) && l.appendFraction == 1.0)
    assert(Ivf.shouldRebuild(l))
    assert(!Ivf.shouldRebuild(Ivf.IvfLedger(30L, 10L, 0.5)))
    assert(Ivf.shouldRebuild(Ivf.IvfLedger(0L, 1L, 0.5))) // untrained ledger
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("ivfpq appendAssignEncode: composed maintenance equals a direct rebuild; one ledger bump") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq-append").toString
    val cat = new graft.core.Catalog(spark, root)
    // train BOTH quantizers on HALF, write the composed artifact (cluster
    // partitions + codes), append the other half in ONE maintenance call
    val evens = threeClusterEmb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odds = threeClusterEmb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val cents = Ivf.trainCentroids(evens, k = 3, iters = 4)
    val cb = Pq.trainCodebooks(evens, m = 4, k = 8, iters = 3)
    Ivf.saveCentroids(cat, "ann.cpa_centroids", cents)
    Pq.saveCodebooks(cat, "ann.cpa_codebooks", cb)
    cat.save(Pq.encode(Ivf.assign(evens, cents), cb), "ann.cpa_corpus",
      partitionBy = Seq("cluster"))
    Ivf.saveLedger(cat, "ann.cpa_ledger",
      Ivf.IvfLedger(evens.count(), 0L, maxAppendFraction = 0.5))
    val appended = Pq.appendAssignEncode(cat, "ann.cpa_corpus",
      "ann.cpa_centroids", "ann.cpa_codebooks", odds,
      ledgerRef = "ann.cpa_ledger")
    assert(appended == odds.count())

    // appended rows are BIT-IDENTICAL to a direct assign+encode of the
    // same rows under the same persisted quantizers — both reductions
    val maintained = cat.load("ann.cpa_corpus")
    assert(maintained.count() == 60)
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("cluster"), r.getSeq[Int](r.fieldIndex("codes")))).toMap
    val direct = codesOf(Pq.encode(Ivf.assign(threeClusterEmb, cents), cb)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"), col("codes")))
    val stored = codesOf(maintained
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"), col("codes")))
    assert(stored == direct, "composed append diverged from direct assign+encode")

    // the composed SEARCH over the maintained artifact equals the direct
    // (no-catalog) composed search — probe pruning, ADC shortlist, and
    // exact rerank all read the appended rows identically
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qv = threeClusterEmb.filter($"vec_id" === 2L)
      .collect()(0).getSeq[Float](1).map(_.toDouble).toArray
    val servedMaintained = res(Pq.ivfPqTopKVec(
      maintained.filter($"vec_id" =!= 2L),
      Ivf.loadCentroids(cat, "ann.cpa_centroids"),
      Pq.loadCodebooks(cat, "ann.cpa_codebooks"),
      qv, topK = 5, nProbe = 1, shortlist = 4))
    val servedDirect = res(Pq.ivfPqTopKVec(
      Pq.encode(Ivf.assign(threeClusterEmb, cents), cb).filter($"vec_id" =!= 2L),
      cents, cb, qv, topK = 5, nProbe = 1, shortlist = 4))
    assert(servedMaintained == servedDirect && servedMaintained.nonEmpty,
      s"composed maintained search diverged: $servedMaintained vs $servedDirect")

    // ONE shared ledger, bumped ONCE per appended row set (both
    // quantizers age together): the composed artifact trips rebuild
    val l = Ivf.loadLedger(cat, "ann.cpa_ledger")
    assert(l == Ivf.IvfLedger(30L, 30L, 0.5) && Ivf.shouldRebuild(l))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("pq appendEncode: appended codes are bit-identical to a re-encode; ledger gates rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft-pq-append").toString
    val cat = new graft.core.Catalog(spark, root)
    // train on HALF the fixture, encode+write that half, append the other
    // half against the PERSISTED codebooks — no retrain
    val evens = threeClusterEmb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odds = threeClusterEmb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val cb = Pq.trainCodebooks(evens, m = 4, k = 8, iters = 3)
    Pq.saveCodebooks(cat, "ann.pqa_codebooks", cb)
    cat.save(Pq.encode(evens, cb), "ann.pqa_corpus")
    Ivf.saveLedger(cat, "ann.pqa_ledger",
      Ivf.IvfLedger(evens.count(), 0L, maxAppendFraction = 0.5))
    val appended = Pq.appendEncode(cat, "ann.pqa_corpus", "ann.pqa_codebooks",
      odds, ledgerRef = "ann.pqa_ledger")
    assert(appended == odds.count())
    val corpus = cat.load("ann.pqa_corpus")
    assert(corpus.count() == 60)

    // encode is deterministic given the codebooks: the append-maintained
    // codes table equals a one-shot encode of the WHOLE corpus, code for
    // code — so every downstream ADC scan is bit-identical by construction
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codesOf(corpus) == codesOf(Pq.encode(threeClusterEmb, cb)))

    // and the served search over the maintained artifact equals the
    // re-encoded one's end to end (Catalog round-trip included)
    def vecOf(id: Long): Array[Double] = threeClusterEmb
      .filter($"vec_id" === id).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qv = vecOf(2L)
    val reloaded = Pq.loadCodebooks(cat, "ann.pqa_codebooks")
    assert(res(Pq.pqTopKVec(corpus.filter($"vec_id" =!= 2L), qv, reloaded, 5)) ==
      res(Pq.pqTopKVec(Pq.encode(threeClusterEmb, cb).filter($"vec_id" =!= 2L),
        qv, cb, 5)))

    // the drift meter runs on the maintained artifact. ADC-only recall on
    // this tiny fixture under m=4/k=8 codebooks is moderate by NATURE
    // (the q67 convention pins ADC >= 0.3 and lets rerank recover
    // exactness — dot-truth vs L2-ADC ordering mismatch, the r14
    // measured lesson); the meter's job here is to RUN on the maintained
    // artifact and return a sane fraction
    val meter = Pq.measureRecall(corpus, reloaded, k = 5, nQueries = 8)
    assert(meter >= 0.3 && meter <= 1.0, s"ADC drift meter read $meter")

    // codes from FOREIGN codebooks fail the shape guard loudly (r16
    // advice): a stale-encoded corpus + retrained codebooks would index
    // the ADC tables with codes the tables don't describe
    val foreignK = Pq.Codebooks(
      Array.fill(reloaded.m)(Array.fill(1)(Array.fill(reloaded.subDim)(0.0))),
      reloaded.subDim) // k=1: any nonzero stored code index trips the guard
    intercept[IllegalArgumentException] {
      Pq.measureRecall(corpus, foreignK, k = 5, nQueries = 8)
    }
    val foreignM = Pq.Codebooks(
      reloaded.books ++ reloaded.books, reloaded.subDim) // 2m subvectors
    intercept[IllegalArgumentException] {
      Pq.measureRecall(corpus, foreignM, k = 5, nQueries = 8)
    }
    // RAGGED codes whose MAX size happens to equal cb.m (partial
    // re-encodes with fewer subvectors) must fail as loudly (r17 advice)
    val ragged = corpus.withColumn("codes",
      when($"vec_id" === 1L, slice($"codes", 1, reloaded.m - 1))
        .otherwise($"codes"))
    val raggedEx = intercept[IllegalArgumentException] {
      Pq.measureRecall(ragged, reloaded, k = 5, nQueries = 8)
    }
    assert(raggedEx.getMessage.contains("ragged"))

    // the shared ledger accumulated the append and trips the threshold
    val l = Ivf.loadLedger(cat, "ann.pqa_ledger")
    assert(l == Ivf.IvfLedger(30L, 30L, 0.5) && Ivf.shouldRebuild(l))

    // an empty query sample fails LOUDLY in both drift meters: a
    // vacuously-false appended-only filter reporting recall 1.0 would be
    // indistinguishable from a healthy index (the monitoring trap)
    intercept[IllegalArgumentException] {
      Pq.measureRecall(corpus, reloaded, k = 5, nQueries = 8,
        queryFilter = lit(false))
    }
    intercept[IllegalArgumentException] {
      Ivf.measureRecall(threeClusterEmb, threeClusterCents, k = 5,
        nQueries = 8, queryFilter = lit(false))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("vector-first entry points are bit-identical to id forms; serving plan is lookup-free") {
    val emb = threeClusterEmb
    val cents = threeClusterCents
    // hold the query vector the way a serving caller would: as doubles
    def vecOf(id: Long): Array[Double] = emb.filter($"vec_id" === id)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val qid = 3L
    val qv = vecOf(qid)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // every probe kind: the id form delegates to the vector form, and the
    // vector form with the id's exclusion returns bit-identical rows
    val probes = Seq(Probe.All, Probe.Lsh(nPlanes = 4), Probe.Lsh(nPlanes = 4, nProbe = 3),
      Probe.Ivf(cents, nProbe = 2))
    probes.foreach { p =>
      assert(rows(Similarity.topK(emb, qv, 5, p, excludeId = Some(qid))) ==
        rows(Similarity.topKById(emb, qid, 5, p)), s"id form diverged under $p")
    }
    // a truly external vector keeps its corpus twin: no exclusion → the
    // twin surfaces at cosine 1.0
    assert(rows(Similarity.topK(emb, qv, 1)).head == ((qid, 1.0)))

    // batch form: per query, exactly the single-query rows, scores and all
    val qids = Seq(0L, 21L)
    val qvs = qids.map(q => q -> vecOf(q))
    def rows3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    probes.foreach { p =>
      val single = qvs.flatMap { case (q, v) =>
        rows(Similarity.topK(emb, v, 5, p, excludeId = Some(q)))
          .map { case (id, sc) => (q, id, sc) }
      }
      assert(rows3(Similarity.topKBatch(emb, qvs, 5, p, excludeSelf = true)) == single,
        s"batch form diverged under $p")
    }

    // the 100 TB serving shape: cluster-partitioned corpus + external
    // vector. The WHOLE plan holds exactly ONE file scan, pruned to the
    // nProbe probed cell directories — no id lookup anywhere
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-vec").toString
    val catalog = new graft.core.Catalog(spark, root)
    catalog.save(Ivf.assign(emb, cents), "vectors.clustered", partitionBy = Seq("cluster"))
    val clustered = catalog.load("vectors.clustered")
    val served = Ivf.ivfTopKPartitionedVec(clustered, cents, qv, 5, nProbe = 2,
      excludeId = Some(qid))
    assert(rows(served) ==
      rows(Similarity.topKById(clustered, qid, 5, Probe.Ivf(cents, nProbe = 2))))
    val allScans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(allScans.length == 1,
      s"serving plan has ${allScans.length} file scans, want exactly 1 (no lookup)")
    assert(allScans.head.selectedPartitions.partitionCount == 2,
      s"read ${allScans.head.selectedPartitions.partitionCount} partitions, want nProbe=2")
  }

  test("Ivf batch: per-query equality, persisted centroids, pruned clustered probe") {
    val emb = threeClusterEmb
    val cents = threeClusterCents
    val qids = Seq(0L, 21L)

    // the batch reduction returns exactly the per-query results, scores and all
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = rows(Similarity.topKBatch(emb, Similarity.vectors(emb, qids), k = 5,
      Probe.Ivf(cents, nProbe = 1), excludeSelf = true))
    val perQuery = qids.flatMap(q =>
      Similarity.topKById(emb, q, 5, Probe.Ivf(cents, nProbe = 1)).collect()
        .map(r => (q, r.getLong(0), r.getDouble(1))))
    assert(batch == perQuery)

    // recall vs the exact batched baseline (q47 form): tight clusters and a
    // same-cluster probe recover the exact answer in full
    val exactB = Similarity.topKBatch(emb, Similarity.vectors(emb, qids), 5,
      excludeSelf = true).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotB = batch.map(t => (t._1, t._2)).toSet
    assert(exactB.intersect(gotB).size.toDouble / exactB.size >= 0.99)

    // all-missing query ids degrade to an empty result, no throw
    assert(Similarity.topKBatch(emb, Similarity.vectors(emb, Seq(9999L)), 5,
      Probe.Ivf(cents), excludeSelf = true).count() == 0)

    // centroids round-trip the Catalog bit-identically (doubles in parquet)
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-batch").toString
    val catalog = new graft.core.Catalog(spark, root)
    Ivf.saveCentroids(catalog, "models.centroids", cents)
    val loaded = Ivf.loadCentroids(catalog, "models.centroids")
    assert(loaded.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)

    // batched probe over the cluster-partitioned corpus (stored column)
    // with RELOADED centroids: the same rows as the corpus without the
    // column, and the scan prunes to the union of probed cells (2 of 3
    // partition directories for these two queries)
    catalog.save(Ivf.assign(emb, cents), "vectors.clustered", partitionBy = Seq("cluster"))
    val clustered = catalog.load("vectors.clustered")
    val prunedBatch = Similarity.topKBatch(clustered, Similarity.vectors(clustered, qids),
      5, Probe.Ivf(loaded, nProbe = 1), excludeSelf = true)
    assert(rows(prunedBatch) == batch)
    val scans = prunedBatch.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty, "no partition-filtered scan in the batched probe plan")
    assert(scans.exists(_.selectedPartitions.partitionCount == 2),
      s"scan read ${scans.map(_.selectedPartitions.partitionCount)} partitions, want 2")
  }

  test("q52 salted aggregation shuffles on (key, salt) first, key second") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val df = graft.queries.ExtQ.defs("q52_skewed_hot_key_agg")
      .spark(spark, "/root/testdata/sf0.001")
    // the plan must carry the two-phase shape: a partial-aggregate exchange
    // keyed by (event_type, __salt) — the hot-key spreading — then the
    // final exchange keyed by event_type alone. Exchanges are inserted by
    // EnsureRequirements, so read the executedPlan's printed exchanges
    // (sparkPlan predates them; AQE hides children from collect).
    val parts = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(parts.exists(p => p.contains("__salt") && p.contains("event_type")),
      s"no (key, salt) exchange in plan: $parts")
    assert(parts.exists(p => p.contains("event_type") && !p.contains("__salt")),
      s"no final key-only exchange in plan: $parts")
    // and salting does not change the answer (the oracle checks this at
    // sf0.01 — here just pin the row shape)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("click", "error", "purchase", "signup", "view"))
    val purchase = rows.find(_.getString(0) == "purchase").get
    assert(purchase.getLong(1) > rows.find(_.getString(0) == "click").get.getLong(1) * 50,
      "hot key is not actually hot")
  }

  test("Similarity.nearDupPairsLsh finds true near-dups through bucket pruning") {
    val emb = Seq(
      (0L, Array(1.0f, 0.01f, 0.0f)),
      (1L, Array(0.99f, 0.02f, 0.0f)),  // near-dup of 0
      (2L, Array(0.0f, 1.0f, 0.2f)),
      (3L, Array(-0.5f, -0.5f, 0.7f))).toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairsLsh(emb, threshold = 0.9, nPlanes = 2, nTables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((0L, 1L)))
    assert(lsh == exact) // near-identical vectors always share buckets
  }

  test("nearDupPairsLsh plan has no cartesian product / nested-loop join") {
    val emb = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(j => math.cos(i * 3.0 + j).toFloat))).toDF("vec_id", "embedding")
    val plan = Similarity.nearDupPairsLsh(emb, threshold = 0.45)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the exact form IS the cartesian scan — the point of the LSH swap
    val exactPlan = Similarity.nearDupPairs(emb, threshold = 0.45)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("CartesianProduct") ||
      exactPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("multi-table LSH OR-amplification recovers low-cosine pairs single tables miss") {
    // pairs just above a 0.45 threshold (theta ~ 63deg) collide per 2-bit
    // table with p ~ 0.42; 16 tables amplify recall to ~1 - 0.58^16 > 0.999
    val rnd = new scala.util.Random(7)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val emb = ((0L until 40L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))
    } :+ (98L, base) :+ (99L, base.zipWithIndex.map { case (x, j) =>
      // mix with noise to land near the 0.45-0.6 cosine band
      (0.6f * x + 0.9f * (if (j % 2 == 0) 1 else -1) * math.abs(rnd.nextGaussian()).toFloat)
    })).toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(emb, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairsLsh(emb, threshold = 0.45, nPlanes = 2, nTables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact) // deterministic full recall at these parameters
  }

  test("embedding LSH bucket table: bucketed self-join exchange-free, equals inline") {
    val rnd = new scala.util.Random(13)
    def near(base: Array[Float]) = base.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val anchor = Array.fill(8)(rnd.nextGaussian().toFloat)
    val emb = ((0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat))) ++
      Seq((100L, near(anchor)), (101L, near(anchor))))
      .toDF("vec_id", "embedding")
    val cat = new graft.core.Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft-lshtbl").toString)
    val tb = cat.saveBucketed(
      Similarity.lshTable(emb, nPlanes = 3, nTables = 4), "lsh.buckets", "ckey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // ckey is the only equi-key (tbl/bucket ride as XOR residuals), so
      // the ckey-bucketed scans co-locate: no collision-key exchange
      val cand = Similarity.lshCandidatesFromTable(spark.table(tb))
      val plan = cand.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("hashpartitioning(ckey"),
        s"bucketed LSH self-join still shuffles on the collision key:\n$plan")
      val got = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Similarity.lshCandidates(emb, nPlanes = 3, nTables = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"got=$got want=$want")
      assert(got.contains((100L, 101L)), "planted near-dup pair missing from candidates")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sharedState.cacheManager.clearCache()
  }

  test("lshParams scales planes with corpus size and respects the table cap") {
    // bigger corpus => more planes (deeper pruning), tables re-solved for recall
    val (pSmall, _) = Similarity.lshParams(1000L, 0.9)
    val (pBig, tBig) = Similarity.lshParams(1000000000L, 0.9)
    assert(pBig > pSmall)
    assert(tBig <= 64)
    // loose threshold over a huge corpus: planes get dropped (recall beats
    // pruning) rather than tables silently blowing past the cap
    val (pLoose, tLoose) = Similarity.lshParams(1000000000L, 0.45)
    assert(pLoose <= pBig && tLoose <= 64)
    // recall formula holds at the returned params
    val p = 1.0 - math.acos(0.9) / math.Pi
    assert(1.0 - math.pow(1.0 - math.pow(p, pBig), tBig) >= 0.98 - 1e-9)
  }

  test("lshParams deepens past the corpus floor in the loose regime when the cap allows") {
    // n=2000 at threshold 0.45 (the q42 shape at sf0.1): the bucket-rows
    // floor is 2 planes, but the cost proxy buys deeper buckets with more
    // tables — the raw bucket-join volume (Σ|bucket|² per table) nearly
    // halves, measured 3.5 s → 2.4 s on the sf0.1 sweep (round 8)
    val (k, t) = Similarity.lshParams(2000L, 0.45, targetRecall = 0.999)
    assert(k > 2, s"expected deeper than the 2-plane floor, got $k")
    assert(t <= 64)
    // recall is still solved at the deeper depth
    val p45 = 1.0 - math.acos(0.45) / math.Pi
    assert(1.0 - math.pow(1.0 - math.pow(p45, k), t) >= 0.999 - 1e-9)
  }

  test("DedupScaleProbe.plantedRecall measures the banding-curve detection, table-free") {
    // the table-free recall measurement (the 64M cell's instrument) must
    // agree with the collision math it replaces: at a generous config the
    // cosine-0.999 planted pairs all collide (miss probability ~1e-8);
    // at a deliberately starved one detection tracks the analytic
    // 1-(1-p^k)^T banding curve within Monte Carlo tolerance
    val n = 20000L
    val (hitDeep, truthDeep) =
      graft.probes.DedupScaleProbe.plantedRecall(spark, n, 19, 12)
    assert(truthDeep == n / 20)
    assert(hitDeep == truthDeep, s"deep config missed ${truthDeep - hitDeep}")
    val (hitShallow, truthShallow) =
      graft.probes.DedupScaleProbe.plantedRecall(spark, n, 24, 1)
    // the planted pairs' realized cosine is ~0.9985-0.999 (5%-amplitude
    // dim-64 perturbation), so the analytic anchor itself spans ~0.68-0.71
    // — tolerance covers that spread plus ~3 sigma of 1000-pair Monte Carlo
    val p = 1.0 - math.acos(0.999) / math.Pi
    val analytic = 1.0 - math.pow(1.0 - math.pow(p, 24), 1)
    val measured = hitShallow.toDouble / truthShallow
    assert(math.abs(measured - analytic) < 0.08,
      s"measured $measured vs analytic $analytic at (24,1)")
  }

  test("lshTablesForCollision: guarded degenerate rates, and lshTablesFor delegates to it") {
    assert(Similarity.lshTablesForCollision(1.0, 0.98) == 1)
    assert(Similarity.lshTablesForCollision(0.0, 0.98) == 1)
    assert(Similarity.lshTablesForCollision(-0.1, 0.98) == 1)
    val p = 1.0 - math.acos(0.9) / math.Pi
    for (k <- Seq(5, 12, 21))
      assert(Similarity.lshTablesFor(k, 0.9, 0.98) ==
        Similarity.lshTablesForCollision(math.pow(p, k), 0.98))
  }

  test("lshParams holds bucket occupancy bounded to 2e12 vectors (r12 under-deepening pin)") {
    // The pre-r12 sizer froze at a 24-plane scan bound and priced
    // collisions at the uniform-occupancy model, so past ~32M vectors
    // mean occupancy n/2^planes — and with it candidate volume per doc —
    // doubled every 4x size step (measured at 64M docs: x9.55 raw pairs
    // for x4 data; SCALE.md). Pin the fix end to end: depth keeps
    // growing with n at the dedup threshold, occupancy stays bounded
    // across nine orders of magnitude, and the recall solve still holds
    // at every returned config.
    val pCos = 1.0 - math.acos(0.98) / math.Pi
    var lastPlanes = 0
    (3 to 12).foreach { e =>
      val n = math.pow(10, e).toLong
      val (planes, tables) = Similarity.lshParams(n, 0.98)
      assert(planes >= lastPlanes, s"depth regressed at n=1e$e: $planes < $lastPlanes")
      lastPlanes = planes
      // the retuned minimizer holds mean occupancy ~1 everywhere; 64 is
      // slack for host-model drift yet fails the frozen-depth sizer from
      // ~1e9 on (1e9/2^24 = 60), long before the 24-bit bound saturates
      assert(n.toDouble / math.pow(2.0, planes) <= 64.0,
        s"occupancy unbounded at n=1e$e: planes=$planes")
      assert(1.0 - math.pow(1.0 - math.pow(pCos, planes), tables) >= 0.98 - 1e-9)
    }
    // the specific regression: 64M must deepen past the old 24-plane bound
    val (p64m, _) = Similarity.lshParams(64000000L, 0.98)
    assert(p64m > 24, s"64M docs under-deepened to $p64m planes (pre-r12 bug)")
  }

  test("minhashAssign survivors equal the jaccard closure on clique corpora, never unsound") {
    // dup groups: exact copies (jaccard 1) plus one lightly-edited member
    // still above the 0.5 default threshold; distinct topics far below.
    // Ground truth: min-id-per-component of nearDupPairs' exact verify —
    // the SAME hashed-shingle jaccard the walk recomputes
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the old barn today and sleeps soundly",
      "completely different content about spark query engines and shuffle hygiene in production",
      "weather report says heavy rain tomorrow across the northern coastal region of the country")
    val docs = base.zipWithIndex.flatMap { case (t, g) =>
      Seq((g * 10L, t), (g * 10L + 1, t),
        (g * 10L + 2, t.replace("the", "a"))) // light edit, same shingle mass
    }.toDF("doc_id", "text")
    val thr = 0.3
    val pairs = Dedup.nearDupPairs(docs, threshold = thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val truth = closureSurvivors(ids, pairs)
    val cmp = spark.sparkContext.longAccumulator("minhash_star_comparisons")
    val assign = Dedup.minhashAssignFromBands(
      Dedup.minhashTable(docs, "text", "doc_id"),
      docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh")),
      thr, comparisons = Some(cmp))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(assign.length == ids.size)
    val survivors = assign.collect { case (id, None) => id }.toSet
    assert(survivors == truth,
      s"minhash survivors diverged: missing ${truth -- survivors}, " +
        s"extra ${survivors -- truth}")
    assert(cmp.value > 0)
    // soundness: every elimination is a genuine exact-jaccard pair
    assign.foreach {
      case (id, Some(d)) => assert(d < id && pairs.contains((d, id)),
        s"($id -> $d) is not a genuine jaccard pair")
      case _ =>
    }
    // the inline convenience agrees with the band form
    val inline = Dedup.minhashAssign(docs, threshold = thr)
      .filter(col("dup_of").isNull).collect().map(_.getLong(0)).toSet
    assert(inline == survivors)
  }

  test("simhashAssign survivors equal the radius closure on clique corpora, never unsound") {
    // duplicate groups = identical or one-word-edited texts (hamming 0-3
    // signatures — cliques at the radius); distinct topics far apart.
    // Ground truth: min-id-per-component of the exhaustive simhashPairs
    // closure (itself q72-oracle-proven zero-false-negative blocking)
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the old barn today and sleeps",
      "completely different content about spark query engines and shuffles here now",
      "der hund und die katze sind nicht ein problem für das haus heute",
      "weather report says heavy rain tomorrow across the northern coastal region")
    val docs = base.zipWithIndex.flatMap { case (t, g) =>
      Seq((g * 10L, t), (g * 10L + 1, t), (g * 10L + 2, t)) // exact-dup cliques
    }.toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val truth = closureSurvivors(ids, pairs)
    val cmp = spark.sparkContext.longAccumulator("simhash_star_comparisons")
    val assign = Dedup.simhashAssignFromBlocks(
      Dedup.simhashBlockTable(
        docs.select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))),
      comparisons = Some(cmp))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(assign.length == ids.size)
    val survivors = assign.collect { case (id, None) => id }.toSet
    assert(survivors == truth,
      s"simhash survivors diverged: missing ${truth -- survivors}, " +
        s"extra ${survivors -- truth}")
    assert(cmp.value > 0)
    // soundness: every elimination is a genuine radius pair with smaller id
    assign.foreach {
      case (id, Some(d)) => assert(d < id && pairs.contains((d, id)),
        s"($id -> $d) is not a genuine radius pair")
      case _ =>
    }
    // the inline convenience agrees with the block form
    val inline = Dedup.simhashAssign(docs)
      .filter(col("dup_of").isNull).collect().map(_.getLong(0)).toSet
    assert(inline == survivors)
  }

  test("Dedup.plan composes family choice, measured-law sizing, and a budget-bound P") {
    import graft.ext.Dedup
    val n = 20000L
    val emb = graft.probes.DedupScaleProbe.syntheticClusteredVecCorpus(spark, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // text-tier churn plans a text family, one-shot, no LSH config
      val textPlan = Dedup.plan(emb, mutationTolerance = 0.01, minDetection = 0.7,
        scratchBudgetGb = 1.0)
      assert(textPlan.family == "simhash" && textPlan.miningMode == "one_shot" &&
        textPlan.partitions == 1 && textPlan.lshConfig.isEmpty)
      // semantic-tier churn on the clustered corpus: the plan's config
      // must be EXACTLY what the measured-law sizing produces (same
      // seeded sample ⇒ same law ⇒ same minimizer)
      val p0 = Dedup.plan(emb, mutationTolerance = 0.2, scratchBudgetGb = 0.0)
      assert(p0.family == "embedding_lsh", p0.toString)
      val expectCfg = Similarity.lshParamsMeasured(emb, 0.98)
      assert(p0.lshConfig.contains(expectCfg),
        s"planned ${p0.lshConfig} != measured-law sizing $expectCfg")
      // zero budget = unbounded: one-shot regardless of modeled volume
      assert(p0.miningMode == "one_shot" && p0.partitions == 1)
      assert(p0.estRawPairs > 0 && p0.estRawGb > 0)
      // a budget below the modeled volume slices: P = ceil(est / budget),
      // mode partitioned, entry point names the P
      val tight = p0.estRawGb / 3.5
      val p1 = Dedup.plan(emb, mutationTolerance = 0.2, scratchBudgetGb = tight)
      assert(p1.miningMode == "partitioned" &&
        p1.partitions == math.ceil(p0.estRawGb / tight).toInt,
        s"P=${p1.partitions} for est ${p0.estRawGb} at budget $tight")
      assert(p1.entryPoint.contains(s"P=${p1.partitions}"))
      // a budget above it stays one-shot
      val p2 = Dedup.plan(emb, mutationTolerance = 0.2,
        scratchBudgetGb = p0.estRawGb * 2)
      assert(p2.miningMode == "one_shot" && p2.partitions == 1)
      // un-clamped plans report the budget satisfied; a P clamped at
      // maxPartitions must SAY the scratch budget is not met (r14 advice:
      // the silent clamp read as a budget-respecting plan)
      assert(p0.budgetSatisfied && p1.budgetSatisfied && p2.budgetSatisfied)
      val clamped = Dedup.plan(emb, mutationTolerance = 0.2,
        scratchBudgetGb = tight, maxPartitions = 2)
      assert(clamped.partitions == 2 && !clamped.budgetSatisfied &&
        clamped.rationale.contains("clamped"), clamped.toString)
      // the same economics the sizer trusts: the modeled raw volume uses
      // the sampled law's weight at the planned depth
      val law = Similarity.measureNonUniformityLaw(emb, n)
      val (pl, tb) = expectCfg
      val expectRaw = tb.toDouble * law.weight(pl) * n.toDouble * n.toDouble /
        math.pow(2.0, pl + 1)
      assert(math.abs(p0.estRawPairs - expectRaw) / expectRaw < 1e-9)
    } finally { emb.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("runPlan executes every family's plan to the direct call's assignment") {
    import graft.ext.Dedup
    // text corpora: exact-dup cliques plus a light edit, the survivor
    // fixtures' standard shape
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog near the old barn today",
      "completely different content about spark query engines and shuffles",
      "weather report says heavy rain tomorrow across the coastal region")
      .zipWithIndex.flatMap { case (t, g) =>
        Seq((g * 10L, t), (g * 10L + 1, t), (g * 10L + 2, t + " appended"))
      }.toDF("doc_id", "text")
    def assignSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet

    // exact family: survivors equal dropExactDuplicates, eliminations
    // point at the digest group's min id
    val exactPlan = Dedup.plan(docs, mutationTolerance = 0.001,
      hasEmbeddings = false)
    assert(exactPlan.family == "exact")
    val exactAssign = assignSet(Dedup.runPlan(exactPlan, docs))
    val exactSurvivors = exactAssign.collect { case (id, None) => id }
    assert(exactSurvivors ==
      Dedup.dropExactDuplicates(docs).select("doc_id").collect()
        .map(_.getLong(0)).toSet)
    assert(exactAssign.collect { case (id, Some(d)) => (id, d) } ==
      Set((1L, 0L), (11L, 10L), (21L, 20L)))

    // simhash family: exactly simhashAssign at the auto-deepened split
    val shPlan = Dedup.plan(docs, mutationTolerance = 0.01, minDetection = 0.7,
      hasEmbeddings = false)
    assert(shPlan.family == "simhash")
    val (autoBlocks, _) = Dedup.simhashParams(docs.count())
    assert(assignSet(Dedup.runPlan(shPlan, docs)) ==
      assignSet(Dedup.simhashAssign(docs, blocks = autoBlocks)))
    // a supplied knownCount skips the per-branch data.count() (the 100 TB
    // second-scan nit) and returns the identical assignment
    assert(assignSet(Dedup.runPlan(shPlan, docs, knownCount = docs.count())) ==
      assignSet(Dedup.simhashAssign(docs, blocks = autoBlocks)))

    // minhash family: exactly minhashAssign at the production config
    val mhPlan = Dedup.plan(docs, mutationTolerance = 0.02, minDetection = 0.9,
      hasEmbeddings = false)
    assert(mhPlan.family == "minhash")
    assert(assignSet(Dedup.runPlan(mhPlan, docs, jaccardThreshold = 0.3)) ==
      assignSet(Dedup.minhashAssign(docs, threshold = 0.3)))

    // embedding family, both mining modes, on the clustered corpus: the
    // plan's sized config executed verbatim; partitioned passes land the
    // identical assignment (grouped == one-shot is the standing pin)
    val emb = graft.probes.DedupScaleProbe.syntheticClusteredVecCorpus(spark, 5000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p0 = Dedup.plan(emb, mutationTolerance = 0.2, scratchBudgetGb = 0.0)
      assert(p0.family == "embedding_lsh" && p0.miningMode == "one_shot")
      val (planes, tables) = p0.lshConfig.get
      val direct = assignSet(Similarity.nearDupAssignFromTable(
        Similarity.lshTable(emb, planes, tables), emb, p0.threshold))
      assert(assignSet(Dedup.runPlan(p0, emb, idCol = "vec_id")) == direct)
      val pPart = Dedup.plan(emb, mutationTolerance = 0.2,
        scratchBudgetGb = p0.estRawGb / 2.5)
      assert(pPart.miningMode == "partitioned" && pPart.partitions > 1)
      val scratch = java.nio.file.Files
        .createTempDirectory("runplan_scratch").toString
      try
        assert(assignSet(Dedup.runPlan(pPart, emb, idCol = "vec_id",
          scratchDir = scratch)) == direct)
      finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(scratch))
      // the partitioned mode without a scratchDir refuses loudly
      intercept[IllegalArgumentException] {
        Dedup.runPlan(pPart, emb, idCol = "vec_id")
      }
    } finally { emb.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("recommendFamily/plan route image corpora through the r15 dHash sweep") {
    import graft.ext.Dedup
    // sweep points come back exactly; the law is flat (dHash holds 0.985+
    // across the measured band to 10% pixel churn)
    assert(Dedup.recommendFamily(0.05, 0.9, modality = "image").family == "image_dhash")
    assert(math.abs(Dedup.recommendFamily(0.05, 0.9, modality = "image")
      .expectedDetection - 0.9954) < 1e-9)
    assert(math.abs(Dedup.recommendFamily(0.02, 0.9, modality = "image")
      .expectedDetection - 0.9997) < 1e-9)
    // churn past the sweep clamps to the 10% row, never extrapolates
    assert(math.abs(Dedup.recommendFamily(0.5, 0.5, modality = "image")
      .expectedDetection - 0.9854) < 1e-9)
    // a bar above the measured law: embedding tier if available, else the
    // honest BELOW verdict
    assert(Dedup.recommendFamily(0.05, 0.999, hasEmbeddings = true,
      modality = "image").family == "embedding_lsh")
    val below = Dedup.recommendFamily(0.05, 0.999, modality = "image")
    assert(below.family == "image_dhash" && below.rationale.contains("BELOW"))
    // byte-identical tolerance routes to exact payload-digest dedup
    assert(Dedup.recommendFamily(0.0001, modality = "image").family == "exact")

    // plan routes the modality and runPlan executes it: equality with the
    // direct imageAssign call at the auto-deepened split
    val docs = spark.range(60).select($"id".as("doc_id"))
    val fps = Multimodal.imageFingerprints(Multimodal.syntheticImages(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = Dedup.plan(fps, mutationTolerance = 0.05, modality = "image",
        hasEmbeddings = false)
      assert(p.family == "image_dhash" && p.miningMode == "one_shot" &&
        p.lshConfig.isEmpty)
      val (blocks, _) = Dedup.simhashParams(fps.count())
      val direct = Multimodal.imageAssign(fps, blocks = blocks)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      val viaPlan = Dedup.runPlan(p, fps)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(viaPlan == direct)
    } finally { fps.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("video modality routes exact/embedding/header-blocking; candidates are band-bounded") {
    import graft.ext.Dedup
    // ── the routing ladder (r17 verdict item #2) ──
    val exact = Dedup.recommendFamily(0.0001, modality = "video")
    assert(exact.family == "exact")
    val emb = Dedup.recommendFamily(0.05, modality = "video", hasEmbeddings = true)
    assert(emb.family == "embedding_lsh" &&
      emb.rationale.contains("videoHeaderCandidates"), emb.rationale)
    // the UNMEASURED branch carries the refusal IN the recommendation
    // (the audio 20%-churn-edge convention): detection honestly 0.0
    val blocked = Dedup.recommendFamily(0.05, modality = "video")
    assert(blocked.family == "video_header_blocking" &&
      blocked.expectedDetection == 0.0 &&
      blocked.rationale.contains("UNMEASURED"), blocked.rationale)
    // no measured geometric tier for video: loud, not silently ignored
    intercept[IllegalArgumentException] {
      Dedup.recommendFamily(0.05, modality = "video", geometricTolerance = 4)
    }

    // ── candidates: exactly the planted same-header pairs ──
    val docs = spark.range(40).select($"id".as("doc_id"),
      concat(lit("body "), $"id".cast("string")).as("text"),
      lit("web").as("source"), lit(10L).as("n_chars"))
    val media = Multimodal.syntheticVideo(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a shifted-id copy of the same payloads: every valid id lands in
      // its twin's band; distinct ids never collide (vw = id%1920+16 is
      // unique below 40); malformed rows (id%12 in {5,11}) have no band
      val union = media.unionByName(
        media.withColumn("media_id", $"media_id" + 1000L))
      val cands = Multimodal.videoHeaderCandidates(union)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val validIds = (0L until 40L).filterNot(id => id % 12 == 5 || id % 12 == 11)
      assert(cands.map(c => (c._1, c._2)).toSet ==
        validIds.map(id => (id, id + 1000L)).toSet,
        s"candidate pairs diverged: ${cands.toSeq}")
      // band fields replay the generator's arithmetic (the q91 relation)
      cands.foreach { case (a, _, w, h, ts) =>
        assert(w == a % 1920 + 16 && h == a * 7 % 1080 + 16)
        assert(ts == Seq(600L, 1000L, 24000L, 90000L)((a % 4).toInt))
      }

      // ── plan → runPlan: the exact path equals the direct digest walk ──
      val p = Dedup.plan(media, mutationTolerance = 0.0001, modality = "video",
        hasEmbeddings = false)
      assert(p.family == "exact" && p.miningMode == "one_shot")
      def assignSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      val viaPlan = assignSet(Dedup.runPlan(p, union,
        idCol = "media_id", textCol = "payload"))
      // byte-exact dedup keeps the min id per payload — malformed
      // payloads dedup too (bytes are bytes; validity is not a digest
      // property: the id%12==5 and ==11 classes are each CONSTANT bytes,
      // so they fold across ids). Ground truth re-derived from raw
      // payload equality driver-side:
      val expected = union.select("media_id", "payload").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
        .groupBy(_._2).values.flatMap { g =>
          val ids = g.map(_._1).sorted
          ids.map(id =>
            id -> (if (id == ids.head) None else Some(ids.head)))
        }.toSet
      assert(viaPlan == expected)

      // ── the UNMEASURED plan REFUSES to execute (candidates are not
      // eliminations) — and the message routes the caller ──
      val pBlocked = Dedup.plan(media, mutationTolerance = 0.05,
        modality = "video", hasEmbeddings = false)
      assert(pBlocked.family == "video_header_blocking")
      val ex = intercept[IllegalArgumentException] {
        Dedup.runPlan(pBlocked, union, idCol = "media_id", textCol = "payload")
      }
      assert(ex.getMessage.contains("videoHeaderCandidates"))
    } finally { media.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("recode tolerance routes dHash then the spectral tier; runPlan executes on recodes") {
    import graft.ext.Dedup
    import graft.functions.{JpegGray, PngGray}
    // ── routing pins at the r17 recode-sweep cells ──
    // quality-85 re-encounters stay inside the dHash radius (0.9996)
    val r85 = Dedup.recommendFamily(0.01, modality = "image",
      recodeQuality = 85)
    assert(r85.family == "image_dhash" && r85.expectedDetection >= 0.96,
      r85.rationale)
    // recodes are byte-DIFFERENT: the exact rung must NOT trigger even
    // at byte-identical churn tolerance when recodes are in scope
    assert(Dedup.recommendFamily(0.0001, modality = "image").family == "exact")
    val rPure = Dedup.recommendFamily(0.0001, modality = "image",
      recodeQuality = 85)
    assert(rPure.family == "image_dhash", rPure.rationale)
    // quality 30 exceeds the radius (0.868 measured) — the spectral
    // tier's flat recode law takes over
    val r30 = Dedup.recommendFamily(0.0001, modality = "image",
      recodeQuality = 30)
    assert(r30.family == "image_spectral_lsh" &&
      math.abs(r30.expectedDetection - 1.0) < 1e-9, r30.rationale)
    // ...unless the caller's bar sits below the measured dHash cell
    assert(Dedup.recommendFamily(0.0001, minDetection = 0.85,
      modality = "image", recodeQuality = 30).family == "image_dhash")
    // under recodes the grid tier has NO measured law: the geometric
    // ladder skips it for the spectral tier (vs winning without recodes)
    assert(Dedup.recommendFamily(0.01, minDetection = 0.7,
      modality = "image", geometricTolerance = 1).family == "image_grid_lsh")
    val geoRec = Dedup.recommendFamily(0.01, minDetection = 0.7,
      modality = "image", geometricTolerance = 1, recodeQuality = 85)
    assert(geoRec.family == "image_spectral_lsh" &&
      geoRec.rationale.contains("NO measured recode law"), geoRec.rationale)
    // measured-domain guardrails: below quality 10 nothing is measured;
    // the knob is image-only
    intercept[IllegalArgumentException] {
      Dedup.recommendFamily(0.01, modality = "image", recodeQuality = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.recommendFamily(0.01, recodeQuality = 85)
    }

    // ── execution: a quality-35 recode corpus through the routed plan ──
    val media = spark.range(60).select($"id".as("media_id")).rdd.map { r =>
      val id = r.getLong(0)
      val isDup = java.lang.Math.floorMod(id, 20L) == 1L
      val seed = if (isDup) id - 1 else id
      val pix = Multimodal.patternPixels(seed, 32, 32)
      val payload =
        if (isDup) JpegGray.encodeGray(32, 32, pix, 35)
        else PngGray.encodeGray(32, 32, pix)
      org.apache.spark.sql.Row(id, payload)
    }
    val mediaDf = spark.createDataFrame(media, Multimodal.imageSchema)
    val feats = Multimodal.imageSpectralFeatures(mediaDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = Dedup.plan(feats, mutationTolerance = 0.0001,
        modality = "image", recodeQuality = 30, vecCol = "feature",
        hasEmbeddings = false)
      assert(p.family == "image_spectral_lsh" && p.lshConfig.isDefined)
      val assign = Dedup.runPlan(p, feats, idCol = "media_id",
        vecCol = "feature").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      // every planted recode twin is eliminated toward its original
      (1L to 41L by 20).foreach { id =>
        assert(assign(id).isDefined, s"recode twin $id survived")
      }
    } finally { feats.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("runPlanByKind: one call curates a mixed png/jpeg/wav/mp4 corpus, per-kind equal") {
    import graft.ext.Dedup
    val docs = spark.range(60).select($"id".as("doc_id"),
      concat(lit("body "), $"id".cast("string")).as("text"),
      lit("web").as("source"), lit(10L).as("n_chars"))
    // one mixed table: images (pngs + the r17 jpeg slice), audio clips
    // (including the undecodable-PCM rotation), videos (including both
    // malformed classes), and one unrecognizable payload
    val mixed = Multimodal.syntheticImages(docs.limit(30))
      .unionByName(Multimodal.syntheticAudio(docs.limit(20))
        .withColumn("media_id", $"media_id" + 10000L)
        .select("media_id", "payload"))
      .unionByName(Multimodal.syntheticVideo(docs.limit(24))
        .withColumn("media_id", $"media_id" + 20000L)
        .select("media_id", "payload"))
      .unionByName(Seq((30000L, "no codec speaks this".getBytes))
        .toDF("media_id", "payload"))
      .unionByName(Seq(30001L).toDF("media_id")
        .select($"media_id", lit(null).cast("binary").as("payload")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val byKind = Dedup.runPlanByKind(mixed, mutationTolerance = 0.01)
      val got = byKind.collect()
        .map(r => r.getLong(0) -> (r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      // every input row comes back exactly once
      assert(got.size == mixed.count())

      // detected kinds drive the split (never a trusted column): the
      // image pool is png+jpeg TOGETHER, audio wav, video mp4, and the
      // garbage row survives as its detected 'unknown'
      assert(got(30000L) == ("unknown", None))
      // a NULL payload yields NULL __kind through nullSafeEval; under
      // three-valued logic a bare `!isin` filter would silently DROP it —
      // the pass-through contract says it must survive (r17 advice)
      assert(got.contains(30001L) && got(30001L) == ((null, None)))
      val kinds = got.values.map(_._1).toSet
      assert(Set("png", "jpeg", "wav", "flac", "mp4", "unknown")
        .subsetOf(kinds))

      // per-kind equality with the DIRECT per-modality calls
      def assigns(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val imgPool = mixed.filter($"media_id" < 10000L)
      val pImg = Dedup.plan(Multimodal.imageFingerprints(imgPool),
        mutationTolerance = 0.01, modality = "image", hasEmbeddings = false)
      val directImg = assigns(Dedup.runPlan(pImg,
        Multimodal.imageFingerprints(imgPool), idCol = "media_id"))
      val audPool = mixed.filter($"media_id" >= 10000L && $"media_id" < 20000L)
      val featsAud = Multimodal.audioEnvelopeFeatures(audPool)
      val pAud = Dedup.plan(featsAud, mutationTolerance = 0.01,
        modality = "audio", hasEmbeddings = false, vecCol = "feature")
      val directAud = assigns(Dedup.runPlan(pAud, featsAud,
        idCol = "media_id", vecCol = "feature"))
      val vidPool = mixed.filter($"media_id" >= 20000L && $"media_id" < 30000L)
      val pVid = Dedup.plan(vidPool, mutationTolerance = 0.0001,
        modality = "video", hasEmbeddings = false)
      val directVid = assigns(Dedup.runPlan(pVid, vidPool,
        idCol = "media_id", textCol = "payload"))
      val direct = directImg ++ directAud ++ directVid
      got.foreach { case (id, (kind, dupOf)) =>
        if (kind != null && kind != "unknown")
          assert(dupOf == direct(id), s"id $id ($kind): $dupOf vs ${direct(id)}")
      }
      // the planted image pairs fold inside the one mixed call (dup_of
      // points at SOME smaller component member — the greedy-star
      // contract; the per-kind equality above pins the exact value)
      assert((1L to 29L by 20).forall(id => got(id)._2.isDefined))

      // plans only for PRESENT modalities; video tolerance above byte
      // identity without embeddings refuses LOUDLY at run time
      val plansImgOnly = Dedup.planByKind(imgPool, mutationTolerance = 0.01)
      assert(plansImgOnly.keySet == Set("image"))
      // the r17 recode law routes through the dispatcher's image rung:
      // quality-30 re-encounters swap the image pool to the spectral tier
      val plansRecode = Dedup.planByKind(imgPool, mutationTolerance = 0.0001,
        imageRecodeQuality = 30)
      assert(plansRecode("image").family == "image_spectral_lsh",
        plansRecode("image").rationale)
      val ex = intercept[IllegalArgumentException] {
        Dedup.runPlanByKind(mixed, mutationTolerance = 0.01,
          videoMutationTolerance = 0.05)
      }
      assert(ex.getMessage.contains("videoHeaderCandidates"))
    } finally { mixed.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("video content rung (r18): an MJPEG-AVI pool routes to frame-0 dHash; mixed pools refuse") {
    import graft.ext.Dedup
    val docs = spark.range(120).select($"id".as("doc_id"))
    val avis = Multimodal.syntheticVideoAvi(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // an avi-only pool at content-level tolerance plans the image_dhash
      // family with the MEASURED law's detection, not a 0.0 refusal
      val plans = Dedup.planByKind(avis, mutationTolerance = 0.01,
        videoMutationTolerance = 0.01)
      assert(plans.keySet == Set("video"), plans.keySet.toString)
      assert(plans("video").family == "image_dhash", plans("video").rationale)
      assert(plans("video").expectedDetection > 0.9,
        plans("video").rationale)
      // ...and runPlanByKind executes it: planted frame-0 twins eliminate
      val got = Dedup.runPlanByKind(avis, mutationTolerance = 0.01,
          videoMutationTolerance = 0.01)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
        .toMap
      assert(got.size == 120)
      val aviDups = (1L to 119L by 20).filter(id => id % 12 != 5)
      assert(aviDups.nonEmpty && aviDups.forall(id => got(id)._2.isDefined),
        s"undetected frame-0 twins: ${aviDups.filterNot(id => got(id)._2.isDefined)}")
      // truncated containers survive with their detected kind
      assert(got(5L) == (("avi", None)))
      // a MIXED mp4+avi pool cannot claim the frame rung: content-level
      // tolerance over it refuses loudly through video_header_blocking
      val mixed = avis.unionByName(
        Multimodal.syntheticVideo(docs.select($"doc_id",
            lit("t").as("text"), lit("web").as("source"), lit(1L).as("n_chars")))
          .withColumn("media_id", $"media_id" + 10000L)
          .select("media_id", "payload"))
      val mixedPlans = Dedup.planByKind(mixed, mutationTolerance = 0.01,
        videoMutationTolerance = 0.01)
      assert(mixedPlans("video").family == "video_header_blocking",
        mixedPlans("video").rationale)
      assert(mixedPlans("video").expectedDetection == 0.0)
      // byte-identical tolerance still executes over the mixed pool
      val exact = Dedup.runPlanByKind(mixed, mutationTolerance = 0.0)
      assert(exact.count() == mixed.count())
      // the direct recommendFamily knob is guarded to video
      intercept[IllegalArgumentException] {
        Dedup.recommendFamily(0.01, modality = "image", frameDecodable = true)
      }

      // ── the r18 TRIM knob: the multi-frame rung ──
      // trim tolerance swaps the family to any-frame matching over K =
      // trim+1 sampled frames (the measured trim law, SCALE.md r18)
      val trimPlans = Dedup.planByKind(avis, mutationTolerance = 0.01,
        videoMutationTolerance = 0.01, videoTrimTolerance = 1)
      assert(trimPlans("video").family == "video_anyframe_dhash",
        trimPlans("video").rationale)
      assert(trimPlans("video").expectedDetection > 0.9)
      // one-call execution: a 1-frame-trimmed re-upload of an accepted
      // video drops where the frame-0 rung above misses it. Append a
      // trimmed twin of id 0's content (syntheticVideoAvi frame fields
      // are seed + 7919k, so the trim twin renders fields 7919·1, 7919·2,
      // 7919·3 of seed 0)
      val trimmedTwin = graft.functions.MjpegAvi.encode(32, 32,
        (1 to 3).map(k => graft.functions.JpegGray.encodeGray(32, 32,
          Multimodal.patternPixels(0L + 7919L * k, 32, 32), 92)))
      val withTrim = avis.unionByName(
        Seq((900L, trimmedTwin)).toDF("media_id", "payload"))
      val trimGot = Dedup.runPlanByKind(withTrim, mutationTolerance = 0.01,
          videoMutationTolerance = 0.01, videoTrimTolerance = 1)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(trimGot(900L).isDefined,
        "the trimmed twin survived the any-frame rung")
      // frame-0 rung (no trim knob): the same twin survives — the
      // CONTRAST the knob exists for
      val noTrimGot = Dedup.runPlanByKind(withTrim, mutationTolerance = 0.01,
          videoMutationTolerance = 0.01)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(noTrimGot(900L).isEmpty,
        "frame-0 rung unexpectedly caught the trimmed twin")
      // contradiction guard: trim tolerance at byte-identical tolerance
      // refuses loudly instead of silently running exact
      intercept[IllegalArgumentException] {
        Dedup.planByKind(avis, mutationTolerance = 0.01,
          videoTrimTolerance = 1) // videoMutationTolerance defaults 0.0
      }
      // ...and a trim promise over a MIXED (mp4-carrying) pool refuses
      // loudly too — the knob would otherwise be silently dropped by the
      // non-decodable forcing (the r17 silent-discard class)
      val mixedTrimEx = intercept[IllegalArgumentException] {
        Dedup.planByKind(mixed, mutationTolerance = 0.01,
          videoMutationTolerance = 0.01, videoTrimTolerance = 1)
      }
      // (r19: the message names the per-row blockers — these header-tier
      // mp4s parse to a moov with no video track, a valid-video shape the
      // frame rung cannot see)
      assert(mixedTrimEx.getMessage.contains("frame-decodable") &&
        mixedTrimEx.getMessage.contains("no video track"),
        mixedTrimEx.getMessage)
    } finally { avis.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("video multi-frame tier (r18): any-frame matching catches the trim frame-0 misses") {
    import graft.functions.{JpegGray, MjpegAvi}
    // video A: frames from fields f(0), f(1), f(2); video B: the SAME
    // content trimmed by one frame — f(1), f(2), f(3). Frame-0 matching
    // sees new content; any-frame matching shares two exact frames.
    def frame(k: Long): Array[Byte] =
      JpegGray.encodeGray(32, 32, Multimodal.patternPixels(500L + k, 32, 32), 92)
    val a = MjpegAvi.encode(32, 32, Seq(frame(0), frame(1), frame(2)))
    val b = MjpegAvi.encode(32, 32, Seq(frame(1), frame(2), frame(3)))
    // an unrelated video and a truncated container (null rows survive)
    val c = MjpegAvi.encode(32, 32, Seq(frame(100), frame(101), frame(102)))
    val broken = "RIFF".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "AVI ".getBytes
    val media = Seq((1L, a), (2L, b), (3L, c), (4L, broken))
      .toDF("media_id", "payload")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fps = Multimodal.videoFrameFingerprints(media, frames = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // per-frame fingerprints equal the direct single-frame dHash path
      val got = fps.collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      Seq((1L, a), (2L, b), (3L, c)).foreach { case (id, payload) =>
        (0 until 3).foreach { k =>
          val direct = Some(graft.functions.ImageDHash.dHash64(
            graft.functions.ImageCodecs.decode(
              MjpegAvi.frameBytes(payload, k).toOption.get).toOption.get))
          assert(got((id, k)) == direct, s"video $id frame $k")
        }
      }
      // the broken container carries null rows — it matches nothing
      assert((0 until 3).forall(k => got((4L, k)).isEmpty))
      // frame-0 matching MISSES the trim (f(0) vs f(1) are unrelated
      // fields); any-frame matching catches it on the shared frames
      val frame0 = Multimodal.imageNearDups(
        Multimodal.imageFingerprints(media)).collect()
      assert(!frame0.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
        "frame-0 matching unexpectedly caught the trimmed twin")
      val any = Multimodal.videoAnyFrameNearDups(fps).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(any.contains((1L, 2L)), s"trimmed twin missed: ${any.keySet}")
      assert(any((1L, 2L)) == 0L, "shared frames should match exactly")
      assert(!any.keySet.exists(p => p._1 == 3L || p._2 == 3L),
        "unrelated video paired")
      // packing guard: the fid bound refuses out-of-range frame counts
      intercept[IllegalArgumentException] {
        Multimodal.videoFrameFingerprints(media, frames = 65)
      }
      fps.unpersist()
    } finally { media.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("image descriptors: grid equals its relational twin; spectral is shift/brightness-blind") {
    import graft.functions.{ImageGridFeature, ImageSpectralFeature, PngGray}
    // ── grid: native expression == the q85 relational twin re-centered ──
    // the chain q85's oracle proof rides: persisted-luma integer cells
    // (hash-proven vs DuckDB) → cell means → grand-mean centering → float
    // cast, re-derived here independently and compared BIT-exact
    val docs = spark.range(30).select($"id".as("doc_id"))
    val media = Multimodal.syntheticImages(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gridByIdd = Multimodal.imageGridFeatures(media).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      Multimodal.imageLuma(media).collect().foreach { r =>
        val id = r.getLong(0)
        val w = r.getInt(1); val h = r.getInt(2)
        val pix = r.getSeq[Int](3).toArray
        // the q85 engine stage's binning, re-done driver-side
        val sum = new Array[Long](64); val cnt = new Array[Long](64)
        var p = 0
        while (p < pix.length) {
          val gr = ((p / w) * 8) / h; val gc = ((p % w) * 8) / w
          sum(gr * 8 + gc) += pix(p); cnt(gr * 8 + gc) += 1
          p += 1
        }
        val means = (0 until 64).map(i => sum(i).toDouble / cnt(i))
        var grand = 0.0
        means.foreach(grand += _)
        grand /= 64
        val expected = means.map(m => (m - grand).toFloat).toArray
        assert(java.util.Arrays.equals(gridByIdd(id), expected), s"grid twin diverged at id $id")
      }

      // ── spectral: native (separable) == an independent DIRECT-DFT twin ──
      val pix0 = Multimodal.patternPixels(7L, 32, 32).map(_ & 0xff)
      val img0 = PngGray.Gray(32, 32, pix0.map(_.toByte))
      val native = ImageSpectralFeature.feature(img0, 3)
      def refMag(u: Int, v: Int): Double = {
        var re = 0.0; var im = 0.0
        var y = 0
        while (y < 32) {
          var x = 0
          while (x < 32) {
            val a = -2.0 * StrictMath.PI * (u.toDouble * x / 32 + v.toDouble * y / 32)
            val p = pix0(y * 32 + x).toDouble
            re += p * StrictMath.cos(a); im += p * StrictMath.sin(a)
            x += 1
          }
          y += 1
        }
        StrictMath.sqrt(re * re + im * im)
      }
      val refFeat = ((1 to 3).map(v => refMag(0, v)) ++
        (for (u <- 1 to 3; v <- -3 to 3) yield refMag(u, v))).toArray
      assert(native.length == 24 && refFeat.length == 24)
      native.zip(refFeat).zipWithIndex.foreach { case ((n, rr), i) =>
        assert(math.abs(n - rr) <= 1e-7 * math.max(1.0, math.abs(rr)),
          s"spectral twin diverged at coeff $i: $n vs $rr")
      }

      def cosine(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }

      // ── brightness: a uniform +8 shift (no clamp: pattern is [13,243]) ──
      // grid is EXACTLY invariant at 32x32/8x8 (16-px cells, /16 and /64
      // both exact in doubles); spectral excludes DC, so the shift lands
      // only in float rounding
      val pixB = pix0.map(v => (v + 8))
      val imgB = PngGray.Gray(32, 32, pixB.map(_.toByte))
      assert(java.util.Arrays.equals(
        ImageGridFeature.feature(img0, 8, 8), ImageGridFeature.feature(imgB, 8, 8)))
      assert(cosine(native, ImageSpectralFeature.feature(imgB, 3)) > 1 - 1e-9)

      // ── the geometric boundary itself, one planted pair: a (3,3)-shifted
      // 32x32 window into the same 40x40 field — spectral cosine stays
      // high (magnitudes), grid cosine drops (aligned cells decorrelate);
      // this single-pair shape is what the 20k sweep measures in bulk
      val field = Multimodal.patternPixels(11L, 40, 40)
      def window(off: Int): PngGray.Gray = {
        val wp = new Array[Byte](32 * 32)
        for (y <- 0 until 32; x <- 0 until 32)
          wp(y * 32 + x) = field((y + off) * 40 + (x + off))
        PngGray.Gray(32, 32, wp)
      }
      val sA = ImageSpectralFeature.feature(window(0), 3)
      val sB = ImageSpectralFeature.feature(window(3), 3)
      val gA = ImageGridFeature.feature(window(0), 8, 8)
      val gB = ImageGridFeature.feature(window(3), 8, 8)
      assert(cosine(sA, sB) > 0.9, s"spectral shift cosine ${cosine(sA, sB)}")
      assert(cosine(sA, sB) > cosine(gA, gB),
        s"spectral ${cosine(sA, sB)} should beat grid ${cosine(gA, gB)} on shifts")

      // ── hostile rows: per-row error, never a throw ──
      val bad = Seq((1L, "not a png".getBytes("UTF-8")),
        (2L, PngGray.encodeGray(6, 6, new Array[Byte](36))))
        .toDF("media_id", "payload")
      val gridBad = Multimodal.imageGridFeatures(bad).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      val specBad = Multimodal.imageSpectralFeatures(bad).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(gridBad(1L) == "not_image" && specBad(1L) == "not_image")
      assert(gridBad(2L) == "image_too_small" && specBad(2L) == "image_too_small")
    } finally { media.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("geometric tolerance routes the measured descriptor tiers; runPlan executes them") {
    import graft.ext.Dedup
    // routing pins at the r16 sweep values (20k cells, 1000 pairs each)
    val r1 = Dedup.recommendFamily(0.01, 0.9, modality = "image",
      geometricTolerance = 1)
    assert(r1.family == "image_spectral_lsh") // grid measured 0.777 < 0.9
    assert(math.abs(r1.expectedDetection - 1.0) < 1e-9)
    val r1g = Dedup.recommendFamily(0.01, 0.75, modality = "image",
      geometricTolerance = 1)
    assert(r1g.family == "image_grid_lsh" &&
      math.abs(r1g.expectedDetection - 0.777) < 1e-9)
    val r4 = Dedup.recommendFamily(0.01, 0.9, modality = "image",
      geometricTolerance = 4)
    assert(r4.family == "image_spectral_lsh" &&
      math.abs(r4.expectedDetection - 0.993) < 1e-9)
    // past the measured band with a higher bar: the model-embedding tier
    // when available, else the honest BELOW verdict
    assert(Dedup.recommendFamily(0.01, 0.99, hasEmbeddings = true,
      modality = "image", geometricTolerance = 8).family == "embedding_lsh")
    val below = Dedup.recommendFamily(0.01, 0.99, modality = "image",
      geometricTolerance = 8)
    assert(below.family == "image_spectral_lsh" && below.rationale.contains("BELOW"))
    // the knob is image-only; zero tolerance keeps the churn routing
    intercept[IllegalArgumentException] {
      Dedup.recommendFamily(0.01, geometricTolerance = 1.0)
    }
    assert(Dedup.recommendFamily(0.05, 0.9, modality = "image").family == "image_dhash")

    // execution: (4,4)-shifted crops — the routed spectral plan runs
    // through runPlan to EXACTLY the direct call's assignment, eliminates
    // (nearly) every planted twin soundly, while the dHash family's
    // radius-3 pairing sees none of them (the r15 boundary)
    val media = graft.probes.ImageDedupProbe.cropCorpus(spark, 400, 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dhashDetected = Multimodal.imageNearDups(
        Multimodal.imageFingerprints(media), maxHamming = 3)
        .filter(col("media_b") === col("media_a") + 1 &&
          pmod(col("media_b"), lit(20)) === 1)
        .count()
      assert(dhashDetected == 0, s"dHash saw $dhashDetected shifted twins")
      val feats = Multimodal.imageSpectralFeatures(media)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p = Dedup.plan(feats, mutationTolerance = 0.01, threshold = 0.9,
        modality = "image", geometricTolerance = 4, vecCol = "feature")
      assert(p.family == "image_spectral_lsh" && p.lshConfig.isDefined)
      def assignSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      val (planes, tables) = p.lshConfig.get
      val direct = assignSet(Similarity.nearDupAssignFromTable(
        Similarity.lshTable(feats, planes, tables, "media_id", "feature"),
        feats, p.threshold, "media_id", "feature"))
      val viaPlan = assignSet(Dedup.runPlan(p, feats, idCol = "media_id",
        vecCol = "feature"))
      assert(viaPlan == direct)
      val fmap = feats.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      // every elimination is sound (genuine > threshold cosine toward a
      // smaller id); the planted twins are (nearly) all eliminated — the
      // sub-1.0 allowance is the LSH recall knob, not the descriptor
      val elims = viaPlan.collect { case (id, Some(d)) => (id, d) }
      elims.foreach { case (id, d) =>
        assert(d < id && cos(fmap(id), fmap(d)) > 0.9 - 1e-6,
          s"unsound elimination $id -> $d (cos ${cos(fmap(id), fmap(d))})")
      }
      val twinIds = (0L until 400L).filter(_ % 20 == 1).toSet
      val eliminatedTwins = elims.map(_._1).toSet.intersect(twinIds)
      assert(eliminatedTwins.size >= 18,
        s"only ${eliminatedTwins.size}/20 shifted twins eliminated")
      feats.unpersist()
    } finally { media.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("WavPcm codec: round-trips, chunk walk + pad rule, error taxonomy, javax.sound parity") {
    import graft.functions.WavPcm
    // ── round-trips across the encoding rotation ──
    val mono = Array.tabulate(500)(i => ((i * 37) % 60000) - 30000)
    val d16 = WavPcm.decode(WavPcm.encodePcm16(16000, 1, mono))
      .getOrElse(fail("mono16 decode failed"))
    assert(d16.sampleRate == 16000 && d16.channels == 1 && d16.bitsPerSample == 16)
    assert(d16.samples.toSeq == mono.toSeq)
    // equal-channel stereo mixes back EXACTLY (floorDiv(2s, 2) = s)
    val dSt = WavPcm.decode(WavPcm.encodePcm16(44100, 2, mono))
      .getOrElse(fail("stereo decode failed"))
    assert(dSt.channels == 2 && dSt.samples.toSeq == mono.toSeq)
    // 8-bit quantizes to the high byte, sign-exact ((v >> 8) << 8)
    val d8 = WavPcm.decode(WavPcm.encodePcm8(8000, 1, mono))
      .getOrElse(fail("8-bit decode failed"))
    assert(d8.bitsPerSample == 8)
    assert(d8.samples.toSeq == mono.map(v => (v >> 8) << 8).toSeq)

    // ── the r17 depth/format widening: every new path value-EXACT on
    // the 16-bit scale (unlike 8-bit's lossy quantization) ──
    val d24 = WavPcm.decode(WavPcm.encodePcm24(8000, 1, mono))
      .getOrElse(fail("24-bit decode failed"))
    assert(d24.bitsPerSample == 24 && d24.samples.toSeq == mono.toSeq)
    // stereo 24-bit: equal channels mix exactly (floorDiv(2s, 2) = s)
    assert(WavPcm.decode(WavPcm.encodePcm24(8000, 2, mono))
      .exists(_.samples.toSeq == mono.toSeq))
    val dF = WavPcm.decode(WavPcm.encodeFloat32(8000, 1, mono))
      .getOrElse(fail("float32 decode failed"))
    assert(dF.bitsPerSample == 32 && dF.samples.toSeq == mono.toSeq)
    // extensible wrapper: the SubFormat GUID carries the real tag
    val dX = WavPcm.decode(WavPcm.encodePcm24Extensible(8000, 1, mono))
      .getOrElse(fail("extensible decode failed"))
    assert(dX.samples.toSeq == mono.toSeq)
    // non-finite float samples map to 0 (documented), never throw: patch
    // the first stored float to NaN
    val fBytes = WavPcm.encodeFloat32(8000, 1, mono)
    val nanBits = java.lang.Float.floatToIntBits(Float.NaN)
    val dataOff = fBytes.length - mono.length * 4
    fBytes(dataOff) = (nanBits & 0xff).toByte
    fBytes(dataOff + 1) = ((nanBits >>> 8) & 0xff).toByte
    fBytes(dataOff + 2) = ((nanBits >>> 16) & 0xff).toByte
    fBytes(dataOff + 3) = ((nanBits >>> 24) & 0xff).toByte
    assert(WavPcm.decode(fBytes).exists(d =>
      d.samples(0) == 0 && d.samples.drop(1).toSeq == mono.drop(1).toSeq))
    // javax.sound parity on the 24-bit path (the JDK reads 24-bit PCM):
    // its 3-byte LE frames reduce to our samples exactly
    locally {
      val bytes = WavPcm.encodePcm24(8000, 1, mono)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val buf = ais.readAllBytes()
      assert(buf.length == mono.length * 3)
      mono.indices.foreach { k =>
        val raw = ((buf(3 * k) & 0xff) | ((buf(3 * k + 1) & 0xff) << 8) |
          ((buf(3 * k + 2) & 0xff) << 16)) << 8 >> 16
        assert(raw == mono(k), s"javax 24-bit sample $k")
      }
    }

    // ── raw chunk builder for the walk/pad/error fixtures ──
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    def fmtChunk(tag: Int = 1, ch: Int = 1, rate: Int = 8000, bits: Int = 16,
        align: Int = -1): Array[Byte] = {
      val a = if (align >= 0) align else ch * (bits / 8)
      chunk("fmt ", le16(tag) ++ le16(ch) ++ le32(rate) ++
        le32(rate * a) ++ le16(a) ++ le16(bits))
    }
    def riff(chunks: Array[Byte]*): Array[Byte] = {
      val body = "WAVE".getBytes("US-ASCII") ++ chunks.flatten
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val dataChunk = chunk("data", le16(100) ++ le16(-200))

    // the RIFF pad rule: an ODD-sized junk chunk between fmt and data —
    // a decoder that forgets the pad byte lands mid-chunk and misreads
    // everything after (this fixture is the proof it doesn't)
    val padded = riff(fmtChunk(), chunk("junk", Array[Byte](1, 2, 3)), dataChunk)
    val dp = WavPcm.decode(padded).getOrElse(fail("pad-rule decode failed"))
    assert(dp.samples.toSeq == Seq(100, -200))
    // a LIST chunk BEFORE fmt is skipped, not fatal
    val listed = riff(chunk("LIST", Array[Byte](9, 9, 9, 9)), fmtChunk(), dataChunk)
    assert(WavPcm.decode(listed).exists(_.samples.toSeq == Seq(100, -200)))

    // ── error taxonomy, one fixture per Left ──
    assert(WavPcm.decode(Array[Byte](1, 2, 3)) == Left("wav_truncated"))
    assert(WavPcm.decode("ABCDEFGHIJKL".getBytes("US-ASCII")) == Left("wav_not_riff"))
    // tag 2 (ADPCM) is out of subset; tag 3 (float) demands 32-bit; an
    // odd integer depth refuses — 24-bit itself is IN subset since r17
    assert(WavPcm.decode(riff(fmtChunk(tag = 2), dataChunk)) == Left("wav_not_pcm"))
    assert(WavPcm.decode(riff(fmtChunk(tag = 3), dataChunk)) == Left("wav_bad_bits"))
    assert(WavPcm.decode(riff(fmtChunk(bits = 20, align = 2), dataChunk)) ==
      Left("wav_bad_bits"))
    assert(WavPcm.decode(riff(fmtChunk(ch = 0), dataChunk)) == Left("wav_bad_channels"))
    assert(WavPcm.decode(riff(fmtChunk(align = 3), dataChunk)) == Left("wav_bad_block_align"))
    assert(WavPcm.decode(riff(fmtChunk(ch = 2, align = 4),
      chunk("data", Array[Byte](1, 2, 3, 4, 5, 6)))) == Left("wav_bad_data_size"))
    assert(WavPcm.decode(riff(dataChunk, fmtChunk())) == Left("wav_no_fmt"))
    assert(WavPcm.decode(riff(fmtChunk())) == Left("wav_no_data"))
    // a chunk whose declared size runs past the payload
    val truncated = riff(fmtChunk()) ++ "data".getBytes("US-ASCII") ++
      le32(1000) ++ Array[Byte](1, 2)
    assert(WavPcm.decode(truncated) == Left("wav_chunk_truncated"))

    // ── G.711 µ-law/A-law (r18): exhaustive decode parity with the
    // JDK's own codec — all 256 code bytes of BOTH laws through a WAV
    // the JDK converts to PCM_SIGNED 16-bit; the tables must agree on
    // every entry (they implement the same published spec) ──
    Seq(("ulaw", 7), ("alaw", 6)).foreach { case (law, tag) =>
      val codes = Array.tabulate(256)(identity)
      val bytes = new java.io.ByteArrayOutputStream()
      def w16(v: Int) = { bytes.write(v & 0xff); bytes.write((v >>> 8) & 0xff) }
      def w32(v: Int) = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      bytes.write("RIFF".getBytes("US-ASCII")); w32(36 + 256)
      bytes.write("WAVE".getBytes("US-ASCII"))
      bytes.write("fmt ".getBytes("US-ASCII")); w32(16)
      w16(tag); w16(1); w32(8000); w32(8000); w16(1); w16(8)
      bytes.write("data".getBytes("US-ASCII")); w32(256)
      codes.foreach(bytes.write)
      val wav = bytes.toByteArray
      val ours = WavPcm.decode(wav).getOrElse(fail(s"$law decode failed"))
      assert(ours.bitsPerSample == 8 && ours.samples.length == 256)
      val srcAis = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val target = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val pcmAis = javax.sound.sampled.AudioSystem.getAudioInputStream(
        target, srcAis)
      val raw = pcmAis.readAllBytes()
      assert(raw.length == 512, s"$law: javax frame count ${raw.length}")
      (0 until 256).foreach { k =>
        val theirs = ((raw(2 * k) & 0xff) | ((raw(2 * k + 1) & 0xff) << 8))
          .toShort.toInt
        assert(ours.samples(k) == theirs,
          s"$law code $k: ours ${ours.samples(k)} vs javax $theirs")
      }
      // encode round-trip: decode(encode(x)) is the spec's quantization
      // of x, monotone and within the top-segment step of the input
      val xs = Array.tabulate(200)(i => i * 327 - 32700)
      val enc = if (law == "ulaw") WavPcm.encodeUlaw(8000, 1, xs)
        else WavPcm.encodeAlaw(8000, 1, xs)
      val rt = WavPcm.decode(enc).getOrElse(fail(s"$law round-trip failed"))
      val q = if (law == "ulaw") xs.map(WavPcm.quantizeUlaw)
        else xs.map(WavPcm.quantizeAlaw)
      assert(rt.samples.toSeq == q.toSeq, s"$law: round-trip != quantize")
      xs.indices.foreach { i =>
        assert(math.abs(rt.samples(i) - xs(i)) <= 1024,
          s"$law: |${rt.samples(i)} - ${xs(i)}| > top-segment step")
      }
      // stereo companded frames mix exactly (equal channels)
      val encSt = if (law == "ulaw") WavPcm.encodeUlaw(8000, 2, xs)
        else WavPcm.encodeAlaw(8000, 2, xs)
      assert(WavPcm.decode(encSt).exists(_.samples.toSeq == q.toSeq))
    }
    // G.711 demands 8-bit codes: a 16-bit claim refuses
    assert(WavPcm.decode(riff(fmtChunk(tag = 7, bits = 16, align = 2),
      dataChunk)) == Left("wav_bad_bits"))
    assert(WavPcm.decode(riff(fmtChunk(tag = 6, bits = 16, align = 2),
      dataChunk)) == Left("wav_bad_bits"))

    // ── javax.sound.sampled parity fuzz: the JDK's own WAV parser as the
    // independent reference (the ImageIO-parity posture for audio) ──
    val rnd = new scala.util.Random(4242)
    (1 to 60).foreach { cse =>
      val rate = Seq(8000, 16000, 44100)(rnd.nextInt(3))
      val ch = 1 + rnd.nextInt(4) // through quad — the floorDiv mix is per-frame over all channels
      val bits = Seq(8, 16)(rnd.nextInt(2))
      val n = 1 + rnd.nextInt(300)
      val samples = Array.fill(n)(rnd.nextInt(65536) - 32768)
      val bytes =
        if (bits == 16) WavPcm.encodePcm16(rate, ch, samples)
        else WavPcm.encodePcm8(rate, ch, samples)
      val ours = WavPcm.decode(bytes).getOrElse(fail(s"case $cse: decode failed"))
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      assert(fmt.getSampleRate.toInt == rate && fmt.getChannels == ch &&
        fmt.getSampleSizeInBits == bits && !fmt.isBigEndian,
        s"case $cse: javax format disagrees: $fmt")
      val raw = ais.readAllBytes()
      assert(raw.length == n * ch * (bits / 8), s"case $cse: javax frame count")
      // javax's frames, decoded per ITS format object, mono-mixed our way
      val theirs = (0 until n).map { f =>
        var sum = 0L
        (0 until ch).foreach { c =>
          val s =
            if (bits == 16) {
              val off = (f * ch + c) * 2
              ((raw(off) & 0xff) | ((raw(off + 1) & 0xff) << 8)).toShort.toInt
            } else ((raw(f * ch + c) & 0xff) - 128) << 8
          sum += s
        }
        java.lang.Math.floorDiv(sum, ch.toLong).toInt
      }
      assert(ours.samples.toSeq == theirs,
        s"case $cse: sample mismatch vs javax (rate=$rate ch=$ch bits=$bits n=$n)")
    }
  }

  test("audio descriptors: envelope equals its relational twin; spectral is shift/gain-blind") {
    import graft.functions.{AudioEnvelopeFeature, AudioSpectralFeature, WavPcm}
    // ── envelope: native expression == the q88 relational twin re-centered ──
    // the chain q88's oracle proof rides: persisted-sample integer frame
    // sums (hash-proven vs DuckDB) → frame means → grand-mean centering →
    // float cast, re-derived here independently and compared BIT-exact
    val docs = spark.range(30).select($"id".as("doc_id"))
    val media = Multimodal.syntheticAudio(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val envById = Multimodal.audioEnvelopeFeatures(media).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      Multimodal.audioSamples(media).collect().foreach { r =>
        val id = r.getLong(0)
        val samples = r.getSeq[Int](4).toArray
        val sum = new Array[Long](64); val cnt = new Array[Long](64)
        var i = 0
        while (i < samples.length) {
          val f = ((i.toLong * 64) / samples.length).toInt
          sum(f) += math.abs(samples(i).toLong); cnt(f) += 1
          i += 1
        }
        val means = (0 until 64).map(i => sum(i).toDouble / cnt(i))
        var grand = 0.0
        means.foreach(grand += _)
        grand /= 64
        val expected = means.map(m => (m - grand).toFloat).toArray
        assert(java.util.Arrays.equals(envById(id), expected),
          s"envelope twin diverged at id $id")
      }

      // ── spectral: native == an independent direct-DFT twin ──
      val wave = Multimodal.waveformSamples(7L, 2048, 0)
      val native = AudioSpectralFeature.feature(wave, 24)
      val ref = (1 to 24).map { k =>
        var re = 0.0; var im = 0.0
        var i = 0
        while (i < wave.length) {
          val a = -2.0 * StrictMath.PI * k * i / wave.length
          re += wave(i) * StrictMath.cos(a); im += wave(i) * StrictMath.sin(a)
          i += 1
        }
        StrictMath.sqrt(re * re + im * im)
      }.toArray
      assert(native.length == 24)
      native.zip(ref).zipWithIndex.foreach { case ((n, rr), i) =>
        assert(math.abs(n - rr) <= 1e-7 * math.max(1.0, math.abs(rr)),
          s"spectral twin diverged at coeff $i: $n vs $rr")
      }

      def cosine(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }

      // ── gain: an EXACT ×2 re-level (integer, no rounding) — envelope
      // mean-centering commutes with the scale, cosine is exactly 1 up to
      // float casts; the corpus's ×1.25 rint re-level stays ≈ 1 ──
      val wave2 = wave.map(_ * 2)
      assert(cosine(AudioEnvelopeFeature.feature(wave, 64),
        AudioEnvelopeFeature.feature(wave2, 64)) > 1 - 1e-9)
      assert(cosine(native, AudioSpectralFeature.feature(wave2, 24)) > 1 - 1e-9)
      val wave125 = wave.map(v => StrictMath.rint(v * 1.25).toInt)
      assert(cosine(AudioEnvelopeFeature.feature(wave, 64),
        AudioEnvelopeFeature.feature(wave125, 64)) > 0.999)

      // ── the shift boundary itself, one planted pair: the same aperiodic
      // field windowed 256 samples later — spectral cosine stays high
      // (magnitudes), envelope cosine drops (aligned bins decorrelate);
      // this single-pair shape is what the shift sweep measures in bulk ──
      val shifted = Multimodal.waveformSamples(7L, 2048, 256)
      val sCos = cosine(native, AudioSpectralFeature.feature(shifted, 24))
      val eCos = cosine(AudioEnvelopeFeature.feature(wave, 64),
        AudioEnvelopeFeature.feature(shifted, 64))
      assert(sCos > 0.9, s"spectral shift cosine $sCos")
      assert(sCos > eCos, s"spectral $sCos should beat envelope $eCos on shifts")

      // ── a constant/DC clip: every band's |F| is exactly zero — the
      // Goertzel cancellation (state ~1e15 vs true value 0) must clamp
      // to 0.0, never leak a NaN float into the descriptor ──
      val flat = AudioSpectralFeature.feature(Array.fill(2048)(1000), 24)
      assert(flat.forall(v => !v.isNaN && v >= 0.0f),
        s"DC clip spectral feature carries NaN/negative: ${flat.toSeq}")
      assert(flat.forall(_ < 1.0f), s"DC clip bands should be ~0: ${flat.toSeq}")

      // ── hostile rows: per-row error, never a throw ──
      val tiny = WavPcm.encodePcm16(8000, 1, Array.tabulate(16)(i => i * 100))
      val bad = Seq((1L, "definitely not a wav".getBytes("UTF-8")), (2L, tiny))
        .toDF("media_id", "payload")
      val envBad = Multimodal.audioEnvelopeFeatures(bad).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      val specBad = Multimodal.audioSpectralFeatures(bad).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      // r18: the AudioCodecs dispatch names the refusal (neither RIFF
      // nor fLaC magic) before any per-container error can
      assert(envBad(1L) == "not_audio" && specBad(1L) == "not_audio")
      assert(envBad(2L) == "audio_too_short" && specBad(2L) == "audio_too_short")

      // ── the survivor form: planted gain+jitter twins eliminate soundly
      // through featureAssign over envelope descriptors ──
      val corpus = graft.probes.AudioDedupProbe.corpus(spark, 400, 1, 2048)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val feats = Multimodal.audioEnvelopeFeatures(corpus)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val assign = Multimodal.featureAssign(feats, threshold = 0.9)
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        assert(assign.size == 400)
        val fmap = feats.filter(col("feature").isNotNull).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        assign.foreach { case (id, d) => d.foreach { dup =>
          assert(dup < id && cosine(fmap(id), fmap(dup)) > 0.9 - 1e-6,
            s"unsound elimination $id -> $dup")
        } }
        val twins = (0L until 400L).filter(_ % 20 == 1)
        val eliminated = twins.count(assign(_).isDefined)
        assert(eliminated >= 18, s"only $eliminated/20 planted twins eliminated")
        feats.unpersist()
      } finally { corpus.unpersist() }
    } finally { media.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("audio tolerance routes the measured descriptor tiers; runPlan executes them") {
    import graft.ext.Dedup
    // routing pins at the r16 sweep values (20k clips, 1000 pairs/cell)
    // value churn: the envelope's measured-flat band to 20%
    val rj = Dedup.recommendFamily(0.05, 0.9, modality = "audio")
    assert(rj.family == "audio_envelope_lsh" &&
      math.abs(rj.expectedDetection - 1.0) < 1e-9)
    // byte-identical tolerance -> exact payload-digest dedup
    assert(Dedup.recommendFamily(0.0, modality = "audio").family == "exact")
    // the r17 sweep extension measured past the old 20% edge: 50% churn
    // is now a MEASURED 1.000 cell (not a refusal), and full churn reads
    // the measured 0.993 — the envelope keeps winning wherever it clears
    // the caller's bar, embeddings route only when it genuinely misses
    val r50 = Dedup.recommendFamily(0.5, 0.9, modality = "audio")
    assert(r50.family == "audio_envelope_lsh" &&
      math.abs(r50.expectedDetection - 1.0) < 1e-9, r50.rationale)
    val rFull = Dedup.recommendFamily(1.0, 0.9, modality = "audio")
    assert(rFull.family == "audio_envelope_lsh" &&
      math.abs(rFull.expectedDetection - 0.993) < 1e-9)
    assert(Dedup.recommendFamily(1.0, 0.999, hasEmbeddings = true,
      modality = "audio").family == "embedding_lsh")
    val miss = Dedup.recommendFamily(1.0, 0.999, modality = "audio")
    assert(miss.family == "audio_envelope_lsh" &&
      miss.rationale.contains("BELOW"))
    // time shift: envelope owns <= ~8 samples, spectral the measured band
    val r8 = Dedup.recommendFamily(0.01, 0.9, modality = "audio",
      geometricTolerance = 8)
    assert(r8.family == "audio_envelope_lsh" &&
      math.abs(r8.expectedDetection - 0.973) < 1e-9)
    val r32 = Dedup.recommendFamily(0.01, 0.9, modality = "audio",
      geometricTolerance = 32)
    assert(r32.family == "audio_spectral_lsh" &&
      math.abs(r32.expectedDetection - 1.0) < 1e-9)
    val r512 = Dedup.recommendFamily(0.01, 0.9, modality = "audio",
      geometricTolerance = 512)
    assert(r512.family == "audio_spectral_lsh" &&
      math.abs(r512.expectedDetection - 0.998) < 1e-9)
    // past the measured shift band with a higher bar
    assert(Dedup.recommendFamily(0.01, 0.999, hasEmbeddings = true,
      modality = "audio", geometricTolerance = 512).family == "embedding_lsh")
    val below = Dedup.recommendFamily(0.01, 0.999, modality = "audio",
      geometricTolerance = 512)
    assert(below.family == "audio_spectral_lsh" && below.rationale.contains("BELOW"))
    // the knob stays modality-gated for text
    intercept[IllegalArgumentException] {
      Dedup.recommendFamily(0.01, geometricTolerance = 1.0)
    }

    // execution: 64-sample-shifted re-trims — the routed spectral plan
    // runs through runPlan to EXACTLY the direct call's assignment,
    // eliminates (nearly) every planted twin soundly, while the envelope
    // tier's aligned bins see none of them (the measured boundary)
    val media = graft.probes.AudioDedupProbe.shiftCorpus(spark, 400, 64, 2048)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val envFeats = Multimodal.audioEnvelopeFeatures(media)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val envDetected = Similarity.nearDupPairsLsh(
        envFeats.filter(col("feature").isNotNull), 0.9,
        idCol = "media_id", vecCol = "feature")
        .filter(col("id_b") === col("id_a") + 1 &&
          pmod(col("id_b"), lit(20)) === 1)
        .count()
      assert(envDetected <= 2, s"envelope saw $envDetected shifted twins")
      envFeats.unpersist()
      val feats = Multimodal.audioSpectralFeatures(media)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p = Dedup.plan(feats, mutationTolerance = 0.01, threshold = 0.9,
        modality = "audio", geometricTolerance = 64, vecCol = "feature")
      assert(p.family == "audio_spectral_lsh" && p.lshConfig.isDefined)
      // descriptor tiers always stamp their MEASURED 0.9 operating point:
      // a caller-passed generic threshold (default 0.98) would execute
      // above the sweep's validity and silently void expectedDetection
      val pDefault = Dedup.plan(feats, mutationTolerance = 0.01,
        modality = "audio", geometricTolerance = 64, vecCol = "feature")
      assert(pDefault.threshold == 0.9 &&
        pDefault.rationale.contains("measured cosine operating point"),
        s"default-threshold plan: ${pDefault.threshold} / ${pDefault.rationale}")
      // an EXPLICIT conflicting threshold fails loudly (r16 advice): a
      // caller passing a stricter 0.95 cut must not silently get 0.9
      intercept[IllegalArgumentException] {
        Dedup.plan(feats, mutationTolerance = 0.01, threshold = 0.95,
          modality = "audio", geometricTolerance = 64, vecCol = "feature")
      }
      def assignSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      val (planes, tables) = p.lshConfig.get
      val direct = assignSet(Similarity.nearDupAssignFromTable(
        Similarity.lshTable(feats, planes, tables, "media_id", "feature"),
        feats, p.threshold, "media_id", "feature"))
      val viaPlan = assignSet(Dedup.runPlan(p, feats, idCol = "media_id",
        vecCol = "feature"))
      assert(viaPlan == direct)
      val fmap = feats.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val elims = viaPlan.collect { case (id, Some(d)) => (id, d) }
      elims.foreach { case (id, d) =>
        assert(d < id && cos(fmap(id), fmap(d)) > 0.9 - 1e-6,
          s"unsound elimination $id -> $d (cos ${cos(fmap(id), fmap(d))})")
      }
      val twinIds = (0L until 400L).filter(_ % 20 == 1).toSet
      val eliminatedTwins = elims.map(_._1).toSet.intersect(twinIds)
      assert(eliminatedTwins.size >= 18,
        s"only ${eliminatedTwins.size}/20 shifted twins eliminated")
      feats.unpersist()
    } finally { media.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("recommendFamily encodes the r12 detection-vs-mutation sweep") {
    import graft.ext.Dedup
    // the sweep's own points come back exactly (no interpolation distortion)
    assert(math.abs(Dedup.recommendFamily(0.01, 0.7).expectedDetection - 0.770) < 1e-9)
    assert(math.abs(Dedup.recommendFamily(0.02, 0.95).expectedDetection - 0.986) < 1e-9)
    // the measured division of labor: near-identity churn -> simhash;
    // the rewrite band -> minhash; past minhash's measured 0.895 at 5%
    // the text tier cannot clear 0.9 and the semantic tier takes over
    assert(Dedup.recommendFamily(0.01, 0.7).family == "simhash")
    assert(Dedup.recommendFamily(0.02, 0.9).family == "minhash")
    assert(Dedup.recommendFamily(0.05, 0.9, hasEmbeddings = true).family == "embedding_lsh")
    // without embeddings the chooser still answers, but says the bar is missed
    val fallback = Dedup.recommendFamily(0.05, 0.9)
    assert(fallback.family == "minhash" && fallback.expectedDetection < 0.9)
    assert(fallback.rationale.contains("BELOW"))
    // sub-resolution tolerance routes to exact dedup; churn past the sweep
    // clamps to the 5% row rather than extrapolating optimism
    assert(Dedup.recommendFamily(0.001).family == "exact")
    assert(Dedup.recommendFamily(0.2, 0.2).expectedDetection <= 0.235 + 1e-9)
    // interpolated detection is monotone decreasing in churn for both tiers
    val det = Seq(0.01, 0.015, 0.02, 0.03, 0.05)
      .map(m => Dedup.recommendFamily(m, 0.99, hasEmbeddings = false).expectedDetection)
    assert(det.zip(det.tail).forall { case (a, b) => a >= b - 1e-12 }, det.toString)
  }

  // ───── image perceptual near-dup (PNG decode + dHash) ─────

  test("PngGray codec: encode/decode round-trip, filter reversal, RGB luminance") {
    import graft.functions.PngGray
    val pix = Multimodal.patternPixels(7L, 32, 32)
    val dec = PngGray.decode(PngGray.encodeGray(32, 32, pix))
    assert(dec == Right(PngGray.Gray(32, 32, pix)) ||
      dec.toOption.exists(g => g.width == 32 && g.height == 32 &&
        g.pix.toSeq == pix.toSeq))

    // independent chunk assembly (NOT via encodeGray) so the decoder's
    // filter reversal is tested against forward filters applied here
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(be32(data.length)); out.write(typ.getBytes("US-ASCII"))
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      out.write(be32(crc.getValue.toInt))
      out.toByteArray
    }
    def assemble(w: Int, h: Int, colorType: Int, raw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(chunk("IHDR", be32(w) ++ be32(h) ++
        Array[Byte](8, colorType.toByte, 0, 0, 0)))
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length * 2 + 64)
      val m = d.deflate(buf); d.end()
      out.write(chunk("IDAT", java.util.Arrays.copyOf(buf, m)))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }
    // forward-apply each filter type to the pattern's scanlines; the
    // decoder must reverse all five to the same grid
    val (w, h) = (16, 12)
    val grid = Multimodal.patternPixels(9L, w, h)
    for (ft <- 0 to 4) {
      val raw = new Array[Byte](h * (1 + w))
      for (y <- 0 until h) {
        raw(y * (1 + w)) = ft.toByte
        for (x <- 0 until w) {
          val cur = grid(y * w + x) & 0xff
          val a = if (x > 0) grid(y * w + x - 1) & 0xff else 0
          val b = if (y > 0) grid((y - 1) * w + x) & 0xff else 0
          val c = if (y > 0 && x > 0) grid((y - 1) * w + x - 1) & 0xff else 0
          val pred = ft match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case 4 =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          raw(y * (1 + w) + 1 + x) = ((cur - pred) & 0xff).toByte
        }
      }
      val got = PngGray.decode(assemble(w, h, 0, raw))
      assert(got.isRight && got.toOption.get.pix.toSeq == grid.toSeq,
        s"filter $ft did not round-trip: $got")
    }
    // RGB (color type 2) projects to BT.601 integer luminance
    val rgbRaw = new Array[Byte](2 * (1 + 2 * 3)) // 2x2 RGB, filter 0 rows
    val colors = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255), (200, 200, 200))
    for (y <- 0 until 2; x <- 0 until 2) {
      val (r, g, b) = colors(y * 2 + x)
      val o = y * 7 + 1 + x * 3
      rgbRaw(o) = r.toByte; rgbRaw(o + 1) = g.toByte; rgbRaw(o + 2) = b.toByte
    }
    val rgb = PngGray.decode(assemble(2, 2, 2, rgbRaw))
    assert(rgb.isRight)
    val lums = rgb.toOption.get.pix.map(_ & 0xff).toSeq
    assert(lums == colors.map { case (r, g, b) => (77 * r + 150 * g + 29 * b) >> 8 },
      lums.toString)
    // failure taxonomy: throw-free Lefts
    assert(PngGray.decode("not a png".getBytes).isLeft)
    assert(PngGray.decode(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A,
      0x1A, 0x0A, 0, 0)).isLeft) // truncated after signature
    // hostile inputs (r14 review): a preset-dictionary (FDICT) zlib
    // stream makes Inflater return 0 forever without needing input —
    // must be an error Left, never an infinite loop. 0x78BB has the
    // FDICT bit set and passes the zlib FCHECK (0x78BB % 31 == 0).
    val fdictPng = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(chunk("IHDR", be32(4) ++ be32(4) ++ Array[Byte](8, 0, 0, 0, 0)))
      out.write(chunk("IDAT", Array[Byte](0x78, 0xBB.toByte, 1, 2, 3, 4, 0, 0)))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }
    assert(PngGray.decode(fdictPng) == Left("png_bad_idat"))
    // and u32 dims whose Long product overflows must hit the cap, not
    // slip into a negative allocation or a 4-billion-row unfilter loop
    val overflowPng = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
      val ff = Array.fill[Byte](4)(0xFF.toByte)
      out.write(chunk("IHDR", ff ++ ff ++ Array[Byte](8, 0, 0, 0, 0)))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }
    assert(PngGray.decode(overflowPng) == Left("png_bad_dims"))
    // Adam7 (interlace 1) is SUPPORTED since r16 (its own test below);
    // a declared-interlaced payload whose IDAT carries non-interlaced
    // scanlines inflates short of the seven passes' length — bad idat,
    // never a misread grid. Anything past method 1 is invalid outright.
    val fakeInterlaced = assemble(4, 4, 0, new Array[Byte](4 * 5)).updated(28, 1.toByte)
    assert(PngGray.decode(fakeInterlaced) == Left("png_bad_idat"))
    val badMethod = assemble(4, 4, 0, new Array[Byte](4 * 5)).updated(28, 2.toByte)
    assert(PngGray.decode(badMethod) == Left("png_bad_interlace"))
  }

  test("PngGray palette decode (color type 3): LUT projection, errors, ImageIO parity") {
    import graft.functions.PngGray
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(be32(data.length)); out.write(typ.getBytes("US-ASCII"))
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      out.write(be32(crc.getValue.toInt))
      out.toByteArray
    }
    def assemblePalette(w: Int, h: Int, plteChunks: Seq[Array[Byte]],
        indices: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 3, 0, 0, 0)))
      plteChunks.foreach(p => out.write(chunk("PLTE", p)))
      val raw = new Array[Byte](h * (1 + w))
      for (y <- 0 until h) {
        raw(y * (1 + w)) = 0
        System.arraycopy(indices, y * w, raw, y * (1 + w) + 1, w)
      }
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length * 2 + 64)
      val m = d.deflate(buf); d.end()
      out.write(chunk("IDAT", java.util.Arrays.copyOf(buf, m)))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }

    // identity-gray palette reproduces the indices bit-exact (the BT.601
    // weights sum to 256) — what lets the synthetic corpus mix encodings
    // without moving a single planted dHash
    val pix = Multimodal.patternPixels(13L, 16, 12)
    val dec = PngGray.decode(
      PngGray.encodePalette(16, 12, PngGray.identityGrayPalette, pix))
    assert(dec.toOption.exists(g => g.width == 16 && g.height == 12 &&
      g.pix.toSeq == pix.toSeq), dec.toString)

    // nontrivial palette: every pixel is the BT.601 luminance of its
    // PLTE triple, computed independently here
    val rnd = new scala.util.Random(41)
    val palette = Array.fill[Byte](16 * 3)(rnd.nextInt(256).toByte)
    val idx = Array.tabulate[Byte](16 * 12)(i => (i % 16).toByte)
    val lum = PngGray.decode(PngGray.encodePalette(16, 12, palette, idx))
      .toOption.get.pix.map(_ & 0xff)
    idx.map(_ & 0xff).zip(lum).foreach { case (k, l) =>
      val expect = (77 * (palette(3 * k) & 0xff) + 150 * (palette(3 * k + 1) & 0xff) +
        29 * (palette(3 * k + 2) & 0xff)) >> 8
      assert(l == expect, s"palette entry $k: got $l want $expect")
    }

    // error taxonomy: loud per-row Lefts, never a wrong-but-plausible grid
    val noPlte = {
      val full = assemblePalette(4, 4, Nil, new Array[Byte](16))
      full
    }
    assert(PngGray.decode(noPlte) == Left("png_no_plte"))
    assert(PngGray.decode(assemblePalette(4, 4, Seq(Array[Byte](1, 2, 3, 4)),
      new Array[Byte](16))) == Left("png_bad_plte")) // len % 3 != 0
    assert(PngGray.decode(assemblePalette(4, 4,
      Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6)),
      new Array[Byte](16))) == Left("png_bad_plte")) // duplicate PLTE
    assert(PngGray.decode(assemblePalette(4, 4, Seq(Array[Byte](9, 9, 9)),
      Array.fill[Byte](16)(5))) == Left("png_bad_palette_index"))

    // independent-parser parity (javax.imageio, in the JDK): random gray
    // AND palette fixtures decode to the same luminance grid — the q78
    // fuzz posture applied to the pixel decoder
    for (seed <- 1 to 40) {
      val r = new scala.util.Random(seed)
      val w = 1 + r.nextInt(24); val h = 1 + r.nextInt(24)
      val usePalette = seed % 2 == 0
      val png =
        if (usePalette) {
          val nCol = 1 + r.nextInt(256)
          val pal = Array.fill[Byte](nCol * 3)(r.nextInt(256).toByte)
          val ind = Array.fill[Byte](w * h)(r.nextInt(nCol).toByte)
          PngGray.encodePalette(w, h, pal, ind)
        } else
          PngGray.encodeGray(w, h, Array.fill[Byte](w * h)(r.nextInt(256).toByte))
      val ours = PngGray.decode(png)
      assert(ours.isRight, s"seed $seed: $ours")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null && img.getWidth == w && img.getHeight == h, s"seed $seed")
      val g = ours.toOption.get
      for (y <- 0 until h; x <- 0 until w) {
        // gray: read the raster sample directly (getRGB would route
        // through Java's CS_GRAY→sRGB transform, which is not identity);
        // palette: getRGB is the IndexColorModel's exact PLTE triple
        val expect =
          if (usePalette) {
            val rgb = img.getRGB(x, y)
            (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) +
              29 * (rgb & 0xff)) >> 8
          } else img.getRaster.getSample(x, y, 0)
        assert((g.pix(y * w + x) & 0xff) == expect,
          s"seed $seed ($x,$y): ours ${g.pix(y * w + x) & 0xff} vs imageio $expect")
      }
    }
  }

  test("PngGray alpha (types 4/6): alpha-blind luma, filter arithmetic, ImageIO parity") {
    import graft.functions.PngGray
    // our RGBA encoder: luma = BT.601 of the RGB samples, whatever the
    // alpha plane carries — exact, per pixel
    for (seed <- 1 to 15) {
      val r = new scala.util.Random(seed + 500)
      val w = 1 + r.nextInt(24); val h = 1 + r.nextInt(24)
      val rgba = Array.fill[Byte](w * h * 4)(r.nextInt(256).toByte)
      val ours = PngGray.decode(PngGray.encodeRgba(w, h, rgba))
      assert(ours.isRight, s"seed $seed: $ours")
      for (k <- 0 until w * h) {
        val expect = (77 * (rgba(4 * k) & 0xff) + 150 * (rgba(4 * k + 1) & 0xff) +
          29 * (rgba(4 * k + 2) & 0xff)) >> 8
        assert((ours.toOption.get.pix(k) & 0xff) == expect, s"seed $seed px $k")
      }
      // gray+alpha: the gray plane exactly, alpha ignored
      val gray = Array.fill[Byte](w * h)(r.nextInt(256).toByte)
      val alpha = Array.fill[Byte](w * h)(r.nextInt(256).toByte)
      val ga = PngGray.decode(PngGray.encodeGrayAlpha(w, h, gray, alpha))
      assert(ga.isRight && ga.toOption.get.pix.toSeq == gray.toSeq, s"seed $seed ga")
      // FOREIGN encoder: ImageIO writes a real type-6 RGBA PNG (its own
      // filter choices — the Paeth/Sub/Up reversal at bpp = 4); decode
      // must match the BT.601 of the stored ARGB exactly (lossless)
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until h; x <- 0 until w) {
        val k = y * w + x
        bi.setRGB(x, y, ((alpha(k) & 0xff) << 24) | ((rgba(4 * k) & 0xff) << 16) |
          ((rgba(4 * k + 1) & 0xff) << 8) | (rgba(4 * k + 2) & 0xff))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "png", bos)
      val foreign = PngGray.decode(bos.toByteArray)
      assert(foreign.isRight, s"seed $seed foreign: $foreign")
      for (y <- 0 until h; x <- 0 until w) {
        val argb = bi.getRGB(x, y)
        val expect = (77 * ((argb >> 16) & 0xff) + 150 * ((argb >> 8) & 0xff) +
          29 * (argb & 0xff)) >> 8
        assert((foreign.toOption.get.pix(y * w + x) & 0xff) == expect,
          s"seed $seed foreign ($x,$y)")
      }
    }
    // an OPAQUE rgba encoding of gray pixels fingerprints identically to
    // the gray encoding — alpha blindness in the planted-invariant sense
    val pix = Multimodal.patternPixels(29L, 32, 32)
    val rgbaGray = new Array[Byte](32 * 32 * 4)
    for (k <- 0 until 32 * 32) {
      rgbaGray(4 * k) = pix(k); rgbaGray(4 * k + 1) = pix(k)
      rgbaGray(4 * k + 2) = pix(k)
      rgbaGray(4 * k + 3) = ((k * 37) & 0xff).toByte // varying alpha
    }
    import graft.functions.ImageDHash
    assert(ImageDHash.dHash64(PngGray.decode(
      PngGray.encodeRgba(32, 32, rgbaGray)).toOption.get) ==
      ImageDHash.dHash64(PngGray.decode(
        PngGray.encodeGray(32, 32, pix)).toOption.get))
  }

  test("PngGray sub-byte depths (1/2/4): max-value scaling, palette LUT, ImageIO parity") {
    import graft.functions.PngGray
    for (seed <- 1 to 12; depth <- Seq(1, 2, 4)) {
      val r = new scala.util.Random(seed * 31 + depth)
      val w = 1 + r.nextInt(24); val h = 1 + r.nextInt(24)
      val maxV = (1 << depth) - 1
      // gray: decode scales by the standard max-value rule (x255/maxV)
      val gs = Array.fill(w * h)(r.nextInt(1 << depth))
      val ours = PngGray.decode(PngGray.encodeGraySub(w, h, depth, gs))
      assert(ours.isRight, s"d$depth seed $seed: $ours")
      for (k <- 0 until w * h)
        assert((ours.toOption.get.pix(k) & 0xff) == gs(k) * 255 / maxV,
          s"d$depth seed $seed px $k")
      // ...and the independent parser reads the SAME raw samples
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        PngGray.encodeGraySub(w, h, depth, gs)))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == gs(y * w + x),
          s"d$depth imageio ($x,$y)")
      // palette: indices through the PLTE BT.601 LUT, bit-packed
      val nCol = 1 << depth
      val pal = Array.fill[Byte](nCol * 3)(r.nextInt(256).toByte)
      val ind = Array.fill(w * h)(r.nextInt(nCol))
      val op = PngGray.decode(PngGray.encodePaletteSub(w, h, depth, pal, ind))
      assert(op.isRight, s"pal d$depth seed $seed: $op")
      val imgP = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        PngGray.encodePaletteSub(w, h, depth, pal, ind)))
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = imgP.getRGB(x, y)
        val expect = (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) +
          29 * (rgb & 0xff)) >> 8
        assert((op.toOption.get.pix(y * w + x) & 0xff) == expect,
          s"pal d$depth ($x,$y)")
      }
    }
    // an index past a SHORT sub-byte palette still refuses loudly
    assert(PngGray.decode(PngGray.encodePaletteSub(4, 4, 4,
      Array[Byte](1, 2, 3, 4, 5, 6), // 2 entries
      Array.fill(16)(3))) == Left("png_bad_palette_index"))
    // 16-bit palette headers stay invalid; sub-byte RGB stays unsupported
    // (spec-illegal combinations refuse rather than decode plausibly)
    val bad = PngGray.encodeGraySub(4, 4, 4, Array.fill(16)(1)).clone()
    bad(24) = 4; bad(25) = 2 // depth 4, color type 2 (RGB) — illegal
    assert(PngGray.decode(bad) == Left("png_unsupported_depth"))
  }

  test("PngGray Adam7 + 16-bit: pixel-exact deinterlace, high-byte reduction, ImageIO parity") {
    import graft.functions.{ImageDHash, PngGray}
    // deinterlace == straight decode, pixel-exact, across dims that leave
    // assorted Adam7 passes EMPTY (1x1 has only pass 1; 3x5 skips several)
    for ((w, h) <- Seq((1, 1), (2, 2), (3, 5), (5, 3), (8, 8), (9, 7), (16, 12), (33, 17))) {
      val pix = Array.tabulate[Byte](w * h)(i => ((i * 37 + 11) & 0xff).toByte)
      val inter = PngGray.decode(PngGray.encodeGrayInterlaced(w, h, pix))
      assert(inter.isRight, s"${w}x$h: $inter")
      assert(inter.toOption.get.pix.toSeq == pix.toSeq, s"${w}x$h deinterlace")
    }
    // independent-parser parity: javax.imageio deinterlaces and reads
    // 16-bit rasters — the q78/palette fuzz posture on both new paths
    for (seed <- 1 to 12) {
      val r = new scala.util.Random(seed + 300)
      val w = 1 + r.nextInt(24); val h = 1 + r.nextInt(24)
      val pix = Array.fill[Byte](w * h)(r.nextInt(256).toByte)
      val png = PngGray.encodeGrayInterlaced(w, h, pix)
      val ours = PngGray.decode(png)
      assert(ours.isRight, s"seed $seed: $ours")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null && img.getWidth == w && img.getHeight == h, s"seed $seed")
      for (y <- 0 until h; x <- 0 until w)
        assert((ours.toOption.get.pix(y * w + x) & 0xff) ==
          img.getRaster.getSample(x, y, 0), s"interlaced seed $seed ($x,$y)")
    }
    for (seed <- 1 to 12) {
      val r = new scala.util.Random(seed + 400)
      val w = 1 + r.nextInt(24); val h = 1 + r.nextInt(24)
      val samples = Array.fill(w * h)(r.nextInt(65536))
      val png = PngGray.encodeGray16(w, h, samples)
      val ours = PngGray.decode(png)
      assert(ours.isRight, s"seed $seed: $ours")
      // the decode is the standard high-byte reduction...
      assert(ours.toOption.get.pix.toSeq == samples.map(s => (s >>> 8).toByte).toSeq)
      // ...and ImageIO's 16-bit raster agrees sample-for-sample
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null && img.getWidth == w && img.getHeight == h, s"seed $seed")
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == samples(y * w + x),
          s"16-bit seed $seed ($x,$y)")
    }
    // the fingerprint contract: a 16-bit image whose high bytes equal an
    // 8-bit image hashes IDENTICALLY whatever its low bytes carry, and an
    // interlaced re-encode of the same pixels hashes identically too —
    // planted dHash invariants survive both encodings (q79/q80/q84 safe)
    val base = Multimodal.patternPixels(17L, 32, 32)
    val rl = new scala.util.Random(9)
    val hi16 = base.map(b => ((b & 0xff) << 8) | rl.nextInt(256))
    def hashOf(png: Array[Byte]): Long =
      ImageDHash.dHash64(PngGray.decode(png).toOption.get)
    val h8 = hashOf(PngGray.encodeGray(32, 32, base))
    assert(hashOf(PngGray.encodeGray16(32, 32, hi16)) == h8)
    assert(hashOf(PngGray.encodeGrayInterlaced(32, 32, base)) == h8)
    // error taxonomy (IHDR CRC is unchecked by the constrained decoder,
    // so byte-level mutation builds the fixtures)
    val good = PngGray.encodeGray(8, 8, new Array[Byte](64))
    val badInterlace = good.clone(); badInterlace(28) = 2
    assert(PngGray.decode(badInterlace) == Left("png_bad_interlace"))
    // depth 3 is illegal per spec (1/2/4/8/16 only; 4 became a REAL
    // decode in r17, so the fixture moved off it)
    val badDepth = good.clone(); badDepth(24) = 3
    assert(PngGray.decode(badDepth) == Left("png_unsupported_depth"))
    // 16-bit palette is invalid per spec (palette depth caps at 8)
    val pal16 = PngGray.encodePalette(4, 4,
      PngGray.identityGrayPalette, new Array[Byte](16)).clone()
    pal16(24) = 16
    assert(PngGray.decode(pal16) == Left("png_unsupported_depth"))
  }

  test("ImageDHash: brightness-exact, small-mutation radius, planted pair mining") {
    import graft.functions.{ImageDHash, PngGray}
    def hashOf(pix: Array[Byte], w: Int = 32, h: Int = 32): Long =
      ImageDHash.dHash64(PngGray.Gray(w, h, pix))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = Multimodal.patternPixels(3L, 32, 32)
    // uniform brightness shift: EXACT invariance (no pixel clamps by
    // construction — amplitudes keep the field in [13, 251])
    val bright = base.map(p => ((p & 0xff) + 8).toByte)
    assert(hashOf(base) == hashOf(bright))
    // 1-pixel crop: few gradient signs flip
    val crop = Array.tabulate(31 * 31)(i => base((i / 31 + 1) * 32 + (i % 31 + 1)))
    assert(ham(hashOf(base), hashOf(crop, 31, 31)) <= 12)
    // distinct patterns: far apart
    val other = Multimodal.patternPixels(4L, 32, 32)
    assert(ham(hashOf(base), hashOf(other)) >= 16)

    // the expression path agrees with the direct decode+hash
    val png = PngGray.encodeGray(32, 32, base)
    val viaExpr = Seq((1L, png)).toDF("media_id", "payload")
      .select(ImageDHash($"payload").as("f")).select($"f.dhash", $"f.error")
      .first()
    assert(viaExpr.getLong(0) == hashOf(base) && viaExpr.isNullAt(1))
    // undecodable payloads: error, null hash, never a throw
    val bad = Seq((1L, "plain text".getBytes), (2L, Array[Byte](0xFF.toByte, 0xD8.toByte)))
      .toDF("media_id", "payload")
    val badRows = Multimodal.imageFingerprints(bad).collect()
    assert(badRows.forall(r => r.isNullAt(1) && !r.isNullAt(2)))

    // planted near-dup mining over the synthetic corpus: every id%20==1
    // image is its predecessor's pattern +8 brightness + one pixel
    // jitter (hamming ≤ 2 by construction) — detected at the default
    // radius through the REUSED Manku blocking; extras (if any) must
    // still verify at the radius
    val docs = spark.range(60).select($"id".as("doc_id"))
    val fps = Multimodal.imageFingerprints(Multimodal.syntheticImages(docs))
    assert(fps.filter($"error".isNotNull).count() == 0)
    val pairs = Multimodal.imageNearDups(fps, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = Set((0L, 1L), (20L, 21L), (40L, 41L))
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(got),
      s"planted image pairs missed: ${planted -- got} (got $got)")
    assert(pairs.forall(_._3 <= 3))
    // and every reported pair is a genuine perceptual near-dup: recompute
    // the hamming from the fingerprints exhaustively
    val fpMap = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b, hm) =>
      assert(ham(fpMap(a), fpMap(b)) == hm, s"hamming drifted for ($a,$b)")
    }
  }

  test("r14 advice hardening: tiny-image refusal, IHDR method bytes, NaN cosine") {
    import graft.functions.{ImageDHash, PngGray}
    // sub-9x8 images hash degenerately (trailing box cells empty → their
    // gradient bits constant 0): the HASH refuses per-row while the codec
    // still decodes — an 8x8 icon corpus errors loudly instead of
    // near-dup-collapsing silently
    val tiny = PngGray.encodeGray(8, 8, Array.fill[Byte](64)(7))
    assert(PngGray.decode(tiny).isRight) // codec: still a valid PNG
    val r = Seq((1L, tiny)).toDF("media_id", "payload")
      .select(ImageDHash($"payload").as("f")).select($"f.dhash", $"f.error").first()
    assert(r.isNullAt(0) && r.getString(1) == "image_too_small")
    // 9x8 is the smallest hashable grid — exactly at the bound succeeds
    val atBound = PngGray.encodeGray(9, 8,
      Array.tabulate[Byte](72)(i => (i * 3).toByte))
    val r2 = Seq((1L, atBound)).toDF("media_id", "payload")
      .select(ImageDHash($"payload").as("f")).select($"f.dhash", $"f.error").first()
    assert(!r2.isNullAt(0) && r2.isNullAt(1))

    // nonzero IHDR compression/filter-method bytes are an error Left,
    // never a wrong-but-plausible method-0 unfilter
    def withMethodByte(offset: Int, v: Byte): Array[Byte] = {
      val png = PngGray.encodeGray(16, 16, Array.fill[Byte](256)(9))
      // patching IHDR invalidates its CRC — the decoder ignores chunk
      // CRCs by design (content hash is the integrity story), so the
      // patched byte is what it sees
      png(offset) = v
      png
    }
    assert(PngGray.decode(withMethodByte(26, 1)) ==
      Left("png_unsupported_compression"))
    assert(PngGray.decode(withMethodByte(27, 1)) ==
      Left("png_unsupported_filter_method"))

    // NaN-element embeddings: Spark SQL sorts NaN above every double, so
    // an unguarded `cosine_sim > t` passes NaN pairs that the survivor
    // walk rejects (roundedCosine → -Infinity). Both pair paths must
    // reject them — the pinned pair/walk parity contract.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),               // exact dup of 1
      (3L, Array(Float.NaN, 0.5f)),          // hostile: NaN element
      (4L, Array(Float.NaN, 0.5f))).toDF("vec_id", "embedding")
    val brute = Similarity.nearDupPairs(emb, 0.9).collect()
    assert(brute.map(row => (row.getLong(0), row.getLong(1))).toSet == Set((1L, 2L)),
      brute.mkString(","))
    val lsh = Similarity.nearDupPairsLsh(emb, 0.9, nPlanes = 2, nTables = 4)
      .collect()
    assert(lsh.map(row => (row.getLong(0), row.getLong(1))).toSet == Set((1L, 2L)),
      lsh.mkString(","))
    spark.sharedState.cacheManager.clearCache()
  }

  test("imageAssign survivors equal the dHash radius closure, never unsound") {
    // the synthetic corpus plants hamming ≤ 2 twins at id%20==1; ground
    // truth is min-id-per-component of imageNearDups' pair path (itself
    // q80-oracle-proven zero-false-negative) — the fourth survivor family
    // must close over exactly the same relation
    val docs = spark.range(60).select($"id".as("doc_id"))
    val fps = Multimodal.imageFingerprints(Multimodal.syntheticImages(docs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = Multimodal.imageNearDups(fps, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.nonEmpty)
      val ids = fps.select("media_id").collect().map(_.getLong(0)).toSeq
      val truth = closureSurvivors(ids, pairs)
      val assign = Multimodal.imageAssign(fps, maxHamming = 3)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      assert(assign.length == ids.size)
      val survivors = assign.collect { case (id, None) => id }.toSet
      assert(survivors == truth,
        s"image survivors diverged: missing ${truth -- survivors}, " +
          s"extra ${survivors -- truth}")
      // soundness: every elimination is a genuine perceptual radius pair
      assign.foreach {
        case (id, Some(d)) => assert(d < id && pairs.contains((d, id)),
          s"($id -> $d) is not a genuine dHash radius pair")
        case _ =>
      }
      // undecodable rows survive by definition (no content to match)
      val withBad = fps.unionByName(
        Seq((999L, null.asInstanceOf[java.lang.Long], "not_png"))
          .toDF("media_id", "dhash", "error")
          .select($"media_id", $"dhash".cast("long").as("dhash"), $"error"))
      val badRow = Multimodal.imageAssign(withBad, maxHamming = 3)
        .filter($"media_id" === 999L).collect()
      assert(badRow.length == 1 && badRow.head.isNullAt(1))
      // a deepened split (simhashParams blocks) finds the identical
      // survivor set — sizing moves cost, never recall
      val (blocks, _) = graft.ext.Dedup.simhashParams(50L * 1000 * 1000 * 1000)
      val deepSurvivors = Multimodal.imageAssign(fps, maxHamming = 3,
        blocks = blocks)
        .filter($"dup_of".isNull).collect().map(_.getLong(0)).toSet
      assert(deepSurvivors == survivors)
    } finally { fps.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("survivor walk: the documented promotion leak, and clique corpora") {
    import graft.ext.Dedup
    // the measured leak shape (SCALE.md r15, one twin per 16M capstone):
    // R eliminates O in their shared cell BEFORE T arrives; T is within
    // radius of O but outside radius of R, never meets O (eliminated
    // members don't promote), and survives
    val r = 0L
    val o = 7L                 // hamming(R,O) = 3
    val tt = 7L | (7L << 8)    // hamming(O,T) = 3, hamming(R,T) = 6
    val sigs = Seq((0L, r), (1L, o), (2L, tt)).toDF("doc_id", "simhash")
    val bt = Dedup.simhashBlockTable(sigs, maxHamming = 3)
    def aset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) None else Some(x.getLong(1)))).toSet
    assert(aset(Dedup.simhashAssignFromBlocks(bt)) ==
      Set((0L, None), (1L, Some(0L)), (2L, None))) // the documented leak

    // a clique collapses onto its min id
    val clique = (0L until 4L).map(i => (i, 0x5a5aL)).toDF("doc_id", "simhash")
    val cb = Dedup.simhashBlockTable(clique, maxHamming = 3)
    assert(aset(Dedup.simhashAssignFromBlocks(cb)) ==
      Set((0L, None), (1L, Some(0L)), (2L, Some(0L)), (3L, Some(0L))))
  }

  test("simhashParams: combination blocking stays pigeonhole-exact at auto sizes") {
    import graft.ext.Dedup
    // the sizing law: growing corpora deepen the split (more blocks =
    // more key bits per table = geometrically fewer random collisions),
    // tables grow only polynomially and stay under the cap
    assert(Dedup.simhashParams(10000L) == ((4, 4)))            // legacy split
    assert(Dedup.simhashParams(16L * 1000 * 1000) == ((5, 10)))
    assert(Dedup.simhashParams(100L * 1000 * 1000) == ((6, 20)))
    assert(Dedup.simhashParams(50L * 1000 * 1000 * 1000) == ((8, 56)))
    // the modeled mass the chooser enforces: C(B,h)·n/2^(K+1) ≤ 8/doc at
    // the chosen B (spot-check the 100M row: 20·1e8/2³¹ ≈ 0.93)
    assert(20.0 * 1e8 / math.pow(2, 31) <= 8.0)
    // a table cap below even the minimal split falls back to h+1
    assert(Dedup.simhashParams(1000L, maxHamming = 3, maxTables = 2)._1 == 4)
    // h = 0 keeps one table (the whole signature is the key)
    assert(Dedup.simhashParams(1L << 40, maxHamming = 0) == ((1, 1)))
    // the sizer's answer is ALWAYS accepted by simhashBlockTable: even an
    // absurd maxTables with an unreachable mass target clamps the feasible
    // search at the builder's own 512-combination cap (r15 advice — the
    // old form could hand back C(B,h) > 512 and be rejected downstream)
    val (bCap, tCap) = Dedup.simhashParams(Long.MaxValue / 4,
      maxHamming = 3, maxTables = Int.MaxValue, targetMassPerDoc = 1e-12)
    assert(tCap <= 512, s"sizer returned $tCap tables > builder cap")
    val oneSig = Seq((1L, 0x0123456789abcdefL)).toDF("doc_id", "simhash")
    // must not throw the 512-combination require
    assert(Dedup.simhashBlockTable(oneSig, blocks = bCap).count() == tCap)

    // zero false negatives at a DEEPENED split: planted pairs at every
    // hamming distance 0..3 plus random fillers — blocked pairs must
    // EQUAL the exhaustive popcount pairs (the pigeonhole guarantee is
    // radius-exact, and the verify filter kills every false positive)
    val rnd = new scala.util.Random(11)
    val bases = Array.fill(40)(rnd.nextLong())
    val planted = bases.zipWithIndex.map { case (sig, i) =>
      var twin = sig
      val d = i % 4 // hamming 0, 1, 2, 3
      val flipped = scala.collection.mutable.Set.empty[Int]
      while (flipped.size < d) flipped += rnd.nextInt(64)
      flipped.foreach(bit => twin ^= 1L << bit)
      (1000L + i, twin)
    }
    val fillers = Array.fill(120)(rnd.nextLong()).zipWithIndex
      .map { case (sig, i) => (2000L + i, sig) }
    val sigs = (bases.zipWithIndex.map { case (s, i) => (i.toLong, s) } ++
      planted ++ fillers).toSeq.toDF("doc_id", "simhash")
    val exhaustive = {
      val all = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
      (for {
        (ia, sa) <- all; (ib, sb) <- all
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
      } yield (ia, ib)).toSet
    }
    assert(exhaustive.size >= 40, s"fixture degenerated: ${exhaustive.size}")
    val (blocks, tables) = Dedup.simhashParams(50L * 1000 * 1000 * 1000)
    assert(blocks > 4) // genuinely exercises the combination path
    val deep = Dedup.simhashPairsFromBlocks(
      Dedup.simhashBlockTable(sigs, "doc_id", "simhash", maxHamming = 3,
        blocks = blocks))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(deep == exhaustive,
      s"deep split missed ${exhaustive -- deep}, invented ${deep -- exhaustive}")
    // the table emits exactly C(blocks, h) rows per doc
    val rowsPerDoc = Dedup.simhashBlockTable(sigs, "doc_id", "simhash",
      maxHamming = 3, blocks = blocks).groupBy("doc_id").count()
      .select("count").distinct().collect().map(_.getLong(0)).toSeq
    assert(rowsPerDoc == Seq(tables), rowsPerDoc.toString)
    // and the survivor walk over the deepened table stays sound + complete
    // on clique structure: every elimination is a genuine radius pair
    // toward a smaller id
    val assign = Dedup.simhashAssignFromBlocks(
      Dedup.simhashBlockTable(sigs, "doc_id", "simhash", maxHamming = 3,
        blocks = blocks))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val sigMap = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assign.foreach { case (id, dupOf) =>
      dupOf.foreach { d =>
        assert(d < id &&
          java.lang.Long.bitCount(sigMap(id) ^ sigMap(d)) <= 3, s"unsound: $id -> $d")
      }
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("HashCorpusNonUniformity pins the r12 measured depth law and its clamps") {
    // the default law is the least-squares fit of the nine r12
    // `--rawVolume` measurements (SCALE.md "The 64M step") — the fit must
    // keep reproducing them, or the sizer's collision pricing has drifted
    // from its evidence. Per-depth measured means:
    val r12 = Seq(19 -> 2.80, 21 -> 3.32, 23 -> 4.30, 24 -> 4.80, 27 -> 7.09)
    r12.foreach { case (k, measured) =>
      val w = Similarity.HashCorpusNonUniformity.weight(k)
      assert(math.abs(w - measured) / measured < 0.10,
        s"law drifted from the r12 measurement at depth $k: $w vs $measured")
    }
    val law = Similarity.HashCorpusNonUniformity
    // shallow clamp: realized pairs can never undercut the uniform model
    assert(law.weight(2) == 1.0 && law.weight(8) >= 1.0)
    // the r12 constant 4.5 overpriced the shallow loose regime; the law's
    // raw fit runs below 1 there (0.29*1.125^8 ~= 0.74) so the >=1 clamp
    // holds depth 8 at exactly 1.0 — the fit itself first reaches ~1.6x
    // only near 14-15 planes (the ADVICE r13 correction)
    assert(law.weight(8) == 1.0, s"shallow clamp drifted: ${law.weight(8)}")
    assert(law.weight(14) > 1.4 && law.weight(15) < 2.0,
      s"~1.6x band moved: w(14)=${law.weight(14)}, w(15)=${law.weight(15)}")
    // extrapolation freeze: the exponential is trusted 6 planes past the
    // 27-plane measurement band, then held — never compounding to the
    // 40-bit scan bound on unmeasured depths
    assert(law.weight(40) == law.weight(27 + 6))
    assert(law.weight(40) > law.weight(27))
  }

  test("fitNonUniformity recovers exponential laws and falls back flat on noise") {
    // exact recovery: points ON a law come back as that law
    val exact = Similarity.fitNonUniformity(
      Seq(10, 14, 18, 22).map(k => k -> 0.5 * math.pow(1.2, k)))
    assert(math.abs(exact.amplitude - 0.5) < 1e-9)
    assert(math.abs(exact.growthPerPlane - 1.2) < 1e-9)
    assert(exact.maxMeasuredDepth == 22 && exact.measured.size == 4)
    // a DECREASING measurement is sampling noise (the cascade cannot
    // shrink with depth): flat law at the max measured ratio
    val noisy = Similarity.fitNonUniformity(Seq(10 -> 5.0, 14 -> 3.0))
    assert(noisy.growthPerPlane == 1.0 && noisy.weight(30) == 5.0)
    // a single measurable depth: flat at that ratio
    val single = Similarity.fitNonUniformity(Seq(12 -> 2.5))
    assert(single.growthPerPlane == 1.0 && single.weight(40) == 2.5)
  }

  test("AnnRecallProbe: clustered-corpus serving recall floors hold at test scale") {
    // the r12 verdict's task #3 pin: IVF/PQ/IVF-PQ recall on a CLUSTERED
    // corpus (the regime that moves centroid fit and ADC anisotropy) —
    // same generator + same probe code path as the SCALE.md rows, at a
    // size the suite can afford. Floors sit ~0.1 under the measured
    // test-scale values so corpus-determinism keeps them stable while a
    // real quality regression (wrong cell probed, rerank metric drift)
    // still fails.
    val emb = graft.probes.DedupScaleProbe.syntheticClusteredVecCorpus(spark, 20000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val r = graft.probes.AnnRecallProbe.probeCorpus(spark, emb, "clustered",
        20000L, 6, 10)
      info(s"clustered test-scale recalls: ${r.toSeq.sortBy(_._1)}")
      assert(r("ivf@16") >= 0.85, s"ivf@16 ${r("ivf@16")}")
      assert(r("ivf@16") >= r("ivf@1") - 1e-9, "probe-budget monotonicity broke")
      assert(r("pq_rerank@8") >= 0.65, s"pq_rerank@8 ${r("pq_rerank@8")}")
      assert(r("ivf_pq@16") >= 0.55, s"ivf_pq@16 ${r("ivf_pq@16")}")
      // the composed (nProbe × shortlist) surface (r13 verdict task #5):
      // the joint sweep emits every cell, and the best-budget corner can
      // never sit below the worst-budget corner (slack absorbs 6-query
      // quantization at test scale)
      assert(r.contains("ivf_pq@4x4") && r.contains("ivf_pq@16x4"),
        s"joint ivf-pq cells missing: ${r.keys.toSeq.sorted}")
      assert(r("ivf_pq@16") >= r("ivf_pq@4x4") - 0.1,
        s"composed surface inverted: ${r.filter(_._1.startsWith("ivf_pq"))}")
    } finally { emb.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("measureNonUniformityLawCached: digest-gated law reuse beside the LSH artifact") {
    val n = 12000L
    val emb = graft.probes.DedupScaleProbe.syntheticClusteredVecCorpus(spark, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val other = graft.probes.DedupScaleProbe.syntheticVecCorpus(spark, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-lshlaw").toString
      val cat = new graft.core.Catalog(spark, root)
      // branch 1: no artifact — measures and persists
      val fresh = Similarity.measureNonUniformityLawCached(cat, "ann.law", emb, n,
        sampleRows = 8000L)
      val direct = Similarity.measureNonUniformityLaw(emb, n, sampleRows = 8000L)
      assert(fresh == direct, "cached measure diverged from the direct one")
      // round-trip identity: the reloaded law sizes to the IDENTICAL config
      val (reloaded, digest) = Similarity.loadLshLaw(cat, "ann.law")
      assert(reloaded == fresh)
      assert(digest == Similarity.corpusDigest(emb))
      assert(Similarity.lshParams(n, 0.98, law = reloaded) ==
        Similarity.lshParams(n, 0.98, law = fresh))
      // branch 2: digest MATCH — the stored law is returned without
      // re-measuring; prove the reuse path by planting a distinctive fake
      // under the same digest and watching it come back verbatim
      val fake = Similarity.NonUniformityLaw(123.0, 1.5, 10)
      Similarity.saveLshLaw(cat, "ann.law", fake, digest)
      assert(Similarity.measureNonUniformityLawCached(cat, "ann.law", emb, n,
        sampleRows = 8000L) == fake)
      // branch 3: digest MISMATCH (different corpus, same ref) — the
      // stale law is ignored and a fresh measurement replaces it
      val remeasured = Similarity.measureNonUniformityLawCached(cat, "ann.law",
        other, n, sampleRows = 8000L)
      assert(remeasured != fake, "stale law served to a changed corpus")
      assert(Similarity.loadLshLaw(cat, "ann.law")._2 ==
        Similarity.corpusDigest(other))
      // the digest itself moves on any row mutation
      val mutated = other.withColumn("embedding",
        when(col("vec_id") === 7L,
          transform(col("embedding"), x => x * lit(2.0f)))
          .otherwise(col("embedding")))
      assert(Similarity.corpusDigest(other) != Similarity.corpusDigest(mutated))
    } finally { emb.unpersist(); other.unpersist() }
  }

  test("measureNonUniformityLaw: clustered corpora measure far above the hash floor and size deeper") {
    val n = 20000L
    val hashLaw = Similarity.measureNonUniformityLaw(
      graft.probes.DedupScaleProbe.syntheticVecCorpus(spark, n), n,
      sampleRows = 10000L)
    val clLaw = Similarity.measureNonUniformityLaw(
      graft.probes.DedupScaleProbe.syntheticClusteredVecCorpus(spark, n), n,
      sampleRows = 10000L)
    // the hash corpus is the non-uniformity FLOOR: its sampled weights sit
    // in the same decade as the default law over the measurable band,
    // while the clustered corpus's per-plane cascade is dramatically
    // steeper (r13 probe at 100k docs: growth 1.73/plane vs 1.12, ratio
    // 1102 vs 4.8 at depth 24)
    assert(clLaw.growthPerPlane > hashLaw.growthPerPlane + 0.1,
      s"clustered cascade ${clLaw.growthPerPlane} not steeper than hash ${hashLaw.growthPerPlane}")
    val kProbe = math.min(hashLaw.maxMeasuredDepth, clLaw.maxMeasuredDepth)
    assert(clLaw.weight(kProbe) > 5 * hashLaw.weight(kProbe),
      s"clustered weight ${clLaw.weight(kProbe)} vs hash ${hashLaw.weight(kProbe)} at depth $kProbe")
    // fed into the sizer at a scale where collisions matter, the measured
    // clustered law deepens the config vs the hash default — the
    // corpus-aware under-deepening protection
    val (pHash, _) = Similarity.lshParams(16000000L, 0.98)
    val (pCl, tCl) = Similarity.lshParams(16000000L, 0.98, law = clLaw)
    assert(pCl > pHash, s"clustered law did not deepen: $pCl vs $pHash")
    // and the recall solve still holds at the deeper config
    val p = 1.0 - math.acos(0.98) / math.Pi
    assert(1.0 - math.pow(1.0 - math.pow(p, pCl), tCl) >= 0.98 - 1e-9)
    spark.sharedState.cacheManager.clearCache()
  }

  test("lshCandidatesPartitioned emits exactly the one-shot pair set, at any slice count") {
    val rnd = new scala.util.Random(12)
    val base = (0L until 300L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val twins = base.take(60).map { case (i, v) => (i + 10000L, v.map(_ + 0.2f)) }
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    val table = Similarity.lshTable(emb, nPlanes = 6, nTables = 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = pairSet(Similarity.lshCandidatesFromTable(table))
    assert(oneShot.nonEmpty, "vacuous partitioned-distinct test: no candidates")
    val scratchRoot = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      // P = 1 (degenerate: one slice IS the one-shot), a mid value, and a
      // P larger than needed so some slices are empty parquet
      for (p <- Seq(1, 3, 37)) {
        val sliced = Similarity.lshCandidatesPartitioned(
          table, s"$scratchRoot/p$p", partitions = p)
        assert(pairSet(sliced) == oneShot, s"partitions=$p: sliced pair set " +
          s"diverged (missing ${(oneShot -- pairSet(sliced)).size})")
        // slices are disjoint, so the union count needs no further distinct
        assert(sliced.count() == oneShot.size.toLong)
      }
      // the compute-linearity mechanism: an id_a slice predicate pushes
      // BELOW the self-join onto the a-side (it references only build-side
      // columns), so a pass's join MATCHES ~raw/P rows instead of
      // generating all raw and discarding — the property that keeps total
      // match work ~raw across all passes. Pin it on the same plan shape
      // lshCandidatesPartitioned builds (filter over the one-shot pairs —
      // Catalyst pushes through the distinct, then the join).
      val slicePlan = Similarity.lshCandidatesFromTable(table)
        .where(pmod(xxhash64(col("id_a")), lit(4L)) === lit(1L))
        .queryExecution.optimizedPlan
      val joins = slicePlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.size == 1, s"expected one self-join:\n$slicePlan")
      assert(joins.head.left.toString.contains("pmod"),
        s"id_a slice predicate did not push below the join:\n$slicePlan")
      assert(!slicePlan.toString.matches("(?s).*Filter [^\\n]*pmod[^\\n]*\\n\\s*.[^\\n]*Aggregate.*") ||
        joins.head.left.toString.contains("pmod"),
        s"slice predicate stuck above the distinct:\n$slicePlan")
    } finally {
      table.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratchRoot))
    }
  }

  // ───── survivor-oriented dedup (greedy star per cell) ─────

  /** min-id-per-connected-component survivors of an exact pair set — the
    * transitive-closure ground truth the greedy star must match on
    * clique-structured corpora. Driver-side union-find, test-scale only. */
  private def closureSurvivors(ids: Seq[Long], pairs: Set[(Long, Long)]): Set[Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // after unions, each component's root is its min id (unions always
    // point the larger root at the smaller)
    ids.filter(i => find(i) == i).toSet
  }

  private def exactPairSet(emb: org.apache.spark.sql.DataFrame,
      threshold: Double): Set[(Long, Long)] =
    Similarity.nearDupPairs(emb, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("nearDupAssign survivors equal the exact-closure survivors on planted cliques") {
    // planted clique groups (sizes 1-4) of near-identical vectors around
    // distinct random anchors: every dup group is a clique above the
    // threshold and cross-group cosine sits far below — the regime where
    // greedy star and transitive closure provably coincide
    val rnd = new scala.util.Random(21)
    val rows = (0 until 60).flatMap { g =>
      val anchor = Array.fill(16)(rnd.nextGaussian().toFloat)
      (0 until 1 + g % 4).map { m =>
        (g * 10L + m, anchor.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
      }
    }
    val emb = rows.toDF("vec_id", "embedding")
    val thr = 0.95
    val exact = exactPairSet(emb, thr)
    assert(exact.nonEmpty, "vacuous survivors test: no planted pairs")
    val truth = closureSurvivors(rows.map(_._1), exact)
    val assign = Similarity.nearDupAssign(emb, thr, nPlanes = 4, nTables = 32)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(assign.length == rows.size) // every doc gets a verdict
    val survivors = assign.collect { case (id, None) => id }.toSet
    assert(survivors == truth,
      s"greedy survivors diverged from closure: missing ${truth -- survivors}, " +
        s"extra ${survivors -- truth}")
    // soundness on ANY corpus: every elimination is a genuine exact-cosine
    // pair with a smaller id (the walk verifies exact rounded cosine)
    assign.foreach {
      case (id, Some(dupOf)) =>
        assert(dupOf < id && exact.contains((dupOf, id)),
          s"elimination ($id -> $dupOf) is not an exact near-dup pair")
      case _ =>
    }
    // the survivor ids are the filtered view of the same assignment
    val sv = Similarity.nearDupAssign(emb, thr, nPlanes = 4, nTables = 32)
      .filter(col("dup_of").isNull).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(sv == survivors)
  }

  test("nearDupAssign on a head-cluster corpus: closure-equal survivors at ~linear comparisons") {
    // the quadratic-head-mass shape: 40% of the corpus is ONE
    // near-identical blob (a clique above the threshold), the rest
    // isolated randoms. The pair path pays C(m,2) inside the blob's
    // cells; the greedy walk's first representative eliminates the whole
    // cell, so comparisons stay ~members
    val rnd = new scala.util.Random(22)
    val blobAnchor = Array.fill(16)(rnd.nextGaussian().toFloat)
    val blob = (0 until 200).map(i =>
      (i.toLong, blobAnchor.map(x => x + 0.01f * rnd.nextGaussian().toFloat)))
    val rest = (0 until 300).map(i =>
      (1000L + i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val emb = (blob ++ rest).toDF("vec_id", "embedding")
    val thr = 0.95
    val exact = exactPairSet(emb, thr)
    val truth = closureSurvivors((blob ++ rest).map(_._1), exact)
    val table = Similarity.lshTable(emb, nPlanes = 4, nTables = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cmp = spark.sparkContext.longAccumulator("greedy_star_comparisons")
      val assign = Similarity.nearDupAssignFromTable(table, emb, thr,
        comparisons = Some(cmp)).collect()
      val survivors = assign.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
      assert(survivors == truth,
        s"head-cluster survivors diverged: missing ${truth -- survivors}, " +
          s"extra ${survivors -- truth}")
      // the work bound: comparisons ≪ the cell pair mass the pair path
      // reranks (sum of C(|cell|,2) over multi-occupied cells)
      val pairMass = table.groupBy("ckey", "tbl", "bucket").count()
        .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
        .first().getLong(0)
      assert(cmp.value > 0 && cmp.value < pairMass / 5,
        s"greedy star did not beat the pair mass: ${cmp.value} vs $pairMass")
    } finally table.unpersist()
  }

  test("nearDupAssignGrouped equals the one-shot assignment at any pass width") {
    // grouping the walk by table-groups is semantically FREE (cells never
    // span tables; min-reconciliation over the union = one-shot) — pin
    // the full (id, dup_of) assignment equal at several widths, on a
    // corpus with cliques so dup_of reconciliation is actually exercised,
    // and on BOTH element types (float corpus and a double-cast one)
    val rnd = new scala.util.Random(31)
    val rows = (0 until 40).flatMap { g =>
      val anchor = Array.fill(12)(rnd.nextGaussian().toFloat)
      (0 until 1 + g % 3).map(m =>
        (g * 10L + m, anchor.map(x => x + 0.02f * rnd.nextGaussian().toFloat)))
    }
    val thr = 0.95
    for (toDouble <- Seq(false, true)) {
      val emb0 = rows.toDF("vec_id", "embedding")
      val emb = if (toDouble)
        emb0.withColumn("embedding", col("embedding").cast("array<double>"))
      else emb0
      val table = Similarity.lshTable(emb, nPlanes = 3, nTables = 7)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        def assignMap(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        val oneShot = assignMap(
          Similarity.nearDupAssignFromTable(table, emb, thr))
        assert(oneShot.values.exists(_.isDefined), "vacuous grouped test")
        val scratch = java.nio.file.Files.createTempDirectory("graft_star").toString
        try {
          for (g <- Seq(1, 3, 7)) {
            val grouped = assignMap(Similarity.nearDupAssignGrouped(
              table, emb, thr, s"$scratch/g$g", tablesPerPass = g))
            assert(grouped == oneShot,
              s"toDouble=$toDouble tablesPerPass=$g diverged from one-shot")
          }
        } finally org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(scratch))
      } finally table.unpersist()
    }
  }

  test("nearDupAssign is conservative on chains and under a representative cap") {
    // chain a~b, b~c, a≁c (cosine transitivity failure): representatives
    // are CELL-LOCAL, so b can eliminate c in a cell a never entered even
    // though b itself is eliminated elsewhere — chains collapse TOWARD the
    // closure. The invariants: the component min always survives
    // (survivors ⊇ closure survivors) and every elimination is a genuine
    // exact pair with a smaller id
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat, 0.0f)
    val emb = Seq((0L, v(0)), (1L, v(20)), (2L, v(40))).toDF("vec_id", "embedding")
    val thr = 0.9 // cos 20° ≈ 0.94 > thr, cos 40° ≈ 0.766 < thr
    val exact = exactPairSet(emb, thr)
    assert(exact == Set((0L, 1L), (1L, 2L)), exact.toString)
    val truth = closureSurvivors(Seq(0L, 1L, 2L), exact) // {0}
    val assign = Similarity.nearDupAssign(emb, thr, nPlanes = 2, nTables = 16)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(assign(0L).isEmpty, assign.toString) // component min survives
    val survivors = assign.collect { case (id, None) => id }.toSet
    assert(truth.subsetOf(survivors), s"closure survivor eliminated: $assign")
    assign.foreach {
      case (id, Some(d)) => assert(d < id && exact.contains((d, id)),
        s"elimination ($id -> $d) is not a genuine pair")
      case _ =>
    }
    // a representative cap can only ADD survivors (members past the cap
    // survive unpromoted), never over-eliminate
    val rnd = new scala.util.Random(23)
    val groups = (0 until 20).flatMap { g =>
      val anchor = Array.fill(8)(rnd.nextGaussian().toFloat)
      (0 until 3).map(m => (g * 10L + m,
        anchor.map(x => x + 0.02f * rnd.nextGaussian().toFloat)))
    }
    val gEmb = groups.toDF("vec_id", "embedding")
    def surv(cap: Int) = groups.map(_._1).toSet --
      graft.ext.CandidatePairs.eliminations(Similarity.lshTable(gEmb, 2, 8),
        Similarity.LshCells, "vec_id",
        Similarity.cosineEvidence(gEmb, 0.95, "vec_id", "embedding"), cap = cap)
        .collect().map(_.getLong(0))
    val capped = surv(1)
    val full = surv(graft.ext.CandidatePairs.MaxRepsPerCell)
    assert(capped != full, "vacuous cap test: cap 1 changed nothing")
    assert(full.subsetOf(capped),
      s"cap over-eliminated: ${full -- capped} survived uncapped but not capped")
  }

  test("nearDupPairsLsh at the lshParamsMeasured config keeps exactness on real embeddings") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.nearDupPairs(emb, 0.45))
    val (planes, tables) = Similarity.lshParamsMeasured(emb, 0.45, targetRecall = 0.999)
    val aware = pairs(Similarity.nearDupPairsLsh(emb, 0.45, nPlanes = planes,
      nTables = tables))
    // exact rerank: zero false positives; 0.999 target: full recall on
    // this corpus (the hash-law sizing's established property — the
    // measured law must not break either side of it)
    assert(aware.subsetOf(exact))
    assert(aware == exact, s"corpus-aware sizing missed ${(exact -- aware).size} pairs")
    spark.sharedState.cacheManager.clearCache()
  }

  test("LSH candidate volume grows linearly, not quadratically, under auto sizing") {
    def corpus(n: Int) = {
      val rnd = new scala.util.Random(42)
      (0 until n).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    def candidates(n: Int): Long = {
      // small targetBucketRows so pruning is visible at test scale
      val (planes, tables) = Similarity.lshParams(n, 0.9, targetBucketRows = 16L)
      Similarity.lshCandidates(corpus(n), planes, tables).count()
    }
    val c256 = candidates(256)
    val c512 = candidates(512)
    assert(c512 < 512L * 511L / 4, s"c512=$c512 is not sub-quadratic")
    // doubling n should ~double candidates (quadratic would 4x them)
    assert(c512.toDouble / c256 < 3.2, s"growth ${c512.toDouble / c256}")
  }

  test("nearDupPairsLsh targetRecall is a real knob: 0.999 recovers grazing pairs") {
    assume(new java.io.File("/root/testdata/sf0.1").isDirectory)
    // the sf0.1 corpus is the one place the driver's oracle never looks:
    // 144 true pairs at threshold 0.45, two of them threshold-grazing
    // enough to drop at the default 0.98 recall target
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.nearDupPairs(emb, 0.45))
    val dflt = pairs(Similarity.nearDupPairsLsh(emb, 0.45))
    val high = pairs(Similarity.nearDupPairsLsh(emb, 0.45, targetRecall = 0.999))
    // the exact rerank means zero false positives at any recall target
    assert(dflt.subsetOf(exact) && high.subsetOf(exact))
    // default target holds its promise on this corpus
    assert(dflt.size >= math.floor(exact.size * 0.98).toInt - 1,
      s"default recall ${dflt.size}/${exact.size}")
    // the higher target buys the missing pairs (deterministic planes)
    assert(dflt.subsetOf(high))
    assert(high == exact, s"0.999 target missed ${(exact -- high).size} of ${exact.size}")
    // and it pays with more tables, as documented
    val (_, tDflt) = Similarity.lshParams(2000, 0.45)
    val (_, tHigh) = Similarity.lshParams(2000, 0.45, 0.999)
    assert(tHigh > tDflt)
  }

  test("q46 pinned tight config (10 planes, 64 tables) prunes AND recalls fully") {
    // Mirror of the q46 corpus shape: random base vectors plus an additive
    // near-dup twin per vector (v + c), which lands twin pairs around the
    // 0.9 tight threshold without making them identical-direction (a scaled
    // twin would trivially share every sign bucket and prove nothing).
    val rnd = new scala.util.Random(7)
    val base = (0L until 400L).map(i => (i, Array.fill(32)(rnd.nextGaussian())))
    val twins = base.map { case (i, v) => (i + 1000000L, v.map(_ + 0.25)) }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val n = 800L

    // Pruning: the pinned config's candidate volume is the sparse-bucket
    // model (~tables/2^planes = 6% of the pair space), nothing like the
    // near-total coverage of the loose q35 pin.
    val cand = Similarity.lshCandidates(corpus, nPlanes = 10, nTables = 64).count()
    val allPairs = n * (n - 1) / 2
    assert(cand < allPairs * 0.15, s"candidates $cand of $allPairs pairs — no pruning")

    // Full recall: the LSH result at the pinned config equals the exact
    // all-pairs scan above the tight threshold, pair for pair.
    val exact = Similarity.nearDupPairs(corpus, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairsLsh(corpus, 0.9, nPlanes = 10, nTables = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "tight-threshold corpus planted no pairs — vacuous test")
    assert(lsh == exact, s"LSH missed ${(exact -- lsh).size} pairs, extra ${(lsh -- exact).size}")
  }

  test("tight-regime auto sizing: deeper than the floor, candidates sublinear vs the q46 pin") {
    def corpus(nBase: Int) = {
      val rnd = new scala.util.Random(7)
      val base = (0L until nBase.toLong).map(i => (i, Array.fill(32)(rnd.nextGaussian())))
      val twins = base.map { case (i, v) => (i + 1000000L, v.map(_ + 0.25)) }
      (base ++ twins).toDF("vec_id", "embedding")
    }

    // the deepening engages: tight thresholds get buckets deeper than the
    // corpus-size floor (which would be 2 planes at these counts), with the
    // table count still recall-solving and capped
    val (kS, tS) = Similarity.lshParams(800L, 0.9, targetRecall = 0.9999)
    val (kL, tL) = Similarity.lshParams(1600L, 0.9, targetRecall = 0.9999)
    assert(kS > 4 && tS <= 64, s"small config ($kS, $tS) did not deepen")
    assert(kL >= kS, s"depth should not shrink with corpus growth: ($kS, $tS) -> ($kL, $tL)")

    // sublinear vs the pin: doubling the corpus grows the PIN's candidate
    // volume ~quadratically (fixed 1024 buckets/table), while the auto
    // config re-deepens and grows sublinearly of that
    val pinS = Similarity.lshCandidates(corpus(400), nPlanes = 10, nTables = 64).count()
    val pinL = Similarity.lshCandidates(corpus(800), nPlanes = 10, nTables = 64).count()
    val autoS = Similarity.lshCandidates(corpus(400), kS, tS).count()
    val autoL = Similarity.lshCandidates(corpus(800), kL, tL).count()
    val pinGrowth = pinL.toDouble / pinS
    val autoGrowth = autoL.toDouble / autoS
    assert(autoGrowth < pinGrowth,
      s"auto candidate growth $autoGrowth (${autoS}->${autoL}) is not sublinear vs " +
        s"the pin's $pinGrowth (${pinS}->${pinL})")

    // and the auto config still recalls every tight pair on the q46-shaped
    // corpus (deterministic planes: this is a reproducible result, not a
    // per-run gamble)
    val c = corpus(400)
    val exact = Similarity.nearDupPairs(c, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Similarity.nearDupPairsLsh(c, 0.9, targetRecall = 0.9999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && auto == exact,
      s"auto missed ${(exact -- auto).size} of ${exact.size} pairs")
  }

  test("Multimodal: payload plumbing, stub decode batch shape, frame sampling") {
    val media = Multimodal.fromDocuments(
      docs.withColumn("source", lit("srcX")).withColumn("n_chars", length($"text")))
    assert(media.columns.toSeq == Seq("media_id", "kind", "payload", "meta"))
    val feats = Multimodal.payloadFeatures(media).collect()
    assert(feats.forall(_.getAs[String]("sha256").length == 64))
    val decoded = Multimodal.byteHistogram(media)
    assert(decoded.schema == Multimodal.decodedSchema)
    val f = decoded.orderBy("media_id").collect()
    assert(f.forall(_.getAs[Seq[Float]]("feature").size == 8))
    assert(math.abs(f.head.getAs[Seq[Float]]("feature").sum - 1.0f) < 1e-3)
    val frames = Multimodal.frameSample(media, every = 16, frameLen = 4)
    assert(frames.columns.toSeq == Seq("media_id", "frame_idx", "frame"))
    assert(frames.filter($"media_id" === 0L).count() ==
      math.ceil(docs.filter($"doc_id" === 0L).head().getString(1).length / 16.0).toLong)
  }

  test("MediaHeader MP4: box walk, v0/v1 layouts, audio-only, malformed classes") {
    import graft.functions.MediaHeader
    // box builder: [size u32 BE][type][body]
    def be32(v: Long) = Array[Byte](((v >>> 24) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8L) ++ tpe.getBytes("US-ASCII") ++ body
    def mvhdV0(timescale: Long): Array[Byte] = box("mvhd",
      be32(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++ be32(500) ++
        new Array[Byte](100 - 20))
    def mvhdV1(timescale: Long): Array[Byte] = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16) ++ be32(timescale) ++
        new Array[Byte](8) ++ new Array[Byte](112 - 32))
    def tkhdV0(w: Long, h: Long): Array[Byte] = box("tkhd",
      be32(7) ++ new Array[Byte](72) ++ be32(w << 16) ++ be32(h << 16))
    def tkhdV1(w: Long, h: Long): Array[Byte] = box("tkhd",
      Array[Byte](1, 0, 0, 7) ++ new Array[Byte](84) ++ be32(w << 16) ++ be32(h << 16))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200) ++
      "isom".getBytes("US-ASCII"))
    def mp4(boxes: Array[Byte]*): Array[Byte] = ftyp ++ boxes.flatten

    def parse(b: Array[Byte]) = {
      val r = Seq((0L, b)).toDF("id", "payload")
        .select(MediaHeader($"payload").as("m")).head().getStruct(0)
      def o(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (r.getString(0), o(1), o(2), o(4),
        if (r.isNullAt(6)) None else Some(r.getString(6)))
    }

    // v0: timescale + first video track's 16.16 dims (integer part)
    assert(parse(mp4(box("moov", mvhdV0(90000) ++ box("trak", tkhdV0(640, 360))),
      box("mdat", "frames".getBytes))) ==
      (("mp4", Some(640L), Some(360L), Some(90000L), None)))
    // v1 boxes carry 64-bit times: different fixed offsets, same fields
    assert(parse(mp4(box("moov", mvhdV1(1000) ++ box("trak", tkhdV1(1920, 1080))))) ==
      (("mp4", Some(1920L), Some(1080L), Some(1000L), None)))
    // audio-only: zero-dim track leaves dimensions null with NO error
    assert(parse(mp4(box("moov", mvhdV0(48000) ++ box("trak", tkhdV0(0, 0))))) ==
      (("mp4", None, None, Some(48000L), None)))
    // a free box before moov is walked over, not fatal
    assert(parse(mp4(box("free", new Array[Byte](9)),
      box("moov", mvhdV0(600) ++ box("trak", tkhdV0(32, 32))))) ==
      (("mp4", Some(32L), Some(32L), Some(600L), None)))
    // malformed classes, each its own loud error
    assert(parse(ftyp)._5 == Some("mp4_no_moov"))
    assert(parse(mp4(be32(4) ++ "free".getBytes("US-ASCII")))._5 ==
      Some("mp4_bad_box"))
    assert(parse(mp4(be32(500) ++ "moov".getBytes("US-ASCII")))._5 ==
      Some("mp4_truncated"))
    assert(parse(mp4(box("moov", box("trak", tkhdV0(64, 64)))))._5 ==
      Some("mp4_no_mvhd"))
    // hostile empty boxes (size exactly 8 — no version byte to read) at
    // the very end of their parent: a loud Left, never an
    // ArrayIndexOutOfBounds out of the scan
    assert(parse(mp4(box("moov", box("mvhd", Array.emptyByteArray))))._5 ==
      Some("mp4_truncated"))
    assert(parse(mp4(box("moov",
      mvhdV0(600) ++ box("trak", box("tkhd", Array.emptyByteArray))))) ==
      (("mp4", None, None, Some(600L), None)))
    // an UNDERSIZED mvhd (size 12: version present, timescale outside the
    // box) followed by a healthy sibling: the field read must bound
    // against the BOX's own end — reading on would return the SIBLING's
    // header bytes as a plausible timescale with error NULL
    assert(parse(mp4(box("moov",
      box("mvhd", Array[Byte](0, 0, 0, 0)) ++ mvhdV0(600))))._5 ==
      Some("mp4_truncated"))
    // same trap on tkhd: a short box contributes no dimensions instead of
    // reading the next box's bytes as 16.16 fixed-point
    assert(parse(mp4(box("moov", mvhdV0(600) ++
      box("trak", box("tkhd", Array[Byte](0, 0, 0, 7)) ++
        box("free", new Array[Byte](96)))))) ==
      (("mp4", None, None, Some(600L), None)))

    // never-throws fuzz: random bytes, and every truncation prefix of a
    // VALID payload (the nastier class — plausible structure, cut
    // mid-field), must land in a row, not an exception
    val rnd = new scala.util.Random(1717)
    val validMp4 = mp4(box("moov", mvhdV0(90000) ++ box("trak", tkhdV0(640, 360))),
      box("mdat", "frames".getBytes))
    val junkCases = (1 to 200).map(_ =>
      ftyp ++ Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte))
    val mp4Cuts = (0 until validMp4.length).map(validMp4.take)
    (junkCases ++ mp4Cuts).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("id", "payload")
      .select(MediaHeader($"payload").as("m")).collect() // must not throw
    val validWav = graft.functions.WavPcm.encodePcm16(8000, 2,
      Array.tabulate(50)(_ * 500))
    (0 until validWav.length).foreach { cut =>
      graft.functions.WavPcm.decode(validWav.take(cut)) // must not throw
    }
    junkCases.foreach(j => graft.functions.WavPcm.decode(j.drop(20)))

    // syntheticVideo round-trips through decodeHeaders: derived fields
    // reproduce the generator's arithmetic, malformed classes land in
    // error — the q91 oracle's exact relation, checked engine-side
    val docs = spark.range(40).select($"id".as("doc_id"),
      concat(lit("body "), $"id".cast("string")).as("text"),
      lit("web").as("source"), lit(10L).as("n_chars"))
    val decoded = Multimodal.decodeHeaders(Multimodal.syntheticVideo(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    (0L until 40L).foreach { id =>
      val r = decoded(id)
      assert(r.getString(2) == "mp4")
      if (id % 12 == 5) assert(r.getString(8) == "mp4_bad_box")
      else if (id % 12 == 11) assert(r.getString(8) == "mp4_no_moov")
      else {
        assert(r.isNullAt(8), s"id $id unexpected error ${r.getString(8)}")
        assert(r.getLong(3) == id % 1920 + 16 && r.getLong(4) == id * 7 % 1080 + 16)
        assert(r.getLong(6) == Seq(600L, 1000L, 24000L, 90000L)((id % 4).toInt))
      }
    }
  }

  test("MediaHeader: real-fixture dims, marker walk, fuzz parity with a reference parser") {
    import graft.functions.MediaHeader

    def hexBytes(h: String): Array[Byte] =
      h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

    // Independent reference parser (deliberately a re-implementation with
    // java.nio, NOT a call into MediaHeader.parse): (format, width, height,
    // bit_depth, sample_rate, channels, error).
    type Hdr = (String, Option[Long], Option[Long], Option[Long], Option[Long],
      Option[Long], Option[String])
    def ref(b: Array[Byte]): Hdr = {
      def err(f: String, e: String): Hdr = (f, None, None, None, None, None, Some(e))
      val bb = java.nio.ByteBuffer.wrap(b)
      def u8(i: Int): Int = bb.get(i) & 0xff
      def beS(i: Int): Int = ((u8(i) << 8) | u8(i + 1))
      def beL(i: Int): Long = (beS(i).toLong << 16) | beS(i + 2)
      def str(i: Int, k: Int): String = new String(b, i, k, "US-ASCII")
      val n = b.length
      if (n >= 8 && str(1, 3) == "PNG" && u8(0) == 0x89 && u8(4) == 0x0D &&
          u8(5) == 0x0A && u8(6) == 0x1A && u8(7) == 0x0A) {
        if (n < 26) err("png", "png_truncated")
        else if (str(12, 4) != "IHDR") err("png", "png_no_ihdr")
        else {
          val w = beL(16); val h = beL(20)
          if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
            err("png", "png_bad_dims")
          else ("png", Some(w), Some(h), Some(u8(24).toLong), None, None, None)
        }
      } else if (n >= 2 && u8(0) == 0xFF && u8(1) == 0xD8) {
        var i = 2
        var out: Option[Hdr] = None
        while (out.isEmpty && i + 1 < n) {
          if (u8(i) != 0xFF) out = Some(err("jpeg", "jpeg_bad_segment"))
          else u8(i + 1) match {
            case m if Set(0xC4, 0xC8, 0xCC).forall(_ != m) && m >= 0xC0 && m <= 0xCF =>
              out = Some(
                if (i + 9 > n) err("jpeg", "jpeg_truncated")
                else ("jpeg", Some(beS(i + 7).toLong), Some(beS(i + 5).toLong),
                  Some(u8(i + 4).toLong), None, None, None))
            case 0xFF => i += 1
            case m if m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7) => i += 2
            case 0xD9 => out = Some(err("jpeg", "jpeg_no_sof"))
            case _ =>
              if (i + 3 >= n) out = Some(err("jpeg", "jpeg_truncated"))
              else if (beS(i + 2) < 2) out = Some(err("jpeg", "jpeg_bad_segment"))
              else i += 2 + beS(i + 2)
          }
        }
        out.getOrElse(err("jpeg", "jpeg_no_sof"))
      } else if (n >= 12 && str(0, 4) == "RIFF" && str(8, 4) == "WAVE") {
        if (n < 36) err("wav", "wav_truncated")
        else if (str(12, 4) != "fmt ") err("wav", "wav_no_fmt")
        else {
          val le = bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val rate = le.getInt(24).toLong & 0xFFFFFFFFL
          if (rate <= 0 || rate > Int.MaxValue) err("wav", "wav_bad_rate")
          else ("wav", None, None, Some((le.getShort(34) & 0xFFFF).toLong),
            Some(rate), Some((le.getShort(22) & 0xFFFF).toLong), None)
        }
      } else if (n >= 4 && str(0, 4) == "fLaC") {
        // r18: STREAMINFO packed fields (independent re-derivation)
        if (n < 42) err("flac", "flac_truncated")
        else if ((u8(4) & 0x7f) != 0) err("flac", "flac_no_streaminfo")
        else {
          val rate = (u8(18) << 12) | (u8(19) << 4) | (u8(20) >> 4)
          if (rate <= 0) err("flac", "flac_bad_streaminfo")
          else ("flac", None, None,
            Some(((((u8(20) & 1) << 4) | (u8(21) >> 4)) + 1).toLong),
            Some(rate.toLong), Some((((u8(20) >> 1) & 7) + 1).toLong), None)
        }
      } else err("unknown", "unknown_format")
    }

    def parseAll(payloads: Seq[Array[Byte]]): Seq[Hdr] =
      payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("id", "payload")
        .select($"id", MediaHeader($"payload").as("m")).orderBy("id")
        .collect().map { r =>
          val m = r.getStruct(1)
          def o(i: Int): Option[Long] = if (m.isNullAt(i)) None else Some(m.getLong(i))
          def s(i: Int): Option[String] =
            if (m.isNullAt(i)) None else Some(m.getString(i))
          (m.getString(0), o(1), o(2), o(3), o(4), o(5), s(6))
        }.toSeq

    // ─ real-world fixtures ─
    val png1x1 = hexBytes(Png1x1Hex)
    // JPEG whose SOF0 sits AFTER a DQT segment (exercises the marker walk),
    // plus fill-byte and restart-marker variants of the same frame
    val sof = "FFC00011" + "08" + "0010" + "0020" + "03011100021101031101"
    val jpegDqt = hexBytes("FFD8" + "FFDB0005010203" + sof)
    val jpegFill = hexBytes("FFD8" + "FF" + sof)
    val jpegRst = hexBytes("FFD8" + "FFD0" + sof)
    // canonical 44-byte WAV header: rate 12345, 2 channels, 24-bit
    val wav = hexBytes("52494646" + "24000000" + "57415645" + "666D7420" +
      "10000000" + "0100" + "0200" + "39300000" + "D5B10100" + "0600" + "1800" +
      "64617461" + "00000000")
    val fixtures = Seq(
      png1x1 -> ("png", Some(1L), Some(1L), Some(8L), None, None, None),
      jpegDqt -> ("jpeg", Some(32L), Some(16L), Some(8L), None, None, None),
      jpegFill -> ("jpeg", Some(32L), Some(16L), Some(8L), None, None, None),
      jpegRst -> ("jpeg", Some(32L), Some(16L), Some(8L), None, None, None),
      wav -> ("wav", None, None, Some(24L), Some(12345L), Some(2L), None),
      hexBytes("89504E470D0A1A0A00") ->
        ("png", None, None, None, None, None, Some("png_truncated")),
      hexBytes("FFD8FFD9") ->
        ("jpeg", None, None, None, None, None, Some("jpeg_no_sof")),
      hexBytes("FFD80000") ->
        ("jpeg", None, None, None, None, None, Some("jpeg_bad_segment")),
      // a lone truncated marker pair never enters the walk: no SOF seen
      hexBytes("FFD800") ->
        ("jpeg", None, None, None, None, None, Some("jpeg_no_sof")),
      hexBytes("FFD8FFC0001108") ->
        ("jpeg", None, None, None, None, None, Some("jpeg_truncated")),
      hexBytes("524946460000000057415645") ->
        ("wav", None, None, None, None, None, Some("wav_truncated")),
      // FLAC: a real encode (rate 22050 mono 16-bit), a truncated magic,
      // and a stream whose first block is not STREAMINFO
      graft.functions.FlacPcm.encode(22050, 1, Array.tabulate(64)(_ * 100)) ->
        ("flac", None, None, Some(16L), Some(22050L), Some(1L), None),
      hexBytes("664C614300") ->
        ("flac", None, None, None, None, None, Some("flac_truncated")),
      (hexBytes("664C6143" + "84" + "000022") ++ new Array[Byte](40)) ->
        ("flac", None, None, None, None, None, Some("flac_no_streaminfo")),
      Array.emptyByteArray ->
        ("unknown", None, None, None, None, None, Some("unknown_format")))
    val got = parseAll(fixtures.map(_._1))
    fixtures.zip(got).foreach { case ((_, want), g) =>
      assert(g == want, s"fixture mismatch: got $g want $want")
    }

    // ─ fuzz parity: random and signature-prefixed random payloads ─
    val rnd = new scala.util.Random(42)
    def randBytes(n: Int): Array[Byte] = {
      val a = new Array[Byte](n); rnd.nextBytes(a); a
    }
    val prefixes = Seq(Array.emptyByteArray, hexBytes("89504E470D0A1A0A"),
      hexBytes("FFD8"), hexBytes("52494646AABBCCDD57415645"),
      hexBytes("664C6143"))
    val fuzz = (1 to 300).map(_ => randBytes(rnd.nextInt(64))) ++
      (1 to 200).map { _ =>
        prefixes(rnd.nextInt(prefixes.length)) ++ randBytes(rnd.nextInt(48))
      }
    parseAll(fuzz).zip(fuzz).foreach { case (g, p) =>
      val want = ref(p)
      assert(g == want,
        s"fuzz mismatch on ${p.map("%02X".format(_)).mkString}: got $g want $want")
    }

    // ─ synthetic corpus end-to-end: planted dims come back out ─
    val media = Multimodal.syntheticMedia(
      docs.withColumn("source", lit("srcX")).withColumn("n_chars", length($"text")))
    val dec = Multimodal.decodeHeaders(media).orderBy("media_id").collect()
    dec.foreach { r =>
      val id = r.getLong(0)
      (id % 4) match {
        case 0 =>
          assert(r.getString(2) == "png" && r.isNullAt(8))
          assert(r.getLong(3) == id % 1920 + 1 && r.getLong(4) == id * 7 % 1080 + 1)
        case 1 =>
          assert(r.getString(2) == "jpeg" && r.isNullAt(8))
          assert(r.getLong(3) == id % 4000 + 1 && r.getLong(4) == id * 3 % 3000 + 1)
        case 2 =>
          assert(r.getString(2) == "wav" && r.isNullAt(8))
          assert(r.getLong(6) == Seq(8000L, 16000L, 22050L, 44100L, 48000L)(
            (id % 5).toInt))
          assert(r.getLong(7) == id / 4 % 2 + 1)
        case _ =>
          assert(!r.isNullAt(8), s"corrupt row $id has no error")
      }
    }
    // null payload -> null fields, no crash
    val nullRow = Seq((99L, "x")).toDF("media_id", "kind")
      .select($"media_id", $"kind", lit(null).cast("binary").as("payload"))
    assert(Multimodal.decodeHeaders(nullRow).head().isNullAt(2))
  }

  test("Sampling.hashSplit: deterministic, key-only, roughly proportioned") {
    val ids = spark.range(2000).toDF("id")
    val split = ids.withColumn("s", Sampling.hashSplit($"id"))
    // key-only: the assignment of a given id never depends on the rest of
    // the dataset, its order, or its partitioning
    val whole = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val subset = ids.filter($"id" % 7 === 0).repartition(13)
      .withColumn("s", Sampling.hashSplit($"id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    subset.foreach { case (id, s) => assert(whole(id) == s, s"id $id moved splits") }
    // proportions near 90/5/5 (hash uniformity, not exactness)
    val n = whole.groupBy(_._2).view.mapValues(_.size).toMap
    assert(n.keySet == Set("train", "val", "test"))
    assert(n("train") > 1700 && n("train") < 1900, n.toString)
    assert(n("val") > 50 && n("val") < 150, n.toString)
    assert(n("test") > 50 && n("test") < 150, n.toString)
    // threshold hex strings: full range degenerates to the "g" sentinel
    // (lexicographically after every 4-hex bucket), not the 5-char "10000"
    // that would sort BEFORE most buckets
    assert(Sampling.splitThresholds(1.0, 0.0) == ("g", "g"))
    assert(Sampling.splitThresholds(0.90, 0.05) == ("e666", "f333"))
    assert(ids.withColumn("s", Sampling.hashSplit($"id", 1.0, 0.0))
      .filter($"s" =!= "train").count() == 0)
    intercept[IllegalArgumentException] { Sampling.splitThresholds(0.9, 0.2) }
  }

  test("Sampling.strata and capPerGroup: exact per-group semantics") {
    val rows = (0L until 40L).map(i => (i, s"g${i % 2}", (i * 37 % 11).toDouble))
      .toDF("id", "g", "score")
    // strata: 4 buckets per group, balanced sizes, monotone in score
    val st = rows.withColumn("q", Sampling.strata($"g", $"score", $"id"))
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getLong(0), r.getLong(3)))
    st.groupBy(_._1).foreach { case (_, grp) =>
      assert(grp.groupBy(_._4).view.mapValues(_.size).toMap.values.toSet == Set(5))
      val ordered = grp.sortBy(x => (x._2, x._3)).map(_._4).toSeq
      assert(ordered == ordered.sorted, s"ntile not monotone: $ordered")
    }
    // capPerGroup: k rows per group, and exactly the top-k by (score desc, id)
    val kept = Sampling.capPerGroup(rows, $"g", $"score", $"id", k = 3)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val expect = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._2).toSeq.flatMap { case (g, grp) =>
        grp.sortBy(x => (-x._3, x._1)).take(3).map(x => (g, x._1))
      }.toSet
    assert(kept == expect)
    assert(!Sampling.capPerGroup(rows, $"g", $"score", $"id", k = 3)
      .columns.contains("__rn"))
    // samplePerGroup: k per group, uniform-by-hash, and FIXED across
    // reruns/layouts (the property rand() sampling lacks)
    val s1 = Sampling.samplePerGroup(rows, $"g", $"id", k = 4)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val s2 = Sampling.samplePerGroup(rows.repartition(9), $"g", $"id", k = 4)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(s1 == s2)
    assert(s1.groupBy(_._1).forall(_._2.size == 4))
  }

  test("Sampling.strataApprox tracks exact strata without a window sort") {
    val rows = (0L until 4000L).map(i => (i, s"g${i % 2}", ((i * 2654435761L) % 9973).toDouble))
      .toDF("id", "g", "score")
    val approx = Sampling.strataApprox(rows, $"g", $"score")
    // no window, no single partition: the whole point of the scale path
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    val got = approx.collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getLong(3)))
    // buckets are 1..4 and near-balanced (sketch rank error, not exact)
    got.groupBy(_._1).foreach { case (g, grp) =>
      val sizes = grp.groupBy(_._3).view.mapValues(_.size).toMap
      assert(sizes.keySet == Set(1L, 2L, 3L, 4L), s"$g: $sizes")
      sizes.values.foreach(s => assert(math.abs(s - 500) <= 50, s"$g: $sizes"))
      // monotone: a higher score never lands in a lower bucket
      val ordered = grp.sortBy(_._2).map(_._3)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
    }
  }

  test("Sampling.strataApprox buckets null groups like strata (null-safe join)") {
    // a window's partitionBy treats null as its own partition; the approx
    // form's threshold join must be null-safe or swapping exact→approx at
    // scale silently drops the null-group rows
    val rows = (0L until 40L)
      .map(i => (i, if (i % 4 == 0) null else s"g${i % 2}", (i * 37 % 11).toDouble))
      .toDF("id", "g", "score")
    val approx = Sampling.strataApprox(rows, $"g", $"score")
    assert(approx.count() == 40L, "approx path dropped rows")
    val nullRows = approx.filter($"g".isNull)
      .collect().map(r => (r.getDouble(2), r.getLong(0), r.getLong(3)))
    assert(nullRows.length == 10)
    // same convention as exact strata: null group is its own stratum, with
    // buckets monotone in score (bucket VALUES may differ within the
    // sketch's rank error; membership must not)
    assert(nullRows.map(_._3).toSet.subsetOf(Set(1L, 2L, 3L, 4L)))
    val ordered = nullRows.sortBy(x => (x._1, x._2)).map(_._3).toSeq
    assert(ordered == ordered.sorted, s"null-group buckets not monotone: $ordered")
  }

  test("Sampling.strataApprox buckets null SCORES like strata (last bucket)") {
    // exact strata orders asc_nulls_last, so a null score (empty doc under
    // the guarded quality ratios) lands in the LAST bucket; the approx
    // form's score > t comparisons are all null for a null score, which
    // without an explicit branch kept nothing and silently flipped those
    // rows to bucket 1 when a deployment swapped exact for approx
    val rows = (0L until 40L)
      .map(i => (i, s"g${i % 2}",
        if (i % 8 == 0) null else java.lang.Double.valueOf((i * 37 % 11).toDouble)))
      .toDF("id", "g", "score")
    val exact = rows.withColumn("bucket",
        Sampling.strata($"g", $"score", $"id"))
      .filter($"score".isNull)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val approx = Sampling.strataApprox(rows, $"g", $"score")
      .filter($"score".isNull)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(exact.nonEmpty && exact.keySet == approx.keySet)
    // both conventions agree: null scores take the last (4th) bucket
    assert(exact.values.toSet == Set(4L), exact.toString)
    assert(approx.values.toSet == Set(4L), approx.toString)
  }

  test("Sampling.strataApprox null convention DIVERGES from strata past 1/n nulls") {
    // The documented limit of the nulls-take-bucket-n convention: with a
    // group's null fraction ABOVE 1/n (here 50% nulls, n=4), exact
    // strata's NTILE spreads the null tail across the top buckets
    // (asc_nulls_last makes nulls the tail of the sort, and ntile slices
    // the tail like any other rows), while strataApprox pins every null
    // to bucket n. This test pins the divergence on purpose — if it ever
    // fails, the Sampling.scala doc's "coincides only while nulls fit in
    // one bucket" caveat needs rewriting, not the test.
    val rows = (0L until 16L)
      .map(i => (i, "g",
        if (i % 2 == 0) null else java.lang.Double.valueOf(i.toDouble)))
      .toDF("id", "g", "score")
    val exact = rows.withColumn("bucket",
        Sampling.strata($"g", $"score", $"id"))
      .filter($"score".isNull)
      .collect().map(r => r.getLong(3)).toSet
    val approx = Sampling.strataApprox(rows, $"g", $"score")
      .filter($"score".isNull)
      .collect().map(r => r.getLong(3)).toSet
    // 8 non-null rows fill buckets 1-2, the 8-null tail spans buckets 3-4
    assert(exact == Set(3L, 4L), s"exact spread changed: $exact")
    // approx pins all nulls to the last bucket regardless of fraction
    assert(approx == Set(4L), s"approx convention changed: $approx")
  }

  test("Sampling.tokenShards: greedy deterministic packing per group") {
    val rows = Seq(
      (0L, "g0", 100L), (1L, "g0", 300L), (2L, "g0", 200L), (3L, "g0", 50L),
      (4L, "g1", 600L), (5L, "g1", 10L))
      .toDF("id", "g", "tok")
    val got = rows.withColumn("shard", Sampling.tokenShards($"g", $"tok", $"id", 512L))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // g0 exclusive cumsums 0,100,400,600 → shards 0,0,0,1: doc 2 lands in
    // shard 0 (open when it arrived, overhang tolerated), doc 3 opens 1
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
    // assignment is key-order-only: shuffling the input never moves a doc
    val reshuffled = rows.repartition(7)
      .withColumn("shard", Sampling.tokenShards($"g", $"tok", $"id", 512L))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(reshuffled == got)
    intercept[IllegalArgumentException] {
      Sampling.tokenShards($"g", $"tok", $"id", 0L)
    }
  }

  test("Sampling.packSequences assembles deterministic budget-bounded sequences") {
    val rows = Seq(
      (0L, "g0", "docA", 100L), (1L, "g0", "docB", 300L), (2L, "g0", "docC", 200L),
      (3L, "g0", "docD", 50L), (4L, "g1", "docE", 600L))
      .toDF("id", "g", "text", "tok")
      .withColumn("shard", Sampling.tokenShards($"g", $"tok", $"id", 512L))
    val packed = Sampling.packSequences(rows, $"g", $"shard", $"id", $"text", $"tok",
        sep = "|")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    // g0 shards: docs 0,1,2 in shard 0 (cumsum 0,100,400), doc 3 in shard 1
    assert(packed(("g0", 0L)) == (("docA|docB|docC", 3L, 600L)))
    assert(packed(("g0", 1L)) == (("docD", 1L, 50L)))
    assert(packed(("g1", 0L)) == (("docE", 1L, 600L)))
    // layout-independent: repartitioned input assembles identical bytes
    val packed2 = Sampling.packSequences(
        rows.repartition(7), $"g", $"shard", $"id", $"text", $"tok", sep = "|")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(packed2 == packed.view.mapValues(_._1).toMap)
  }

  test("Sampling.mixtureSample: deterministic, nested, salted, map-side") {
    val docs = spark.range(4000).toDF("id")
      .withColumn("g", concat(lit("g"), $"id" % 2))
    def kept(rates: Map[String, Double]) =
      Sampling.mixtureSample(docs, $"g", $"id", rates)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // layout-independent: repartitioning never changes the kept set
    val k1 = kept(Map("g0" -> 0.3, "g1" -> 0.8))
    val k2 = Sampling.mixtureSample(docs.repartition(11), $"g", $"id",
        Map("g0" -> 0.3, "g1" -> 0.8))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(k1 == k2)
    // nested thresholds: raising a group's rate only ADDS rows — the
    // property that lets a mixture re-weight without a fresh draw
    val up = kept(Map("g0" -> 0.6, "g1" -> 0.8))
    assert(k1.subsetOf(up))
    assert(up.filter(_._2 == "g1") == k1.filter(_._2 == "g1"))
    // boundary rates: 1.0 (the "g" sentinel) keeps all, 0.0 keeps none
    assert(kept(Map("g0" -> 1.0, "g1" -> 0.0)) ==
      (0L until 4000L by 2).map(i => (i, "g0")).toSet)
    // rates roughly honored (hash uniformity)
    val n0 = k1.count(_._2 == "g0")
    assert(n0 > 480 && n0 < 720, s"g0 kept $n0 of 2000 at rate 0.3")
    // the mixture decision is salted away from hashSplit's: within the
    // ~5% test split, rate 0.3 still keeps ~30% (unsalted they correlate)
    val testSplit = docs.filter(Sampling.hashSplit($"id") === "test")
    val testIds = testSplit.collect().map(_.getLong(0)).toSet
    val testKept = testIds.count(i => k1.contains((i, s"g${i % 2}")))
    val expectRate = testIds.count(_ % 2 == 0) * 0.3 + testIds.count(_ % 2 == 1) * 0.8
    assert(math.abs(testKept - expectRate) < 0.35 * expectRate,
      s"test-split kept $testKept, expected ~$expectRate — mixture correlates with split")
    // zero shuffle: the whole op is a scan-side filter
    val plan = Sampling.mixtureSample(docs, $"g", $"id", Map("g0" -> 0.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // upsampling rates belong to mixtureWeight — here they fail loudly at
    // plan build, not silently clamp
    intercept[IllegalArgumentException] {
      Sampling.mixtureSample(docs, $"g", $"id", Map("g0" -> 2.5))
    }
    // a null sampling key fails loudly — it has no deterministic draw and
    // would otherwise silently drop (even at rate 1.0)
    val withNullKey = Seq((Some(1L), "g0"), (None, "g0"))
      .toDF("id", "g")
    val nullKeyErr = intercept[RuntimeException] {
      Sampling.mixtureSample(withNullKey, $"g", $"id", Map("g0" -> 1.0)).collect()
    }
    assert(nullKeyErr.getMessage.contains("sampling key is null"))
  }

  test("Sampling.mixtureWeight: copies honor whole+fractional rates") {
    val docs = spark.range(4000).toDF("id")
      .withColumn("g", concat(lit("g"), $"id" % 4))
    val rates = Map("g0" -> 2.5, "g1" -> 1.0, "g2" -> 0.0, "g3" -> 0.4)
    val out = Sampling.mixtureWeight(docs, $"g", $"id", rates)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1)
    // copy indexes are exactly 1..copies per surviving doc
    byDoc.foreach { case (id, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.size).toSeq, s"doc $id")
    }
    val byGroup = out.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size).toMap
    // g1 at exactly 1.0: every doc once, no fractional draw
    assert(byGroup("g1") == 1000 && out.count(_._2 == "g1") == 1000)
    // g2 at 0: gone entirely
    assert(!byGroup.contains("g2"))
    // g0 at 2.5: every doc 2 or 3 times, mean ~2.5
    val g0Counts = byDoc.collect { case (id, rows) if id % 4 == 0 => rows.size }
    assert(g0Counts.forall(c => c == 2 || c == 3))
    val g0Rows = out.count(_._2 == "g0")
    assert(g0Rows > 2300 && g0Rows < 2700, s"g0 rows $g0Rows at rate 2.5")
    // rates <= 1 through mixtureWeight keep the SAME docs as mixtureSample
    // (shared salted hash), just with an explicit copy=1
    val viaWeight = out.filter(_._2 == "g3").map(_._1).toSet
    val viaSample = Sampling.mixtureSample(docs.filter($"g" === "g3"), $"g", $"id",
        Map("g3" -> 0.4)).collect().map(_.getLong(0)).toSet
    assert(viaWeight == viaSample)
    intercept[IllegalArgumentException] {
      Sampling.mixtureWeight(docs, $"g", $"id", Map("g0" -> -0.1))
    }
  }

  test("Sampling.shuffleOrder: reproducible epoch order, no global sort") {
    val docs = spark.range(3000).toDF("id")
    val o1 = Sampling.shuffleOrder(docs, $"id", seed = 7L, shards = 12)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // pure function of (seed, key): any layout reproduces the exact order
    val o2 = Sampling.shuffleOrder(docs.repartition(17), $"id", seed = 7L, shards = 12)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(o1.sortBy(_._1).toSeq == o2.sortBy(_._1).toSeq)
    // a new seed is a genuinely different epoch order
    val o3 = Sampling.shuffleOrder(docs, $"id", seed = 8L, shards = 12)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(o1.sortBy(_._2).map(_._1).toSeq != o3.sortBy(_._2).map(_._1).toSeq)
    // shards in range and roughly balanced
    val sizes = o1.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes.keySet.forall(s => s >= 0 && s < 12))
    sizes.values.foreach(s => assert(math.abs(s - 250) < 100, sizes.toString))
    // the materialization plan hash-partitions on shard — never a
    // single-partition global sort, never sample-based range boundaries
    val mat = Sampling.shuffleOrder(docs, $"id", seed = 7L, shards = 12)
      .repartition(12, col("shard"))
      .sortWithinPartitions("shard", "shuffle_key")
    val plan = mat.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    intercept[IllegalArgumentException] {
      Sampling.shuffleOrder(docs, $"id", seed = 7L, shards = 0)
    }
  }

  test("Pq: deterministic codes, codebook round-trip, rerank recall") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cb = Pq.trainCodebooks(emb, m = 8, k = 64, iters = 3)
    assert(cb.m == 8 && cb.k == 64 && cb.subDim == 8)
    // codes: m small ints per row (32x smaller than 64 floats), in range,
    // and BIT-IDENTICAL across layouts (float corpus ⇒ exact means)
    val enc = Pq.encode(emb, cb).persist()
    val codes = enc.orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](r.fieldIndex("codes")))
    assert(codes.forall { case (_, cs) => cs.size == 8 && cs.forall(c => c >= 0 && c < 64) })
    val codes2 = Pq.encode(emb.repartition(7), cb).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](r.fieldIndex("codes")))
    assert(codes.toSeq == codes2.toSeq)
    // codebooks round-trip the Catalog bit-identically (doubles in parquet)
    val root = java.nio.file.Files.createTempDirectory("graft-pq").toString
    val catalog = new graft.core.Catalog(spark, root)
    Pq.saveCodebooks(catalog, "ann.codebooks", cb)
    val cb2 = Pq.loadCodebooks(catalog, "ann.codebooks")
    assert(cb2.subDim == cb.subDim &&
      cb2.books.flatten.flatten.toSeq == cb.books.flatten.flatten.toSeq)
    // ADC score equals the driver-side table sum for a spot row (the
    // column rounds to 6 like every search-score surface, so round the
    // replica the same way — Spark round is HALF_UP)
    val q0 = emb.filter($"vec_id" === 0L).head().getSeq[Float](1).map(_.toDouble).toArray
    val tab = Pq.adcTable(q0, cb)
    val spot = Pq.pqTopKVec(enc, q0, cb, 1).head()
    val spotCodes = codes.toMap.apply(spot.getLong(0))
    val expect = spotCodes.zipWithIndex.map { case (c, j) => tab(j * cb.k + c) }
      .foldLeft(0.0)(_ + _)
    assert(spot.getDouble(1) ==
      BigDecimal(expect).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // recall vs exact cosine top-10 (unit vectors: L2 order = cosine
    // order): ADC alone is the 32x-compressed shortlist; shortlist+exact
    // rerank recovers ≥0.9 — deterministic training makes these stable
    var adcHits = 0; var rrHits = 0
    val queries = emb.filter($"vec_id" < 10L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    for ((qid, qv) <- queries) {
      val rest = enc.filter($"vec_id" =!= qid)
      val approx = Pq.pqTopKVec(rest, qv, cb, 10).collect().map(_.getLong(0)).toSet
      val rr = Pq.pqTopKRerankVec(rest, qv, cb, 10, shortlist = 10)
        .collect().map(_.getLong(0)).toSet
      val qlit = typedLit(qv.toSeq)
      val exact = emb.filter($"vec_id" =!= qid)
        .withColumn("s", graft.functions.VectorFunctions
          .dot($"embedding".cast("array<double>"), qlit))
        .orderBy(desc("s"), $"vec_id").limit(10)
        .collect().map(_.getLong(0)).toSet
      adcHits += (approx & exact).size; rrHits += (rr & exact).size
    }
    assert(adcHits >= 30, s"ADC recall@10 too low: $adcHits/100")
    assert(rrHits >= 90, s"rerank recall@10 too low: $rrHits/100")
    enc.unpersist()
    intercept[IllegalArgumentException] { Pq.trainCodebooks(emb, m = 7) }
    // encoding vectors whose dim mismatches the codebook geometry fails
    // loudly — a truncated slice would argmin over nothing and emit
    // code 0 (silent corrupt codes)
    val dimErr = intercept[RuntimeException] {
      Pq.encode(emb.select($"vec_id",
          slice($"embedding", 1, 32).as("embedding")), cb)
        .collect()
    }
    assert(dimErr.getMessage.contains("codebook geometry"))
    // IVF-PQ: the coarse probe composes with ADC — equal to running the
    // PQ rerank over exactly the probed cells, and pruning still reaches
    // the scan when the cluster column is a stored partition column
    val cents = Ivf.trainCentroids(emb, k = 8, iters = 3)
    val clusteredEnc = Pq.encode(Ivf.assign(emb, cents), cb)
    val q1 = queries.head._2
    val viaIvfPq = Pq.ivfPqTopKVec(clusteredEnc, cents, cb, q1, 10, nProbe = 3,
        shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // driver-side replica of the probe-cell derivation (nearest by L2)
    val probes = cents.zipWithIndex.map { case (c, i) =>
      i -> c.zip(q1).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sortBy { case (i, d) => (d, i) }.take(3).map(_._1).toSeq
    val direct = Pq.pqTopKRerankVec(
        clusteredEnc.filter($"cluster".isin(probes: _*)), q1, cb, 10,
        shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIvfPq == direct)
    val root2 = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val cat2 = new graft.core.Catalog(spark, root2)
    cat2.save(clusteredEnc, "ann.pq_corpus", partitionBy = Seq("cluster"))
    val pruned = Pq.ivfPqTopKVec(cat2.load("ann.pq_corpus"), cents, cb, q1, 10,
      nProbe = 3, shortlist = 10)
    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty && scans.forall(_.selectedPartitions.partitionCount <= 3),
      s"IVF-PQ scan read ${scans.map(_.selectedPartitions.partitionCount)} cells, want <=3")
  }

  test("Pq.measureShortlist: contrast-measured sizing reaches the floor on both corpus geometries") {
    // the r13 AnnRecallProbe sweep measured the shortlist as the whole
    // game on near-tie corpora (0.18→0.74 from 4×k to 128×k) while the
    // contrastful regime saturates at small multipliers — so the sizing
    // must (a) measure the gap, (b) choose monotonically with the
    // geometry, (c) reach the END metric with its choice, (d) round-trip
    // as an artifact beside the codebooks
    val k = 10
    val target = 0.75
    def servingRecall(emb: org.apache.spark.sql.DataFrame, cb: Pq.Codebooks,
        shortlist: Int): Double = {
      val enc = Pq.encode(emb, cb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      enc.count()
      val queries = emb.filter(pmod($"vec_id", lit(20)) === 3)
        .orderBy("vec_id").limit(6).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      val recalls = queries.map { case (qid, qv) =>
        val got = Pq.pqTopKRerankVec(enc.filter($"vec_id" =!= qid), qv, cb, k,
          shortlist).collect().map(_.getLong(0)).toSet
        val qlit = typedLit(qv.toSeq)
        val exact = emb.filter($"vec_id" =!= qid)
          .withColumn("s", graft.functions.VectorFunctions
            .dot($"embedding".cast("array<double>"), qlit))
          .orderBy(desc("s"), $"vec_id").limit(k)
          .collect().map(_.getLong(0)).toSet
        (got & exact).size.toDouble / k
      }
      enc.unpersist()
      recalls.sum / recalls.length
    }
    def monotone(sm: Pq.ShortlistMeasurement): Unit = {
      val rs = sm.ladder.map(_._2)
      assert(rs.zip(rs.tail).forall { case (a, b) => b >= a - 1e-12 },
        s"recall ladder not monotone: ${sm.ladder}")
    }
    val hashEmb = graft.probes.DedupScaleProbe.syntheticVecCorpus(spark, 20000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clEmb = graft.probes.DedupScaleProbe.syntheticClusteredVecCorpus(spark, 20000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cbH = Pq.trainCodebooks(hashEmb, m = 8, k = 16, iters = 5)
      val smH = Pq.measureShortlist(hashEmb, cbH, k, targetRecall = target,
        sampleRows = 4096, nQueries = 24)
      val cbC = Pq.trainCodebooks(clEmb, m = 8, k = 16, iters = 5)
      val smC = Pq.measureShortlist(clEmb, cbC, k, targetRecall = target,
        sampleRows = 4096, nQueries = 24)
      info(s"hash: $smH")
      info(s"clustered: $smC")
      monotone(smH); monotone(smC)
      // the choice is the MINIMAL ladder entry reaching the target —
      // every smaller multiplier measured short of it (the structural
      // property; which geometry needs more is the measurement's own
      // verdict, not an assumption: at this scale the hash corpus's
      // dot-truth vs L2-ADC mismatch on unnormalized vectors costs MORE
      // than clustering — 64 vs 32 measured — the opposite of the 1M
      // near-tie story, which is exactly why the knob is measured
      // per-corpus instead of defaulted)
      for (sm <- Seq(smH, smC)) {
        assert(sm.measuredRecall >= target, s"clamped without reaching target: $sm")
        assert(sm.ladder.takeWhile(_._1 < sm.shortlist).forall(_._2 < target),
          s"not the minimal feasible multiplier: $sm")
        assert(sm.ladder.find(_._1 == sm.shortlist).exists(_._2 == sm.measuredRecall))
      }
      // END metric: serving recall with the measured shortlist on the
      // full corpus (the sample measures within-sample ranks; the slack
      // absorbs the sample-vs-corpus gap)
      assert(servingRecall(hashEmb, cbH, smH.shortlist) >= target - 0.15,
        s"hash serving recall below floor at shortlist ${smH.shortlist}")
      assert(servingRecall(clEmb, cbC, smC.shortlist) >= target - 0.15,
        s"clustered serving recall below floor at shortlist ${smC.shortlist}")
      // artifact round-trip beside the codebooks
      val root = java.nio.file.Files.createTempDirectory("graft-pqsl").toString
      val cat = new graft.core.Catalog(spark, root)
      Pq.saveShortlist(cat, "ann.shortlist", smC)
      assert(Pq.loadShortlist(cat, "ann.shortlist") == smC)
    } finally {
      hashEmb.unpersist(); clEmb.unpersist()
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("Pq.planIvfPq: joint config from measured marginals reaches the end metric") {
    // the r14 joint sweep measured composed recall ≈ ivf(nProbe) ×
    // pq(shortlist) with no interaction term — planIvfPq turns that law
    // into an auto-config. Pins: ladders monotone; the chosen corner is
    // the cheapest feasible one under the declared cost model; the
    // product definition holds; and the PLANNED config reaches the end
    // metric through ivfPqTopKVec itself
    val k = 10
    val target = 0.6
    val emb = graft.probes.DedupScaleProbe.syntheticClusteredVecCorpus(spark, 20000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = Ivf.trainCentroids(emb, k = 64, iters = 4)
      val cb = Pq.trainCodebooks(emb, m = 8, k = 16, iters = 5)
      val plan = Pq.planIvfPq(emb, cents, cb, k, targetRecall = target,
        sampleRows = 4096, nQueries = 24)
      info(s"plan: $plan")
      def monotone(l: Seq[(Int, Double)]): Unit =
        assert(l.map(_._2).sliding(2).forall(p => p.last >= p.head - 1e-12), l.toString)
      monotone(plan.ivfLadder); monotone(plan.pqLadder)
      assert(math.abs(plan.predictedRecall - plan.ivfRecall * plan.pqRecall) < 1e-12)
      assert(plan.predictedRecall >= target, s"clamped without reaching target: $plan")
      // minimality under the declared cost model: every strictly cheaper
      // ladder corner is infeasible
      val dim = 64
      def cost(p: Int, s: Int) = p.toDouble * 20000 / 64 * 8 + s.toDouble * k * dim
      for ((p, ri) <- plan.ivfLadder; (s, rp) <- plan.pqLadder
           if cost(p, s) < cost(plan.nProbe, plan.shortlist))
        assert(ri * rp < target,
          s"cheaper feasible corner ($p, $s) ignored: ${ri * rp}")
      // END metric: the planned config through the actual serving path
      val clusteredEnc = Pq.encode(Ivf.assign(emb, cents), cb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      clusteredEnc.count()
      val queries = emb.filter(pmod($"vec_id", lit(20)) === 3)
        .orderBy("vec_id").limit(6).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      val recalls = queries.map { case (qid, qv) =>
        val got = Pq.ivfPqTopKVec(clusteredEnc.filter($"vec_id" =!= qid), cents,
          cb, qv, k, plan.nProbe, plan.shortlist)
          .collect().map(_.getLong(0)).toSet
        val qlit = typedLit(qv.toSeq)
        val exact = emb.filter($"vec_id" =!= qid)
          .withColumn("s", graft.functions.VectorFunctions
            .dot($"embedding".cast("array<double>"), qlit))
          .orderBy(desc("s"), $"vec_id").limit(k)
          .collect().map(_.getLong(0)).toSet
        (got & exact).size.toDouble / k
      }
      clusteredEnc.unpersist()
      val served = recalls.sum / recalls.length
      assert(served >= target - 0.15,
        s"planned (${plan.nProbe}, ${plan.shortlist}) served $served < ${target - 0.15}")
      // artifact round-trip
      val root = java.nio.file.Files.createTempDirectory("graft-ivfpqplan").toString
      val cat = new graft.core.Catalog(spark, root)
      Pq.saveIvfPqPlan(cat, "ann.plan", plan)
      assert(Pq.loadIvfPqPlan(cat, "ann.plan") == plan)
    } finally { emb.unpersist(); spark.sharedState.cacheManager.clearCache() }
  }

  test("Dedup.dedupParagraphs keeps first occurrences and reassembles in order") {
    val docs = Seq(
      (0L, "intro\nboiler\nbody zero"),
      (1L, "boiler\nbody one\nintro"),   // loses boiler AND intro (doc 0 has both)
      (2L, "boiler"),                    // loses everything -> dropped
      (3L, "body three\n\nboiler\nbody three"))  // empty par ignored; self-dup kept once
      .toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(0L) == (("intro\nboiler\nbody zero", 3L, 3L)))
    assert(out(1L) == (("body one", 3L, 1L)))
    assert(!out.contains(2L))
    assert(out(3L) == (("body three", 3L, 1L)))
    // layout independence: repartitioned input produces identical bytes
    val out2 = Dedup.dedupParagraphs(docs.repartition(5))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == out.view.mapValues(_._1).toMap)
    // the ranking window partitions on the paragraph digest — never a
    // single partition
    val plan = Dedup.dedupParagraphs(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("dedupParagraphs window volume: rows linear in corpus, groups bounded by dup factor") {
    // n-doubling check for the ranking window's shuffled relation: the
    // digest-keyed row count must grow linearly with the corpus, and the
    // per-digest group size (what one window partition holds in memory)
    // must stay at the duplication factor — NOT grow with corpus size.
    // Every doc carries 3 unique paragraphs plus one shared boilerplate
    // line, so dup multiplicity of the hottest digest == n.
    def corpus(n: Int) = (0L until n.toLong).map { i =>
      (i, s"unique a$i\nshared boilerplate\nunique b$i\nunique c$i")
    }.toDF("doc_id", "text")
    def parRows(n: Int) = corpus(n)
      .select(posexplode(split($"text", "\n")).as(Seq("pos", "par")))
      .groupBy(md5($"par".cast("binary"))).count()
      .agg(sum($"count").as("rows"), max($"count").as("hottest"))
      .head()
    val small = parRows(100)
    val large = parRows(200)
    assert(large.getLong(0) == 2 * small.getLong(0),
      s"paragraph rows not linear: ${small.getLong(0)} -> ${large.getLong(0)}")
    // hottest digest group == the boilerplate's multiplicity (one per doc):
    // the window's memory is bounded by real duplication, nothing else
    assert(small.getLong(1) == 100L && large.getLong(1) == 200L)
    // and all OTHER groups stay singletons regardless of corpus size
    val spread = corpus(200)
      .select(posexplode(split($"text", "\n")).as(Seq("pos", "par")))
      .groupBy(md5($"par".cast("binary"))).count()
      .filter($"count" > 1).count()
    assert(spread == 1L, s"expected exactly the boilerplate group hot, got $spread")
  }

  test("shuffleOrder materializes through the Catalog with shard pruning") {
    // the documented idiom: shard-partitioned write, within-shard sort —
    // then a training reader resolves ONE shard directory per task and
    // re-materialization reproduces the exact order
    val root = java.nio.file.Files.createTempDirectory("graft-shuffle").toString
    val catalog = new graft.core.Catalog(spark, root)
    val docs = spark.range(2000).toDF("id")
    val ordered = Sampling.shuffleOrder(docs, $"id", seed = 3L, shards = 8)
    catalog.save(
      ordered.repartition(8, col("shard"))
        .sortWithinPartitions("shard", "shuffle_key"),
      "train.shuffled", partitionBy = Seq("shard"))
    // a single-shard read prunes to one directory of eight
    val oneShard = catalog.load("train.shuffled").filter($"shard" === 3L)
    val scans = oneShard.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty, "shard filter did not reach the scan")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"read ${scans.head.selectedPartitions.partitionCount} shard dirs, want 1")
    // the persisted order equals the recomputed order, shard by shard
    val persisted = catalog.load("train.shuffled")
      .orderBy("shard", "shuffle_key").collect().map(_.getAs[Long]("id")).toSeq
    val recomputed = Sampling.shuffleOrder(docs.repartition(5), $"id", seed = 3L, shards = 8)
      .orderBy("shard", "shuffle_key").collect().map(_.getAs[Long]("id")).toSeq
    assert(persisted == recomputed)
  }

  test("Decontaminate: ngram semantics, exact flags, bloom bit-identity") {
    // ngrams: sliding word windows; short docs yield none (NOT sequence's
    // descending [1,0] trap); n=1 degenerates to the tokens
    val g = Seq((0L, "a b c d e"), (1L, "a b"), (2L, ""), (3L, "x y z"))
      .toDF("id", "text")
      .select($"id", Decontaminate.ngrams($"text", 3).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(g(0L) == Seq("a b c", "b c d", "c d e"))
    assert(g(1L) == Seq() && g(2L) == Seq())
    assert(g(3L) == Seq("x y z"))
    intercept[IllegalArgumentException] { Decontaminate.ngrams(lit("x"), 0) }
    // native WordNgrams is bit-identical to the composable HOF form on the
    // whitespace-edge corpus (null text: native null, composable empty —
    // both dropped by explode, asserted via the exploded sets)
    for (n <- Seq(1, 2, 4)) {
      def dump(c: org.apache.spark.sql.Column) =
        edgeDocs.select($"doc_id", explode(c).as("ng"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(dump(Decontaminate.ngrams($"text", n)) ==
        dump(Decontaminate.ngramsComposable($"text", n)), s"n=$n")
    }
    // a planted shared 4-gram contaminates doc 10 ONLY; doc 11 shares 3
    // consecutive words (below n), doc 12 nothing
    val eval = Seq((100L, "the quick brown fox jumps over")).toDF("id", "text")
    val train = Seq(
      (10L, "totally unrelated quick brown fox jumps apart"),
      (11L, "other words brown fox jumps elsewhere entirely"),
      (12L, "nothing in common at all here")).toDF("id", "text")
    val ng = Decontaminate.evalNgrams(eval, $"text", 4)
    val flagged = Decontaminate.flagContaminated(train, $"id", $"text", ng, 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flagged == Map(10L -> true, 11L -> false, 12L -> false))
    assert(Decontaminate.decontaminate(train, $"id", $"text", ng, 4)
      .collect().map(_.getLong(0)).toSet == Set(11L, 12L))
    // bloom prefilter path returns the bit-identical id set on real data
    // (false positives settled by the exact join; no false negatives)
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text")
    val evalDocs = docs.filter($"doc_id" % 50 === 0)
    val trainDocs = docs.filter($"doc_id" % 50 =!= 0)
    val refNg = Decontaminate.evalNgrams(evalDocs, $"text", 4)
    val exact = Decontaminate.contaminatedIds(trainDocs, $"doc_id", $"text", refNg, 4)
      .collect().map(_.getLong(0)).toSet
    val viaBloom = Decontaminate
      .contaminatedIdsBloom(trainDocs, $"doc_id", $"text", refNg, 4)
      .collect().map(_.getLong(0)).toSet
    assert(exact == viaBloom)
    assert(exact.nonEmpty, "witness degenerate: no contamination in corpus")
    // the exact path broadcasts the reference set — no train-side shuffle
    // before the semi-join
    val plan = Decontaminate.contaminatedIds(trainDocs, $"doc_id", $"text", refNg, 4)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the per-row predicate (streaming/serving form) flags the same docs
    // as the join form, and its plan is a pure filter — no join at all
    val viaPredicate = trainDocs
      .filter(Decontaminate.contaminationPredicate(refNg, $"text", 4))
      .collect().map(_.getLong(0)).toSet
    assert(viaPredicate == exact)
    val predPlan = trainDocs
      .filter(Decontaminate.contaminationPredicate(refNg, $"text", 4))
      .queryExecution.sparkPlan.toString
    assert(!predPlan.contains("Join"), predPlan)
    // null text is NOT contaminated: filter(!pred) keeps it, exactly as
    // the join forms do (no n-grams ⇒ nothing to match) — unguarded, the
    // native null would propagate and silently drop the row
    val withNull = Seq((50L, "clean words only"), (51L, null.asInstanceOf[String]))
      .toDF("id", "text")
    assert(withNull.filter(!Decontaminate.contaminationPredicate(refNg, $"text", 4))
      .collect().map(_.getLong(0)).toSet == Set(50L, 51L))
    assert(Decontaminate.decontaminate(withNull, $"id", $"text", refNg, 4)
      .collect().map(_.getLong(0)).toSet == Set(50L, 51L))
  }

  test("contaminationPredicate routes big sets to the broadcast encoding " +
      "and fails loudly past the collectable ceiling") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text")
    val evalDocs = docs.filter($"doc_id" % 50 === 0)
    val trainDocs = docs.filter($"doc_id" % 50 =!= 0)
    val refNg = Decontaminate.evalNgrams(evalDocs, $"text", 4)
    val exact = Decontaminate.contaminatedIds(trainDocs, $"doc_id", $"text", refNg, 4)
      .collect().map(_.getLong(0)).toSet
    // pad the reference set past the plan-literal cutover with n-grams
    // that can match nothing: the predicate must switch to the
    // broadcast-backed probe and still flag exactly the join form's ids
    val pad = spark.range(12000)
      .select(concat(lit("zz"), $"id", lit(" qq xx yy")).as("ngram"))
    val bigNg = refNg.unionAll(pad)
    val probed = trainDocs
      .filter(Decontaminate.contaminationPredicate(bigNg, $"text", 4))
    assert(probed.queryExecution.sparkPlan.toString.contains("anyinsetbc"),
      "big reference set did not take the broadcast encoding")
    assert(probed.collect().map(_.getLong(0)).toSet == exact)
    // past the ceiling: a loud, immediate failure pointing at the Bloom
    // form — BEFORE any driver-side collect of the set (a count, not an
    // OOM; 10^7+1 synthetic rows here never materialize on the driver)
    val tooBig = spark.range(10000001L).select($"id".cast("string").as("ngram"))
    val e = intercept[IllegalArgumentException] {
      Decontaminate.contaminationPredicate(tooBig, $"text", 4)
    }
    assert(e.getMessage.contains("contaminatedIdsBloom"))
  }
}
