package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{BaselineStats, Thresholds}
import graft.pipeline.AutoHealer

/** ScalaCheck properties for the pure math the detectors depend on
  * (SURVEY §5 test plan): z-score guards, severity ladder monotonicity,
  * baseline statistics vs a straightforward reference implementation,
  * anti-join set semantics, healing idempotence. Raw Gen + fixed seeds
  * (the scalatestplus bridge isn't on the offline classpath), so runs are
  * deterministic.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def forAllN[A](gen: Gen[A], n: Int = 40)(f: A => Unit): Unit =
    (0 until n).foreach(i => gen.apply(params, Seed(i.toLong)).foreach(f))

  test("severity ladder is monotone in the input value") {
    val rank = Map("NONE" -> 0, "LOW" -> 1, "MEDIUM" -> 2, "HIGH" -> 3, "CRITICAL" -> 4)
    val t = Thresholds.RevenueDeviation
    forAllN(Gen.zip(Gen.chooseNum(-10.0, 100.0), Gen.chooseNum(-10.0, 100.0)), 200) {
      case (a, b) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        assert(rank(t.severity(lo)) <= rank(t.severity(hi)))
    }
  }

  test("baseline stats match a direct reference implementation") {
    val gen = Gen.chooseNum(2, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 50000000).map(_ / 100.0)))
    forAllN(gen, 15) { xs =>
      val r = BaselineStats.stats(xs.toDF("x"), "x").head()
      val mean = xs.sum / xs.size
      val sampleStd = math.sqrt(xs.map(v => (v - mean) * (v - mean)).sum / (xs.size - 1))
      assert(math.abs(r.getDouble(0) - mean) < 1e-6)
      assert(math.abs(r.getDouble(1) - sampleStd) < 1e-4)
      assert(r.getDouble(3) == xs.min && r.getDouble(4) == xs.max)
      assert(r.getLong(5) == xs.size)
      val sorted = xs.sorted
      val med =
        if (xs.size % 2 == 1) sorted(xs.size / 2)
        else (sorted(xs.size / 2 - 1) + sorted(xs.size / 2)) / 2
      assert(math.abs(r.getDouble(2) - med) < 1e-9)
    }
  }

  test("constant series => zero stddev => z-score guard yields 0") {
    // 2-decimal values below ~1.5e5 keep the sum-of-squares inside the
    // 2^53 exactness envelope (see Exact scaladoc); there stddev is a hard 0.
    val gen = Gen.zip(Gen.chooseNum(100L, 15000000L).map(_ / 100.0), Gen.chooseNum(2, 40))
    forAllN(gen, 10) { case (v, n) =>
      val r = BaselineStats.stats(List.fill(n)(v).toDF("x"), "x").head()
      val std = r.getDouble(1)
      assert(std == 0.0)
      val z = if (std > 0) (v - r.getDouble(0)) / std else 0.0
      assert(z == 0.0)
    }
  }

  test("Thresholds column form agrees with the pure form everywhere") {
    val t = Thresholds.TxnDeviation
    val gen = Gen.listOfN(60, Gen.chooseNum(-5.0, 120.0))
    forAllN(gen, 5) { xs =>
      val got = xs.toDF("v")
        .select(t.severityCol(org.apache.spark.sql.functions.col("v")))
        .as[String].collect().toSeq
      assert(got == xs.map(t.severity))
    }
  }

  test("missing = expected − arrived, order-insensitive, duplicates irrelevant") {
    val keys = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f"))
    forAllN(Gen.zip(keys, keys), 15) { case (expected, arrived) =>
      if (expected.nonEmpty) {
        val got = graft.ops.Joins.missingKeys(
            expected.toDF("k"), arrived.toDF("k"), "k")
          .as[String].collect().toSet
        assert(got == expected.toSet.diff(arrived.toSet))
      }
    }
  }

  test("fused detector checks equal their multi-action forms on random fact frames") {
    // skewed keys (A heavy, C and null light) give keys on both sides of
    // every minDailyCount floor; day -1 is tomorrow, 31+ before the window
    val row = for {
      region <- Gen.frequency(12 -> "A", 5 -> "B", 2 -> "C", 1 -> (null: String))
      cat <- Gen.frequency(6 -> "X", 3 -> "Y", 1 -> (null: String))
      day <- Gen.chooseNum(-1, 34)
      minute <- Gen.chooseNum(0, 24 * 60 - 1)
      cents <- Gen.chooseNum(0L, 5000000L)
      id <- Gen.chooseNum(0, 400)
      customer <- Gen.frequency(4 -> "c", 1 -> (null: String))
    } yield (region, cat, day, minute, cents / 100.0, s"T$id", customer)
    // shape: 0 as drawn, 1 empty today, 2 empty baseline
    val gen = Gen.zip(Gen.chooseNum(0, 160).flatMap(Gen.listOfN(_, row)),
      Gen.chooseNum(0, 2), Gen.chooseNum(0L, 3L), Gen.oneOf(0.0, 30.0, 100.0),
      Gen.chooseNum(0, 23))
    val today = java.time.LocalDate.parse("2024-01-31")
    forAllN(gen, 20) { case (rows, shape, mdc, pct, hour) =>
      val kept = rows.filter { r => shape == 0 || (shape == 1) == (r._3 != 0) }
      val df = kept.map { case (region, cat, day, minute, rev, id, customer) =>
        (region, cat, java.sql.Timestamp.from(today.minusDays(day.toLong)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.plusSeconds(minute * 60L)),
          rev, id, customer)
      }.toDF("region", "product_category", "transaction_date", "revenue",
        "transaction_id", "customer_id")
      val clock = graft.core.FixedClock.at(f"2024-01-31T$hour%02d:30:00Z")
      val dims = Seq("region" -> pct, "product_category" -> pct / 2)
      import LegacyDetectors._
      import graft.detectors._
      assertSameBits(patternBreaks(df, clock, dims, minDailyCount = mdc),
        new PatternDetector(df, clock, dims, minDailyCount = mdc).checkPatternBreaks(),
        s"patterns $kept")
      assertSameBits(revenueAnomaly(df, clock, today, minSamples = 3),
        new RevenueDetector(df, clock, minSamples = 3).checkRevenueAnomaly(today),
        s"revenue $kept")
      assertSameBits(transactionVolume(df, clock, minSamples = 2),
        new TransactionDetector(df, clock, minSamples = 2).checkTransactionVolume(),
        s"volume $kept")
      assertSameBits(qualityDegradation(df, clock),
        new QualityDetector(df, clock).checkQualityDegradation(), s"quality $kept")
    }
  }

  test("lshParams: recall target met or table cap binding, planes bounded") {
    val gen = Gen.zip(
      Gen.chooseNum(1L, 10000000000L),      // corpus size
      Gen.chooseNum(0.30, 0.99))            // cosine threshold
    forAllN(gen, 200) { case (n, threshold) =>
      val (planes, tables) = graft.ext.Similarity.lshParams(n, threshold)
      // 40 = lshParams' depth scan bound (occupancy-constancy holds to
      // ~2×10^12 vectors; the bucket stays well inside the 63-bit long)
      assert(planes >= 2 && planes <= 40)
      assert(tables >= 1 && tables <= 64)
      val p = 1.0 - math.acos(threshold) / math.Pi
      val recall = 1.0 - math.pow(1.0 - math.pow(p, planes), tables)
      // either the OR-amplified recall reaches the 0.98 default target, or
      // the table cap is binding (the explicit infeasible-regime trade)
      assert(recall >= 0.98 - 1e-9 || tables == 64,
        s"n=$n t=$threshold -> ($planes, $tables) recall=$recall")
    }
  }

  test("nearDupAssign invariants hold on fuzzed corpora (soundness, min-survival, closure bound)") {
    // random corpora with planted twins at random spots: on ANY such
    // corpus (clique or chain structure, dense or sparse), the greedy
    // star must (a) eliminate only genuine exact-rounded-cosine pairs
    // toward a smaller id, (b) never eliminate a component's min id, so
    // survivors ⊇ the exact closure's min-per-component set
    import graft.ext.Similarity
    val gen = Gen.zip(Gen.chooseNum(20, 45), Gen.chooseNum(0, 10000))
    forAllN(gen, 6) { case (n, salt) =>
      val rnd = new scala.util.Random(salt)
      val base = (0 until n).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      val twins = base.filter(_._1 % 5 == 1).map { case (i, v) =>
        (i + 1000L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      }
      val emb = (base ++ twins).toDF("vec_id", "embedding")
      val thr = 0.9
      val exact = Similarity.nearDupPairs(emb, thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ids = (base ++ twins).map(_._1)
      // driver union-find, min-id roots
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      exact.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val closure = ids.filter(i => find(i) == i).toSet
      val assign = Similarity.nearDupAssign(emb, thr, nPlanes = 3, nTables = 12)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      assert(assign.length == ids.size)
      val survivors = assign.collect { case (id, None) => id }.toSet
      assert(closure.subsetOf(survivors),
        s"salt=$salt: closure survivor eliminated: ${closure -- survivors}")
      assign.foreach {
        case (id, Some(d)) =>
          assert(d < id && exact.contains((d, id)),
            s"salt=$salt: ($id -> $d) is not a genuine exact pair")
        case _ =>
      }
    }
  }

  test("combination Manku blocking is radius-exact on fuzzed (radius, blocks) splits") {
    // the pigeonhole guarantee must hold at EVERY blocks > maxHamming —
    // fuzz radius 0..4 against splits from minimal to deepened (uneven
    // last-block widths, single-combo h=0, multi-block packed keys), with
    // twins planted at distances STRADDLING the radius so both the
    // no-missed-pair and the no-invented-pair directions bite
    import graft.ext.Dedup
    val rnd = new scala.util.Random(77)
    for (_ <- 1 to 6) {
      val h = rnd.nextInt(5) // 0..4
      val b = h + 1 + rnd.nextInt(5) // h+1 .. h+5; C(9,4)=126 < cap
      val base = Array.fill(120)(rnd.nextLong())
      val twins = base.zipWithIndex.map { case (s, i) =>
        var t = s
        val d = rnd.nextInt(h + 2) // 0..h+1 — includes just-outside-radius
        val flipped = scala.collection.mutable.Set.empty[Int]
        while (flipped.size < d) flipped += rnd.nextInt(64)
        flipped.foreach(bit => t ^= 1L << bit)
        (1000L + i, t)
      }
      val rows = base.zipWithIndex.map { case (s, i) => (i.toLong, s) } ++ twins
      val exhaustive = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= h
      } yield (ia, ib)).toSet
      val sigs = rows.toSeq.toDF("doc_id", "simhash")
      val blocked = Dedup.simhashPairsFromBlocks(
        Dedup.simhashBlockTable(sigs, "doc_id", "simhash", h, b), cache = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == exhaustive,
        s"h=$h b=$b: missed ${exhaustive -- blocked}, invented ${blocked -- exhaustive}")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("lshParams cost surface is flat around the minimizer in the dedup band") {
    // The guard behind every weight-law substitution the sizer makes
    // (constant -> fitted hash law -> sampled corpus law): those swaps are
    // safe ONLY because a one-plane mis-step near the minimizer barely
    // moves modeled compute. Numerically the worst +-1-plane ratio across
    // the dedup band (threshold 0.98, recall 0.98, n in [1e5, 1e12]) is
    // ~1.30 (at the 40-bit scan clamp); pin 1.5 so a future MaxPlanes,
    // weight, or table-cap change that steepens the surface fails HERE
    // instead of in a 64M-doc probe.
    import graft.ext.Similarity
    val threshold = 0.98
    val recall = 0.98
    (50 to 120).foreach { e10 =>
      val n = math.pow(10.0, e10 / 10.0).toLong
      val (kStar, _) = Similarity.lshParams(n, threshold)
      val cStar = Similarity.lshCostProxy(kStar, n, threshold, recall)
      // neighbors below the corpus-size floor never competed in the scan
      val floor = math.min(40, math.max(2,
        math.ceil(math.log(math.max(1.0, n.toDouble / 1024)) / math.log(2.0)).toInt))
      Seq(kStar - 1, kStar + 1).filter(k => k >= floor && k <= 40).foreach { k =>
        // only recall-feasible neighbors compete in the minimizer
        if (Similarity.lshTablesFor(k, threshold, recall) <= 64) {
          val r = Similarity.lshCostProxy(k, n, threshold, recall) / cStar
          assert(r >= 1.0 - 1e-9, s"n=$n: $kStar is not the minimizer (k=$k at $r)")
          assert(r <= 1.5, s"n=$n: cost surface not flat at k=$k vs $kStar: $r")
        }
      }
    }
  }

  test("native text expressions are bit-identical to composable forms on random text") {
    import org.apache.spark.sql.functions._
    import graft.ext.{Dedup, TextStats}
    // random strings over an alphabet heavy in whitespace variety, marker
    // words, stopwords, punctuation, and CJK — one Spark job over the
    // whole sample, comparing native vs composable columns row by row
    val pieces = Seq(" ", "\t", "\n", "  ", "the", "la", "und", "fox", "a.b",
      "...", "!?", "中文", "x", "Words", "of", "que", ";")
    val rnd = new scala.util.Random(23)
    val texts = (0 until 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString)
    }
    val df = texts.toDF("id", "text")
    val toks = split(trim($"text"), "\\s+")
    val compared = df.select(
      $"id",
      // TextMetrics vs its four composable measures
      TextStats.metrics($"text").as("m"),
      size(toks).cast("long").as("c_tokens"),
      size(filter(toks, t => t.isin(TextStats.EnglishStopwords: _*))).cast("long").as("c_stops"),
      length(regexp_replace($"text", "[^.!?,;:]", "")).cast("long").as("c_punct"),
      length($"text").cast("long").as("c_chars"),
      // ShingleHashes vs the transform pipeline
      Dedup.shingleHashes($"text", 3).as("n_sh"),
      transform(Dedup.shingles($"text", 3), s => xxhash64(s)).as("c_sh"),
      // LangId vs the composable vote
      TextStats.langGuess($"text").as("n_lang"),
      TextStats.langGuessComposable($"text").as("c_lang"),
      // DocFingerprint vs the composable rolling-hash fold
      TextStats.fingerprint($"text").as("n_fp"),
      TextStats.fingerprintComposable($"text").as("c_fp"))
      .collect()
    compared.foreach { r =>
      val m = r.getStruct(r.fieldIndex("m"))
      assert(m.getLong(0) == r.getLong(r.fieldIndex("c_tokens")), s"tokens@${r.getLong(0)}")
      assert(m.getLong(1) == r.getLong(r.fieldIndex("c_stops")), s"stops@${r.getLong(0)}")
      assert(m.getLong(2) == r.getLong(r.fieldIndex("c_punct")), s"punct@${r.getLong(0)}")
      assert(m.getLong(3) == r.getLong(r.fieldIndex("c_chars")), s"chars@${r.getLong(0)}")
      assert(r.getSeq[Long](r.fieldIndex("n_sh")) == r.getSeq[Long](r.fieldIndex("c_sh")),
        s"shingles@${r.getLong(0)}")
      assert(r.getString(r.fieldIndex("n_lang")) == r.getString(r.fieldIndex("c_lang")),
        s"lang@${r.getLong(0)}")
      assert(r.getLong(r.fieldIndex("n_fp")) == r.getLong(r.fieldIndex("c_fp")),
        s"fingerprint@${r.getLong(0)}")
    }
  }

  test("WordNgrams and RepetitionMetrics match driver references on fuzzed docs") {
    import org.apache.spark.sql.functions._
    import graft.ext.{Decontaminate, TextStats}
    // random docs: ASCII words joined by random whitespace runs (tabs and
    // newlines are \s separators AND newlines delimit lines), with
    // optional leading/trailing space the SPACE-only trim must strip
    val word = Gen.oneOf("alpha", "beta", "gamma", "x", "yz", "a.b", "q,")
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", "\n\n", " \n ")
    val doc = for {
      n <- Gen.chooseNum(0, 14)
      ws <- Gen.listOfN(n, word)
      ss <- Gen.listOfN(math.max(n - 1, 0), sep)
      lead <- Gen.oneOf("", " ", "  ")
      tail <- Gen.oneOf("", " ")
    } yield lead + (ws, ss :+ "").zipped.map(_ + _).mkString + tail
    val cases = scala.collection.mutable.ArrayBuffer.empty[String]
    forAllN(doc, 120)(cases += _)
    def spaceTrim(s: String) = s.replaceAll("^ +", "").replaceAll(" +$", "")
    def toks(s: String) = spaceTrim(s).split("\\s+", -1)
    val rows = cases.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select($"id", $"text",
        Decontaminate.ngrams($"text", 3).as("ng"),
        TextStats.repetition($"text").as("m"))
      .collect()
    rows.foreach { r =>
      val text = r.getString(1)
      val ts = toks(text)
      // ngrams: exactly the sliding windows of the tokenization
      val expect = if (ts.length < 3) Seq()
        else ts.sliding(3).map(_.mkString(" ")).toSeq
      assert(r.getSeq[String](2) == expect, s"ngrams of ${text.inspect}")
      // repetition: counters vs a direct reference
      val m = r.getStruct(3)
      val lines = text.split("\n", -1).filter(_.nonEmpty)
      assert(m.getLong(0) == lines.length, s"n_lines of ${text.inspect}")
      assert(m.getLong(1) == lines.length - lines.distinct.length)
      assert(m.getLong(3) == lines.map(_.length).sum)
      assert(m.getLong(2) == m.getLong(3) - lines.distinct.map(_.length).sum)
      assert(m.getLong(4) == ts.length)
      val counts = ts.groupBy(identity).view.mapValues(_.length).toMap
      val topCount = counts.values.max
      val topWord = counts.filter(_._2 == topCount).keys.min // ASCII: byte order
      assert(m.getLong(5) == topCount, s"top count of ${text.inspect}")
      assert(m.getLong(6) == topCount.toLong * topWord.length)
    }
  }

  test("mixture rate thresholds are monotone, so kept sets nest") {
    import graft.ext.Sampling
    forAllN(Gen.zip(Gen.chooseNum(0, 1000000), Gen.chooseNum(0, 1000000)), 200) {
      case (a, b) =>
        val (lo, hi) = (math.min(a, b) / 1e6, math.max(a, b) / 1e6)
        // lexicographic threshold order follows rate order — the property
        // mixtureSample's incremental re-weighting contract rests on
        // (every bucket under threshold(lo) is under threshold(hi))
        assert(Sampling.rateThreshold(lo) <= Sampling.rateThreshold(hi))
    }
    assert(Sampling.rateThreshold(1.0) == "g" && Sampling.rateThreshold(0.0) == "00000000")
  }

  private implicit class Inspect(private val s: String) {
    def inspect: String = s.replace("\n", "\\n").replace("\t", "\\t")
  }

  test("probeSet: base bucket first, distinct probes, nested in margin order") {
    import graft.ext.Similarity
    val vec = Gen.zip(
      Gen.chooseNum(2, 8),
      Gen.listOfN(12, Gen.chooseNum(-3.0, 3.0)).map(_.toArray))
    forAllN(vec, 150) { case (nPlanes, qv) =>
      val full = Similarity.probeSet(qv, nPlanes, nPlanes + 1)
      // head is always the vector's own bucket
      assert(full.head == graft.functions.HyperplaneLsh.bucketOf(
        graft.functions.HyperplaneLsh.projections(qv, nPlanes)))
      // all probes distinct, in range, and each flip differs in exactly
      // one bit from the base
      assert(full.distinct.size == full.size)
      assert(full.forall(b => b >= 0 && b < (1L << nPlanes)))
      assert(full.tail.forall(b => java.lang.Long.bitCount(b ^ full.head) == 1))
      // smaller nProbe is a strict prefix: growing the probe budget never
      // reorders or replaces earlier probes (monotone recall guarantee)
      (1 to nPlanes).foreach { p =>
        assert(Similarity.probeSet(qv, nPlanes, p) == full.take(p))
      }
    }
  }

  test("simhashBlockTable blocks partition the signature exactly at every radius") {
    import graft.ext.Dedup
    val sigGen = Gen.listOfN(24, Gen.long)
    // Radii where 64 % (h+1) != 0 (2, 4, 5, 9, 12) exercise the
    // remainder-absorbing last block (len = 64 - start), which the
    // dividing radii (0, 1, 3, 7, 15) never reach — both families here.
    forAllN(Gen.zip(sigGen,
      Gen.oneOf(0, 1, 2, 3, 4, 5, 7, 9, 12, 15)), 10) { case (sigVals, h) =>
      val sigs = sigVals.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "simhash")
      val rows = Dedup.simhashBlockTable(sigs, maxHamming = h).collect()
        .map(r => (r.getLong(0), r.getInt(3), r.getLong(4), r.getInt(5)))
      val byDoc = rows.groupBy(_._1)
      val origSig = sigVals.zipWithIndex.map { case (s, i) => i.toLong -> s }.toMap
      byDoc.foreach { case (doc, blocks) =>
        // exactly maxHamming+1 blocks, radius self-stamped on every row
        assert(blocks.length == h + 1 && blocks.forall(_._4 == h))
        // shifting each block's bits back to its offset reassembles the
        // signature bit-for-bit: the blocking loses nothing (the pigeonhole
        // guarantee rests on the blocks being a PARTITION of the 64 bits)
        val width = 64 / (h + 1)
        val rebuilt = blocks.map { case (_, blk, bits, _) =>
          bits << (blk * width)
        }.reduce(_ | _)
        assert(rebuilt == origSig(doc),
          f"doc $doc: rebuilt $rebuilt%016x != ${origSig(doc)}%016x at h=$h")
      }
    }
  }

  test("XOR-residual collision joins equal plain equi-joins on adversarial tables") {
    // The exchange-free collision relations (Dedup.bandCandidates /
    // Similarity.lshCandidatesFromTable) join on ONE key and enforce the
    // remaining equalities as `a XOR b === 0` residuals Catalyst does not
    // lift into the equi-key set. The plan shape is pinned elsewhere at
    // fixed data; THIS case pins the SEMANTICS on randomized tables — tiny
    // key spaces force cross-band/cross-table key collisions (the rows the
    // residual exists to reject), null sub-keys, and duplicate rows — so a
    // Spark upgrade that changes how the residual evaluates (not merely
    // where it runs) breaks loudly against a plain multi-key equi-join
    // reference, independent of any plan string.
    import org.apache.spark.sql.functions._
    import graft.ext.{Dedup, Similarity}
    val rowGen = Gen.zip(
      Gen.chooseNum(0L, 11L),                       // id
      Gen.chooseNum(0, 2),                          // band / tbl
      Gen.option(Gen.chooseNum(0L, 4L)))            // bucket (sometimes null)
    val tblGen = Gen.chooseNum(8, 28).flatMap(n => Gen.listOfN(n, rowGen))
    forAllN(tblGen, 12) { rows =>
      // ─ bandCandidates vs (band, bucket) equi-join ─
      val band = rows.map { case (id, b, bk) =>
        (id, b, bk.map(java.lang.Long.valueOf).orNull)
      }.toDF("doc_id", "band", "bucket")
      val got = Dedup.bandCandidates(band, cache = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val a = band.select($"band", $"bucket", $"doc_id".as("doc_a"))
      val b = band.select($"band", $"bucket", $"doc_id".as("doc_b"))
      val want = a.join(b, Seq("band", "bucket"))
        .filter($"doc_a" < $"doc_b")
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_bands"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"bandCandidates diverged from the equi-join: " +
        s"extra=${got -- want} missing=${want -- got}")

      // ─ lshCandidatesFromTable vs (ckey, tbl, bucket) equi-join ─
      // ckey deliberately COARSER than xxhash64(tbl, bucket): same ckey
      // with different (tbl, bucket) occurs, so the residual must reject
      val lsh = rows.collect { case (id, t, Some(bk)) =>
        (id, (t + bk) % 3, t, bk)                   // colliding hand-made ckey
      }.toDF("vec_id", "ckey", "tbl", "bucket")
      val got2 = Similarity.lshCandidatesFromTable(lsh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val la = lsh.select($"ckey", $"tbl", $"bucket", $"vec_id".as("id_a"))
      val lb = lsh.select($"ckey", $"tbl", $"bucket", $"vec_id".as("id_b"))
      val want2 = la.join(lb, Seq("ckey", "tbl", "bucket"))
        .filter($"id_a" < $"id_b").select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 == want2, s"lshCandidatesFromTable diverged from the " +
        s"equi-join: extra=${got2 -- want2} missing=${want2 -- got2}")
    }
  }

  test("double-dot healing is idempotent and dot-run-collapsing") {
    val token = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    forAllN(Gen.zip(token, token, Gen.chooseNum(2, 5)), 100) { case (a, b, dots) =>
      val broken = a + ("." * dots) + b
      val fixed = AutoHealer.fixDoubleDots(broken)
      assert(fixed == s"$a.$b")
      assert(AutoHealer.fixDoubleDots(fixed) == fixed)
    }
  }
}
