package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Scope

/** Deduplication operators for training-data pipelines (BASELINE.json
  * extension surface): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is a hash groupBy on a digest — one shuffle keyed by md5,
  *    never by the full text (shuffle bytes ∝ 32-char digest, not documents).
  *  - MinHash+LSH: per-doc signatures are computed scan-side (no shuffle);
  *    the only shuffle keys on (band, bucket), whose cardinality ~ n_docs ×
  *    n_bands; candidate pairs then verify with exact Jaccard — a self-join
  *    restricted to same-bucket groups instead of the quadratic cross join.
  *  - SimHash: 64-bit signature scan-side; near-dup lookup via bucketing on
  *    the high bits + XOR bit_count verification.
  */
object Dedup {

  /** Exact-dup clusters keyed by content digest (md5 of raw text). */
  def exactClusters(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_docs") > 1)

  /** Keep one doc per exact-content group — deterministically the MINIMUM
    * id, matching [[exactClusters]]' `keeper_id`. `dropDuplicates(textCol)`
    * would keep whichever row the partition-local aggregate happens to see
    * first, so the surviving corpus would differ run-to-run with the
    * partitioning — breaking the determinism contract every curation op in
    * this library pins. One digest-keyed shuffle (a 32-char key, never
    * text), same cost shape as the groupBy it replaces. */
  def dropExactDuplicates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol).cast("binary")))
      .orderBy(col(idCol))
    docs
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Word n-gram shingles as a distinct array; falls back to the whole
    * text as one shingle when the doc is shorter than n (guard keeps ANSI
    * `sequence` happy). Composable HOF form — the reference semantics twin
    * of the production [[shingleHashes]] path (HOFs have no codegen, so
    * this walks interpreted machinery; kept for tests and for callers that
    * need the shingle STRINGS). */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextStats.tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array_distinct(array(concat_ws(" ", toks))))
  }

  /** `xxhash64` of each distinct shingle, via the single-pass native
    * [[graft.functions.ShingleHashes]] expression — bit-identical to
    * `transform(shingles(text, n), s => xxhash64(s))` (equivalence-tested)
    * at a fraction of the cost: the interpreted shingle HOF alone measured
    * ~3s at sf0.1, dominating every minhash query. All hashed-shingle
    * consumers (signatures, Jaccard verify) go through this. */
  def shingleHashes(text: Column, n: Int): Column =
    // coalesce mirrors the composable form's null tolerance: shingles(null)
    // yields [""] (concat_ws is null-tolerant), so two null-text docs ARE
    // an exact near-dup pair; a bare null-skipping expression would
    // silently let duplicated null-text docs survive dedup
    graft.functions.ShingleHashes(coalesce(text, lit("")), n)

  /** Per-doc minhash signature as k wide columns (`mh_0..mh_{k-1}`), via
    * the single-pass native [[graft.functions.MinHashK]] expression —
    * shuffle-FREE scan-stage work.
    *
    * Evolution of this shape: nested higher-order functions
    * (`transform(seeds, array_min(transform(shingles, ...)))`) re-evaluated
    * the shingle expression per seed (107s at sf0.1); the round-1 rework
    * exploded shingle rows once and ran k codegen'd `min(xxhash64(j,
    * base))` grouped aggregates (4.7s — but still a docs×shingles explode,
    * a 32-aggregate hash aggregation, and a doc-keyed shuffle). The native
    * expression walks the in-row shingle array once with k running minima:
    * no explode, no aggregation, no shuffle — and hash values BIT-IDENTICAL
    * to the aggregate form (equivalence-tested), so LSH buckets and
    * candidate pairs downstream are unchanged. */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 32): DataFrame = {
    val wide = (0 until k).map(j => element_at(col("__sig"), j + 1).as(s"mh_$j"))
    docs
      .select(col(idCol),
        graft.functions.MinHashK(shingleHashes(col(textCol), shingleN), k).as("__sig"))
      .select(col(idCol) +: wide: _*)
  }

  /** Docs → (id, band, bucket) LSH table: each band's bucket hashes its
    * signature slice; bands explode from an in-row array (no extra shuffle). */
  def minhashTable(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8): DataFrame = {
    // a non-dividing bands count would silently waste signature hashes
    // (k=32, bands=5 -> width 6, two hashes unused: recall differs from the
    // bandingParams math), and bands > k would give width 0 — every band
    // bucket a constant, every pair a candidate: the quadratic explosion
    // this table exists to avoid
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    val width = k / bands
    val sigs = minhashSignatures(docs, textCol, idCol, shingleN, k)
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until width).map(i => col(s"mh_${b * width + i}"))
      struct(lit(b).as("band"), xxhash64(lit(b) +: slice: _*).as("bucket"))
    }
    sigs
      .select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs from LSH buckets, verified with exact Jaccard over the
    * shingle sets; only pairs ≥ threshold survive. The self-join is
    * restricted to same (band,bucket) groups — the LSH trick that replaces
    * the quadratic cross join at scale — and shingle sets are only joined
    * back in for the (few) surviving candidates.
    *
    * The verify join carries `xxhash64(shingle)` arrays, not the shingle
    * strings: Jaccard over the hashed sets equals Jaccard over the strings
    * up to 2^-64 collisions (xxhash64 is injective in practice on any real
    * shingle universe), and the candidate shuffle moves 8 bytes per shingle
    * instead of the n-gram text.
    *
    * The returned (lazy) plan reads two stages this call persists (the
    * band table [[minhashCandidates]] builds and the shingle-hash table)
    * through [[graft.core.Scope.persist]]: the caller's open scope owns
    * and releases them, the session when none is open. Every pair form
    * that builds its cell table inline persists it the same way.
    */
  def nearDupPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val candidates = minhashCandidates(docs, textCol, idCol, shingleN, k, bands)
    // The shingle-hash table feeds TWO consumers (the doc_a/doc_b verify
    // joins). Without materialization each side re-runs the documents scan
    // + shingle lineage — the text would be walked twice more per
    // invocation. The persisted rows are narrow (ids + longs), exactly
    // what a 100 TB job would stage between passes.
    val sh = Scope.persist(docs.select(col(idCol),
      shingleHashes(col(textCol), shingleN).as("sh")))
    candidates
      .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate pairs from an ALREADY-BUILT (id, band, bucket) table —
    * the serving form when the band table is a persisted artifact (a 100 TB
    * corpus computes signatures once and re-joins many times; see
    * q71_lsh_candidates_persisted). Returns one row per colliding pair with
    * `shared_bands` = the number of bands that agree — the LSH collision
    * count, a monotone estimator of signature agreement (a pair sharing
    * b' of b bands has estimated Jaccard ≥ the banding curve at b'/b).
    * The input feeds both self-join sides: persist an inline-BUILT band
    * table first, as [[minhashCandidates]] does, or the exploded relation
    * and the signature scan recompute once per side. The self-join is
    * [[CandidatePairs.collisions]]. The no-exchange published-table path: for a
    * [[graft.core.Catalog.saveBucketed]]-published table bucketed on
    * `bucket`, the bucketed scan's co-location satisfies the (band, bucket)
    * join's clustering requirement, so candidate re-derivation runs with NO
    * exchange on the collision key at any corpus size (plan-pinned in
    * OpsSpec) — the same write-once/join-many trade the q53/q54 recon path
    * banks, applied to dedup's hottest recurring join. */
  def bandCandidates(bandTable: DataFrame, idCol: String = "doc_id"): DataFrame = {
    TableShapes.requireColumns(bandTable, Seq("band", "bucket", idCol),
      "bandCandidates", "build it with Dedup.minhashTable(docs, textCol, idCol)")
    // `bucket` is the ONLY equi-key on purpose: band equality rides as a
    // residual, so a band table PUBLISHED bucketed on `bucket` joins with
    // no exchange at all (requireAllClusterKeysForCoPartition demands the
    // bucketing cover every equi-key — (band, bucket) keys would
    // re-shuffle a bucket-bucketed table). For [[minhashTable]] output the
    // residual never rejects a bucket match (the band index is hashed into
    // the bucket), but it keeps exact semantics for any caller-built band
    // table where cross-band bucket values can collide.
    CandidatePairs.collisions(bandTable, idCol, "bucket", Seq("band"))
      // one row per (doc, band) in the input => count(*) = bands agreeing
      .groupBy(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .agg(count(lit(1)).as("shared_bands"))
  }

  /** The banded-LSH candidate pairs behind [[nearDupPairs]] — exposed (like
    * [[Similarity.lshCandidates]]) so tests can assert candidate VOLUME,
    * the actual scale property. Delegates to [[bandCandidates]] over the
    * freshly-built band table (narrow rows: id + two longs, materialized
    * once there). */
  def minhashCandidates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3, k: Int = 32, bands: Int = 8): DataFrame =
    // the band table feeds both self-join sides: materialize it so the
    // exploded relation and the signature scan run once
    bandCandidates(Scope.persist(minhashTable(docs, textCol, idCol, shingleN, k, bands)), idCol)
      .select("doc_a", "doc_b")

  /** (k, bands) sized to a Jaccard threshold — the MinHash twin of
    * [[Similarity.lshParams]].
    *
    * With `b` bands of `r` signature rows each, a pair at Jaccard `j`
    * shares a band bucket with probability j^r, so candidate recall is
    * 1 − (1 − t^r)^b at the threshold. Deeper bands (larger r) suppress
    * random collisions — a sub-threshold pair at Jaccard j leaks into the
    * candidates with probability ≈ b·j^r, shrinking geometrically in r —
    * at the price of more bands to hold recall (b grows ~1/t per extra
    * row). The sizing picks the DEEPEST r whose recall-solving k = b·r
    * stays within `maxK` signature hashes per document: signature cost is
    * linear and scan-side, candidate cost is a shuffle join — the same
    * "spend scan to save shuffle" trade the hyperplane sizing makes.
    * The historical (k=32, bands=8) default of [[nearDupPairs]] is kept
    * verbatim for the pinned q29/q44 oracle proofs. */
  def bandingParams(threshold: Double, targetRecall: Double = 0.98,
      maxK: Int = 128): (Int, Int) = {
    val t = math.max(1e-6, math.min(0.999999, threshold))
    def bandsFor(r: Int): Int = {
      val tr = math.pow(t, r)
      if (tr >= 1.0) 1
      else math.ceil(math.log(1.0 - math.min(0.999999, targetRecall)) /
        math.log(1.0 - tr)).toInt
    }
    val feasible = (1 to 16).filter(r => bandsFor(r).toLong * r <= maxK)
    val r = if (feasible.isEmpty) 1 else feasible.max
    val b = math.max(1, math.min(maxK / r, bandsFor(r)))
    (b * r, b)
  }

  /** [[nearDupPairs]] with (k, bands) auto-sized from the threshold via
    * [[bandingParams]] — the production form when the threshold is a
    * caller input rather than a pinned proof configuration. */
  def nearDupPairsAuto(docs: DataFrame, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id", shingleN: Int = 3,
      targetRecall: Double = 0.98, maxK: Int = 128): DataFrame = {
    val (k, bands) = bandingParams(threshold, targetRecall, maxK)
    nearDupPairs(docs, textCol, idCol, shingleN, k, bands, threshold)
  }

  /** 64-bit SimHash over tokens: majority vote per bit of the token hashes.
    * Single-pass native expression ([[graft.functions.SimHash64]]) — the
    * composable 64-fold HOF form walked every token array 64 times through
    * interpreted lambda machinery (13s at sf0.1 vs <1s for this).
    * Null text coalesces to "" — the SAME null contract [[shingleHashes]]
    * pins: a null-propagating signature made every null-vs-anything block
    * comparison NULL, so duplicated null-text docs silently SURVIVED
    * simhash dedup while exactClusters and minhash both caught them. */
  def simhash(text: Column): Column =
    graft.functions.SimHash64(TextStats.tokens(coalesce(text, lit(""))))

  /** Hamming distance between two simhashes (bit_count of XOR). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Cross-document PARAGRAPH dedup (C4-style span removal): every
    * repeated paragraph keeps only its FIRST occurrence — ordered by
    * (doc id, position) — and each document reassembles from its
    * surviving paragraphs in original order. A different relation than
    * whole-document dedup: two documents sharing boilerplate lose the
    * boilerplate from the later one while both survive.
    *
    * Returns (id, `text_dedup`, `n_pars`, `kept_pars`); documents whose
    * every paragraph appeared earlier elsewhere drop entirely (their
    * reassembly is empty).
    *
    * Scale shape: two keyed shuffles over paragraph rows — first-occurrence
    * ranking is a window PARTITIONED BY the paragraph digest (never the
    * text itself; 32-char keys through the exchange), reassembly groups on
    * the doc id with per-doc state bounded by document size. Deterministic
    * on any layout (the rank orders on (id, pos)). */
  def dedupParagraphs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sep: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pars = docs
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("pos", "par")))
      .filter(length(col("par")) > 0)
    val firsts = pars
      .withColumn("__rk", row_number().over(
        Window.partitionBy(md5(col("par").cast("binary")))
          .orderBy(col(idCol), col("pos"))))
      .filter(col("__rk") === 1)
    firsts
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos").as("p"), col("par").as("t")))),
            s => s.getField("t")),
          sep).as("text_dedup"),
        count(lit(1)).as("kept_pars"))
      .join(pars.groupBy(col(idCol)).agg(count(lit(1)).as("n_pars")), Seq(idCol))
      .select(col(idCol), col("text_dedup"), col("n_pars"), col("kept_pars"))
  }

  /** SimHash near-dup pairs with MULTI-BLOCK candidate generation (Manku
    * et al., WWW'07): the 64-bit fingerprint splits into `maxHamming + 1`
    * contiguous bit blocks, and by pigeonhole any pair within `maxHamming`
    * differing bits shares at least one block VERBATIM — so the blocked
    * self-join has zero false negatives by construction. (The single
    * top-16-bit blocking this replaces silently missed every pair whose
    * differing bits touched the top block — ~59% of hamming-3 pairs, ~98%
    * at hamming 12 — an inconsistency with its own verify threshold.)
    * Candidates verify with the exact popcount filter; `maxHamming` is
    * capped at 15 so blocks keep ≥ 4 bits and buckets stay selective —
    * the default 3 is the standard 64-bit near-dup radius, giving 4
    * blocks of 16 bits, the same per-block selectivity as before with the
    * recall guarantee the old code lacked. */
  def simhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(
      docs.select(col(idCol), simhash(col(textCol)).as("simhash")),
      idCol, "simhash", maxHamming)

  /** [[simhashPairs]] over an ALREADY-COMPUTED (id, signature) table — the
    * serving form when signatures are a persisted artifact (computed once
    * per corpus, re-blocked at whatever radius a job needs; see
    * q72_simhash_pairs_persisted). Identical Manku blocking, identical
    * zero-false-negative guarantee: [[simhashScoredPairsFromSigs]]'
    * verified stream, then one distinct. The signature table feeds both
    * self-join sides, so it is persisted there, into the caller's scope. */
  def simhashPairsFromSigs(sigs: DataFrame, idCol: String = "doc_id",
      sigCol: String = "simhash", maxHamming: Int = 3, blocks: Int = 0): DataFrame =
    simhashScoredPairsFromSigs(sigs, idCol, sigCol, maxHamming, blocks).distinct()

  /** The exploded Manku block table — the persistable form of the simhash
    * pairing's collision relation, for deployments that fix a radius and
    * re-pair many times (the [[minhashTable]]/[[bandCandidates]] split
    * applied to simhash). One row per (doc, block combination) carrying:
    * a SINGLE collision key `bkey = xxhash64(blk, bits)` (the combination
    * index hashed in, so cross-combination bit patterns never collide on
    * the key), the raw `blk`/`bits` for the residual exactness check, the
    * signature for the verify tail, and `max_hamming` — the radius the
    * blocking encodes, stamped into the table so a pairing run can never
    * silently apply the wrong one. Publish with
    * `Catalog.saveBucketed(…, "bkey", n)` and [[simhashPairsFromBlocks]]
    * re-derives pairs with NO collision-key exchange (plan-pinned in
    * ExtSpec).
    *
    * `blocks` generalizes the split (Manku et al., WWW'07 §3, the full
    * table construction): with B blocks and radius h, a pair within h
    * differing bits agrees on ≥ B−h blocks, so it agrees VERBATIM on at
    * least one of the C(B, B−h) (B−h)-block combinations — each
    * combination becomes one collision table (one `blk` value), packing
    * its blocks' bits into a single long key of ~64·(B−h)/B bits. More
    * blocks ⇒ MORE key bits per table (B−h of B blocks instead of 1 of
    * h+1) ⇒ geometrically fewer random collisions, at C(B, h) rows/doc of
    * scan-side volume — the spend-scan-to-save-shuffle trade
    * [[bandingParams]] makes, sized by [[simhashParams]]. The default
    * `blocks = 0` means `maxHamming + 1` — the single-block-key split,
    * BIT-IDENTICAL rows to what this method always emitted (each
    * combination is then exactly one block; pinned by q72/q82 staying
    * hash-green). */
  def simhashBlockTable(sigs: DataFrame, idCol: String = "doc_id",
      sigCol: String = "simhash", maxHamming: Int = 3, blocks: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (blocks need >= 4 bits to prune), got $maxHamming")
    val b = if (blocks == 0) maxHamming + 1 else blocks
    require(b >= maxHamming + 1 && b <= 32,
      s"blocks must be in [maxHamming + 1, 32] (pigeonhole needs blocks > " +
        s"maxHamming; width needs >= 2 bits), got $b for maxHamming=$maxHamming")
    val width = 64 / b
    val pick = b - maxHamming
    // lexicographic combination order: for b == maxHamming + 1 each
    // combination is the single block {i} at index i — the legacy rows
    val combos = (0 until b).combinations(pick).toSeq
    require(combos.size <= 512,
      s"C($b, $maxHamming) = ${combos.size} combination tables exceed the " +
        "512 rows/doc sanity cap — size with simhashParams instead")
    def blockBits(i: Int): (Column, Int) = {
      val start = i * width
      val len = if (i == b - 1) 64 - start else width // last absorbs the remainder
      val bits =
        if (len == 64) col("sh")
        else shiftrightunsigned(col("sh"), start).bitwiseAND(lit((1L << len) - 1L))
      (bits, len)
    }
    val comboStructs = combos.zipWithIndex.map { case (set, ci) =>
      // pack the chosen blocks into one long, ascending block order
      // (total width ≤ 64 by construction); key equality ⇔ every chosen
      // block equal. Single-block combos reduce to the bare block value —
      // the legacy expression tree, bit for bit.
      val packed = set.map(blockBits).reduceLeft[(Column, Int)] {
        case ((acc, accLen), (bits, len)) =>
          (shiftleft(acc, len).bitwiseOR(bits), accLen + len)
      }._1
      struct(lit(ci).as("blk"), packed.as("bits"))
    }
    sigs.select(col(idCol), col(sigCol).as("sh"))
      .select(col(idCol), col("sh"), explode(array(comboStructs: _*)).as("bb"))
      .select(col(idCol), col("sh"),
        xxhash64(col("bb.blk"), col("bb.bits")).as("bkey"),
        col("bb.blk").as("blk"), col("bb.bits").as("bits"),
        lit(maxHamming).as("max_hamming"))
  }

  /** (blocks, tables) sized to the corpus — the [[bandingParams]] /
    * [[graft.ext.Similarity.lshParams]] pattern applied to the third
    * family, closing the one scale lever the fixed `maxHamming + 1` split
    * left open: at 4 blocks of 16 bits, random block-key collisions grow
    * ~n²/2¹⁶ (~1.5×10¹¹ popcounts at 100M docs). With B blocks each
    * collision table keys on B−maxHamming of them (~64·(B−h)/B bits), so
    * expected popcount mass is C(B, h) · n²/2^(K+1) with K the WORST-CASE
    * (fewest-bit) combination width — every extra block multiplies tables
    * polynomially (~B^h) but shrinks collisions geometrically (2^{~64h/B²}
    * per step), the same economics as LSH depth. Chooses the SMALLEST B
    * whose expected mass stays ≤ `targetMassPerDoc` per document (linear
    * total, the scale invariant), within `maxTables` rows/doc of scan-side
    * volume; when no B clears the bar the feasible mass-minimizer is
    * returned (best effort, like the LSH table cap binding). The
    * zero-false-negative pigeonhole guarantee holds at EVERY B >
    * maxHamming — sizing moves cost, never recall (ExtSpec pins blocked
    * pairs == exhaustive popcount pairs at auto params).
    *
    * Returns (blocks, tables) with tables = C(blocks, maxHamming) — pass
    * `blocks` to [[simhashBlockTable]]. */
  def simhashParams(n: Long, maxHamming: Int = 3, maxTables: Int = 64,
      targetMassPerDoc: Double = 8.0): (Int, Int) = {
    require(n >= 0, s"negative corpus size: $n")
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    require(maxTables >= 1 && targetMassPerDoc > 0,
      s"maxTables >= 1 and targetMassPerDoc > 0 required, " +
        s"got $maxTables / $targetMassPerDoc")
    def tables(b: Int): Long = {
      var t = BigInt(1)
      for (i <- 0 until maxHamming) t = t * (b - i) / (i + 1)
      if (t > Long.MaxValue) Long.MaxValue else t.toLong
    }
    // worst-case key width: the remainder-absorbing last block is the
    // widest, so the fewest-bit combination excludes it whenever it can
    def minKeyBits(b: Int): Int = {
      val width = 64 / b
      val pick = b - maxHamming
      if (pick <= b - 1) pick * width else 64 // pick == b ⇔ h == 0: whole signature
    }
    def massPerDoc(b: Int): Double =
      tables(b).toDouble * n.toDouble / math.pow(2.0, minKeyBits(b) + 1)
    // cap at BOTH the caller's budget and simhashBlockTable's own 512-
    // combination sanity require: an uncapped maxTables could size a
    // (blocks, tables) split the block-table builder then rejects — the
    // sizer must never hand back an unusable answer
    val hardCap = math.min(maxTables.toLong, 512L)
    val feasible = (maxHamming + 1 to 32).filter(b => tables(b) <= hardCap)
    // a cap below even the minimal split's h+1 tables leaves nothing
    // feasible — the minimal split is then the only honest answer
    val b =
      if (feasible.isEmpty) maxHamming + 1
      else feasible.find(b => massPerDoc(b) <= targetMassPerDoc)
        .getOrElse(feasible.minBy(massPerDoc))
    (b, tables(b).toInt)
  }

  /** Pairing over an (id, sh, bkey, blk, bits, max_hamming) block table
    * ([[simhashBlockTable]]-shaped). `bkey` is the ONLY equi-key — the
    * same planner contract as [[bandCandidates]]: block/bit equality rides
    * as residual predicates Catalyst cannot lift into the join keys, so a
    * table published bucketed on `bkey` self-joins with no exchange on the
    * collision key (for a freshly-built table the key join is equivalent,
    * one 8-byte column through the shuffle instead of two). The verify
    * radius comes from the table's own `max_hamming` stamp; a close pair
    * shares several blocks, and the distinct after the verify collapses
    * them. The input feeds both sides and is not persisted here. */
  def simhashPairsFromBlocks(blockTable: DataFrame, idCol: String = "doc_id"): DataFrame = {
    TableShapes.requireColumns(blockTable,
      Seq("bkey", "blk", "bits", "sh", "max_hamming", idCol),
      "simhashPairsFromBlocks",
      "build it with Dedup.simhashBlockTable(sigs, …) (pairing straight " +
        "from signatures is simhashPairsFromSigs)")
    simhashVerifiedPairs(blockTable, idCol).distinct()
  }

  /** The verified block-collision stream: one `(doc_a, doc_b, hamming)`
    * row per colliding block combination that passed the a-side radius
    * stamp — a pair sharing b blocks appears b times, all with the
    * identical hamming (one signature per id, so the popcount is a pure
    * pair function). Both published pair forms are this stream plus one
    * distinct. */
  private def simhashVerifiedPairs(bk: DataFrame, idCol: String): DataFrame =
    CandidatePairs.collisions(bk, idCol, "bkey", Seq("blk", "bits"), Seq("sh", "max_hamming"))
      .filter(hamming(col("sh_a"), col("sh_b")) <= col("max_hamming_a"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        hamming(col("sh_a"), col("sh_b")).cast("int").as("hamming"))

  /** [[simhashVerifiedPairs]] over a signature table it persists and
    * blocks — the pre-distinct form of [[simhashPairsFromSigs]].
    * Package-private for consumers whose NEXT operator aggregates over the
    * pair key ([[Multimodal.videoAnyFrameNearDups]]' per-media min): min
    * over a multiset equals min over its set, so they absorb the
    * duplicates in the aggregate they already pay and skip the distinct's
    * extra hash-aggregate pass. */
  private[graft] def simhashScoredPairsFromSigs(sigs: DataFrame,
      idCol: String = "doc_id", sigCol: String = "simhash",
      maxHamming: Int = 3, blocks: Int = 0): DataFrame = {
    // cache the NARROW signature table, not the (maxHamming+1)x exploded
    // block relation — each join side re-derives its blocks from the cache
    // (cheap scan-stage shifts)
    val sh = Scope.persist(sigs.select(col(idCol), col(sigCol).as("sh")))
    simhashVerifiedPairs(simhashBlockTable(sh, idCol, "sh", maxHamming, blocks), idCol)
  }

  // ───── Survivor-oriented MinHash dedup (greedy star per band cell) ──

  /** The greedy star applied to the MinHash family — the third survivor
    * form (embedding: [[graft.ext.Similarity.nearDupAssign]]; simhash:
    * [[simhashAssignFromBlocks]]): per (band, bucket) cell, members walk
    * id-ascending against cell-local representatives, and a match is the
    * pair path's EXACT verify — Jaccard over the hashed shingle sets
    * (`|A∩B| / |A∪B|` on the same distinct-xxhash64 arrays
    * [[nearDupPairs]]' join carries, two-pointer over sorted copies, the
    * identical integer sizes and double division). Same invariants, same
    * grouped-map co-location guarantee, same conservative semantics —
    * closure-pinned in ExtSpec against [[nearDupPairs]].
    *
    * Shuffle shape: shingle-hash arrays (8 B/shingle) ride the member
    * rows for multi-occupied cells only — the minhash analogue of the
    * embedding walk's vector rows, with the same head-mass economics:
    * a cell of true near-dups costs ~members verifies, not C(members, 2).
    *
    * Returns ALL doc ids as (idCol, dup_of): null ⇒ survivor — a
    * [[CandidatePairs.assign]] over the shingle ids. */
  def minhashAssignFromBands(bandTable: DataFrame, shingles: DataFrame,
      threshold: Double, idCol: String = "doc_id",
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    TableShapes.requireColumns(bandTable, Seq("band", "bucket", idCol),
      "minhashAssignFromBands",
      "build it with Dedup.minhashTable(docs, textCol, idCol)")
    TableShapes.requireColumns(shingles, Seq("sh", idCol),
      "minhashAssignFromBands",
      "build it with docs.select(id, Dedup.shingleHashes(text, n).as(\"sh\"))")
    val thr = threshold
    CandidatePairs.assign(shingles.select(col(idCol)), bandTable,
      Seq("band", "bucket"), idCol,
      CandidatePairs.Evidence[Array[Long]](Seq(col("sh")),
        read = r => if (r.isNullAt(1)) null else {
          val sh = r.getSeq[Long](1).toArray
          java.util.Arrays.sort(sh)
          sh
        },
        matches = (rsh, sh) => sortedJaccard(rsh, sh) >= thr,
        source = Some(shingles.select(col(idCol), col("sh")))),
      comparisons)
  }

  /** [[minhashAssignFromBands]] from raw documents — band table + shingle
    * hashes derived inline. */
  def minhashAssign(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame =
    minhashAssignFromBands(
      minhashTable(docs, textCol, idCol, shingleN, k, bands),
      docs.select(col(idCol), shingleHashes(col(textCol), shingleN).as("sh")),
      threshold, idCol)

  /** Exact Jaccard of two SORTED distinct-hash arrays — the pair path's
    * `size(array_intersect)/size(array_union)` on the same values (integer
    * sizes, one double division; empty∪empty = both-null-text docs give
    * 0/0 = NaN there and never pass ≥ threshold — mirrored here). */
  private def sortedJaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    inter.toDouble / union
  }

  // ───── Survivor-oriented SimHash dedup (greedy star per block cell) ──

  /** [[graft.ext.Similarity.nearDupAssign]]'s greedy star applied to the
    * SimHash family: per Manku block cell, members walk id-ascending
    * against cell-local representatives — a popcount match within the
    * table's stamped radius eliminates, a non-match promotes. The same
    * head-mass economics (a cell of near-identical docs costs ~members,
    * not C(members, 2)) with an even cheaper verify: the signature rides
    * IN the block relation, so no corpus join-back at all — the walk
    * shuffles only (cell key, id, signature) rows for multi-occupied
    * cells. Same invariants, same grouped-map co-location guarantee, same
    * semantics contract (eliminations are genuine radius pairs toward a
    * smaller id; component minima always survive; clique corpora equal
    * the closure) — ExtSpec-pinned against [[simhashPairsFromBlocks]]'
    * closure. Its one conservative gap: a member whose only radius-match
    * was eliminated in its cell before it arrived survives (exactly one
    * planted twin per 16M-image capstone run, SCALE.md r15).
    *
    * Returns ALL doc ids as (idCol, dup_of): null ⇒ survivor — a
    * [[CandidatePairs.assign]] over the block table's ids. */
  def simhashAssignFromBlocks(blockTable: DataFrame, idCol: String = "doc_id",
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    TableShapes.requireColumns(blockTable, BlockCells ++ Seq("sh", "max_hamming", idCol),
      "simhashAssignFromBlocks",
      "build it with Dedup.simhashBlockTable(sigs, …)")
    CandidatePairs.assign(blockTable.select(col(idCol)).distinct(), blockTable,
      BlockCells, idCol, HammingEvidence, comparisons)
  }

  /** The cell columns of a [[simhashBlockTable]]-shaped relation. */
  private[graft] val BlockCells = Seq("bkey", "blk", "bits")

  /** The simhash families' greedy-star evidence: the signature rides IN
    * the block rows, so no join-back; evidence carries the MEMBER row's
    * stamped radius — the walk verifies at the radius of the row being
    * judged. */
  private[graft] val HammingEvidence =
    CandidatePairs.Evidence[(Long, Int)](Seq(col("sh"), col("max_hamming")),
      read = r => (r.getLong(1), r.getInt(2)),
      matches = { case ((rsh, _), (sh, radius)) =>
        java.lang.Long.bitCount(sh ^ rsh) <= radius
      })

  /** [[simhashAssignFromBlocks]] from raw documents — signature + block
    * table derived inline (the [[simhashPairs]] convenience applied to
    * the survivor form). `blocks` deepens the split per [[simhashParams]]
    * (0 = the legacy `maxHamming + 1` split). */
  def simhashAssign(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3, blocks: Int = 0): DataFrame =
    simhashAssignFromBlocks(
      simhashBlockTable(
        docs.select(col(idCol), simhash(col(textCol)).as("simhash")),
        idCol, "simhash", maxHamming, blocks),
      idCol)

  /** A dedup-family recommendation: which collision relation to run, with
    * the production-config entry point it names, the expected detection
    * rate interpolated from the measured sweep, and the measured rationale. */
  final case class FamilyRecommendation(family: String, entryPoint: String,
      expectedDetection: Double, rationale: String)

  import DedupFamily._

  /** A ladder rung: family `f` (its entry point at `units` sampled frames
    * or windows) with the detection and rationale the rung computed. */
  private def pick(f: DedupFamily, units: Int = 1)(expectedDetection: Double,
      rationale: String): FamilyRecommendation =
    FamilyRecommendation(f.name, f.entryPoint(units), expectedDetection, rationale)

  /** The r15-measured IMAGE detection sweep (`probes.ImageDedupProbe`,
    * 200k-image corpus, dHash radius-3 production config, planted twins
    * at `round(churn · pixels)` single-pixel jitters + the brightness
    * shift dHash is exactly invariant to): (pixel churn, detection).
    * dHash's law is far FLATTER than text simhash's — a jittered pixel
    * lands in one 9×8 cell whose mean moves ~1/14th of the perturbation,
    * rarely flipping a gradient sign — which is why the image family
    * keeps its radius-3 config across the whole measured band.
    *
    * The knob is PIXEL-CHURN by contract, not geometric invariance: the
    * `--cropSweep` cells measured a 1/2/4-pixel shift at median planted
    * hamming 8/16/32 (detection 0.186/0.020/0.000 at radius 3) — crops
    * and rescales misalign the box grid and collapse the family in a few
    * pixels, which is the embedding tier's job (SCALE.md r15, "The
    * geometric boundary"). */
  private val ImageSweep = Seq(
    (0.001, 1.0), (0.005, 1.0), (0.01, 1.0),
    (0.02, 0.9997), (0.05, 0.9954), (0.10, 0.9854))

  /** The r15/r16-measured GEOMETRIC sweeps (`probes.ImageDedupProbe
    * --cropSweep`; dHash at 200k images r15, the descriptor tiers at 20k
    * r16 — 1000 planted pairs/cell; planted twins cropped at an
    * (s, s)-pixel shift into the same field): (shift px, detection).
    *
    * dHash (radius 3): the box grid misaligns and every gradient sign can
    * flip — median planted hamming 8/16/32 at 1/2/4 px, detection
    * collapsing to literal zero. The block-mean grid
    * ([[graft.ext.Multimodal.imageGridFeatures]] at 8×8 through the
    * embedding-LSH star, cosine threshold 0.9) recovers only the 1 px
    * band (0.777 vs dHash's 0.186) and collapses by 2-4 px — ANY
    * aligned-cell descriptor decorrelates with content whose spatial
    * period approaches the shift (median planted cosine 0.93/0.74/0.14).
    * The DFT-magnitude tier ([[graft.ext.Multimodal.imageSpectralFeatures]],
    * same star, same threshold) owns the band: a shift changes phases,
    * not magnitudes — detection 1.0/1.0/0.993/0.970 at 1/2/4/8 px, the
    * sub-1.0 tail being the LSH targetRecall knob plus planted cosines
    * grazing the threshold at 8 px (median 0.954). Linear interpolation
    * (not log: dHash's floor IS 0.0), clamped at both ends like every
    * sweep. */
  private val ImageCropSweepDHash = Seq(
    (1.0, 0.186), (2.0, 0.020), (4.0, 0.0))
  private val ImageCropSweepGrid = Seq(
    (1.0, 0.777), (2.0, 0.067), (4.0, 0.001))
  private val ImageCropSweepSpectral = Seq(
    (1.0, 1.0), (2.0, 1.0), (4.0, 0.993), (8.0, 0.970))

  /** The r17-measured CROSS-CODEC recode sweeps (`probes.ImageDedupProbe
    * --recodeSweep`, 200k images, 10k planted pairs/cell): dup twins are
    * the predecessor's EXACT pixels re-encoded as baseline JPEG at the
    * given quality while originals stay PNG — byte-different, so exact
    * digests see nothing and detection reads the fingerprint's response
    * to pure quantization noise. dHash (radius 3) holds ≥ 0.96 down to
    * quality 50 (median planted hamming 0→2, max 4→10 across the
    * sweep); the DFT-magnitude descriptor reads a measured FLAT 1.000 at
    * quality 50/30/10 (quantization perturbs high-frequency content the
    * low band barely carries). Qualities below 10 are outside the
    * measured domain and refuse loudly — no optimistic extrapolation. */
  // Both recode laws are measured ORIGIN-BLIND (r18): PNG-origin single
  // quantization and q92-JPEG-origin DOUBLE quantization (the commonest
  // real re-encounter — already-binned coefficients re-bin) read the
  // same detection within ±0.004 at every shared quality, and spectral
  // stays flat 1.000 to quality 10 under both (SCALE.md r18) — so ONE
  // table serves and the planner needs no origin knob.
  private val ImageRecodeSweepDHash = Seq(
    (30.0, 0.8684), (50.0, 0.9637), (70.0, 0.9903), (85.0, 0.9996),
    (95.0, 0.9999), (100.0, 1.0))
  private val ImageRecodeSweepSpectral = Seq(
    (10.0, 1.0), (30.0, 1.0), (50.0, 1.0), (100.0, 1.0))

  /** The r16-measured AUDIO sweeps (`probes.AudioDedupProbe`, 20k clips of
    * 2048 samples, 1000 planted pairs per cell, cosine threshold 0.9).
    *
    * Value churn (×1.25 gain + per-sample jitters): the mean-centered
    * envelope is EXACTLY blind to the gain (|g·x| = g·|x| and cosine
    * cancels a scale) and measured FLAT 1.000 detection at 0.1%-80%
    * sample jitter (min planted cosine 0.9936 at 20%, 0.9067 at 80% —
    * value noise dilutes across 32-sample frame means just like pixel
    * churn across dHash's 9×8 cells, only flatter), dipping to 0.993 at
    * FULL churn (every sample perturbed: min planted cosine 0.8624 — 7
    * of 1000 pairs cross the 0.9 cut). The r17 sweep extension
    * (30/50/80/100%) closed the r16 20%-edge refusal: the whole
    * tolerance domain is now measured, so the planner interpolates
    * instead of refusing.
    *
    * Time shift (the same aperiodic field windowed s samples later — a
    * re-trim): the envelope's aligned bins decorrelate at ONE frame
    * length (2048/64 = 32 samples: 0.973 at 8, 0.000 at 32 — the 0.006
    * at 128 is organics grazing the threshold, not recovery), while the
    * DFT-magnitude tier owns the band (1.000/1.000/1.000/0.998 at
    * 8/32/128/512 — a shift changes phases, not magnitudes). The (0, 1.0)
    * anchor is the jitter sweep's own zero-shift row. */
  private val AudioJitterSweepEnvelope = Seq(
    (0.001, 1.0), (0.01, 1.0), (0.05, 1.0), (0.2, 1.0),
    (0.3, 1.0), (0.5, 1.0), (0.8, 1.0), (1.0, 0.993))
  private val AudioShiftSweepEnvelope = Seq(
    (0.0, 1.0), (8.0, 0.973), (32.0, 0.0), (128.0, 0.006), (512.0, 0.0))
  private val AudioShiftSweepSpectral = Seq(
    (0.0, 1.0), (8.0, 1.0), (32.0, 1.0), (128.0, 1.0), (512.0, 0.998))

  /** Linear interpolation over a measured sweep, clamped at both ends —
    * for sweeps whose floor is exactly 0.0 (log-linear would NaN). */
  private def interpLinearSweep(points: Seq[(Double, Double)], x: Double): Double = {
    val t = math.max(points.head._1, math.min(points.last._1, x))
    val (lo, hi) = points.zip(points.tail)
      .find { case (a, b) => t >= a._1 && t <= b._1 }
      .getOrElse((points.last, points.last))
    if (lo._1 == hi._1) lo._2
    else lo._2 + (hi._2 - lo._2) * (t - lo._1) / (hi._1 - lo._1)
  }

  /** Log-linear interpolation over a measured (churn, detection) sweep,
    * clamped at both ends — churn past the last point returns the last
    * row rather than extrapolating optimism (the standing convention). */
  private def interpSweep(points: Seq[(Double, Double)], churn: Double): Double = {
    val t = math.max(points.head._1, math.min(points.last._1, churn))
    val (lo, hi) = points.zip(points.tail)
      .find { case (a, b) => t >= a._1 && t <= b._1 }
      .getOrElse((points.last, points.last))
    if (lo._1 == hi._1) lo._2
    else {
      val f = (t - lo._1) / (hi._1 - lo._1)
      math.exp(math.log(lo._2) * (1 - f) + math.log(hi._2) * f)
    }
  }

  /** The MEASURED family chooser — the r12 detection-vs-mutation sweep
    * (SCALE.md "Simhash detection vs mutation rate": 1M-doc corpus,
    * production configs `simhashBlockTable` r=3 / `minhashTable` k=32
    * b=8), encoded as selection logic instead of prose. Measured planted-
    * pair detection, of 50,000:
    *
    * | token mutation | minhash LSH | simhash r=3 |
    * |---|---|---|
    * | 1% | 0.998 | 0.770 |
    * | 2% | 0.986 | 0.581 |
    * | 5% | 0.895 | 0.235 |
    *
    * `mutationTolerance` is the per-token churn the caller still wants
    * caught (the sweep's knob); `minDetection` the acceptable recall on
    * pairs AT that churn. Selection prefers the cheapest family whose
    * interpolated detection clears the bar: simhash (one 64-bit
    * signature/doc, ~4x fewer candidates than minhash at equal corpus —
    * the near-identity tier) before minhash (the 2-10% rewrite band,
    * banding-curve degradation 0.998→0.895 across the sweep) before
    * embedding LSH (the semantic tier — catches paraphrase-level dups no
    * text family sees, needs an embedding column, measured recall 1.00 on
    * cosine-0.999 pairs at every probed size to 64M docs). Detection
    * between sweep points interpolates log-linearly (both families' decay
    * is ~exponential in churn over the measured band) and NEVER
    * extrapolates optimistically: churn above 5% clamps to the 5% row for
    * the text families. Exact-hash dedup is not in the table — at
    * mutationTolerance 0 use [[dropExactDuplicates]], which this returns
    * for tolerance < 0.5 token per 100 (below the sweep's resolution).
    * Pinned against the SCALE.md table in ExtSpec.
    *
    * `modality = "image"` swaps in the r15-measured [[ImageSweep]]
    * (`mutationTolerance` is then a per-PIXEL churn probability): dHash
    * radius-3 clears 0.985 detection across the whole measured band to
    * 10% pixel churn, so it wins whenever it clears the caller's bar;
    * past it the semantic tier (image-embedding LSH) is the only
    * alternative; byte-identical tolerance routes to exact payload-digest
    * dedup.
    *
    * Each rung picks a [[DedupFamily]] entry, which names the family's
    * entry point and defines how [[plan]] sizes it and [[runPlan]] runs
    * it; the ladders only compute detection and rationale. */
  def recommendFamily(mutationTolerance: Double, minDetection: Double = 0.9,
      hasEmbeddings: Boolean = false, modality: String = "text",
      geometricTolerance: Double = 0.0,
      recodeQuality: Double = 100.0,
      frameDecodable: Boolean = false,
      trimTolerance: Int = 0): FamilyRecommendation = {
    require(mutationTolerance >= 0 && mutationTolerance <= 1,
      s"mutationTolerance is a per-token probability, got $mutationTolerance")
    require(minDetection > 0 && minDetection <= 1,
      s"minDetection must be in (0, 1], got $minDetection")
    require(modality == "text" || modality == "image" || modality == "audio" ||
      modality == "video",
      s"modality must be text|image|audio|video, got '$modality'")
    require(geometricTolerance >= 0,
      s"geometricTolerance is a pixel/sample shift, got $geometricTolerance")
    require(geometricTolerance == 0.0 || modality == "image" || modality == "audio",
      "geometricTolerance (crop-shift pixels / time-shift samples) only " +
        "applies to image or audio corpora — video has no measured " +
        "geometric tier (frame decode is stubbed)")
    require(recodeQuality == 100.0 || modality == "image",
      "recodeQuality (lowest JPEG re-encode quality to still catch) only " +
        "applies to image corpora — the r17 recode sweep measured the " +
        "image fingerprints")
    require(recodeQuality >= 10.0 && recodeQuality <= 100.0,
      s"recodeQuality must be in [10, 100] (the r17 sweep's measured " +
        s"domain — below quality 10 nothing is measured), got $recodeQuality")
    require(!frameDecodable || modality == "video",
      "frameDecodable (the whole pool decodes a frame: MJPEG-AVI or " +
        "jpeg-codec mp4, so frame 0 decodes through ImageCodecs) only " +
        "parameterizes the video ladder")
    require(trimTolerance >= 0 && trimTolerance < Multimodal.MaxVideoFrames,
      s"trimTolerance is a leading-frame/-window cut depth in [0, 63], " +
        s"got $trimTolerance")
    require(trimTolerance == 0 || frameDecodable || modality == "audio",
      "trimTolerance (leading frames/windows of a re-cut to still catch) " +
        "needs a frame-decodable video pool or an audio pool — the " +
        "multi-frame/any-segment tiers sample trimTolerance+1 units per clip")
    if (modality == "image") return recommendImageFamily(
      mutationTolerance, minDetection, hasEmbeddings, geometricTolerance,
      recodeQuality)
    if (modality == "audio") return recommendAudioFamily(
      mutationTolerance, minDetection, hasEmbeddings, geometricTolerance,
      trimTolerance)
    if (modality == "video") return recommendVideoFamily(
      mutationTolerance, minDetection, hasEmbeddings, frameDecodable,
      trimTolerance)
    val sweep = Seq( // (churn, minhash detection, simhash detection) — r12 measured
      (0.01, 0.998, 0.770),
      (0.02, 0.986, 0.581),
      (0.05, 0.895, 0.235))
    def interp(select: ((Double, Double, Double)) => Double): Double =
      interpSweep(sweep.map(p => (p._1, select(p))), mutationTolerance)
    val simhashDet = interp(_._3)
    val minhashDet = interp(_._2)
    if (mutationTolerance < 0.005)
      pick(Exact)(1.0,
        "sub-sweep-resolution churn tolerance: hash-groupBy exact dedup " +
          "is complete and the cheapest relation there is")
    else if (simhashDet >= minDetection)
      pick(Simhash)(simhashDet,
        f"simhash r=3 clears $minDetection%.2f at ${mutationTolerance * 100}%.1f%% churn " +
          "with one 64-bit signature/doc and the smallest candidate volume " +
          "(r12 sweep: the near-identity tier)")
    else if (minhashDet >= minDetection)
      pick(Minhash)(minhashDet,
        f"simhash collapses at this churn (${simhashDet}%.2f measured) — minhash " +
          "k=32 b=8 owns the 2-10%% rewrite band (banding-curve decay 0.998→0.895)")
    else if (hasEmbeddings)
      pick(EmbeddingLsh)(1.0,
        f"no text family reaches $minDetection%.2f at ${mutationTolerance * 100}%.1f%% churn " +
          "— the semantic tier's exact-cosine rerank measured 1.00 recall to 64M docs; " +
          "sizing should sample the corpus's own non-uniformity law (r13)")
    else
      pick(Minhash)(minhashDet,
        f"best available without embeddings: measured detection $minhashDet%.2f " +
          f"is BELOW the requested $minDetection%.2f — widen bands/shingles or " +
          "supply an embedding column for the semantic tier")
  }

  /** The image branch of [[recommendFamily]] — selection over the
    * r15-measured [[ImageSweep]] (pixel churn) and, when the caller needs
    * geometric tolerance, the r16-measured [[ImageCropSweepDHash]] /
    * [[ImageCropSweepGrid]] (crop shift). The two knobs select different
    * regimes the probes measured separately: dHash owns pixel churn
    * (0.985+ to 10%) and collapses at a 1 px shift (0.186 → 0.000 by
    * 4 px); the grid-descriptor tier owns the shift band. */
  private def recommendImageFamily(mutationTolerance: Double,
      minDetection: Double, hasEmbeddings: Boolean,
      geometricTolerance: Double = 0.0,
      recodeQuality: Double = 100.0): FamilyRecommendation = {
    // r17: `recodeQuality` is the lowest JPEG re-encode quality of
    // re-encounters the caller must still catch (100 = corpus never
    // recodes). Each family's detection is the MIN of its independently
    // measured laws (churn/crop × recode) — conservative composition,
    // never an optimistic product model. dHash's recode law holds ≥0.96
    // to quality 50; the spectral descriptor's reads a measured flat
    // 1.000 at 50/30/10 (quantization lives in the high band the
    // descriptor ignores). The grid descriptor has NO measured recode
    // law, so under recodes the geometric ladder skips straight to the
    // spectral tier rather than quote an unmeasured number.
    val dhashRecode = interpLinearSweep(ImageRecodeSweepDHash, recodeQuality)
    val spectralRecode =
      interpLinearSweep(ImageRecodeSweepSpectral, recodeQuality)
    if (geometricTolerance > 0) {
      // the caller must still catch crops/shifts of this many pixels —
      // the regime the r15 crop sweep measured dHash OUT of (0.186 at
      // 1 px, literal 0.000 by 4). Preference inside the regime follows
      // the r16 sweep: the block-mean grid recovers only the 1 px band
      // (aligned cells decorrelate with the content), the DFT-magnitude
      // descriptor owns the measured 1-4 px band (|F| is blind to the
      // phase a shift changes), and a model embedding column is the tier
      // past BOTH measured descriptors.
      val dhashDet = interpLinearSweep(ImageCropSweepDHash, geometricTolerance)
      val gridDet = interpLinearSweep(ImageCropSweepGrid, geometricTolerance)
      val spectralDet = interpLinearSweep(ImageCropSweepSpectral, geometricTolerance)
      val gridEligible = recodeQuality >= 100.0
      val spectralGeo = math.min(spectralDet, spectralRecode)
      return if (gridEligible && gridDet >= minDetection)
        pick(ImageGridLsh)(gridDet,
          f"geometric tolerance ${geometricTolerance}%.0f px is past the " +
            f"perceptual-fingerprint family (dHash crop detection " +
            f"$dhashDet%.3f measured, r15 sweep) — the block-mean grid " +
            f"descriptor through embedding-LSH measured $gridDet%.3f at " +
            "this shift (r16 crop sweep), and is the cheaper, " +
            "byte-exact-oracled descriptor inside its 1 px band")
      else if (spectralGeo >= minDetection)
        pick(ImageSpectralLsh)(spectralGeo,
          f"geometric tolerance ${geometricTolerance}%.0f px is past both " +
            f"aligned-cell descriptors (dHash $dhashDet%.3f measured" +
            (if (gridEligible) f", grid $gridDet%.3f measured) — "
             else f"; the grid tier has NO measured recode law at " +
               f"quality ${recodeQuality}%.0f, so it is skipped) — ") +
            f"the low-band DFT-magnitude descriptor measured " +
            f"$spectralGeo%.3f (min of the r16 crop and r17 recode " +
            "sweeps): shifts change phases and quantization lives in the " +
            "high band, neither touches the low-band magnitudes")
      else if (hasEmbeddings)
        pick(EmbeddingLsh)(1.0,
          f"spectral-descriptor detection $spectralGeo%.3f misses " +
            f"$minDetection%.2f at ${geometricTolerance}%.0f px shift — " +
            "only a model image-embedding column sees past the measured " +
            "geometric band")
      else
        pick(ImageSpectralLsh)(spectralGeo,
          f"best available without embeddings: measured detection " +
            f"$spectralGeo%.3f is BELOW the requested $minDetection%.2f — " +
            "supply an image-embedding column for the semantic tier")
    }
    val churnDet = interpSweep(ImageSweep, mutationTolerance)
    val det = math.min(churnDet, dhashRecode)
    if (mutationTolerance < 0.0005 && recodeQuality >= 100.0)
      pick(Exact)(1.0,
        "sub-sweep-resolution churn tolerance: byte-identical payloads " +
          "dedup on a sha256/md5 digest groupBy — complete and the " +
          "cheapest relation there is")
    else if (det >= minDetection)
      pick(ImageDhash)(det,
        f"dHash radius-3 clears $minDetection%.2f at " +
          f"${mutationTolerance * 100}%.1f%% pixel churn (r15 sweep: " +
          f"$churnDet%.4f — the law is flat, a jittered pixel moves one " +
          "9x8 cell mean by ~1/14th of itself)" +
          (if (recodeQuality < 100.0)
            f" and at quality-${recodeQuality}%.0f recodes (r17 sweep: " +
              f"$dhashRecode%.4f; conservative min composition)"
           else "") +
          "; one 64-bit fingerprint/doc, the smallest relation of any " +
          "perceptual family")
    else if (mutationTolerance < 0.0005 && spectralRecode >= minDetection)
      // a pure-recode corpus (no pixel churn asked for): the spectral
      // descriptor's recode law is measured FLAT 1.000 to quality 10 —
      // the tier that survives brutal recompression where the 64-bit
      // fingerprint's radius saturates (r17 sweep: dHash 0.868 at q30)
      pick(ImageSpectralLsh)(spectralRecode,
        f"quality-${recodeQuality}%.0f recodes exceed the dHash radius " +
          f"(r17 sweep: $dhashRecode%.4f) — the low-band DFT-magnitude " +
          f"descriptor measured $spectralRecode%.3f there (quantization " +
          "perturbs the high band the descriptor ignores)")
    else if (hasEmbeddings)
      pick(EmbeddingLsh)(1.0,
        f"dHash detection $det%.4f misses $minDetection%.2f at " +
          f"${mutationTolerance * 100}%.1f%% pixel churn — past the perceptual-" +
          "fingerprint band only the embedding tier sees it (measured recall " +
          "1.00 on cosine-0.999 pairs to 64M docs)")
    else
      pick(ImageDhash)(det,
        f"best available without embeddings: measured detection $det%.4f " +
          f"is BELOW the requested $minDetection%.2f — supply an image-" +
          "embedding column for the semantic tier")
  }

  /** The audio branch of [[recommendFamily]] — selection over the
    * r16-measured [[AudioJitterSweepEnvelope]] (per-sample value churn;
    * `mutationTolerance` is then a per-SAMPLE churn probability) and
    * [[AudioShiftSweepEnvelope]] / [[AudioShiftSweepSpectral]]
    * (`geometricTolerance` is then a TIME shift in samples — the re-trim
    * the aligned-bin envelope collapses under at one frame length, 32
    * samples at the production 2048/64 config). Preference mirrors the
    * image branch: the envelope tier wherever it clears the bar (the
    * byte-exact-oracle-able descriptor, q88), the DFT-magnitude tier
    * inside the measured shift band (q89), a model audio-embedding column
    * past both. */
  private def recommendAudioFamily(mutationTolerance: Double,
      minDetection: Double, hasEmbeddings: Boolean,
      geometricTolerance: Double,
      trimTolerance: Int = 0): FamilyRecommendation = {
    if (trimTolerance > 0) {
      // r19 — the audio TRIM tier (the video trim law's shape applied to
      // windows): a head-trimmed re-encode is NEVER byte-identical and
      // is invisible to the whole-clip envelope (shift-collapse at one
      // frame, r16) — mirror the video contradiction guard
      require(mutationTolerance >= 0.0005,
        f"trimTolerance $trimTolerance%d with byte-identical " +
          f"mutationTolerance ${mutationTolerance}%.4f is a contradiction: " +
          "a re-cut clip shares no byte identity — raise mutationTolerance " +
          "to the sample-churn level you must still catch, or drop the knob")
      // trim × intra-window shift: an off-grid cut (t·window + δ)
      // misaligns every window, which the ENVELOPE windows collapse
      // under (measured 0.031/0.033, r19) but the SPECTRAL windows
      // absorb for δ inside the r16 512-sample shift band (|DFT|
      // magnitudes are blind to the phase a small window shift changes;
      // measured ≥ 0.995 at δ ≤ 512). Beyond 512 is UNMEASURED — and on
      // the synthetic corpus UNMEASURABLE: the r19 null control (trim =
      // K·window, ZERO shared samples, spectral detection still 1.0)
      // proves the field's spectral stationarity, not trim tolerance —
      // so the band edge refuses loudly rather than quote corpus fiction
      require(geometricTolerance <= 512,
        f"trimTolerance $trimTolerance%d with geometricTolerance " +
          f"${geometricTolerance}%.0f samples: off-grid recovery is " +
          "measured only inside the r16 512-sample shift band (beyond it " +
          "the r19 null control shows the corpus cannot even measure the " +
          "claim — SCALE.md r19); lower the shift, or supply audio " +
          "embeddings")
      val k = trimTolerance + 1
      if (geometricTolerance > 0) {
        val shiftDet = interpLinearSweep(AudioShiftSweepSpectral,
          geometricTolerance)
        return pick(AudioAnySegmentSpectralLsh, k)(shiftDet,
          f"audio pool with trim tolerance $trimTolerance window(s) AND " +
            f"${geometricTolerance}%.0f samples of off-grid shift: " +
            f"per-window |DFT| magnitudes hold the r16 shift law " +
            f"($shiftDet%.3f at this δ) inside each window while " +
            "any-segment matching holds 1.000 through the whole-window " +
            "part of the cut (r19 sweep) — min composition; the " +
            "stationarity caveat and the null control live in SCALE.md r19")
      }
      val det = interpSweep(AudioJitterSweepEnvelope, mutationTolerance)
      return pick(AudioAnySegmentLsh, k)(det,
        f"audio pool with trim tolerance $trimTolerance window(s): " +
          f"any-segment matching over $k fixed-length windows holds " +
          f"measured 1.000 detection through a $trimTolerance-window cut " +
          f"(r19 trim sweep) × $det%.4f at " +
          f"${mutationTolerance * 100}%.1f%% sample churn (envelope law — " +
          "the min composition, the r17 convention); window count IS the " +
          "trim tolerance, and OFF-GRID cuts collapse honestly under the " +
          "envelope windows (measured) — route geometricTolerance <= 512 " +
          "for the spectral-window variant, the semantic tier past it")
    }
    if (geometricTolerance > 0) {
      val envDet = interpLinearSweep(AudioShiftSweepEnvelope, geometricTolerance)
      val spectralDet = interpLinearSweep(AudioShiftSweepSpectral, geometricTolerance)
      return if (envDet >= minDetection)
        pick(AudioEnvelopeLsh)(envDet,
          f"time-shift tolerance ${geometricTolerance}%.0f samples sits inside " +
            f"the envelope tier's measured band (detection $envDet%.3f, r16 " +
            "shift sweep — aligned 32-sample frames decorrelate at one frame " +
            "length): the cheaper, byte-exact-oracled descriptor wins there")
      else if (spectralDet >= minDetection)
        pick(AudioSpectralLsh)(spectralDet,
          f"time-shift tolerance ${geometricTolerance}%.0f samples is past the " +
            f"aligned-bin envelope (detection $envDet%.3f measured) — the " +
            f"low-band DFT-magnitude descriptor measured $spectralDet%.3f at " +
            "this shift (r16 sweep): a shift changes phases, not magnitudes")
      else if (hasEmbeddings)
        pick(EmbeddingLsh)(1.0,
          f"spectral-descriptor detection $spectralDet%.3f misses " +
            f"$minDetection%.2f at ${geometricTolerance}%.0f samples — only a " +
            "model audio-embedding column sees past the measured shift band")
      else
        pick(AudioSpectralLsh)(spectralDet,
          f"best available without embeddings: measured detection " +
            f"$spectralDet%.3f is BELOW the requested $minDetection%.2f — " +
            "supply an audio-embedding column for the semantic tier")
    }
    if (mutationTolerance < 0.0005)
      return pick(Exact)(1.0,
        "sub-sweep-resolution churn tolerance: byte-identical payloads " +
          "dedup on a sha256/md5 digest groupBy — complete and the " +
          "cheapest relation there is")
    // the r17 sweep extension measured the full churn domain (flat 1.000
    // to 80%, 0.993 at 100%) — the r16 20%-edge refusal is closed and the
    // selection below interpolates measured cells across all of [0, 1]
    val det = interpSweep(AudioJitterSweepEnvelope, mutationTolerance)
    if (det >= minDetection)
      pick(AudioEnvelopeLsh)(det,
        f"the mean-centered envelope clears $minDetection%.2f at " +
          f"${mutationTolerance * 100}%.1f%% sample churn (r16+r17 sweeps: " +
          f"detection $det%.4f, flat to 80%% and 0.993 at full churn — value " +
          "noise dilutes across 32-sample frame means, and a re-level gain " +
          "cancels exactly); 64 floats/clip, byte-exact oracle (q88)")
    else if (hasEmbeddings)
      pick(EmbeddingLsh)(1.0,
        f"envelope detection $det%.4f misses $minDetection%.2f at " +
          f"${mutationTolerance * 100}%.1f%% sample churn — the semantic tier " +
          "is the next measured option")
    else
      pick(AudioEnvelopeLsh)(det,
        f"best available without embeddings: measured detection $det%.4f " +
          f"is BELOW the requested $minDetection%.2f — supply an audio-" +
          "embedding column for the semantic tier")
  }

  /** The video branch of [[recommendFamily]] — r17 verdict item #2: a
    * video corpus must be able to reach exact-payload dedup and the
    * semantic tier through `plan`/`runPlan` even though CONTENT-level
    * video similarity is unmeasured here (frame decode is the documented
    * [[Multimodal.frameSample]] stub — no codec libs in this
    * environment, and this engine fakes nothing it cannot measure).
    *
    * The ladder:
    *  1. byte-identical tolerance → exact payload-digest dedup, complete
    *     (re-muxed/re-encoded copies are NOT byte-identical; the caller
    *     asking for more than byte identity moves down the ladder);
    *  2. a model video-embedding column → the embedding tier verbatim
    *     (the machinery is modality-blind), with
    *     [[Multimodal.videoHeaderCandidates]] available as a header-band
    *     candidate pre-filter (same dims + timescale — the q91 header
    *     tier's fields — bound the pair volume before the expensive
    *     rerank);
    *  3. neither → an honest refusal carried IN the recommendation
    *     (`expectedDetection` 0.0, the audio 20%-churn-edge convention):
    *     header-band candidates can be mined but verify NOTHING about
    *     content, and no measured detection exists to quote. */
  private def recommendVideoFamily(mutationTolerance: Double,
      minDetection: Double, hasEmbeddings: Boolean,
      frameDecodable: Boolean, trimTolerance: Int): FamilyRecommendation = {
    // a trimmed re-upload is NEVER byte-identical — a caller asking for
    // trim tolerance at byte-identity tolerance would silently get exact
    // dedup that misses every trim; refuse the contradiction loudly
    require(trimTolerance == 0 || mutationTolerance >= 0.0005,
      f"trimTolerance $trimTolerance%d with byte-identical " +
        f"mutationTolerance ${mutationTolerance}%.4f is a contradiction: " +
        "a re-cut video shares no byte identity — raise mutationTolerance " +
        "to the frame-churn level you must still catch, or drop the trim knob")
    if (mutationTolerance < 0.0005)
      pick(Exact)(1.0,
        "sub-sweep-resolution churn tolerance: byte-identical payloads " +
          "dedup on a sha256/md5 digest groupBy — complete and the " +
          "cheapest relation there is (a re-encoded video is NOT " +
          "byte-identical: that needs the semantic tier)")
    else if (hasEmbeddings)
      pick(EmbeddingLsh)(1.0,
        f"content-level video similarity over arbitrary codecs needs the " +
          "model-embedding tier (frame decode exists for MJPEG-AVI and " +
          "jpeg-codec mp4 only); " +
          "Multimodal.videoHeaderCandidates (dims+timescale header bands, " +
          "q91 fields) can pre-filter candidate pairs before the rerank")
    else if (frameDecodable && trimTolerance > 0) {
      // r18 multi-frame rung: the caller must still catch a re-upload
      // whose leading `trimTolerance` frames were cut — frame-0 matching
      // measured 0.003 detection at ANY trim, while any-frame matching
      // over K = trim+1 sampled frames measured COMPLETE detection
      // through trim K−1 and honest collapse at K (the r18 trim sweep,
      // SCALE.md). Frame-content churn keeps its own measured law (the
      // AVI-path mutation sweep == r15 image law); the two compose by
      // MIN, the r17 conservative convention — pure trim costs nothing.
      val det = interpSweep(ImageSweep, mutationTolerance)
      val k = trimTolerance + 1
      pick(VideoAnyFrameDhash, k)(det,
        f"frame-decodable video pool (MJPEG-AVI / jpeg-codec mp4) with " +
          f"trim tolerance $trimTolerance: any-frame " +
          f"matching over $k sampled frames holds measured 1.000 " +
          f"detection through a ${trimTolerance}-frame cut (r18 trim " +
          f"sweep) × $det%.3f at ${mutationTolerance * 100}%.1f%% " +
          "frame-pixel churn (AVI-path sweep) — sampling depth IS the " +
          "trim tolerance; deeper cuts need a larger K (≤ 63)")
    } else if (frameDecodable) {
      // r18 (mp4 widened r19): every payload in the pool decodes a frame
      // (MJPEG-AVI / jpeg-codec mp4), so frame 0 decodes through
      // ImageCodecs and the video content question REDUCES to the
      // image fingerprint question — same family, same measured churn law
      // (the r18 probe re-measured it THROUGH the AVI path: detection
      // 0.985+ at ≤10% frame-pixel churn, SCALE.md r18; the r19 mp4-path
      // spot-check reads the same values — the frames are the same
      // JpegGray bytes either way)
      val det = interpSweep(ImageSweep, mutationTolerance)
      pick(ImageDhash)(det,
        f"frame-decodable video pool: frame-0 decode makes video content dedup THE " +
          f"image dHash problem — measured detection $det%.3f at " +
          f"${mutationTolerance * 100}%.1f%% frame-pixel churn (r18 AVI-path " +
          "sweep == r15 image law); re-trims/re-crops need the descriptor " +
          "tiers over frame 0, re-encodes follow the r17 recode law")
    } else
      pick(VideoHeaderBlocking)(0.0,
        f"UNMEASURED: content-level video similarity at " +
          f"${mutationTolerance * 100}%.1f%% churn needs frame decode " +
          "(available for MJPEG-AVI / jpeg-codec mp4 pools — this pool " +
          "carries other containers or codecs) or a model video-embedding " +
          "column — header-band " +
          "candidates (same dims+timescale) bound the pair volume but " +
          "verify nothing, so expectedDetection is honestly 0.0; supply " +
          "embeddings or accept byte-identical exact dedup")
  }

  /** An executable dedup plan — [[recommendFamily]]'s verdict composed
    * with the sizing and scratch-budget machinery the r11-r13 rounds
    * measured piecewise: which relation to build, at what (planes,
    * tables) when the family is embedding LSH (sized by the corpus's OWN
    * sampled non-uniformity law), and which mining mode keeps the one
    * scratch-sensitive shuffle (the candidate distinct) inside the
    * caller's budget. `partitions == 1` ⇔ `miningMode == "one_shot"`.
    * `budgetSatisfied` is false ONLY when the modeled P was clamped at
    * `maxPartitions` — the per-pass peak (~rawGb/P) then still EXCEEDS
    * `scratchBudgetGb`, and a caller trusting the budget must raise the
    * cap or the budget rather than read "partitioned" as "fits". */
  final case class DedupPlan(family: String, entryPoint: String,
      expectedDetection: Double, rationale: String,
      lshConfig: Option[(Int, Int)], miningMode: String, partitions: Int,
      estRawPairs: Double, estRawGb: Double, budgetSatisfied: Boolean = true,
      threshold: Double = 0.98)

  /** Modeled shuffle bytes per raw candidate pair: two 8-byte ids plus
    * the measured shuffle-machinery overhead (the r12 16M DNF carried
    * 2.78B raw pairs into a >45 GB one-shot distinct — ~24 B/pair at the
    * spill). A conservative planning constant, not a hard truth; the
    * partitioned mode's listener-measured peaks (SCALE.md r13) are the
    * ground it was read from. */
  private val BytesPerRawPair = 24.0

  /** The composed entry point a 100 TB dedup user actually calls: given
    * the corpus, the churn it must still catch, and the per-executor
    * scratch it may spend on the candidate distinct, return the family
    * ([[recommendFamily]], measurement-pinned), the embedding-LSH config
    * when that family wins (corpus-aware: [[Similarity.lshParamsMeasured]]
    * samples THIS corpus's non-uniformity law), and the mining mode —
    * one-shot when the modeled raw candidate volume fits
    * `scratchBudgetGb`, else [[Similarity.lshCandidatesPartitioned]] with
    * P = ⌈modeled GB / budget⌉ (peak transient ~raw/P, total match work
    * still ~raw — the r13 measured property). The raw-volume model is the
    * sizer's own collision term (tables · w(planes) · n²/2^(planes+1))
    * priced at the SAMPLED law — the same arithmetic the depth minimizer
    * trusts, so plan and sizing can never disagree about the economics.
    *
    * Text families mine ~linear relations (bands/blocks) with no
    * scratch-cliff distinct, so they always plan one-shot; a zero budget
    * means "unbounded" and also plans one-shot. */
  def plan(emb: DataFrame, mutationTolerance: Double, minDetection: Double = 0.9,
      scratchBudgetGb: Double = 0.0, threshold: Double = 0.98,
      targetRecall: Double = 0.98, hasEmbeddings: Boolean = true,
      vecCol: String = "embedding", maxPartitions: Int = 1024,
      modality: String = "text", geometricTolerance: Double = 0.0,
      recodeQuality: Double = 100.0,
      frameDecodable: Boolean = false,
      trimTolerance: Int = 0): DedupPlan = {
    require(scratchBudgetGb >= 0.0, s"negative scratch budget: $scratchBudgetGb")
    val rec = recommendFamily(mutationTolerance, minDetection, hasEmbeddings,
      modality, geometricTolerance, recodeQuality, frameDecodable,
      trimTolerance)
    val family = named(rec.family)
    // a descriptor tier's expectedDetection was measured at its cosine
    // operating point (0.9 over the descriptor): a plan that stamped the
    // caller's generic `threshold` (default 0.98) would EXECUTE above it
    // and silently void the quoted detection (planted shift-crop cosines
    // median 0.93-0.98 sit between the two cuts). An EXPLICIT caller
    // threshold that conflicts must fail loudly, not be silently
    // overridden — a caller passing 0.95 to avoid false eliminations
    // would otherwise get MORE-aggressive 0.9 execution. Only the
    // untouched default (0.98) is re-stamped; a caller wanting a
    // different cut owns the embedding family with their own column.
    family.operatingPoint.foreach { op =>
      require(threshold == 0.98 || threshold == op,
        f"plan: descriptor tier '${rec.family}' executes at its measured " +
          f"cosine operating point $op (the r16 sweeps' detection is only " +
          f"valid there); caller passed explicit threshold=$threshold%.2f. " +
          s"Pass $op (or leave the default), or own the embedding family " +
          "directly with your own feature column and cut.")
    }
    val execThreshold = family.operatingPoint.getOrElse(threshold)
    val rationale0 =
      if (family.operatingPoint.exists(_ != threshold))
        rec.rationale + " | NOTE: descriptor tiers execute at their " +
          s"measured cosine operating point $execThreshold (default " +
          s"threshold 0.98 re-stamped — the sweep's detection is only " +
          s"valid at $execThreshold)"
      else rec.rationale
    if (!family.embeddingLike)
      // execThreshold: the any-segment tiers have an operating point but
      // size their own LSH from the segment-row count at run time
      DedupPlan(rec.family, rec.entryPoint, rec.expectedDetection, rationale0,
        None, "one_shot", 1, 0.0, 0.0, budgetSatisfied = true, execThreshold)
    else {
      val n = emb.count()
      val law = Similarity.measureNonUniformityLaw(emb, n, vecCol = vecCol)
      val (planes, tables) = Similarity.lshParams(n, execThreshold, targetRecall,
        law = law)
      val rawPairs = tables.toDouble * law.weight(planes) *
        n.toDouble * n.toDouble / math.pow(2.0, planes + 1)
      val rawGb = rawPairs * BytesPerRawPair / 1e9
      val pWanted =
        if (scratchBudgetGb <= 0.0 || rawGb <= scratchBudgetGb) 1
        else math.ceil(rawGb / scratchBudgetGb).toInt
      val p = math.min(maxPartitions, pWanted)
      // a clamped P is NOT budget-respecting: per-pass peak ~rawGb/P still
      // exceeds the budget — say so instead of letting "partitioned" read
      // as "fits" (the silent-clamp trap the r14 advice named)
      val satisfied = p == pWanted
      DedupPlan(rec.family,
        if (p == 1)
          "Similarity.lshTable + lshCandidatesFromTable (+ exact-cosine rerank)"
        else
          s"Similarity.lshTable + lshCandidatesPartitioned(P=$p) (+ exact-cosine rerank)",
        rec.expectedDetection,
        if (satisfied) rationale0
        else rationale0 + f" | WARNING: P clamped at maxPartitions=$maxPartitions " +
          f"(budget wanted P=$pWanted); per-pass peak ~${rawGb / p}%.1f GB exceeds " +
          f"the $scratchBudgetGb%.1f GB scratch budget",
        Some((planes, tables)), if (p == 1) "one_shot" else "partitioned", p,
        rawPairs, rawGb, budgetSatisfied = satisfied, threshold = execThreshold)
    }
  }

  /** EXECUTE a [[DedupPlan]] into a survivor assignment — the call a
    * 100 TB user actually makes after [[plan]]: (idCol, `dup_of`) over
    * every input row, null ⇒ survivor, running the family the plan chose
    * as its [[DedupFamily]] entry defines it (each family's semantics are
    * exactly its direct call, ExtSpec-pinned). The embedding tiers run at
    * the plan's sized (planes, tables) and mining mode; a partitioned plan
    * needs `scratchDir` for its pass files, whose lifecycle is the
    * caller's. `video_header_blocking` refuses: header bands verify
    * nothing about content.
    *
    * `data` is the family's mining table: `textCol` for the text families
    * (or the payload column for `exact` over media), `vecCol` for the
    * embedding family, and [[DedupFamily]]'s derived table for a media
    * family (pass idCol = "media_id", and vecCol = "feature" for the
    * descriptor tiers). The text knobs (`jaccardThreshold`, `maxHamming`)
    * are run-time inputs because [[plan]] sizes only the embedding tier;
    * the Manku-blocked families size their split from the corpus at run
    * time, from `knownCount` when the caller supplies one (a negative
    * value counts `data`; both return identical assignments). */
  def runPlan(p: DedupPlan, data: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", vecCol: String = "embedding",
      jaccardThreshold: Double = 0.5, maxHamming: Int = 3,
      scratchDir: String = "", knownCount: Long = -1L): DataFrame =
    named(p.family).run(Run(p, data, idCol, textCol, vecCol, jaccardThreshold,
      maxHamming, scratchDir, knownCount))

  /** Per-kind plans for a MIXED media corpus (r17 verdict item #5): a
    * real curation run is not one modality — the media table carries
    * png/jpeg/wav/mp4 side by side. Kinds are DETECTED from payload magic
    * ([[graft.functions.MediaHeader]]'s format), never trusted from a
    * caller column; png+jpeg+gif route together as ONE image pool (the
    * [[graft.functions.ImageCodecs]] decode is codec-blind, so a JPEG or
    * GIF re-encode of a PNG deduplicates cross-codec), wav routes the
    * audio branch, mp4 the video branch. Input contract: `(media_id, payload)`
    * — the media-family shape every Multimodal entry point shares.
    *
    * Knob units differ by modality, so they are SEPARATE parameters:
    * `mutationTolerance` is per-unit content churn (pixel/sample — one
    * knob, the shared "how much noise must I still catch" semantics);
    * geometric tolerances are px (image) vs samples (audio);
    * `imageRecodeQuality` routes the image pool's r17 recode law
    * (a mixed corpus facing JPEG re-encounters needs it on the image
    * rung only — audio/video have no measured recode laws);
    * `videoMutationTolerance` DEFAULTS to byte-identical because the
    * exact rung is video's only executable family without model
    * embeddings ([[recommendVideoFamily]]) — a caller raising it gets
    * the loud video_header_blocking refusal at [[runPlanByKind]] time,
    * never a silent downgrade. Embedding tiers are out of scope here by
    * construction (this entry point sees raw payloads, not model
    * embeddings); callers with per-modality embedding columns own the
    * per-modality calls directly.
    *
    * Only modalities PRESENT in the corpus get a plan (one groupBy-count
    * over the detected kinds decides — an empty pool has no corpus to
    * size against and nothing to run). */
  def planByKind(media: DataFrame, mutationTolerance: Double,
      minDetection: Double = 0.9, imageGeometricTolerance: Double = 0.0,
      audioGeometricTolerance: Double = 0.0,
      videoMutationTolerance: Double = 0.0,
      scratchBudgetGb: Double = 0.0,
      imageRecodeQuality: Double = 100.0,
      videoTrimTolerance: Int = 0,
      audioTrimTolerance: Int = 0): Map[String, DedupPlan] = {
    TableShapes.requireColumns(media, Seq("media_id", "payload"),
      "planByKind", "the media-family (media_id, payload) shape")
    // own persist: sizing a descriptor-tier plan re-reads the pool (count
    // + sampled law), and re-running the header parse per pass would turn
    // "one parse per row" into three
    Scope {
      planByKindFrom(Scope.persist(withDetectedKind(media)), mutationTolerance,
        minDetection, imageGeometricTolerance, audioGeometricTolerance,
        videoMutationTolerance, scratchBudgetGb, imageRecodeQuality,
        videoTrimTolerance, audioTrimTolerance).map { case (m, (p, _)) => m -> p }
    }
  }

  /** [[planByKind]]'s body over an already-kind-detected (and ideally
    * persisted) frame — shared with [[runPlanByKind]] so the two never
    * pay or drift on separate header passes. Each plan comes with the
    * mining table it was sized on, its family's derived table. */
  private def planByKindFrom(headed: DataFrame, mutationTolerance: Double,
      minDetection: Double, imageGeometricTolerance: Double,
      audioGeometricTolerance: Double, videoMutationTolerance: Double,
      scratchBudgetGb: Double,
      imageRecodeQuality: Double = 100.0,
      videoTrimTolerance: Int = 0,
      audioTrimTolerance: Int = 0): Map[String, (DedupPlan, DataFrame)] = {
    val present = headed.groupBy("__kind").count()
      .collect().map(_.getString(0)).toSet
    def modalityPlan(kinds: Set[String], modality: String, tol: Double,
        geo: Double, recodeQ: Double): Option[(String, (DedupPlan, DataFrame))] =
      if (kinds.intersect(present).isEmpty) None
      else {
        val rows = headed.filter(col("__kind").isin(kinds.toSeq: _*))
          .select(col("media_id"), col("payload"))
        // the frame rungs apply only when the WHOLE video pool decodes a
        // frame — one undecodable VALID video present and the rung would
        // silently claim detection it cannot deliver. AVI qualifies on
        // kind (MJPEG walk); mp4 per row by stsd codec (r19) — judged by
        // the ONE predicate the streaming KindRouter also calls
        val blockers: Set[String] =
          if (modality != "video") Set.empty
          else {
            val ks = kinds.intersect(present)
            if (ks.subsetOf(FrameDecodableKinds)) Set.empty
            else videoPoolBlockers(headed, ks)
          }
        val decodable = modality == "video" && blockers.isEmpty
        // a trim promise over a pool with undecodable containers cannot
        // be kept — refuse instead of silently running the exact rung
        // and missing every re-cut (the r17 silent-discard class)
        require(modality != "video" || videoTrimTolerance == 0 || decodable,
          s"videoTrimTolerance $videoTrimTolerance needs a frame-decodable " +
            s"video pool (${FrameDecodableKinds.mkString("/")} or " +
            s"jpeg-codec mp4) but this pool carries $blockers — drop " +
            "the knob, split the pool, or supply video embeddings")
        // per-modality trim: video's knob is gated by decodability above;
        // audio windows always decode (undecodable clips survive), so its
        // knob passes straight through (units differ — frames vs windows)
        val trim =
          if (modality == "video") { if (decodable) videoTrimTolerance else 0 }
          else if (modality == "audio") audioTrimTolerance
          else 0
        val rec = recommendFamily(tol, minDetection, hasEmbeddings = false,
          modality, geo, recodeQ, frameDecodable = decodable,
          trimTolerance = trim)
        // trim + 1 sampled frames or windows per clip
        val derived = named(rec.family).derive.getOrElse(
          throw new IllegalArgumentException(s"no derived-table rule for " +
            s"family '${rec.family}' in the by-kind dispatch (embedding " +
            "tiers need caller-supplied columns — own the per-modality call " +
            "directly)"))(rows, trim + 1)
        Some(modality -> (plan(derived, tol,
          minDetection, scratchBudgetGb, targetRecall = 0.98,
          hasEmbeddings = false, vecCol = "feature", modality = modality,
          geometricTolerance = geo, recodeQuality = recodeQ,
          frameDecodable = decodable, trimTolerance = trim), derived))
      }
    (modalityPlan(ModalityKinds("image"), "image", mutationTolerance,
      imageGeometricTolerance, imageRecodeQuality) ++
      modalityPlan(ModalityKinds("audio"), "audio", mutationTolerance,
        audioGeometricTolerance, 100.0) ++
      modalityPlan(ModalityKinds("video"), "video", videoMutationTolerance,
        0.0, 100.0)).toMap
  }

  /** The ONE detected-kind → modality-pool mapping both [[planByKindFrom]]
    * and [[runPlanByKind]] read (a kind listed here but only in one place
    * would silently split plan and run). */
  private[graft] val ModalityKinds: Map[String, Set[String]] = Map(
    "image" -> Set("png", "jpeg", "gif", "bmp"),
    "audio" -> Set("wav", "flac"),
    "video" -> Set("mp4", "avi"))

  /** The set of video container kinds whose frames decode
    * UNCONDITIONALLY (so the frame-0 content rung and the trim-tolerant
    * any-frame tier can keep their detection promises on kind alone).
    * mp4 is deliberately NOT here: its decodability depends on the stsd
    * codec fourcc, so it is judged per-row by [[videoPoolBlockers]]. Read
    * by BOTH the batch dispatcher and the streaming
    * [[graft.streaming.CurationStream.KindRouter]] through that ONE
    * predicate — a kind gated in only one place would silently split
    * stream and batch (the r18-advice drift class). */
  private[graft] val FrameDecodableKinds: Set[String] = Set("avi")

  /** THE frame-rung decodability predicate both the batch dispatcher
    * ([[planByKindFrom]]) and the streaming KindRouter call: the
    * blockers preventing the video frame rungs (frame-0 content,
    * trim-tolerant any-frame) from keeping their detection promise over
    * this pool. Empty = decodable. Rules, per kind present:
    *
    *  - kinds in [[FrameDecodableKinds]] (AVI) never block — the MJPEG
    *    walk decodes them; a MALFORMED container merely survives like
    *    any undecodable row (it is not a video the rung silently
    *    misses);
    *  - mp4 rows block iff [[graft.functions.Mp4Codec]] parses a
    *    non-`jpeg` answer: an opaque codec (`avc1`, …) or a parseable
    *    moov with no video track are VALID videos whose content the
    *    rung cannot see — running the rung anyway would let even
    *    byte-identical re-uploads survive silently (the r17
    *    silent-discard class). Malformed mp4s (null codec) survive;
    *  - any other kind blocks outright (future-kind safety).
    *
    * Cost: one bounded moov walk per mp4 row (sample data untouched) —
    * plan-time only, and only when mp4 rows are present. */
  private[graft] def videoPoolBlockers(headed: DataFrame,
      presentVideoKinds: Set[String],
      payloadCol: String = "payload"): Set[String] = {
    val kindBlockers = presentVideoKinds -- FrameDecodableKinds - "mp4"
    val codecBlockers =
      if (!presentVideoKinds.contains("mp4")) Set.empty[String]
      else headed.filter(col("__kind") === "mp4")
        .select(graft.functions.Mp4Codec(col(payloadCol)).as("c"))
        .filter(col("c").isNotNull && col("c") =!= "jpeg")
        .distinct().collect()
        .map(_.getString(0)).map {
          case "mp4_no_video_trak" => "mp4(no video track)"
          case c => s"mp4(codec $c)"
        }.toSet
    kindBlockers ++ codecBlockers
  }

  /** Execute [[planByKind]] over a mixed corpus in ONE call: detect each
    * payload's kind, run each present modality pool through its own
    * plan, and union the survivor assignments — `(media_id, kind,
    * dup_of)`, null dup_of ⇒ survivor, `kind` = the DETECTED format.
    * Rows of unrecognized/undecodable format survive by definition (no
    * content to match — every media family's contract). Equality with
    * per-kind direct calls is ExtSpec-pinned; an unexecutable video plan
    * (tolerance past byte-identity without embeddings) refuses loudly
    * through [[runPlan]] (the video_header_blocking entry refuses).
    *
    * Scale: ONE header parse per row (O(markers)) splits the pools; each
    * pool then pays exactly its modality's scan-stage decode + mining —
    * nothing cross-modality shuffles together, so the mixed call costs
    * what the three direct calls it replaces would. The returned
    * assignment comes back materialized, persisted into the caller's
    * scope, so the shared kind-detected scan is freed on return. */
  def runPlanByKind(media: DataFrame, mutationTolerance: Double,
      minDetection: Double = 0.9, imageGeometricTolerance: Double = 0.0,
      audioGeometricTolerance: Double = 0.0,
      videoMutationTolerance: Double = 0.0,
      scratchBudgetGb: Double = 0.0, scratchDir: String = "",
      imageRecodeQuality: Double = 100.0,
      videoTrimTolerance: Int = 0,
      audioTrimTolerance: Int = 0): DataFrame = {
    TableShapes.requireColumns(media, Seq("media_id", "payload"),
      "runPlanByKind", "the media-family (media_id, payload) shape")
    Scope {
      val headed = Scope.persist(withDetectedKind(media))
      val plans = planByKindFrom(headed, mutationTolerance, minDetection,
        imageGeometricTolerance, audioGeometricTolerance,
        videoMutationTolerance, scratchBudgetGb, imageRecodeQuality,
        videoTrimTolerance, audioTrimTolerance)
      val modalityKinds = Seq("image", "audio", "video")
        .map(m => m -> ModalityKinds(m))
      val pooled = modalityKinds.collect {
        case (modality, kinds) if plans.contains(modality) =>
          val rows = headed.filter(col("__kind").isin(kinds.toSeq: _*))
          val (p, derived) = plans(modality)
          runPlan(p, derived, idCol = "media_id", textCol = "payload",
            vecCol = "feature", scratchDir = scratchDir)
            .join(rows.select(col("media_id"), col("__kind")), Seq("media_id"))
            .select(col("media_id"), col("__kind").as("kind"), col("dup_of"))
      }
      val handledKinds = modalityKinds.collect {
        case (m, ks) if plans.contains(m) => ks
      }.flatten
      // NULL __kind (NULL payload through MediaHeader's nullSafeEval, or
      // an unparseable header) must SURVIVE into the others pool — a bare
      // `!isin` evaluates to NULL under three-valued logic and would
      // silently drop the row, contradicting the pass-through contract
      val others = headed
        .filter(col("__kind").isNull || !col("__kind").isin(handledKinds: _*))
        .select(col("media_id"), col("__kind").as("kind"),
          lit(null).cast("long").as("dup_of"))
      // materialize before the scope releases `headed`: the union is lazy
      // and `headed` backs every branch; the returned frame outlives it
      val out = Scope.persist((pooled :+ others).reduce(_.unionByName(_)))
      out.count()
      out
    }
  }

  /** Kind detection shared by [[planByKind]] and [[runPlanByKind]] — the
    * header expression's format field, ONE scan-stage parse per row. */
  private def withDetectedKind(media: DataFrame): DataFrame =
    media.withColumn("__kind",
      graft.functions.MediaHeader(col("payload")).getField("format"))
}
