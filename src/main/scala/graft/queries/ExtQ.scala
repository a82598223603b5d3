package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Scope
import graft.ext._
import graft.ext.Similarity.Probe
import graft.ops._
import Q._

/** LLM-data-pipeline extension queries (BASELINE.json surface): dedup,
  * similarity search, text analysis, multimodal plumbing, streaming-shaped
  * windows. Engine-hash-dependent ops (minhash/simhash/LSH/langid) have no
  * SQL oracle — the driver records a rows-only check — but each is covered by
  * a ScalaTest spec instead.
  */
object ExtQ {

  val defs: Map[String, QueryDef] = Map(

    // Exact dedup summary: total vs distinct content + digest cardinality.
    "q24_dedup_exact" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents").agg(
          count(lit(1)).as("total_docs"),
          countDistinct(col("text")).as("distinct_texts"),
          (count(lit(1)) - countDistinct(col("text"))).as("dup_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("distinct_fps")),
      Some("""
        SELECT COUNT(*) AS total_docs,
          COUNT(DISTINCT text) AS distinct_texts,
          COUNT(*) - COUNT(DISTINCT text) AS dup_docs,
          COUNT(DISTINCT md5(text)) AS distinct_fps
        FROM documents""")),

    // Token counting: whitespace tokens, chars/4 estimate, and a GPT2-style
    // pre-tokenizer regex piece count (the BPE-ish split).
    "q25_token_stats" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          TextStats.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_calc"),
          TextStats.estBpeTokens(col("text")).as("est_bpe_tokens"),
          TextStats.bpeRegexTokens(col("text")).as("n_bpe_pieces"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          CAST(length(text) AS BIGINT) AS n_chars_calc,
          CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
          CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS n_bpe_pieces
        FROM documents ORDER BY doc_id""")),

    // Quality scoring: stopword density minus punctuation density. The
    // TextMetrics struct is selected ONCE and ratios derive from its
    // fields in the next projection — one document walk for all measures.
    "q26_text_quality" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), TextStats.metrics(col("text")).as("m"))
          .select(
            col("doc_id"),
            col("m.n_tokens").as("n_words"),
            // ratios guarded to NULL on token-less/empty docs: Spark 4.1
            // ANSI raises DIVIDE_BY_ZERO even for DOUBLE division, so an
            // unguarded ratio would ABORT the job on the first empty doc
            // a corpus generation slips in (oracle mirrors the CASE)
            when(col("m.n_tokens") > 0,
              col("m.stops") / col("m.n_tokens")).as("stop_ratio"),
            when(col("m.n_chars") > 0,
              col("m.punct") / col("m.n_chars")).as("punct_ratio"),
            (when(col("m.n_tokens") > 0, col("m.stops") / col("m.n_tokens")) -
              when(col("m.n_chars") > 0, col("m.punct") / col("m.n_chars")))
              .as("quality_score"))
          .orderBy("doc_id"),
      Some("""
        WITH d AS (
          SELECT doc_id, text,
            regexp_split_to_array(trim(text), '\s+') AS toks,
            CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct
          FROM documents),
        r AS (
          SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_words,
            CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stops,
            punct, CAST(length(text) AS BIGINT) AS n_chars
          FROM d)
        SELECT doc_id, n_words,
          CASE WHEN n_words > 0 THEN stops / n_words END AS stop_ratio,
          CASE WHEN n_chars > 0 THEN punct / n_chars END AS punct_ratio,
          CASE WHEN n_words > 0 THEN stops / n_words END
            - CASE WHEN n_chars > 0 THEN punct / n_chars END AS quality_score
        FROM r ORDER BY doc_id""")),

    // Language ID heuristic (marker-token votes + CJK override). Tie-break =
    // lexicographically greatest language among max-vote entries (struct
    // array_max semantics), mirrored in the CASE order below.
    "q27_langid" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          TextStats.langGuess(col("text")).as("lang_guess"))
          .withColumn("is_match", col("lang") === col("lang_guess"))
          .orderBy("doc_id"),
      Some("""
        WITH d AS (
          SELECT doc_id, lang,
            regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
            length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
          FROM documents),
        v AS (
          SELECT doc_id, lang, cjk,
            len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','für','von'))) AS v_de,
            len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS v_en,
            len(list_filter(toks, t -> t IN ('el','la','los','y','es','una','en','que','por','con'))) AS v_es,
            len(list_filter(toks, t -> t IN ('le','la','les','et','est','une','dans','que','pour','des'))) AS v_fr
          FROM d),
        g AS (
          SELECT doc_id, lang,
            CASE WHEN cjk > 0 THEN 'zh'
                 WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'unknown'
                 WHEN v_fr = greatest(v_de, v_en, v_es, v_fr) THEN 'fr'
                 WHEN v_es = greatest(v_de, v_en, v_es, v_fr) THEN 'es'
                 WHEN v_en = greatest(v_de, v_en, v_es, v_fr) THEN 'en'
                 ELSE 'de' END AS lang_guess
          FROM v)
        SELECT doc_id, lang, lang_guess, lang = lang_guess AS is_match
        FROM g ORDER BY doc_id""")),

    // MinHash signatures + LSH band/bucket rows (engine-hash based; no oracle).
    "q28_minhash_signatures" -> QueryDef(
      (s, dir) =>
        Dedup.minhashTable(t(s, dir, "documents"), "text", "doc_id")
          .select(col("doc_id"), col("band"), col("bucket"))
          .orderBy("doc_id", "band"),
      None),

    // MinHash-LSH candidate pairs verified by exact shingle Jaccard. The
    // oracle scans ALL pairs exhaustively — a hash-match therefore proves
    // the banded-LSH candidate generation had no false negatives at these
    // parameters (k=32, 8 bands over 3-gram shingles, threshold 0.3). The
    // CASE mirrors Dedup.shingles' short-doc fallback: a <3-token doc is
    // ONE whole-text shingle on both engines, not an empty set whose
    // 0/0 jaccard would silently drop the pair only on the oracle side.
    "q29_lsh_neardup_pairs" -> QueryDef(
      (s, dir) =>
        Dedup.nearDupPairs(t(s, dir, "documents"), shingleN = 3, threshold = 0.3)
          .orderBy(desc("jaccard"), col("doc_a"), col("doc_b")),
      Some("""
        WITH d AS (
          -- coalesce mirrors the engine's shingleHashes null tolerance
          -- (null text shingles like an empty doc instead of NULL-
          -- propagating out of the pair scan)
          SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
          FROM documents),
        s AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 3 THEN
              list_distinct(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
            ELSE [array_to_string(toks, ' ')] END AS sh
          FROM d),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
          FROM s a JOIN s b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, jaccard FROM p
        WHERE jaccard >= 0.3
        ORDER BY jaccard DESC, doc_a, doc_b""")),

    // SimHash signatures + high-bit buckets (no oracle).
    "q30_simhash" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
          .withColumn("bucket", shiftright(col("simhash"), 48))
          .orderBy("doc_id"),
      None),

    // Brute-force cosine top-k vs vec_id 0 — DuckDB list_cosine_similarity
    // over DOUBLE[] matches our zip_with/aggregate formula exactly.
    "q31_embedding_cosine_topk" -> QueryDef(
      (s, dir) => Similarity.topKById(t(s, dir, "embeddings"), id = 0L, k = 10),
      Some("""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
          round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cosine_sim
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY cosine_sim DESC, vec_id
        LIMIT 10""")),

    // LSH-bucketed ANN variant (recall measured against q31 in tests).
    "q32_ann_lsh_topk" -> QueryDef(
      (s, dir) => Similarity.topKById(t(s, dir, "embeddings"), id = 0L, k = 10,
        Probe.Lsh(nPlanes = 2)),
      None),

    // Multimodal payload features: binary column + digest + magic bytes.
    "q33_multimodal_features" -> QueryDef(
      (s, dir) =>
        Multimodal.payloadFeatures(
          Multimodal.fromDocuments(t(s, dir, "documents")))
          .orderBy("media_id"),
      Some("""
        SELECT doc_id AS media_id,
          CASE (doc_id % 3 + 3) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          sha256(text) AS sha256,
          substring(upper(hex(encode(text))), 1, 8) AS magic
        FROM documents ORDER BY media_id""")),

    // Tumbling 1-hour event-time windows (streaming W6 semantics in batch
    // form; the readStream twin lives in graft.streaming).
    "q34_tumbling_window" -> QueryDef(
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour").as("w"))
          .agg(count(lit(1)).as("n"), Exact.sum6(col("value")).as("total_value"))
          .select(col("w.start").as("window_start"), col("n"), col("total_value"))
          .orderBy("window_start"),
      Some("""
        SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1 ORDER BY 1""")),

    // A3 scale variant: HLL approx distinct beside the exact form (sketches
    // merge map-side — the 100 TB substitute for a value shuffle). Approx
    // values are engine-specific => rows-only; error bound asserted in
    // OpsSpec.
    //
    // The exact and approx sides are computed as separate single-row aggs
    // and cross-joined: mixing a distinct aggregate with regular aggregates
    // in one agg() makes Spark Expand every input row 2x (one replica per
    // grouping set), so two lean scans of the one projected column beat one
    // doubled scan — and the HLL side stays a pure map-side-merge plan.
    "q39_approx_distinct" -> QueryDef(
      (s, dir) => {
        val users = t(s, dir, "events").select(col("user_id"))
        users.agg(countDistinct(col("user_id")).as("exact_users"))
          .crossJoin(users.agg(
            approx_count_distinct(col("user_id")).as("approx_users"),
            approx_count_distinct(col("user_id"), 0.01).as("approx_users_precise")))
      },
      None),

    // Embedding-space near-dup pairs above a cosine threshold, via the
    // OR-amplified multi-table LSH form (the 100 TB plan shape — bucketed
    // self-join on narrow rows, never a cartesian product; plan asserted in
    // ExtSpec). The oracle below scans ALL pairs exhaustively, so a
    // hash-match proves the pinned (nPlanes=4, nTables=32) configuration
    // had zero false negatives on this corpus — the same proof pattern as
    // q29 (deterministic planes make the proof exact, not probabilistic).
    //
    // Honest scale note: at this LOOSE threshold (0.45) the 32-table OR
    // coverage of the pair space is near-total whatever the bucket depth
    // (1-(1-1/16)^32 ~ 0.87), so the query's cost is dominated by the
    // exact cosine rerank over ~0.9*C(n,2) candidates — hyperplane LSH
    // fundamentally cannot prune a loose-threshold search. That makes this
    // entry a PROOF-ONLY configuration: it stays in Verify (the exhaustive
    // oracle certifies zero false negatives at maximal coverage) but is
    // excluded from Bench (`bench = false`) — benchmarking a knowingly
    // exhaustive-coverage config would measure the proof, not the engine.
    // The benched near-dup entries are q42 (corpus-sized auto params, same
    // loose threshold) and q46 (pinned deep-bucket params in the tight-
    // threshold production regime, where candidates stay sparse).
    "q35_embedding_neardup" -> QueryDef(
      (s, dir) => Similarity.nearDupPairsLsh(t(s, dir, "embeddings"), threshold = 0.45,
        nPlanes = 4, nTables = 32),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) > 0.45
        ORDER BY cosine_sim DESC, id_a, id_b"""),
      doc = "exhaustive-coverage loose-threshold proof pin; benched production twin is q42",
      bench = false),

    // The TIGHT-threshold near-dup proof (the production regime: cos >= 0.9
    // true near-duplicates, e.g. re-crawled / lightly-edited documents).
    // The driver corpus plants no pairs above cosine 0.60, so the tight
    // regime is exercised by deriving a deterministic near-dup twin for
    // every vector — elementwise v + 0.05 after the float->double widening,
    // identical IEEE arithmetic on both engines — which lands all twin
    // pairs in cosine [0.916, 0.950] while natural and cross pairs stay
    // below 0.61. The exhaustive-pair oracle over the SAME derived corpus
    // then proves the pinned config recovered every tight pair with zero
    // false negatives (q29/q35 proof pattern; deterministic planes make it
    // exact). Unlike the q35 pin, this config prunes: 10 planes = 1024
    // buckets/table, so the 64-table OR covers ~64/1024 = 6% of the pair
    // space (vs q35's 87%) and the per-pair miss probability at cos 0.916
    // is (1 - p^10)^64 ~ 1e-8 (p = 1 - acos(0.916)/pi = 0.869). Candidate
    // volume at the pinned config is asserted in ExtSpec (count-based).
    //
    // Like the q35 pin, this entry is Verify-only since round 5: the
    // FIXED (10, 64) depth does not scale with the corpus (bucket count is
    // constant, so candidates grow ~n²/16 at 100×) — its role is the
    // exhaustive-oracle proof. The benched production form is q50, whose
    // depth auto-sizes from the corpus and threshold (q35→q42 pattern).
    "q46_embedding_neardup_tight" -> QueryDef(
      (s, dir) =>
        Similarity.nearDupPairsLsh(twinCorpus(s, dir), threshold = 0.9,
          nPlanes = 10, nTables = 64),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        u AS (
          SELECT vec_id, v FROM e
          UNION ALL
          SELECT vec_id + 1000000, list_transform(v, x -> x + 0.05) FROM e)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        FROM u a JOIN u b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) > 0.9
        ORDER BY cosine_sim DESC, id_a, id_b"""),
      doc = "fixed-depth tight-threshold proof pin; benched production twin is q50",
      bench = false),

    // The AUTO-SIZED tight-threshold near-dup (benched production form of
    // q46; same derived corpus, same exhaustive-pair oracle). lshParams'
    // tight-regime deepening picks buckets deeper than the corpus-size
    // floor (each extra plane halves a table's random collisions for
    // ≤1.17× more tables at p = 0.856), so the candidate volume is a
    // fraction of the q46 pin's — asserted in ExtSpec, along with the
    // config's full recall on the derived corpus. targetRecall = 0.9999 is
    // the completeness knob (see q42): the exhaustive oracle demands EVERY
    // twin pair, and at the default 0.98 the at-threshold table count
    // would leave ~0.1 expected misses across the corpus' n twin pairs;
    // at 0.9999 the per-pair miss probability at the twins' actual
    // cosines (0.916+) is ≤ 2e-5 — and the planes are deterministic, so
    // the observed zero-miss result is reproducible, not a dice roll.
    "q50_embedding_neardup_tight_auto" -> QueryDef(
      (s, dir) =>
        Similarity.nearDupPairsLsh(twinCorpus(s, dir), threshold = 0.9,
          targetRecall = 0.9999),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        u AS (
          SELECT vec_id, v FROM e
          UNION ALL
          SELECT vec_id + 1000000, list_transform(v, x -> x + 0.05) FROM e)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        FROM u a JOIN u b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) > 0.9
        ORDER BY cosine_sim DESC, id_a, id_b""")),

    // The AUTO-SIZED twin of q35: same semantics, but (nPlanes, nTables)
    // come from Similarity.lshParams(corpus count, threshold) — the
    // production configuration whose candidate volume stays linear in the
    // corpus. Benched to show the sizing live at sf0.1; correctness is
    // checked against the same exhaustive-pair oracle as q35 (full recall
    // of the auto config on the verify corpora). The registry entry pins
    // targetRecall = 0.999 — the completeness setting a DEDUP use actually
    // wants (a missed near-dup pair is a kept duplicate): the sf0.1 sweep
    // recovers 144/144 pairs there (test-asserted), where the library
    // default 0.98 left the designed ~2% of threshold-GRAZING pairs
    // (142/144 measured, three rounds running). The stricter target costs
    // more tables at the same depth — bench delta recorded in NOTES r8.
    "q42_embedding_neardup_auto" -> QueryDef(
      (s, dir) => Similarity.nearDupPairsLsh(t(s, dir, "embeddings"), threshold = 0.45,
        targetRecall = 0.999),
      Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) > 0.45
        ORDER BY cosine_sim DESC, id_a, id_b""")),

    // Document fingerprints: polynomial rolling hash over tokens (content-
    // defined identity — survives re-encoding, unlike byte digests). The
    // crc32-based engine hash has no DuckDB twin => rows-only; determinism
    // and discrimination invariants are in ExtSpec. Grouping by fingerprint
    // also demonstrates the dedup-by-content-identity use.
    "q45_doc_fingerprint" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fingerprint"))
          .orderBy("doc_id"),
      None),

    // The flagship curation pipeline: the end-to-end shape of an LLM
    // training-data cleaning job, composing the individually-proven
    // operators — language ID gate (q27 semantics), token-count range +
    // quality floor (q25/q26), exact dedup keeping the lowest id per
    // content digest (q24), then near-duplicate removal dropping the
    // higher id of every LSH-verified Jaccard pair (q29). The oracle
    // mirrors every stage in SQL with the near-dup stage as the EXHAUSTIVE
    // pair scan — so a hash-match proves the banded-LSH dedup removed
    // exactly the right documents, end to end.
    "q44_curation_pipeline" -> QueryDef(
      (s, dir) => {
        val scored = t(s, dir, "documents").select(
            col("doc_id"), col("text"),
            TextStats.langGuess(col("text")).as("lang_guess"),
            TextStats.metrics(col("text")).as("m"))
          .select(
            col("doc_id"), col("text"), col("lang_guess"),
            col("m.n_tokens").as("n_tokens"),
            // guarded like q26: ANSI double division aborts on a
            // token-less doc, and the n_tokens filter below is not
            // guaranteed to be pushed beneath this projection
            (when(col("m.n_tokens") > 0, col("m.stops") / col("m.n_tokens")) -
              when(col("m.n_chars") > 0, col("m.punct") / col("m.n_chars")))
              .as("quality_score"))
          .filter(col("lang_guess") === "en")
          .filter(col("n_tokens").between(5, 5000))
          .filter(col("quality_score") > 0.0)
          .withColumn("fp", md5(col("text").cast("binary")))
        // Exact-dedup keepers via a keyed window min instead of the former
        // groupBy + self-join on (fp, doc_id): one shuffle on fp, no second
        // documents lineage. The surviving stage is then PERSISTED because
        // two branches still consume it (the near-dup shingle pass and the
        // final anti-join) — without it each branch would re-run the
        // documents scan + LangId + TextMetrics lineage, and at 100 TB a
        // curation job must materialize between stages (MEMORY_AND_DISK so
        // an executor-memory shortfall spills instead of recomputing).
        val exactKept = Scope.persist(scored
          .withColumn("keep_id",
            min(col("doc_id")).over(Window.partitionBy(col("fp"))))
          .filter(col("doc_id") === col("keep_id"))
          .drop("keep_id"))
        val dropB = Dedup.nearDupPairs(exactKept, shingleN = 3, threshold = 0.3)
          .select(col("doc_b").as("doc_id")).distinct()
        exactKept.join(dropB, Seq("doc_id"), "left_anti")
          .select("doc_id", "n_tokens", "quality_score")
          .orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text,
            regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
            regexp_split_to_array(trim(text), '\s+') AS toks,
            length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
            CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct
          FROM documents),
        v AS (
          SELECT doc_id, text, toks, cjk, punct,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stops,
            CAST(length(text) AS BIGINT) AS n_chars,
            len(list_filter(ltoks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','für','von'))) AS v_de,
            len(list_filter(ltoks, t -> t IN ('the','and','of','to','in','is','that','it','for','with'))) AS v_en,
            len(list_filter(ltoks, t -> t IN ('el','la','los','y','es','una','en','que','por','con'))) AS v_es,
            len(list_filter(ltoks, t -> t IN ('le','la','les','et','est','une','dans','que','pour','des'))) AS v_fr
          FROM d),
        scored AS (
          SELECT doc_id, text, toks, n_tokens,
            CASE WHEN n_tokens > 0 THEN stops / n_tokens END
              - CASE WHEN n_chars > 0 THEN punct / n_chars END AS quality_score,
            md5(text) AS fp
          FROM v
          WHERE (CASE WHEN cjk > 0 THEN 'zh'
                 WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'unknown'
                 WHEN v_fr = greatest(v_de, v_en, v_es, v_fr) THEN 'fr'
                 WHEN v_es = greatest(v_de, v_en, v_es, v_fr) THEN 'es'
                 WHEN v_en = greatest(v_de, v_en, v_es, v_fr) THEN 'en'
                 ELSE 'de' END) = 'en'
            AND n_tokens BETWEEN 5 AND 5000
            AND CASE WHEN n_tokens > 0 THEN stops / n_tokens END
              - CASE WHEN n_chars > 0 THEN punct / n_chars END > 0.0),
        kept AS (
          SELECT s.* FROM scored s
          JOIN (SELECT fp, MIN(doc_id) AS doc_id FROM scored GROUP BY fp) k
            ON s.fp = k.fp AND s.doc_id = k.doc_id),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 3 THEN
              list_distinct(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
            ELSE [array_to_string(toks, ' ')] END AS sh
          FROM kept),
        dropb AS (
          SELECT DISTINCT b.doc_id
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3)
        SELECT doc_id, n_tokens, quality_score
        FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropb)
        ORDER BY doc_id""")),

    // IVF ANN: k-means coarse quantizer + nProbe cell probing — the
    // data-adaptive alternative to q32's hyperplane LSH. Engine-specific
    // training (no SQL oracle form); recall vs the exact q31 baseline is
    // asserted in ExtSpec.
    "q43_ivf_topk" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = Ivf.trainCentroids(emb, k = 8, iters = 3)
        Similarity.topKById(emb, id = 0L, k = 10, Probe.Ivf(cents, nProbe = 3))
      },
      None),

    // BATCHED exact top-k: 8 query vectors, one corpus pass, per-query
    // top-10 through the bounded TopKAgg (map-side partial top-k — the
    // shuffle carries k rows per query per partition, never the n·m scored
    // rows a row_number window would move). The oracle IS that window
    // form in DuckDB, so a hash-match proves the partial-agg reduction
    // returns exactly the window's rows, ties and all.
    "q47_embedding_topk_batch" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.topKBatch(emb, Similarity.vectors(emb, 0L until 8L), k = 10,
          excludeSelf = true)
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id IN (0,1,2,3,4,5,6,7)),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT q.query_id, e.vec_id,
                round(list_cosine_similarity(e.v, q.qv), 6) AS cosine_sim
              FROM e, q WHERE e.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
              FROM s)
        SELECT query_id, vec_id, cosine_sim FROM r WHERE rn <= 10
        ORDER BY query_id, cosine_sim DESC, vec_id""")),

    // BATCHED ANN: same queries, but each scores only its hyperplane
    // bucket's corpus rows before the bounded top-k reduction (engine
    // buckets => rows-only; recall vs q47 is asserted in ExtSpec).
    "q48_ann_topk_batch" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.topKBatch(emb, Similarity.vectors(emb, 0L until 8L), k = 10,
          Probe.Lsh(nPlanes = 2), excludeSelf = true)
      },
      None),

    // MULTI-PROBE ANN: probe the query's bucket plus its lowest-margin
    // bit-flip neighbours — recall recovery without more tables (engine
    // buckets => rows-only; recall monotonicity asserted in ExtSpec).
    "q49_ann_multiprobe_topk" -> QueryDef(
      (s, dir) => Similarity.topKById(t(s, dir, "embeddings"), id = 0L, k = 10,
        Probe.Lsh(nPlanes = 4, nProbe = 4)),
      None),

    // BATCHED IVF: one k-means training amortized over 8 queries, one probe
    // job over the union of their cells, bounded per-query top-k reduction
    // (q47/q48 shape). q43 pays its ~training cost PER query vector; this
    // is the production form — train once (persistable via
    // Ivf.saveCentroids), probe many. Engine-specific training => rows-only;
    // per-query equality with topK, recall vs the exact q47 batch, and
    // partition pruning on a clustered corpus are asserted in ExtSpec.
    "q51_ivf_topk_batch" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = Ivf.trainCentroids(emb, k = 8, iters = 3)
        Similarity.topKBatch(emb, Similarity.vectors(emb, 0L until 8L), k = 10,
          Probe.Ivf(cents, nProbe = 3), excludeSelf = true)
      },
      None),

    // SKEWED grouped aggregation through Skew.saltedAggregate — the hot-key
    // mitigation a 100 TB groupBy needs, witnessed by the bench instead of
    // living library-only. The input deliberately amplifies one event_type
    // ~100× (explode over a sequence — generator-style row replication, no
    // extra scan), so one grouping key carries ~95% of the rows: exactly
    // the shape where a single-phase groupBy funnels one shuffle partition.
    // The salted two-phase plan spreads the hot key over 16 content-hashed
    // salt buckets for the partial aggregate, then recombines — and MUST
    // NOT change the answer, which is precisely what the oracle checks
    // (plain single-phase GROUP BY over the same amplified input). Sums
    // are decimal-routed (ops/Exact discipline), so the two-phase
    // recombination is exact and order-independent — the property that
    // makes salting safe to assert by hash.
    "q52_skewed_hot_key_agg" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"), col("value"))
        val amplified = ev.unionAll(
          ev.filter(col("event_type") === "purchase")
            .withColumn("__rep", explode(sequence(lit(1), lit(100))))
            .drop("__rep"))
        Skew.saltedAggregate(amplified, Seq("event_type"), factor = 16,
          partial = Seq(
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
              .as("ps"),
            count(lit(1)).as("pc")),
          finalAggs = Seq(
            sum(col("pc")).as("n_events"),
            sum(col("ps")).cast("double").as("total_value")))
          .orderBy("event_type")
      },
      Some("""
        WITH amplified AS (
          SELECT event_type, value FROM events
          UNION ALL
          SELECT event_type, value FROM events, range(100) WHERE event_type = 'purchase')
        SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM amplified GROUP BY event_type ORDER BY event_type""")),

    // Fact-to-fact reconciliation over two SAME-BUCKETED tables — the
    // registry witness for Catalog.saveBucketed (the q52 pattern applied to
    // bucketing: the oracle is the UNBUCKETED form, so a hash match proves
    // bucketing is answer-neutral). The source facts and a deterministically
    // degraded downstream copy (every 97th row dropped, every 101st value
    // doubled — the reference's reconciliation discrepancy classes,
    // reconciliation_detector.py:104-128) both write through
    // `Catalog.saveBucketed` on the join key; the row-level join then reads
    // matching buckets directly. The merge hint pins the sort-merge path at
    // any scale (tiny Verify inputs would otherwise broadcast), and with
    // both sides bucketed the joined plan carries NO exchange before the
    // join (plan-asserted in OpsSpec against THIS registry entry) — the
    // 100 TB repeated fact-to-fact reconciliation answer: pay the shuffle
    // once at write time, never per query.
    "q53_bucketed_recon" -> QueryDef(
      (s, dir) => {
        val (src, dst) = publishReconTables(s, dir)
        reconAggregate(s.table(src), s.table(dst))
      },
      Some(reconOracle)),

    // The READ side of the q53 witness: q53 pays the double bucketed write
    // every run — the cost bucketing exists to amortize — so its bench
    // number hides the per-query win. This entry resolves the LATEST
    // published recon tables (publishing them only if absent, e.g. a fresh
    // session) and runs ONLY the exchange-free join + aggregation: the
    // steady-state shape a 100 TB deployment pays per reconciliation after
    // bucketing once at ingest. Same oracle as q53 — bucketing and the
    // stage-and-swap republish are both answer-neutral.
    "q54_bucketed_recon_read" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, dir)
        val (srcRef, dstRef) = reconRefs(dir)
        val (src, dst) =
          try (cat.bucketedTable(srcRef), cat.bucketedTable(dstRef))
          catch { case _: NoSuchElementException => publishReconTables(s, dir) }
        reconAggregate(s.table(src), s.table(dst))
      },
      Some(reconOracle)),

    // Deterministic train/val/test split by content hash (Sampling
    // .hashSplit): pure map-side — zero shuffle until the summary agg —
    // and stable under reruns/backfills, the property rand() splits lack.
    // The md5-prefix thresholds are plain hex-string compares, so DuckDB
    // computes literally the same assignment.
    "q55_hash_split" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("split", Sampling.hashSplit(col("doc_id")))
          .groupBy("split")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("split"),
      Some(s"""
        SELECT
          CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${Sampling.splitThresholds(0.90, 0.05)._1}' THEN 'train'
               WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${Sampling.splitThresholds(0.90, 0.05)._2}' THEN 'val'
               ELSE 'test' END AS split,
          COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          COUNT(DISTINCT source) AS n_sources
        FROM documents GROUP BY 1 ORDER BY 1""")),

    // Per-language quality quartiles (Sampling.strata): NTILE over a
    // window PARTITIONED on lang — hash-partitioned, never a global
    // single-partition sort. The quality score reuses q26's exact
    // arithmetic shape, so the doubles are IEEE-identical in DuckDB.
    "q56_quality_strata" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), TextStats.metrics(col("text")).as("m"))
          .select(col("doc_id"), col("lang"),
            (when(col("m.n_tokens") > 0, col("m.stops") / col("m.n_tokens")) -
              when(col("m.n_chars") > 0, col("m.punct") / col("m.n_chars")))
              .as("quality_score"))
          .withColumn("quartile",
            Sampling.strata(col("lang"), col("quality_score"), col("doc_id")))
          .groupBy("lang", "quartile")
          .agg(
            count(lit(1)).as("n_docs"),
            min("quality_score").as("min_score"),
            max("quality_score").as("max_score"))
          .orderBy("lang", "quartile"),
      Some("""
        WITH d AS (
          SELECT doc_id, lang, text,
            regexp_split_to_array(trim(text), '\s+') AS toks,
            CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct
          FROM documents),
        r AS (
          SELECT doc_id, lang,
            CAST(len(toks) AS BIGINT) AS n_words,
            CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stops,
            punct, CAST(length(text) AS BIGINT) AS n_chars
          FROM d),
        sc AS (
          SELECT doc_id, lang, CASE WHEN n_words > 0 THEN stops / n_words END
              - CASE WHEN n_chars > 0 THEN punct / n_chars END AS quality_score
          FROM r),
        q AS (
          SELECT lang, quality_score,
            NTILE(4) OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS quartile
          FROM sc)
        SELECT lang, quartile, COUNT(*) AS n_docs,
          MIN(quality_score) AS min_score, MAX(quality_score) AS max_score
        FROM q GROUP BY lang, quartile ORDER BY lang, quartile""")),

    // Per-source contribution cap (Sampling.capPerGroup): keep each
    // source's k best documents by quality — the "no domain dominates"
    // pretraining-mix rule. One hash exchange on source; row_number is a
    // partitioned window, and the summary reports how much the cap bites.
    "q57_source_cap" -> QueryDef(
      (s, dir) => {
        val scored = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), TextStats.metrics(col("text")).as("m"))
          .select(col("doc_id"), col("source"),
            (when(col("m.n_tokens") > 0, col("m.stops") / col("m.n_tokens")) -
              when(col("m.n_chars") > 0, col("m.punct") / col("m.n_chars")))
              .as("quality_score"))
          .withColumn("n_total",
            count(lit(1)).over(Window.partitionBy(col("source"))))
        Sampling.capPerGroup(scored, col("source"), col("quality_score"),
            col("doc_id"), k = 5)
          .groupBy("source")
          .agg(
            max("n_total").as("n_total"),
            count(lit(1)).as("n_kept"),
            min("quality_score").as("min_kept_score"))
          .orderBy("source")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source, text,
            regexp_split_to_array(trim(text), '\s+') AS toks,
            CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct
          FROM documents),
        r AS (
          SELECT doc_id, source,
            CAST(len(toks) AS BIGINT) AS n_words,
            CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stops,
            punct, CAST(length(text) AS BIGINT) AS n_chars
          FROM d),
        sc AS (
          SELECT doc_id, source, CASE WHEN n_words > 0 THEN stops / n_words END
              - CASE WHEN n_chars > 0 THEN punct / n_chars END AS quality_score
          FROM r),
        q AS (
          SELECT source, quality_score,
            COUNT(*) OVER (PARTITION BY source) AS n_total,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS rn
          FROM sc)
        SELECT source, MAX(n_total) AS n_total, COUNT(*) AS n_kept,
          MIN(quality_score) AS min_kept_score
        FROM q WHERE rn <= 5 GROUP BY source ORDER BY source""")),

    // Token-budget shard assignment (Sampling.tokenShards): greedy
    // sequence-packing shards from a PARTITIONED exclusive cumulative sum —
    // deterministic batch materialization for a training run. One hash
    // exchange on lang + per-group sort; shard totals ~512 tokens each.
    "q58_token_shards" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextStats.tokenCount(col("text")).as("n_tokens"))
        docs
          .withColumn("shard",
            Sampling.tokenShards(col("lang"), col("n_tokens"), col("doc_id"),
              budget = 512L))
          .groupBy("lang", "shard")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sum_tokens"))
          .orderBy("lang", "shard")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tokens,
            COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
          FROM d)
        SELECT lang, CAST(FLOOR(before / 512.0) AS BIGINT) AS shard,
          COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM c GROUP BY lang, shard ORDER BY lang, shard""")),

    // Deterministic uniform per-group sample (Sampling.samplePerGroup):
    // hash-ordered top-k per source — the balanced eval set that stays
    // FIXED across reruns (TABLESAMPLE/rand() redraws). sum_doc_ids makes
    // the oracle sensitive to the sampled SET, not just its size.
    "q59_group_sample" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
        Sampling.samplePerGroup(docs, col("source"), col("doc_id"), k = 3)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_sampled"),
            sum(col("doc_id")).as("sum_doc_ids"))
          .orderBy("source")
      },
      Some("""
        WITH q AS (
          SELECT source, doc_id,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)) DESC, doc_id) AS rn
          FROM documents)
        SELECT source, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
        FROM q WHERE rn <= 3 GROUP BY source ORDER BY source""")),

    // Per-language mixture downsampling (Sampling.mixtureSample): keep each
    // language at its mixture rate via a salted hash threshold — pure
    // map-side filter, zero shuffle, deterministic across reruns (a re-mix
    // at the same rates keeps the same rows; a raised rate strictly grows
    // the kept set). sum_doc_ids makes the oracle SET-sensitive. es=1.0
    // exercises the "g" sentinel threshold.
    "q60_mixture_sample" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        Sampling.mixtureSample(docs, col("lang"), col("doc_id"),
            Map("en" -> 0.35, "es" -> 1.0, "de" -> 0.7), defaultRate = 0.5)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("doc_id")).as("sum_doc_ids"))
          .orderBy("lang")
      },
      Some(s"""
        SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
        FROM documents
        WHERE substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE lang WHEN 'en' THEN '${Sampling.rateThreshold(0.35)}'
                    WHEN 'es' THEN '${Sampling.rateThreshold(1.0)}'
                    WHEN 'de' THEN '${Sampling.rateThreshold(0.7)}'
                    ELSE '${Sampling.rateThreshold(0.5)}' END
        GROUP BY lang ORDER BY lang""")),

    // Generalized mixture weights (Sampling.mixtureWeight): floor(rate)
    // copies + hash-thresholded fractional copy — zh upsampled 2.5x (epoch
    // weighting), en downsampled 0.35x, es exactly 1.0 (integer path),
    // de dropped at 0. The copy-weighted checksum sum(doc_id * copy) =
    // doc_id * copies(copies+1)/2 makes the oracle sensitive to the copy
    // INDEXES, not just the multiplied row count.
    "q61_mixture_weight" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        Sampling.mixtureWeight(docs, col("lang"), col("doc_id"),
            Map("en" -> 0.35, "zh" -> 2.5, "es" -> 1.0, "de" -> 0.0),
            defaultRate = 1.25)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("doc_id") * col("copy")).as("copy_checksum"))
          .orderBy("lang")
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, lang,
            CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2
                      WHEN 'es' THEN 1 WHEN 'de' THEN 0 ELSE 1 END
            + CASE WHEN substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) <
                CASE lang WHEN 'en' THEN '${Sampling.rateThreshold(0.35)}'
                          WHEN 'zh' THEN '${Sampling.rateThreshold(0.5)}'
                          WHEN 'es' THEN '${Sampling.rateThreshold(0.0)}'
                          WHEN 'de' THEN '${Sampling.rateThreshold(0.0)}'
                          ELSE '${Sampling.rateThreshold(0.25)}' END
              THEN 1 ELSE 0 END AS copies
          FROM documents)
        SELECT lang,
          CAST(SUM(copies) AS BIGINT) AS n_rows,
          COUNT(*) AS n_docs,
          CAST(SUM(doc_id * (copies * (copies + 1) // 2)) AS BIGINT) AS copy_checksum
        FROM c WHERE copies >= 1
        GROUP BY lang ORDER BY lang""")),

    // Deterministic corpus shuffle (Sampling.shuffleOrder): seed-salted
    // hash sort key + fixed hash-bucket shards — training order is
    // (shard, shuffle_key) with no single-partition global sort and no
    // sample-dependent range boundaries; any rerun re-materializes the
    // exact batch stream. min_by(first doc per shard) makes the oracle
    // sensitive to the within-shard ORDER, not just membership.
    "q62_shuffle_order" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"))
        Sampling.shuffleOrder(docs, col("doc_id"), seed = 7L, shards = 12)
          .groupBy("shard")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_doc_ids"),
            min(col("shuffle_key")).as("first_key"),
            min_by(col("doc_id"), col("shuffle_key")).as("first_doc"))
          .orderBy("shard")
      },
      Some("""
        WITH s AS (
          SELECT doc_id,
            md5('shuffle:7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
          FROM documents),
        h AS (
          SELECT doc_id, shuffle_key,
            ('0x' || substring(shuffle_key, 1, 8))::BIGINT % 12 AS shard
          FROM s)
        SELECT shard, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids,
          MIN(shuffle_key) AS first_key, min_by(doc_id, shuffle_key) AS first_doc
        FROM h GROUP BY shard ORDER BY shard""")),

    // Gopher-style repetition quality signals (TextStats.repetition):
    // duplicate-line and top-word counters in one native pass, thresholds
    // as exact integer cross-multiplications (dup-line chars >30%, top
    // word >20% — the published filter shape). The corpus text is
    // single-line, so line structure is synthesized by splitting on
    // common-word separators — deterministic and identical in both
    // engines, keeping the line half of the oracle non-degenerate.
    "q63_repetition_metrics" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            regexp_replace(col("text"), " (the|a) ", "\n").as("t2"))
          .select(col("doc_id"), TextStats.repetition(col("t2")).as("m"))
          .select(col("doc_id"),
            col("m.n_lines").as("n_lines"),
            col("m.dup_lines").as("dup_lines"),
            col("m.dup_line_chars").as("dup_line_chars"),
            col("m.line_chars").as("line_chars"),
            col("m.n_words").as("n_words"),
            col("m.top_word_count").as("top_word_count"),
            col("m.top_word_chars").as("top_word_chars"))
          .withColumn("repetitive_lines",
            col("dup_line_chars") * 10 > col("line_chars") * 3)
          .withColumn("repetitive_words",
            col("top_word_count") * 5 > col("n_words"))
          .orderBy("doc_id"),
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(text, ' (the|a) ', chr(10), 'g') AS t2
          FROM documents),
        l AS (
          SELECT doc_id,
            unnest(list_filter(string_split(t2, chr(10)), x -> len(x) > 0)) AS line
          FROM d),
        lc AS (
          SELECT doc_id, line, COUNT(*) AS c, length(line) AS chars
          FROM l GROUP BY doc_id, line),
        la AS (
          SELECT doc_id,
            CAST(SUM(c) AS BIGINT) AS n_lines,
            CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_lines,
            CAST(SUM((c - 1) * chars) AS BIGINT) AS dup_line_chars,
            CAST(SUM(c * chars) AS BIGINT) AS line_chars
          FROM lc GROUP BY doc_id),
        w AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(t2), '\s+')) AS tok
          FROM d),
        wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM w GROUP BY doc_id, tok),
        wa AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
            CAST(MAX(c) AS BIGINT) AS top_count
          FROM wc GROUP BY doc_id),
        tw AS (
          SELECT wc.doc_id, MIN(wc.tok) AS top_tok
          FROM wc JOIN wa ON wc.doc_id = wa.doc_id AND wc.c = wa.top_count
          GROUP BY wc.doc_id)
        SELECT d.doc_id,
          COALESCE(la.n_lines, 0) AS n_lines,
          COALESCE(la.dup_lines, 0) AS dup_lines,
          COALESCE(la.dup_line_chars, 0) AS dup_line_chars,
          COALESCE(la.line_chars, 0) AS line_chars,
          wa.n_words,
          wa.top_count AS top_word_count,
          CAST(wa.top_count * length(tw.top_tok) AS BIGINT) AS top_word_chars,
          COALESCE(la.dup_line_chars, 0) * 10 > COALESCE(la.line_chars, 0) * 3
            AS repetitive_lines,
          wa.top_count * 5 > wa.n_words AS repetitive_words
        FROM d
        JOIN wa ON d.doc_id = wa.doc_id
        JOIN tw ON d.doc_id = tw.doc_id
        LEFT JOIN la ON d.doc_id = la.doc_id
        ORDER BY d.doc_id""")),

    // Eval-set decontamination (Decontaminate.flagContaminated): training
    // docs sharing ANY word 4-gram with the eval slice are flagged — the
    // published train/test contamination rule, a different relation than
    // near-dup (one shared n-gram contaminates regardless of overall
    // similarity; the corpus's planted duplicates make the witness
    // non-degenerate). Exploded n-grams → broadcast semi-join, train side
    // never shuffles. contaminated_id_sum is sensitive to WHICH docs flag.
    "q64_decontamination" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val eval = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        val train = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        val ng = Decontaminate.evalNgrams(eval, col("text"), n = 4)
        Decontaminate.flagContaminated(train, col("doc_id"), col("text"), ng, n = 4)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_train"),
            sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
            sum(when(col("contaminated"), col("doc_id")).otherwise(0L))
              .as("contaminated_id_sum"))
          .orderBy("lang")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, lang,
            CASE WHEN len(toks) >= 4
              THEN list_transform(range(1, len(toks) - 2),
                i -> array_to_string(list_slice(toks, i, i + 3), ' '))
              ELSE [] END AS ngs
          FROM d),
        e AS (SELECT DISTINCT unnest(ngs) AS ng FROM g WHERE doc_id % 50 = 0),
        tr AS (SELECT doc_id, lang, ngs FROM g WHERE doc_id % 50 != 0),
        hit AS (
          SELECT DISTINCT t.doc_id
          FROM (SELECT doc_id, unnest(ngs) AS ng FROM tr) t
          JOIN e ON t.ng = e.ng)
        SELECT tr.lang, COUNT(*) AS n_train,
          CAST(SUM(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_contaminated,
          CAST(SUM(CASE WHEN hit.doc_id IS NOT NULL THEN tr.doc_id ELSE 0 END) AS BIGINT)
            AS contaminated_id_sum
        FROM tr LEFT JOIN hit ON tr.doc_id = hit.doc_id
        GROUP BY tr.lang ORDER BY tr.lang""")),

    // Packed-sequence assembly (Sampling.packSequences): q58's shard
    // assignment materialized into actual training sequences — per
    // (lang, shard) the docs concatenate in doc_id order with a blank-line
    // separator. Per-shard state is budget-bounded (never group-bounded),
    // and the sequence md5 pins the assembled BYTES, oracle-exact via
    // DuckDB's ordered string_agg.
    "q65_packed_sequences" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"),
            TextStats.tokenCount(col("text")).as("n_tokens"))
          .withColumn("shard",
            Sampling.tokenShards(col("lang"), col("n_tokens"), col("doc_id"),
              budget = 512L))
        Sampling.packSequences(docs, col("lang"), col("shard"), col("doc_id"),
            col("text"), col("n_tokens"))
          .select(col("lang"), col("shard"),
            md5(col("sequence").cast("binary")).as("seq_md5"),
            length(col("sequence")).cast("long").as("seq_chars"),
            col("n_docs"), col("sum_tokens"))
          .orderBy("lang", "shard")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang, text,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, lang, text, n_tokens,
            COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
          FROM d),
        s AS (
          SELECT doc_id, lang, text, n_tokens,
            CAST(FLOOR(before / 512.0) AS BIGINT) AS shard
          FROM c)
        SELECT lang, shard,
          md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS seq_md5,
          CAST(length(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS BIGINT)
            AS seq_chars,
          COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM s GROUP BY lang, shard ORDER BY lang, shard""")),

    // Cross-document paragraph dedup (Dedup.dedupParagraphs): C4-style
    // span removal — a repeated paragraph survives only at its first
    // (doc_id, pos) occurrence; docs reassemble from survivors in order.
    // Different relation than whole-doc dedup: boilerplate vanishes from
    // later docs while the docs survive. Paragraph structure synthesized
    // as in q63; the reassembled-text md5 pins exact byte-level removal.
    "q66_paragraph_dedup" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            regexp_replace(col("text"), " (the|a) ", "\n").as("t2"))
        Dedup.dedupParagraphs(docs, idCol = "doc_id", textCol = "t2")
          .select(col("doc_id"),
            md5(col("text_dedup").cast("binary")).as("dedup_md5"),
            col("n_pars"), col("kept_pars"))
          .orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, regexp_replace(text, ' (the|a) ', chr(10), 'g') AS t2
          FROM documents),
        sp AS (SELECT doc_id, string_split(t2, chr(10)) AS pars FROM d),
        p0 AS (
          SELECT doc_id, unnest(pars) AS par,
            unnest(range(1, len(pars) + 1)) AS pos
          FROM sp),
        p AS (SELECT doc_id, par, pos FROM p0 WHERE len(par) > 0),
        f AS (
          SELECT doc_id, par, pos,
            ROW_NUMBER() OVER (PARTITION BY par ORDER BY doc_id, pos) AS rk
          FROM p),
        k AS (
          SELECT doc_id,
            string_agg(par, chr(10) ORDER BY pos) AS text_dedup,
            COUNT(*) AS kept_pars
          FROM f WHERE rk = 1 GROUP BY doc_id),
        n AS (SELECT doc_id, COUNT(*) AS n_pars FROM p GROUP BY doc_id)
        SELECT k.doc_id, md5(k.text_dedup) AS dedup_md5,
          n.n_pars, CAST(k.kept_pars AS BIGINT) AS kept_pars
        FROM k JOIN n ON k.doc_id = n.doc_id
        ORDER BY k.doc_id""")),

    // Product-quantized ANN with exact rerank (ext/Pq): 64-dim floats →
    // 8 codes (32x), per-query ADC lookup table scores the whole corpus
    // in 8 adds/row, a 100-candidate shortlist reranks with exact dot
    // products — the memory-bound serving shape (rows-only: k-means
    // codes have no DuckDB twin; ExtSpec pins determinism and ≥0.9
    // rerank recall vs the exact oracle path).
    "q67_pq_topk" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cb = Pq.trainCodebooks(emb, m = 8, k = 64, iters = 3)
        val qRows = Similarity.vectors(emb, Seq(0L))
        require(qRows.nonEmpty,
          "q67: embeddings corpus has no vec_id 0 (the registry's query-row " +
            "convention) — not an opaque head() crash")
        val query = qRows.head._2
        Pq.pqTopKRerankVec(
          Pq.encode(emb.filter(col("vec_id") =!= 0L), cb),
          query, cb, topK = 10, shortlist = 10)
      },
      None),

    // ───── Persisted-artifact ANN search oracles (q68-q70) ─────
    // q43/q51/q67 are rows-only because k-means has no DuckDB twin — but
    // the SEARCH stage given trained artifacts is pure arithmetic. These
    // three persist the artifacts (centroids / codebooks / encoded +
    // clustered corpus) through the Catalog, reload them, and search —
    // and the oracle replays probe assignment (argmin over the centroids
    // table), ADC scoring (lookup-table sums over the stored codes), and
    // the top-k cut from the SAME parquet, so the probe/score/rerank math
    // is hash-checked end-to-end. Training keeps its existing
    // bit-identity + recall invariants in ExtSpec.
    //
    // Benched DELIBERATELY including the train+persist+reload round-trip:
    // these entries witness the whole artifact lifecycle (the q53 shape,
    // where the write IS part of what the row proves). The amortized
    // SERVING cost — what a capacity plan needs — is measured separately
    // by the q75-q77 read-only twins below (the q54-vs-q53 split).

    // IVF search over a cluster-partitioned corpus + persisted centroids:
    // the 100 TB serving shape (train once, probe nProbe/k of the files).
    "q68_ivf_search_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        buildIvfArtifacts(s, dir, cat)
        serveIvf(cat)
      },
      Some(ivfSearchOracle)),

    // PQ/ADC search over persisted codebooks + encoded corpus: the oracle
    // rebuilds each code's subvector distance from the codebook rows and
    // sums them — the asymmetric-distance computation replayed in SQL.
    "q69_pq_search_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        buildPqArtifacts(s, dir, cat)
        servePq(cat)
      },
      Some(pqSearchOracle)),

    // IVF-PQ search over one persisted corpus carrying BOTH reductions
    // (cluster partitions + m-byte codes): probe -> ADC shortlist ->
    // exact-dot rerank, each stage replayed by the oracle.
    "q70_ivfpq_search_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        buildIvfPqArtifacts(s, dir, cat)
        serveIvfPq(cat)
      },
      Some(ivfPqSearchOracle)),

    // ───── ANN serving steady state (q75-q77) ─────
    // The read side of the q68-q70 witnesses, the way q54 measures q53's
    // read side: resolve the ALREADY-persisted artifacts and run ONLY the
    // search — the amortized per-query cost a capacity plan needs, with
    // none of the train/persist round-trip in the measurement. Cold start
    // (artifacts absent) rebuilds them with q68-q70's exact parameters;
    // training is deterministic (hashed-id seeding, lowest-index argmin
    // ties), so a later witness rebuild reproduces the artifacts
    // bit-for-bit and both entries stay consistent with the one on-disk
    // oracle corpus. Verify/Bench run the registry in name order, so the
    // witness has always re-published from the CURRENT testdata before
    // these serve (stale-artifact poisoning after a driver data regen is
    // structurally impossible in a gate run). Oracles are the SAME SQL as
    // the witnesses — the oracle already reads the persisted parquet, so
    // it transfers unchanged.
    "q75_ivf_search_serving" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        if (!servable(cat, "ann.q68_centroids", "ann.q68_corpus"))
          buildIvfArtifacts(s, dir, cat)
        serveIvf(cat)
      },
      Some(ivfSearchOracle)),

    "q76_pq_search_serving" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        if (!servable(cat, "ann.q69_codebooks", "ann.q69_corpus"))
          buildPqArtifacts(s, dir, cat)
        servePq(cat)
      },
      Some(pqSearchOracle)),

    "q77_ivfpq_search_serving" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        if (!servable(cat, "ann.q70_centroids", "ann.q70_codebooks",
            "ann.q70_corpus"))
          buildIvfPqArtifacts(s, dir, cat)
        serveIvfPq(cat)
      },
      Some(ivfPqSearchOracle)),

    // ───── Real media-header decode over persisted payloads (q78) ─────
    // q33 oracles the cheap no-decode features; this one proves the REAL
    // decode: payloads carrying actual PNG/JPEG/WAV container headers
    // (format-valid bytes fabricated scan-side, dims derived from doc_id,
    // every 4th row deliberately malformed) are persisted through the
    // Catalog, and DuckDB replays the byte-level parse — signature
    // detection, big-endian PNG IHDR dims, the JPEG SOF0 frame fields,
    // little-endian WAV fmt fields, and the per-row error taxonomy — from
    // the SAME parquet via hex-string arithmetic. A hash match proves the
    // engine's MediaHeader expression reads the same bytes to the same
    // numbers. The oracle asserts this corpus's fixed JPEG layout (APP0
    // then SOF0) rather than replaying the general marker walk; the walk
    // itself is fuzz-pinned against an independent reference parser in
    // ExtSpec.
    "q78_media_decode_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(Multimodal.syntheticMedia(t(s, dir, "documents")),
          "media.q78_corpus")
        Multimodal.decodeHeaders(cat.load("media.q78_corpus"))
          .orderBy("media_id")
      },
      Some(s"""
        WITH m AS (
          SELECT media_id, kind, upper(hex(payload)) AS h, octet_length(payload) AS n
          FROM read_parquet('$AnnOracleRoot/media/q78_corpus/*.parquet')),
        c AS (
          SELECT *,
            CASE WHEN substring(h,1,16)='89504E470D0A1A0A' THEN 'png'
                 WHEN substring(h,1,4)='FFD8' THEN 'jpeg'
                 WHEN substring(h,1,8)='52494646' AND substring(h,17,8)='57415645' THEN 'wav'
                 WHEN substring(h,1,8)='664C6143' THEN 'flac'
                 ELSE 'unknown' END AS format,
            CASE WHEN substring(h,1,16)='89504E470D0A1A0A' THEN
                   CASE WHEN n<26 THEN 'png_truncated'
                        WHEN substring(h,25,8)<>'49484452' THEN 'png_no_ihdr' END
                 WHEN substring(h,1,4)='FFD8' THEN
                   CASE WHEN substring(h,41,4)<>'FFC0' THEN 'jpeg_no_sof' END
                 WHEN substring(h,1,8)='52494646' AND substring(h,17,8)='57415645' THEN
                   CASE WHEN n<36 THEN 'wav_truncated'
                        WHEN substring(h,25,8)<>'666D7420' THEN 'wav_no_fmt' END
                 WHEN substring(h,1,8)='664C6143' THEN
                   CASE WHEN n<42 THEN 'flac_truncated'
                        WHEN substring(h,9,2) NOT IN ('00','80')
                          THEN 'flac_no_streaminfo' END
                 ELSE 'unknown_format' END AS error
          FROM m)
        SELECT media_id, kind, format,
          CASE WHEN error IS NULL AND format='png' THEN CAST('0x'||substring(h,33,8) AS BIGINT)
               WHEN error IS NULL AND format='jpeg' THEN CAST('0x'||substring(h,55,4) AS BIGINT)
               END AS width,
          CASE WHEN error IS NULL AND format='png' THEN CAST('0x'||substring(h,41,8) AS BIGINT)
               WHEN error IS NULL AND format='jpeg' THEN CAST('0x'||substring(h,51,4) AS BIGINT)
               END AS height,
          CASE WHEN error IS NULL AND format IN ('png','jpeg')
                 THEN CAST('0x'||substring(h,49,2) AS BIGINT)
               WHEN error IS NULL AND format='wav'
                 THEN CAST('0x'||substring(h,71,2)||substring(h,69,2) AS BIGINT)
               WHEN error IS NULL AND format='flac'
                 THEN (CAST('0x'||substring(h,42,1) AS BIGINT) % 2) * 16
                      + CAST('0x'||substring(h,43,1) AS BIGINT) + 1
               END AS bit_depth,
          CASE WHEN error IS NULL AND format='wav'
                 THEN CAST('0x'||substring(h,55,2)||substring(h,53,2)||substring(h,51,2)||substring(h,49,2) AS BIGINT)
               WHEN error IS NULL AND format='flac'
                 THEN CAST('0x'||substring(h,37,5) AS BIGINT)
               END AS sample_rate,
          CASE WHEN error IS NULL AND format='wav'
                 THEN CAST('0x'||substring(h,47,2)||substring(h,45,2) AS BIGINT)
               WHEN error IS NULL AND format='flac'
                 THEN CAST('0x'||substring(h,42,1) AS BIGINT) // 2 + 1
               END AS channels,
          error
        FROM c ORDER BY media_id""")),

    // ───── Persisted-signature dedup oracles (q71-q72) ─────
    // q28/q30's signature VALUES are engine-only (xxhash64 / token-vote
    // simhash have no DuckDB twin) — but everything DOWNSTREAM of the
    // signatures is pure relational arithmetic. Same move as q68-q70:
    // persist the engine-computed artifact through the Catalog, then both
    // engines replay the search/candidate stage from the SAME parquet.

    // Banded-LSH candidate generation from a persisted band table: the
    // oracle replays the (band, bucket) self-join AND the per-pair
    // shared-band count — the full collision relation, not just the pair
    // set — so a hash match proves the candidate join stage exactly.
    // Serving shape at 100 TB: signatures/bands computed once per corpus
    // snapshot, candidates re-derived per dedup run from the artifact.
    "q71_lsh_candidates_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(Dedup.minhashTable(t(s, dir, "documents"), "text", "doc_id"),
          "ann.q71_bands")
        Dedup.bandCandidates(cat.load("ann.q71_bands"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH b AS (
          SELECT doc_id, band, bucket
          FROM read_parquet('$AnnOracleRoot/ann/q71_bands/*.parquet'))
        SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS shared_bands
        FROM b a JOIN b c
          ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // Manku-blocked SimHash pairing from persisted signatures vs the
    // oracle's EXHAUSTIVE xor/popcount scan over every pair: a hash match
    // is a cross-engine zero-false-negative proof of the pigeonhole
    // blocking on real data (the ExtSpec fixture assertion, upgraded to a
    // driver-gate row). The engine never builds the quadratic relation —
    // the oracle (n^2/2 pairs at sf0.01, trivial for DuckDB) exists
    // precisely to certify that the blocked join loses nothing.
    "q72_simhash_pairs_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          t(s, dir, "documents")
            .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash")),
          "ann.q72_sigs")
        Dedup.simhashPairsFromSigs(cat.load("ann.q72_sigs"), maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""
        WITH s AS (
          SELECT doc_id, simhash
          FROM read_parquet('$AnnOracleRoot/ann/q72_sigs/*.parquet'))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY 1, 2""")),

    // ───── Persisted-bucket hyperplane ANN oracles (q73-q74) ─────
    // q32/q48/q49's bucket VALUES are engine-only (the deterministic
    // hyperplane family has no DuckDB twin) — but the search DOWNSTREAM of
    // the buckets is pure relational arithmetic. Same move as q68-q72:
    // persist the bucket assignment once (the write-path cost at 100 TB),
    // and both engines replay probe-filter → rounded-cosine → top-k from
    // the SAME parquet. Probe derivation (margin-ordered bit flips) keeps
    // its driver-vs-expression bit-identity proof in ExtSpec; the probe
    // SET persists as a 4-row artifact so the oracle shares it.

    // Multi-probe search over a bucket-PARTITIONED corpus: the probe
    // IN-filter partition-prunes like an IVF cell scan (plan-asserted in
    // ExtSpec) — a query touches nProbe/2^nPlanes of the files, and no
    // per-query re-hash of the corpus runs. Closes q49's (and, at
    // nProbe=1, q32's) rows-only search stage.
    "q73_ann_multiprobe_persisted" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cat = new graft.core.Catalog(s, annRoot(dir))
        val emb = t(s, dir, "embeddings")
        cat.save(emb.withColumn("bucket",
            Similarity.lshBucket(col("embedding"), nPlanes = 4)),
          "ann.q73_corpus", partitionBy = Seq("bucket"))
        val corpus = cat.load("ann.q73_corpus")
        val qv = Similarity.vectors(corpus, Seq(0L)).headOption.map(_._2)
          .getOrElse(sys.error(
            "q73: persisted corpus has no vec_id 0 — corrupt/partial artifact; " +
              "delete the ann root and rerun"))
        cat.save(Similarity.probeSet(qv, nPlanes = 4, nProbe = 4).toDF("bucket"),
          "ann.q73_probes")
        Similarity.topK(corpus, qv, k = 10, Probe.Lsh(nPlanes = 4, nProbe = 4),
          excludeId = Some(0L))
      },
      Some(s"""
        WITH corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(bucket AS BIGINT) AS bucket
          FROM read_parquet('$AnnOracleRoot/ann/q73_corpus/*/*.parquet', hive_partitioning=true)),
        q AS (SELECT v AS qv FROM corpus WHERE vec_id = 0),
        probes AS (
          SELECT bucket FROM read_parquet('$AnnOracleRoot/ann/q73_probes/*.parquet'))
        SELECT c.vec_id, round(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim
        FROM corpus c, q
        WHERE c.bucket IN (SELECT bucket FROM probes) AND c.vec_id <> 0
        ORDER BY cosine_sim DESC, c.vec_id
        LIMIT 10""")),

    // Batched search over a stored-bucket corpus: the 8 query vectors
    // broadcast with their driver-derived buckets (bit-identical to the
    // stored ones) and join the stored bucket column, no re-hash — the
    // bounded TopKAgg reduction cross-checked against the oracle's
    // row_number() window in the bucketed shape (the q47 proof pattern
    // applied to q48's rows-only gap).
    "q74_ann_batch_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(t(s, dir, "embeddings").withColumn("bucket",
            Similarity.lshBucket(col("embedding"), nPlanes = 2)),
          "ann.q74_corpus")
        val corpus = cat.load("ann.q74_corpus")
        Similarity.topKBatch(corpus, Similarity.vectors(corpus, 0L until 8L),
          k = 10, Probe.Lsh(nPlanes = 2), excludeSelf = true)
      },
      Some(s"""
        WITH corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, bucket
          FROM read_parquet('$AnnOracleRoot/ann/q74_corpus/*.parquet')),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket
              FROM corpus WHERE vec_id BETWEEN 0 AND 7),
        s AS (
          SELECT q.query_id, c.vec_id,
            round(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim
          FROM corpus c JOIN q ON c.bucket = q.bucket
          WHERE c.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
              FROM s)
        SELECT query_id, vec_id, cosine_sim FROM r WHERE rn <= 10
        ORDER BY query_id, cosine_sim DESC, vec_id""")),

    // ───── Image perceptual near-dup (q79-q80) ─────
    // The multimodal pillar's CONTENT fingerprint (q33/q78 cover headers):
    // a REAL constrained PNG decode (chunk walk, zlib inflate, all five
    // scanline filters — graft.functions.PngGray) feeds a 64-bit dHash
    // whose hamming distance is a perceptual near-dup radius. The corpus
    // is format-valid synthetic PNGs keyed by doc_id with the standard
    // planted structure (id%20==1 = predecessor's pattern +8 brightness +
    // one pixel jitter — hamming ≤ 2, provably inside the radius-3
    // mining default). dHash VALUES need the decode, so the
    // fingerprint query is rows-only — and exactly like q28/q30 vs
    // q71/q72, everything downstream of the persisted fingerprints is
    // pure relational arithmetic that q80 oracles exhaustively.
    "q79_image_dhash_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(Multimodal.syntheticImages(t(s, dir, "documents")),
          "media.q79_images")
        Multimodal.imageFingerprints(cat.load("media.q79_images"))
          .orderBy("media_id")
      },
      None),

    // Manku-blocked image pairing from persisted fingerprints vs the
    // oracle's EXHAUSTIVE bit_count(xor) scan over every pair — the q72
    // proof applied to the image family: a hash match certifies the
    // pigeonhole blocking loses no pair at the radius, cross-engine, on
    // real fingerprint values.
    "q80_image_dhash_pairs_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.imageFingerprints(
            Multimodal.syntheticImages(t(s, dir, "documents"))),
          "media.q80_fps")
        Multimodal.imageNearDups(cat.load("media.q80_fps"), maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("media_a", "media_b")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, dhash
          FROM read_parquet('$AnnOracleRoot/media/q80_fps/*.parquet')
          WHERE dhash IS NOT NULL)
        SELECT a.media_id AS media_a, b.media_id AS media_b,
          CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        FROM f a JOIN f b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        ORDER BY 1, 2""")),

    // ───── Survivor-oriented dedup, persisted-stage oracle (q81) ─────
    // The greedy-star assignment's cell structure is engine-hash LSH (no
    // DuckDB twin), but its SOUNDNESS contract — every elimination is a
    // genuine exact-cosine pair toward a smaller id — is pure relational
    // arithmetic over the persisted assignment: both engines recompute
    // the rounded cosine of every eliminated (dup_of, id) pair from the
    // SAME parquet and stamp the threshold verdict. A hash match proves
    // cross-engine agreement on the eliminations' evidence, and the
    // `sound` column being all-true in the hashed output IS the
    // cross-engine proof that no unsound elimination exists. Runs on the
    // q46/q50 derived twin corpus (the driver corpus plants nothing
    // above cosine 0.60; the +0.05 twins land all planted pairs in
    // [0.916, 0.950]), auto-sized at targetRecall 0.9999 like q50, so
    // the eliminations are deterministic: every twin eliminated by its
    // original. (Survivor-set semantics vs the exact closure are
    // ExtSpec's pins; this row makes the operator's evidence a
    // driver-gate artifact like q71/q72/q80.)
    "q81_near_dup_survivors_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        // persisted (q44's mid-stage convention, r20): the derived twin
        // union is consumed ~5× — the walk's auto-size count, bucket
        // table, vector fetch, and both sides of the soundness join —
        // and each consumer re-derived it from parquet before. Values,
        // partitioning and therefore the assignment are unchanged (the
        // exact oracle re-proves); the caller's scope releases it, so no
        // bench sample ever reads a prior sample's cache.
        val corpus = Scope.persist(twinCorpus(s, dir))
        cat.save(
          Similarity.nearDupAssign(corpus, threshold = 0.9, targetRecall = 0.9999),
          "ann.q81_assign")
        cat.load("ann.q81_assign")
          .filter(col("dup_of").isNotNull)
          .join(corpus.select(col("vec_id"), col("embedding").as("v_m")), "vec_id")
          .join(corpus.select(col("vec_id").as("dup_of"), col("embedding").as("v_r")),
            "dup_of")
          .select(col("vec_id"), col("dup_of"),
            round(Similarity.cosine(col("v_m"), col("v_r")), 6).as("cosine_sim"))
          .withColumn("sound", col("cosine_sim") > 0.9 && col("dup_of") < col("vec_id"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        u AS (
          SELECT vec_id, v FROM e
          UNION ALL
          SELECT vec_id + 1000000, list_transform(v, x -> x + 0.05) FROM e),
        a AS (
          SELECT vec_id, dup_of
          FROM read_parquet('$AnnOracleRoot/ann/q81_assign/*.parquet')
          WHERE dup_of IS NOT NULL)
        SELECT a.vec_id, a.dup_of,
          round(list_cosine_similarity(m.v, r.v), 6) AS cosine_sim,
          round(list_cosine_similarity(m.v, r.v), 6) > 0.9
            AND a.dup_of < a.vec_id AS sound
        FROM a JOIN u m ON m.vec_id = a.vec_id
               JOIN u r ON r.vec_id = a.dup_of
        ORDER BY a.vec_id"""))
  ) ++ survivorTwinDefs

  // ───── Survivor-family persisted-stage oracles (q82-q83) ─────
  // q81's proof shape applied to the other two survivor families: the
  // cell structure is engine-hash (blocks / band buckets), but every
  // elimination's EVIDENCE — the radius or jaccard of the (dup_of, id)
  // pair — is pure arithmetic over persisted engine artifacts, so both
  // engines recompute it from the same parquet and hash-compare the
  // verdicts. `sound` all-true in the hashed output is the cross-engine
  // proof that no unsound elimination exists.
  private def survivorTwinDefs: Map[String, QueryDef] = Map(
    "q82_simhash_survivors_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          t(s, dir, "documents")
            .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash")),
          "ann.q82_sigs")
        val sigs = cat.load("ann.q82_sigs")
        cat.save(
          Dedup.simhashAssignFromBlocks(
            Dedup.simhashBlockTable(sigs, "doc_id", "simhash", maxHamming = 3)),
          "ann.q82_assign")
        cat.load("ann.q82_assign")
          .filter(col("dup_of").isNotNull)
          .join(sigs.select(col("doc_id"), col("simhash").as("sh_m")), "doc_id")
          .join(sigs.select(col("doc_id").as("dup_of"), col("simhash").as("sh_r")),
            "dup_of")
          .select(col("doc_id"), col("dup_of"),
            Dedup.hamming(col("sh_m"), col("sh_r")).cast("long").as("hamming"))
          .withColumn("sound", col("hamming") <= 3 && col("dup_of") < col("doc_id"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH sigs AS (
          SELECT doc_id, simhash
          FROM read_parquet('$AnnOracleRoot/ann/q82_sigs/*.parquet')),
        a AS (
          SELECT doc_id, dup_of
          FROM read_parquet('$AnnOracleRoot/ann/q82_assign/*.parquet')
          WHERE dup_of IS NOT NULL)
        SELECT a.doc_id, a.dup_of,
          CAST(bit_count(xor(m.simhash, r.simhash)) AS BIGINT) AS hamming,
          bit_count(xor(m.simhash, r.simhash)) <= 3
            AND a.dup_of < a.doc_id AS sound
        FROM a JOIN sigs m ON m.doc_id = a.doc_id
               JOIN sigs r ON r.doc_id = a.dup_of
        ORDER BY a.doc_id""")),

    "q83_minhash_survivors_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          t(s, dir, "documents")
            .select(col("doc_id"),
              Dedup.shingleHashes(col("text"), 3).as("sh")),
          "ann.q83_shingles")
        val sh = cat.load("ann.q83_shingles")
        cat.save(
          Dedup.minhashAssignFromBands(
            Dedup.minhashTable(t(s, dir, "documents"), "text", "doc_id"),
            sh, threshold = 0.3),
          "ann.q83_assign")
        cat.load("ann.q83_assign")
          .filter(col("dup_of").isNotNull)
          .join(sh.select(col("doc_id"), col("sh").as("sh_m")), "doc_id")
          .join(sh.select(col("doc_id").as("dup_of"), col("sh").as("sh_r")),
            "dup_of")
          .select(col("doc_id"), col("dup_of"),
            (size(array_intersect(col("sh_m"), col("sh_r"))).cast("double") /
              size(array_union(col("sh_m"), col("sh_r")))).as("jaccard"))
          .withColumn("sound", col("jaccard") >= 0.3 && col("dup_of") < col("doc_id"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH sh AS (
          SELECT doc_id, sh
          FROM read_parquet('$AnnOracleRoot/ann/q83_shingles/*.parquet')),
        a AS (
          SELECT doc_id, dup_of
          FROM read_parquet('$AnnOracleRoot/ann/q83_assign/*.parquet')
          WHERE dup_of IS NOT NULL)
        SELECT a.doc_id, a.dup_of,
          CAST(len(list_intersect(m.sh, r.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(m.sh, r.sh))) AS jaccard,
          CAST(len(list_intersect(m.sh, r.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(m.sh, r.sh))) >= 0.3
            AND a.dup_of < a.doc_id AS sound
        FROM a JOIN sh m ON m.doc_id = a.doc_id
               JOIN sh r ON r.doc_id = a.dup_of
        ORDER BY a.doc_id""")),

    // The fourth survivor family (images): greedy star over Manku block
    // cells of persisted dHash fingerprints — q82's proof shape on q80's
    // artifact: both engines recompute every elimination's hamming from
    // the SAME persisted fingerprints; `sound` all-true in the hashed
    // output is the cross-engine proof that no unsound elimination
    // exists. (Planted structure: id%20==1 images are their
    // predecessor's pattern at hamming ≤ 2, so eliminations are
    // deterministic twin→original edges.)
    "q84_image_survivors_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.imageFingerprints(
            Multimodal.syntheticImages(t(s, dir, "documents"))),
          "media.q84_fps")
        val fps = cat.load("media.q84_fps")
        cat.save(Multimodal.imageAssign(fps, maxHamming = 3),
          "media.q84_assign")
        cat.load("media.q84_assign")
          .filter(col("dup_of").isNotNull)
          .join(fps.select(col("media_id"), col("dhash").as("dh_m")), "media_id")
          .join(fps.select(col("media_id").as("dup_of"), col("dhash").as("dh_r")),
            "dup_of")
          .select(col("media_id"), col("dup_of"),
            Dedup.hamming(col("dh_m"), col("dh_r")).cast("long").as("hamming"))
          .withColumn("sound", col("hamming") <= 3 && col("dup_of") < col("media_id"))
          .orderBy("media_id")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, dhash
          FROM read_parquet('$AnnOracleRoot/media/q84_fps/*.parquet')),
        a AS (
          SELECT media_id, dup_of
          FROM read_parquet('$AnnOracleRoot/media/q84_assign/*.parquet')
          WHERE dup_of IS NOT NULL)
        SELECT a.media_id, a.dup_of,
          CAST(bit_count(xor(m.dhash, r.dhash)) AS BIGINT) AS hamming,
          bit_count(xor(m.dhash, r.dhash)) <= 3
            AND a.dup_of < a.media_id AS sound
        FROM a JOIN f m ON m.media_id = a.media_id
               JOIN f r ON r.media_id = a.dup_of
        ORDER BY a.media_id""")),

    // ───── Crop-tolerant grid descriptor, persisted-decode oracle (q85) ─
    // The r16 geometric tier: dHash collapses at a 1-4 px crop shift
    // (r15 crop sweep), so Multimodal.imageGridFeatures derives a
    // block-mean luminance descriptor that feeds the embedding-LSH
    // survivor family. The descriptor's DECODE is engine-only (no DuckDB
    // PNG codec) — but everything downstream of the pixels is pure
    // integer arithmetic, so this row persists the decoded luminance
    // (ImageLuma: width, height, pix array<int>) through the Catalog and
    // BOTH engines replay the descriptor's cell binning from the SAME
    // parquet: pixel pos → cell (((pos % w)·8)//w, ((pos//w)·8)//h),
    // integer cell sums and counts — byte-exact, the q71/q72/q80 proof
    // shape applied to the decode artifact. The native expression's
    // floats are ExtSpec-pinned bit-identical to these cells re-centered
    // driver-side, which closes the chain from the oracle to the
    // production descriptor.
    "q85_image_grid_cells_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.imageLuma(
            Multimodal.syntheticImages(t(s, dir, "documents"))),
          "media.q85_luma")
        cat.load("media.q85_luma")
          .filter(col("error").isNull)
          .select(col("media_id"), col("width"), col("height"),
            posexplode(col("pix")))
          .select(col("media_id"),
            expr("((pos div width) * 8) div height").as("gr"),
            expr("((pos % width) * 8) div width").as("gc"),
            col("col").as("v"))
          .groupBy("media_id", "gr", "gc")
          .agg(sum(col("v")).as("cell_sum"), count(lit(1)).as("cell_cnt"))
          .orderBy("media_id", "gr", "gc")
      },
      Some(s"""
        WITH l AS (
          SELECT media_id, width, height, pix
          FROM read_parquet('$AnnOracleRoot/media/q85_luma/*.parquet')
          WHERE error IS NULL),
        px AS (
          SELECT media_id, width, height,
            generate_subscripts(pix, 1) - 1 AS pos, unnest(pix) AS v
          FROM l)
        SELECT media_id,
          CAST(((pos // width) * 8) // height AS BIGINT) AS gr,
          CAST(((pos % width) * 8) // width AS BIGINT) AS gc,
          CAST(SUM(v) AS BIGINT) AS cell_sum,
          COUNT(*) AS cell_cnt
        FROM px
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3""")),

    // ───── Spectral survivor family, persisted-stage oracle (q86) ─────
    // The translation-invariant image tier: low-band DFT-magnitude
    // descriptors (ImageSpectralFeature — a shift changes phases, not
    // magnitudes; the r16 crop sweep measured detection 1.00/1.00/0.99 at
    // 1/2/4 px shifts where dHash reads 0.186/0.020/0.000) fed through
    // the embedding-LSH greedy star. Descriptor VALUES are engine-only
    // (StrictMath trig has no DuckDB twin), so the proof is q81/q84's
    // shape: persist features + assignment, recompute every elimination's
    // exact cosine from the SAME parquet in both engines, and `sound`
    // all-true in the hashed output is the cross-engine proof that no
    // unsound elimination exists. On this corpus eliminations include
    // whole translation-equivalence classes (phase-shifted same-frequency
    // fields ARE translated copies) — exactly what the invariance
    // promises.
    "q86_image_spectral_survivors_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.imageSpectralFeatures(
            Multimodal.syntheticImages(t(s, dir, "documents"))),
          "media.q86_feats")
        val feats = cat.load("media.q86_feats")
        cat.save(Multimodal.featureAssign(feats, threshold = 0.9),
          "media.q86_assign")
        cat.load("media.q86_assign")
          .filter(col("dup_of").isNotNull)
          .join(feats.select(col("media_id"), col("feature").as("f_m")), "media_id")
          .join(feats.select(col("media_id").as("dup_of"),
            col("feature").as("f_r")), "dup_of")
          .select(col("media_id"), col("dup_of"),
            round(Similarity.cosine(col("f_m"), col("f_r")), 6).as("cosine_sim"))
          .withColumn("sound",
            col("cosine_sim") > 0.9 && col("dup_of") < col("media_id"))
          .orderBy("media_id")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, CAST(feature AS DOUBLE[]) AS v
          FROM read_parquet('$AnnOracleRoot/media/q86_feats/*.parquet')
          WHERE feature IS NOT NULL),
        a AS (
          SELECT media_id, dup_of
          FROM read_parquet('$AnnOracleRoot/media/q86_assign/*.parquet')
          WHERE dup_of IS NOT NULL)
        SELECT a.media_id, a.dup_of,
          round(list_cosine_similarity(m.v, r.v), 6) AS cosine_sim,
          round(list_cosine_similarity(m.v, r.v), 6) > 0.9
            AND a.dup_of < a.media_id AS sound
        FROM a JOIN f m ON m.media_id = a.media_id
               JOIN f r ON r.media_id = a.dup_of
        ORDER BY a.media_id""")),

    // ───── IVF search over an append-maintained corpus (q87) ─────
    // The r16 churn lever: train the quantizer once on HALF the corpus,
    // cluster-write that half, then Ivf.appendAssign the other half —
    // assignment to the PERSISTED centroids, no retrain, the daily
    // maintenance path a 100 TB index actually runs. The search is q68's
    // probe + exact rerank over the union; the oracle is the SAME
    // replayed-arithmetic SQL (parameterized tag), because search
    // semantics never depend on how rows entered the index. A hash match
    // certifies the append path end to end: appended rows land in the
    // right cluster partitions, prune correctly, and score identically.
    // Recall drift vs appended fraction is the probe's measurement
    // (probes.IvfDriftProbe, SCALE.md r16); the rebuild threshold it
    // measured is Ivf.MeasuredRebuildFraction, enforced via IvfLedger.
    "q87_ivf_search_after_append" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        // shared materialization across train + write + append (r20):
        // values and partitioning are unchanged, so the trained centroids
        // are bit-identical; unpersisted before the search, which reads
        // only the persisted artifact
        Scope {
          val emb = Scope.persist(t(s, dir, "embeddings"))
          val evens = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
          val odds = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
          val cents = Ivf.trainCentroids(evens, k = 8, iters = 3)
          Ivf.saveCentroids(cat, "ann.q87_centroids", cents)
          // overwrite-then-append keeps the artifact deterministic per run
          // (the oracle globs the directory, so stale appended files from a
          // prior run must never survive into this one)
          cat.save(Ivf.assign(evens, cents), "ann.q87_corpus",
            partitionBy = Seq("cluster"))
          Ivf.appendAssign(cat, "ann.q87_corpus", "ann.q87_centroids", odds)
        }
        Similarity.topKById(cat.load("ann.q87_corpus"), id = 0L, k = 10,
          Probe.Ivf(Ivf.loadCentroids(cat, "ann.q87_centroids"), nProbe = 3))
      },
      Some(ivfSearchOracleFor("q87")))
  ) ++ Map(

    // ───── PQ search over an append-maintained codes table (q90) ─────
    // q87's churn lever for the PQ tier: train the codebooks once on HALF
    // the corpus, encode+write that half, then Pq.appendEncode the other
    // half — encoding against the PERSISTED codebooks, no retrain.
    // Pq.encode is deterministic given the codebooks, so appended rows
    // carry codes bit-identical to a full re-encode's (spec-pinned); the
    // search is q69's ADC scan over the union and the oracle is the SAME
    // replayed-arithmetic SQL under the q90 tag. A hash match certifies
    // the append path end to end. What staleness costs here is measured
    // separately (probes.IvfDriftProbe --family pq, SCALE.md r16): quantization
    // DISTORTION on unseen-regime appends, not placement.
    "q90_pq_search_after_append" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        // shared materialization across train + write + append (q87's
        // r20 convention; values unchanged, codebooks bit-identical)
        Scope {
          val emb = Scope.persist(t(s, dir, "embeddings"))
          val evens = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
          val odds = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
          val cb = Pq.trainCodebooks(evens, m = 8, k = 64, iters = 3)
          Pq.saveCodebooks(cat, "ann.q90_codebooks", cb)
          // overwrite-then-append keeps the artifact deterministic per run
          // (the oracle globs the directory — q87's convention)
          cat.save(Pq.encode(evens, cb), "ann.q90_corpus")
          Pq.appendEncode(cat, "ann.q90_corpus", "ann.q90_codebooks", odds)
        }
        val enc = cat.load("ann.q90_corpus")
        val qRows = Similarity.vectors(enc, Seq(0L))
        require(qRows.nonEmpty,
          "q90: ann.q90_corpus has no vec_id 0 — corrupt/partial artifact; " +
            "delete the ann root and rerun")
        val qv = qRows.head._2
        Pq.pqTopKVec(enc.filter(col("vec_id") =!= 0L), qv,
          Pq.loadCodebooks(cat, "ann.q90_codebooks"), topK = 10)
      },
      Some(pqSearchOracleFor("q90"))),

    // ───── Composed IVF-PQ search over an append-maintained corpus (q92) ─
    // The r17 churn lever the r16 pair left open: q87 proves IVF append,
    // q90 proves PQ append, but the artifact a real serving index ages
    // daily carries BOTH reductions — cluster partitions AND m-byte
    // codes. Train BOTH quantizers on HALF the corpus, cluster-write+
    // encode that half, then Pq.appendAssignEncode the other half —
    // assignment to the PERSISTED centroids and codes from the PERSISTED
    // codebooks in one maintenance call, no retrain of either. The
    // search is q70's probe → ADC shortlist → exact rerank over the
    // union, and the oracle is the SAME three-stage replayed-arithmetic
    // SQL under the q92 tag: a hash match certifies that appended rows
    // land in the right cluster partitions, carry re-encode-identical
    // codes, prune correctly, and score identically through the composed
    // pipeline. The shared-ledger rebuild policy over this artifact is
    // spec-pinned (ExtSpec composed-append test).
    "q92_ivfpq_search_after_append" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        // shared materialization across BOTH trainers + write + append
        // (q87's r20 convention; values unchanged, artifacts bit-identical)
        Scope {
          val emb = Scope.persist(t(s, dir, "embeddings"))
          val evens = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
          val odds = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
          val cents = Ivf.trainCentroids(evens, k = 8, iters = 3)
          val cb = Pq.trainCodebooks(evens, m = 8, k = 64, iters = 3)
          Ivf.saveCentroids(cat, "ann.q92_centroids", cents)
          Pq.saveCodebooks(cat, "ann.q92_codebooks", cb)
          // overwrite-then-append keeps the artifact deterministic per run
          // (the oracle globs the partition directories — q87's convention)
          cat.save(Pq.encode(Ivf.assign(evens, cents), cb), "ann.q92_corpus",
            partitionBy = Seq("cluster"))
          Pq.appendAssignEncode(cat, "ann.q92_corpus", "ann.q92_centroids",
            "ann.q92_codebooks", odds)
        }
        val corpus = cat.load("ann.q92_corpus")
        val qRows = Similarity.vectors(corpus, Seq(0L))
        require(qRows.nonEmpty,
          "q92: ann.q92_corpus has no vec_id 0 — corrupt/partial artifact; " +
            "delete the ann root and rerun")
        val qv = qRows.head._2
        Pq.ivfPqTopKVec(corpus.filter(col("vec_id") =!= 0L),
          Ivf.loadCentroids(cat, "ann.q92_centroids"),
          Pq.loadCodebooks(cat, "ann.q92_codebooks"),
          qv, topK = 10, nProbe = 3, shortlist = 10)
      },
      Some(ivfPqSearchOracleFor("q92"))),

    // ───── Video (MP4) container header decode, persisted oracle (q91) ──
    // ───── Video frame-0 dHash pairs, persisted-decode oracle (q93) ─────
    // The r18 video CONTENT rung's driver gate, q80's proof applied to
    // MJPEG-AVI: syntheticVideoAvi builds real single-stream AVIs whose
    // frames are baseline JPEGs (planted +8-brightness frame-0 twins, a
    // truncated-container malformed class), imageFingerprints decodes
    // frame 0 THROUGH the MjpegAvi container walk + JpegGray and dHashes
    // it, and DuckDB replays the exhaustive hamming pair relation from
    // the persisted fingerprints. A hash match proves the container walk
    // and frame decode land on consistent bytes — the planted video
    // twins appear as pairs (detection is the r18 MEASURED law: the
    // AVI-path sweep reads identically to the r15 image law).
    "q93_video_frame_dhash_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.imageFingerprints(
            Multimodal.syntheticVideoAvi(t(s, dir, "documents"))),
          "media.q93_fps")
        Multimodal.imageNearDups(cat.load("media.q93_fps"), maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("media_a", "media_b")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, dhash
          FROM read_parquet('$AnnOracleRoot/media/q93_fps/*.parquet')
          WHERE dhash IS NOT NULL)
        SELECT a.media_id AS media_a, b.media_id AS media_b,
          CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        FROM f a JOIN f b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        ORDER BY 1, 2""")),

    // ───── AVI header decode, persisted oracle (q94) ─────
    // q91's proof applied to the RIFF/AVI container: MjpegAvi.encode's
    // canonical layout puts avih's dwMicroSecPerFrame/dwWidth/dwHeight at
    // FIXED file offsets (32/64/68), so DuckDB replays MediaHeader's avi
    // branch as little-endian hex arithmetic — including the planted
    // truncated-container class (magic-only payloads → avi_truncated).
    "q94_avi_header_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.syntheticVideoAvi(t(s, dir, "documents"))
            .select(col("media_id"), lit("video").as("kind"), col("payload")),
          "media.q94_corpus")
        Multimodal.decodeHeaders(cat.load("media.q94_corpus"))
          .orderBy("media_id")
      },
      Some(s"""
        WITH m AS (
          SELECT media_id, kind, upper(hex(payload)) AS h,
                 octet_length(payload) AS n
          FROM read_parquet('$AnnOracleRoot/media/q94_corpus/*.parquet')),
        c AS (
          SELECT *,
            CASE WHEN n < 72 THEN 'avi_truncated' END AS error
          FROM m)
        SELECT media_id, kind, 'avi' AS format,
          CASE WHEN error IS NULL THEN CAST('0x'||substring(h,135,2)||
            substring(h,133,2)||substring(h,131,2)||substring(h,129,2) AS BIGINT)
            END AS width,
          CASE WHEN error IS NULL THEN CAST('0x'||substring(h,143,2)||
            substring(h,141,2)||substring(h,139,2)||substring(h,137,2) AS BIGINT)
            END AS height,
          CAST(NULL AS BIGINT) AS bit_depth,
          CASE WHEN error IS NULL THEN 1000000000 // CAST('0x'||
            substring(h,71,2)||substring(h,69,2)||substring(h,67,2)||
            substring(h,65,2) AS BIGINT) END AS sample_rate,
          CAST(NULL AS BIGINT) AS channels,
          error
        FROM c ORDER BY media_id""")),

    // ───── Multi-frame video pairs, persisted-decode oracle (q95) ─────
    // The r18 TRIM-tolerant video tier: frame-0 matching (q93) breaks
    // when a re-upload drops leading frames, so videoFrameFingerprints
    // samples K frames per clip (AviFrameBytes + dHash, one pass) and
    // videoAnyFrameNearDups pairs videos on ANY frame pair within the
    // radius — Manku-blocked over packed (media<<6|frame) ids, never
    // all-pairs. The oracle replays the EXHAUSTIVE cross-frame min-
    // hamming relation from the persisted fingerprints: a hash match
    // proves the blocked any-frame relation loses nothing (the pigeonhole
    // zero-false-negative guarantee, per-video-pair min included).
    "q95_video_multiframe_pairs_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.videoFrameFingerprints(
            Multimodal.syntheticVideoAvi(t(s, dir, "documents"))),
          "media.q95_frame_fps")
        Multimodal.videoAnyFrameNearDups(cat.load("media.q95_frame_fps"),
            maxHamming = 3)
          .orderBy("media_a", "media_b")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, frame_idx, dhash
          FROM read_parquet('$AnnOracleRoot/media/q95_frame_fps/*.parquet')
          WHERE dhash IS NOT NULL),
        -- filter BEFORE grouping: the radius prunes the exhaustive frame
        -- cross join down to colliding pairs, so the aggregate's hash
        -- table holds collided video pairs only (grouping the full
        -- quadratic relation first would OOM the sweep at sf0.1). The
        -- filtered MIN equals the unfiltered MIN for every surviving
        -- pair: a true min <= radius is itself a retained row.
        hits AS (
          SELECT a.media_id AS media_a, b.media_id AS media_b,
            bit_count(xor(a.dhash, b.dhash)) AS h
          FROM f a JOIN f b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.dhash, b.dhash)) <= 3)
        SELECT media_a, media_b, CAST(MIN(h) AS BIGINT) AS min_hamming
        FROM hits GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ───── MP4 frame-0 dHash pairs, persisted-decode oracle (q96) ─────
    // The r19 mp4 content rung (r18 verdict item #1), q93's proof applied
    // to the SECOND container — and to the cross-container guarantee: the
    // corpus interleaves syntheticVideoAvi (even ids) with
    // syntheticVideoMp4 (odd ids) over the SAME documents table; the two
    // generators render identical frame-0 fields per doc, so every
    // decodable doc contributes an (avi, mp4) hamming-0 pair — a hash
    // match proves the ISO BMFF sample-table walk (stsd/stsc/stsz/stco)
    // and the RIFF movi walk land on byte-consistent frames, plus the
    // planted same-container twins, plus the malformed classes (truncated
    // AVI, moov-less mp4, avc1-codec mp4) fingerprinting null and
    // surviving. DuckDB replays the exhaustive radius-3 pair relation
    // from the persisted fingerprints.
    "q96_mp4_frame_dhash_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        val docs = t(s, dir, "documents")
        val corpus = Multimodal.syntheticVideoAvi(docs)
          .select((col("media_id") * 2).as("media_id"), col("payload"))
          .unionByName(Multimodal.syntheticVideoMp4(docs)
            .select((col("media_id") * 2 + 1).as("media_id"), col("payload")))
        cat.save(Multimodal.imageFingerprints(corpus), "media.q96_fps")
        Multimodal.imageNearDups(cat.load("media.q96_fps"), maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("media_a", "media_b")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, dhash
          FROM read_parquet('$AnnOracleRoot/media/q96_fps/*.parquet')
          WHERE dhash IS NOT NULL)
        SELECT a.media_id AS media_a, b.media_id AS media_b,
          CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        FROM f a JOIN f b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        ORDER BY 1, 2""")),

    // ───── Audio any-segment pairs, persisted soundness oracle (q97) ────
    // The r19 audio TRIM tier (r18 verdict item #2): fixed-length window
    // envelopes (audioSegmentFeatures — ONE decode per clip, windows
    // sliced in memory) paired on ANY window by hyperplane LSH over
    // packed (media<<6|segment) ids (audioAnySegmentNearDups). LSH recall
    // is the approximate knob (targetRecall 0.98), so the oracle is the
    // SOUNDNESS form (the q89 convention, not q95's exhaustive replay):
    // every claimed pair's best cross-window cosine is recomputed
    // EXHAUSTIVELY from the persisted segment features by both engines —
    // a hash match proves the window slicing, the per-window envelope,
    // and the packing arithmetic land on identical floats, and the
    // `sound` column proves every pair genuinely clears the threshold.
    // Corpus: the q88/q89 synthetic audio at 4096 samples (TWO windows;
    // gain+jitter twins pair through any window; wav/G.711/FLAC
    // rotations included).
    "q97_audio_anysegment_pairs_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.audioSegmentFeatures(
            Multimodal.syntheticAudio(t(s, dir, "documents"),
              samplesPerClip = 4096),
          segmentSamples = 2048, segments = 2),
          "media.q97_segs")
        val segs = cat.load("media.q97_segs")
        cat.save(Multimodal.audioAnySegmentNearDups(segs, threshold = 0.9),
          "media.q97_pairs")
        val f = segs.filter(col("feature").isNotNull)
        cat.load("media.q97_pairs").select("media_a", "media_b")
          .join(f.select(col("media_id").as("media_a"),
            col("feature").as("f_a")), Seq("media_a"))
          .join(f.select(col("media_id").as("media_b"),
            col("feature").as("f_b")), Seq("media_b"))
          .groupBy("media_a", "media_b")
          .agg(round(max(Similarity.cosine(col("f_a"), col("f_b"))), 6)
            .as("best_cosine"))
          .withColumn("sound",
            col("best_cosine") > 0.9 && col("media_a") < col("media_b"))
          .orderBy("media_a", "media_b")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, CAST(feature AS DOUBLE[]) AS v
          FROM read_parquet('$AnnOracleRoot/media/q97_segs/*.parquet')
          WHERE feature IS NOT NULL),
        p AS (
          SELECT media_a, media_b
          FROM read_parquet('$AnnOracleRoot/media/q97_pairs/*.parquet'))
        SELECT p.media_a, p.media_b,
          round(MAX(list_cosine_similarity(a.v, b.v)), 6) AS best_cosine,
          round(MAX(list_cosine_similarity(a.v, b.v)), 6) > 0.9
            AND p.media_a < p.media_b AS sound
        FROM p JOIN f a ON a.media_id = p.media_a
               JOIN f b ON b.media_id = p.media_b
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ───── Spectral any-segment pairs, persisted soundness oracle (q98) ─
    // q97's proof applied to the OFF-GRID variant: the per-window
    // descriptor is the |DFT| magnitudes (Goertzel, the q89-proven
    // float-parity surface), so an off-grid re-cut within the r16
    // 512-sample shift band still pairs where the envelope windows
    // misalign (the r19 off-grid sweep; the stationarity null control is
    // documented in SCALE.md r19). Same corpus, same soundness form —
    // every claimed pair's best cross-window cosine recomputed
    // exhaustively from the persisted SPECTRAL features by both engines.
    "q98_audio_anysegment_spectral_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.audioSegmentFeatures(
            Multimodal.syntheticAudio(t(s, dir, "documents"),
              samplesPerClip = 4096),
            segmentSamples = 2048, segments = 2, descriptor = "spectral"),
          "media.q98_segs")
        val segs = cat.load("media.q98_segs")
        cat.save(Multimodal.audioAnySegmentNearDups(segs, threshold = 0.9),
          "media.q98_pairs")
        val f = segs.filter(col("feature").isNotNull)
        cat.load("media.q98_pairs").select("media_a", "media_b")
          .join(f.select(col("media_id").as("media_a"),
            col("feature").as("f_a")), Seq("media_a"))
          .join(f.select(col("media_id").as("media_b"),
            col("feature").as("f_b")), Seq("media_b"))
          .groupBy("media_a", "media_b")
          .agg(round(max(Similarity.cosine(col("f_a"), col("f_b"))), 6)
            .as("best_cosine"))
          .withColumn("sound",
            col("best_cosine") > 0.9 && col("media_a") < col("media_b"))
          .orderBy("media_a", "media_b")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, CAST(feature AS DOUBLE[]) AS v
          FROM read_parquet('$AnnOracleRoot/media/q98_segs/*.parquet')
          WHERE feature IS NOT NULL),
        p AS (
          SELECT media_a, media_b
          FROM read_parquet('$AnnOracleRoot/media/q98_pairs/*.parquet'))
        SELECT p.media_a, p.media_b,
          round(MAX(list_cosine_similarity(a.v, b.v)), 6) AS best_cosine,
          round(MAX(list_cosine_similarity(a.v, b.v)), 6) > 0.9
            AND p.media_a < p.media_b AS sound
        FROM p JOIN f a ON a.media_id = p.media_a
               JOIN f b ON b.media_id = p.media_b
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // The VIDEO tier of the modality family, q78's proof applied to ISO
    // BMFF: syntheticVideo fabricates real ftyp/moov(mvhd+trak(tkhd))/mdat
    // box structures (fixed v0 layout ⇒ every interesting field sits at a
    // fixed byte offset), MediaHeader's bounded box walk surfaces the
    // mvhd timescale and the tkhd 16.16 dimensions, and DuckDB replays
    // the SAME parse as hex arithmetic over the persisted payloads —
    // including both planted malformed classes (undersized box, missing
    // moov). The frame payload itself stays opaque (frameSample is the
    // documented decode stub): container metadata from real bytes IS the
    // video story a 100 TB curation pipeline needs first.
    "q91_video_header_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(Multimodal.syntheticVideo(t(s, dir, "documents")),
          "media.q91_corpus")
        Multimodal.decodeHeaders(cat.load("media.q91_corpus"))
          .orderBy("media_id")
      },
      Some(s"""
        WITH m AS (
          SELECT media_id, kind, upper(hex(payload)) AS h,
                 octet_length(payload) AS n
          FROM read_parquet('$AnnOracleRoot/media/q91_corpus/*.parquet')),
        c AS (
          SELECT *,
            CASE WHEN n = 20 THEN 'mp4_no_moov'
                 WHEN substring(h,41,8) = '00000004' THEN 'mp4_bad_box'
                 END AS error
          FROM m)
        SELECT media_id, kind, 'mp4' AS format,
          CASE WHEN error IS NULL
               THEN CAST('0x'||substring(h,457,4) AS BIGINT) END AS width,
          CASE WHEN error IS NULL
               THEN CAST('0x'||substring(h,465,4) AS BIGINT) END AS height,
          CAST(NULL AS BIGINT) AS bit_depth,
          CASE WHEN error IS NULL
               THEN CAST('0x'||substring(h,97,8) AS BIGINT) END AS sample_rate,
          CAST(NULL AS BIGINT) AS channels,
          error
        FROM c ORDER BY media_id""")),

    // ───── Audio envelope descriptor, persisted-decode oracle (q88) ─────
    // The r16 audio family's q85: the WavPcm decode VALUES are engine-only
    // (no DuckDB WAV codec), but everything downstream of the mono samples
    // is pure integer arithmetic — so this row persists the decoded
    // samples (AudioSamples: sample_rate, channels, bits, samples
    // array<int>) through the Catalog and BOTH engines replay the
    // envelope descriptor's frame binning from the SAME parquet: sample
    // pos → frame (pos·64)//n, integer |sample| frame sums and counts —
    // byte-exact. The corpus itself exercises every decode path the
    // subset supports (mono/stereo-equal 16-bit, 8-bit unsigned — the
    // syntheticAudio encoding rotation), so a hash match certifies the
    // chunk walk, the pad rule, the sample decode, and the mono mix in
    // one row. The native expression's floats are ExtSpec-pinned
    // bit-identical to these frames re-centered driver-side.
    "q88_audio_envelope_frames_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.audioSamples(
            Multimodal.syntheticAudio(t(s, dir, "documents"))),
          "media.q88_samples")
        cat.load("media.q88_samples")
          .filter(col("error").isNull)
          .select(col("media_id"), size(col("samples")).as("n"),
            posexplode(col("samples")))
          .select(col("media_id"),
            expr("(pos * 64) div n").as("frame"),
            abs(col("col")).as("v"))
          .groupBy("media_id", "frame")
          .agg(sum(col("v")).as("frame_sum"), count(lit(1)).as("frame_cnt"))
          .orderBy("media_id", "frame")
      },
      Some(s"""
        WITH a AS (
          SELECT media_id, samples, len(samples) AS n
          FROM read_parquet('$AnnOracleRoot/media/q88_samples/*.parquet')
          WHERE error IS NULL),
        sx AS (
          SELECT media_id, n,
            generate_subscripts(samples, 1) - 1 AS pos, unnest(samples) AS v
          FROM a)
        SELECT media_id,
          CAST((pos * 64) // n AS BIGINT) AS frame,
          CAST(SUM(ABS(v)) AS BIGINT) AS frame_sum,
          COUNT(*) AS frame_cnt
        FROM sx
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // ───── Audio spectral survivor family, persisted-stage oracle (q89) ─
    // The time-shift-tolerant audio tier: low-band DFT-magnitude
    // descriptors (AudioSpectralFeature — a re-trim changes phases, not
    // magnitudes; the r16 shift sweep measures the envelope tier
    // collapsing and this one holding) fed through the embedding-LSH
    // greedy star. Descriptor VALUES are engine-only (StrictMath trig),
    // so the proof is q86's shape: persist features + assignment,
    // recompute every elimination's exact cosine from the SAME parquet in
    // both engines, and `sound` all-true in the hashed output is the
    // cross-engine proof that no unsound elimination exists.
    "q89_audio_spectral_survivors_persisted" -> QueryDef(
      (s, dir) => {
        val cat = new graft.core.Catalog(s, annRoot(dir))
        cat.save(
          Multimodal.audioSpectralFeatures(
            Multimodal.syntheticAudio(t(s, dir, "documents"))),
          "media.q89_feats")
        val feats = cat.load("media.q89_feats")
        cat.save(Multimodal.featureAssign(feats, threshold = 0.9),
          "media.q89_assign")
        cat.load("media.q89_assign")
          .filter(col("dup_of").isNotNull)
          .join(feats.select(col("media_id"), col("feature").as("f_m")), "media_id")
          .join(feats.select(col("media_id").as("dup_of"),
            col("feature").as("f_r")), "dup_of")
          .select(col("media_id"), col("dup_of"),
            round(Similarity.cosine(col("f_m"), col("f_r")), 6).as("cosine_sim"))
          .withColumn("sound",
            col("cosine_sim") > 0.9 && col("dup_of") < col("media_id"))
          .orderBy("media_id")
      },
      Some(s"""
        WITH f AS (
          SELECT media_id, CAST(feature AS DOUBLE[]) AS v
          FROM read_parquet('$AnnOracleRoot/media/q89_feats/*.parquet')
          WHERE feature IS NOT NULL),
        a AS (
          SELECT media_id, dup_of
          FROM read_parquet('$AnnOracleRoot/media/q89_assign/*.parquet')
          WHERE dup_of IS NOT NULL)
        SELECT a.media_id, a.dup_of,
          round(list_cosine_similarity(m.v, r.v), 6) AS cosine_sim,
          round(list_cosine_similarity(m.v, r.v), 6) > 0.9
            AND a.dup_of < a.media_id AS sound
        FROM a JOIN f m ON m.media_id = a.media_id
               JOIN f r ON r.media_id = a.dup_of
        ORDER BY a.media_id""")))

  /** Root for the persisted ANN search artifacts (q68-q70), keyed by the
    * scale-factor directory leaf so verify/bench runs at different SFs
    * never clobber each other's artifacts. Defaults under /tmp because
    * the oracle's DuckDB process reads the same files by absolute path;
    * override the base with the `graft.ann.root` system property or the
    * `SPARK_GRAFT_ANN_ROOT` env var (e.g. to isolate concurrent runs at
    * the SAME scale factor, which would otherwise overwrite each other's
    * artifacts mid-query). This is the ONE path authority: the oracle SQL
    * carries [[AnnOracleRoot]] as a placeholder and `graft.Verify`
    * substitutes this resolved value at dump time. */
  private[graft] def annRoot(dir: String): String = {
    val base = sys.props.get("graft.ann.root")
      .orElse(sys.env.get("SPARK_GRAFT_ANN_ROOT"))
      .getOrElse("/tmp/graft_ann")
    s"$base/${new java.io.File(dir).getName}"
  }

  /** Placeholder the ORACLE SQL carries for the artifact root; `Verify`
    * replaces it with [[annRoot]] of the actual sf dir when dumping
    * oracle_sql.json, so the dumped SQL always points where the engine
    * actually wrote — no baked-in scale-factor leaf, no downstream
    * rewrites. (def, not val: `defs` above initializes first — NOTES
    * round-7.) */
  private[graft] def AnnOracleRoot = "__GRAFT_ANN_DIR__"

  // ───── q68-q70 / q75-q77 shared build + serve halves ─────
  // ONE definition of each ANN family's artifact parameters, search call,
  // and oracle SQL: the lifecycle witness (always build, then serve) and
  // the serving twin (serve; build only on cold start) must exercise
  // byte-identical artifacts and the same plan, and both hash against the
  // same replayed-arithmetic oracle.

  /** Cold-start probe for the serving twins: every artifact must exist AND
    * carry its job-commit `_SUCCESS` marker. `Catalog.exists` alone is not
    * enough — these artifacts are plain directory overwrites (deliberately,
    * so the DuckDB oracle can glob the same files), and a witness killed
    * mid-job leaves a readable-looking directory of partial part files
    * that a serving run must rebuild, not trust. Overwrite deletes the old
    * marker before writing, so a torn rewrite also reads as unservable. */
  private[graft] def servable(cat: graft.core.Catalog, refs: String*): Boolean =
    refs.forall { ref =>
      if (!cat.exists(ref)) false
      else {
        val (ns, t) = cat.parseRef(ref)
        val m = new org.apache.hadoop.fs.Path(cat.path(ns, t), "_SUCCESS")
        m.getFileSystem(cat.spark.sparkContext.hadoopConfiguration).exists(m)
      }
    }

  private def buildIvfArtifacts(s: SparkSession, dir: String,
      cat: graft.core.Catalog): Unit = {
    // one materialization feeds train + the assign-write (r20: the
    // builder re-scanned the parquet per consumer; values, partitioning
    // and therefore the trained centroids are bit-identical — persist
    // only cuts the repeated scan). Unpersisted before returning: every
    // downstream read is from the persisted artifact, not this lineage.
    Scope {
      val emb = Scope.persist(t(s, dir, "embeddings"))
      val cents = Ivf.trainCentroids(emb, k = 8, iters = 3)
      Ivf.saveCentroids(cat, "ann.q68_centroids", cents)
      cat.save(Ivf.assign(emb, cents), "ann.q68_corpus",
        partitionBy = Seq("cluster"))
    }
  }

  private def serveIvf(cat: graft.core.Catalog): DataFrame =
    Similarity.topKById(cat.load("ann.q68_corpus"), id = 0L, k = 10,
      Probe.Ivf(Ivf.loadCentroids(cat, "ann.q68_centroids"), nProbe = 3))

  // def, not val: `defs` above initializes first (NOTES round-7)
  private def ivfSearchOracle = ivfSearchOracleFor("q68")

  /** The IVF probe+rerank replay, parameterized by the artifact tag — ONE
    * SQL for the train-once witness (q68/q75) and the append-maintained
    * corpus (q87): the oracle replays probe-filter → rounded-cosine →
    * top-k from whatever rows the persisted corpus carries, which is
    * exactly why it transfers — search semantics never depend on HOW rows
    * entered the index. */
  private def ivfSearchOracleFor(tag: String) = s"""
        WITH cents AS (
          SELECT CAST(cluster AS BIGINT) AS cluster, CAST(centroid AS DOUBLE[]) AS c
          FROM read_parquet('$AnnOracleRoot/ann/${tag}_centroids/*.parquet')),
        corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(cluster AS BIGINT) AS cluster
          FROM read_parquet('$AnnOracleRoot/ann/${tag}_corpus/*/*.parquet', hive_partitioning=true)),
        q AS (SELECT v AS qv FROM corpus WHERE vec_id = 0),
        probes AS (
          SELECT cluster FROM cents, q
          ORDER BY list_distance(c, qv), cluster LIMIT 3)
        SELECT c.vec_id, round(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim
        FROM corpus c, q
        WHERE c.cluster IN (SELECT cluster FROM probes) AND c.vec_id <> 0
        ORDER BY cosine_sim DESC, c.vec_id
        LIMIT 10"""

  private def buildPqArtifacts(s: SparkSession, dir: String,
      cat: graft.core.Catalog): Unit = {
    // shared materialization, as [[buildIvfArtifacts]] (r20)
    Scope {
      val emb = Scope.persist(t(s, dir, "embeddings"))
      val cb = Pq.trainCodebooks(emb, m = 8, k = 64, iters = 3)
      Pq.saveCodebooks(cat, "ann.q69_codebooks", cb)
      cat.save(Pq.encode(emb, cb), "ann.q69_corpus")
    }
  }

  private def servePq(cat: graft.core.Catalog): DataFrame = {
    val enc = cat.load("ann.q69_corpus")
    val qRows = Similarity.vectors(enc, Seq(0L))
    require(qRows.nonEmpty,
      "servePq: ann.q69_corpus has no vec_id 0 — corrupt/partial artifact; " +
        "delete the ann root and rerun the witness")
    val qv = qRows.head._2
    Pq.pqTopKVec(enc.filter(col("vec_id") =!= 0L), qv,
      Pq.loadCodebooks(cat, "ann.q69_codebooks"), topK = 10)
  }

  private def pqSearchOracle = pqSearchOracleFor("q69")

  /** The PQ ADC-search oracle parameterized by artifact tag — q69's SQL
    * verbatim over another tag's persisted codebooks/corpus (q90: the
    * append-maintained index; search semantics never depend on how rows
    * entered it). */
  private def pqSearchOracleFor(tag: String) = s"""
        WITH cb AS (
          SELECT sub, code, CAST(centroid AS DOUBLE[]) AS c
          FROM read_parquet('$AnnOracleRoot/ann/${tag}_codebooks/*.parquet')),
        corpus AS (
          SELECT vec_id, codes, CAST(embedding AS DOUBLE[]) AS v
          FROM read_parquet('$AnnOracleRoot/ann/${tag}_corpus/*.parquet')),
        q AS (SELECT v AS qv FROM corpus WHERE vec_id = 0),
        parts AS (
          SELECT e.vec_id,
            list_sum(list_transform(range(1, 9), d ->
              (q.qv[(j.j - 1) * 8 + d] - cb.c[d]) * (q.qv[(j.j - 1) * 8 + d] - cb.c[d]))) AS dd
          FROM corpus e
          CROSS JOIN range(1, 9) AS j(j)
          JOIN cb ON cb.sub = j.j - 1 AND cb.code = e.codes[j.j]
          CROSS JOIN q
          WHERE e.vec_id <> 0)
        SELECT vec_id, round(SUM(dd), 6) AS adc
        FROM parts GROUP BY vec_id
        ORDER BY adc, vec_id
        LIMIT 10"""

  private def buildIvfPqArtifacts(s: SparkSession, dir: String,
      cat: graft.core.Catalog): Unit = {
    // shared materialization, as [[buildIvfArtifacts]] (r20): BOTH
    // trainers plus the encode-write read it
    Scope {
      val emb = Scope.persist(t(s, dir, "embeddings"))
      val cents = Ivf.trainCentroids(emb, k = 8, iters = 3)
      val cb = Pq.trainCodebooks(emb, m = 8, k = 64, iters = 3)
      Ivf.saveCentroids(cat, "ann.q70_centroids", cents)
      Pq.saveCodebooks(cat, "ann.q70_codebooks", cb)
      cat.save(Pq.encode(Ivf.assign(emb, cents), cb), "ann.q70_corpus",
        partitionBy = Seq("cluster"))
    }
  }

  private def serveIvfPq(cat: graft.core.Catalog): DataFrame = {
    val corpus = cat.load("ann.q70_corpus")
    val qRows = Similarity.vectors(corpus, Seq(0L))
    require(qRows.nonEmpty,
      "serveIvfPq: ann.q70_corpus has no vec_id 0 — corrupt/partial artifact; " +
        "delete the ann root and rerun the witness")
    val qv = qRows.head._2
    Pq.ivfPqTopKVec(corpus.filter(col("vec_id") =!= 0L),
      Ivf.loadCentroids(cat, "ann.q70_centroids"),
      Pq.loadCodebooks(cat, "ann.q70_codebooks"),
      qv, topK = 10, nProbe = 3, shortlist = 10)
  }

  private def ivfPqSearchOracle = ivfPqSearchOracleFor("q70")

  private def ivfPqSearchOracleFor(tag: String) = s"""
        WITH cents AS (
          SELECT CAST(cluster AS BIGINT) AS cluster, CAST(centroid AS DOUBLE[]) AS c
          FROM read_parquet('$AnnOracleRoot/ann/${tag}_centroids/*.parquet')),
        cb AS (
          SELECT sub, code, CAST(centroid AS DOUBLE[]) AS c
          FROM read_parquet('$AnnOracleRoot/ann/${tag}_codebooks/*.parquet')),
        corpus AS (
          SELECT vec_id, codes, CAST(embedding AS DOUBLE[]) AS v, CAST(cluster AS BIGINT) AS cluster
          FROM read_parquet('$AnnOracleRoot/ann/${tag}_corpus/*/*.parquet', hive_partitioning=true)),
        q AS (SELECT v AS qv FROM corpus WHERE vec_id = 0),
        probes AS (
          SELECT cluster FROM cents, q
          ORDER BY list_distance(c, qv), cluster LIMIT 3),
        cells AS (
          SELECT * FROM corpus
          WHERE cluster IN (SELECT cluster FROM probes) AND vec_id <> 0),
        parts AS (
          SELECT e.vec_id,
            list_sum(list_transform(range(1, 9), d ->
              (q.qv[(j.j - 1) * 8 + d] - cb.c[d]) * (q.qv[(j.j - 1) * 8 + d] - cb.c[d]))) AS dd
          FROM cells e
          CROSS JOIN range(1, 9) AS j(j)
          JOIN cb ON cb.sub = j.j - 1 AND cb.code = e.codes[j.j]
          CROSS JOIN q),
        adc AS (
          SELECT vec_id, round(SUM(dd), 6) AS adc
          FROM parts GROUP BY vec_id),
        short AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 100)
        SELECT c.vec_id, round(list_inner_product(c.v, q.qv), 6) AS score
        FROM cells c JOIN short s ON c.vec_id = s.vec_id, q
        ORDER BY score DESC, c.vec_id
        LIMIT 10"""

  /** The q46/q50 derived corpus — the embeddings plus a +0.05 elementwise
    * twin of every vector under vec_id+1000000. ONE definition: the offset
    * and perturbation are the proof's contract with BOTH entries' oracles
    * ("same derived corpus"), so they must not be spelled twice. */
  private def twinCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select(
      col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val twins = base.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.05d)).as("embedding"))
    base.unionAll(twins)
  }

  /** Source facts and the deterministically degraded downstream copy
    * (every 97th row dropped, every 101st value doubled — the reference's
    * reconciliation discrepancy classes, reconciliation_detector.py:104-128),
    * both published through [[graft.core.Catalog.saveBucketed]] on the join
    * key. Returns the two published table names. */
  private def publishReconTables(s: SparkSession, dir: String): (String, String) = {
    val cat = new graft.core.Catalog(s, dir)
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val degraded = ev
      .filter(pmod(col("event_id"), lit(97)) =!= 0)
      .select(col("event_id"),
        when(pmod(col("event_id"), lit(101)) === 0, col("value") * 2)
          .otherwise(col("value")).as("dst_value"))
    val (srcRef, dstRef) = reconRefs(dir)
    // one-time migration sweep: pre-sf-keying runs published these under
    // unkeyed names; without the drop their tables and warehouse parquet
    // stay resident forever on any environment that ran the old q53/q54.
    // Guarded by the catalog-only probe so the steady state (and q53's
    // benched seconds) never pays the filesystem sweep
    Seq("recon.src_facts", "recon.dst_facts")
      .filter(cat.hasBucketed).foreach(cat.dropBucketed(_))
    (cat.saveBucketed(ev, srcRef, "event_id", 8),
      cat.saveBucketed(degraded, dstRef, "event_id", 8))
  }

  /** The recon tables' catalog refs, keyed by the scale-factor directory
    * leaf — the same reason [[annRoot]] is sf-keyed: the session catalog
    * outlives a single query, so an unkeyed name published from one scale
    * factor would satisfy q54's resolve-latest lookup at ANOTHER scale
    * factor and silently serve the wrong corpus (dots in the leaf are not
    * ref separators, so they sanitize to underscores). */
  private[graft] def reconRefs(dir: String): (String, String) = {
    val leaf = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
    (s"recon.src_facts_$leaf", s"recon.dst_facts_$leaf")
  }

  /** Row-level reconciliation over two same-bucketed fact tables. The merge
    * hint pins the sort-merge path at any scale (tiny Verify inputs would
    * otherwise broadcast); with both sides bucketed on the join key the
    * plan carries NO exchange before the join (plan-asserted in OpsSpec). */
  private def reconAggregate(src: DataFrame, dst: DataFrame): DataFrame =
    src.hint("merge").join(dst, Seq("event_id"), "left")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("src_rows"),
        count(col("dst_value")).as("dst_rows"),
        sum(when(col("dst_value").isNull, 1L).otherwise(0L)).as("missing_rows"),
        sum(when(col("dst_value").isNotNull && col("dst_value") =!= col("value"), 1L)
          .otherwise(0L)).as("mismatched_rows"),
        Exact.sum6(col("value")).as("src_value"),
        Exact.sum6(coalesce(col("dst_value"), lit(0.0d))).as("dst_value"))
      .orderBy("event_type")

  // def, not val: `defs` above initializes first and would capture a null val
  private def reconOracle = """
        WITH src AS (SELECT event_id, event_type, value FROM events),
        dst AS (
          SELECT event_id,
            CASE WHEN event_id % 101 = 0 THEN value * 2 ELSE value END AS dst_value
          FROM events WHERE event_id % 97 <> 0)
        SELECT src.event_type,
          COUNT(*) AS src_rows,
          COUNT(dst.dst_value) AS dst_rows,
          CAST(SUM(CASE WHEN dst.dst_value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_rows,
          CAST(SUM(CASE WHEN dst.dst_value IS NOT NULL AND dst.dst_value <> src.value
              THEN 1 ELSE 0 END) AS BIGINT) AS mismatched_rows,
          CAST(SUM(CAST(src.value AS DECIMAL(18,6))) AS DOUBLE) AS src_value,
          CAST(SUM(CAST(COALESCE(dst.dst_value, 0) AS DECIMAL(18,6))) AS DOUBLE) AS dst_value
        FROM src LEFT JOIN dst ON src.event_id = dst.event_id
        GROUP BY 1 ORDER BY 1"""
}
