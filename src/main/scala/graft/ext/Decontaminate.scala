package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Scope

/** Eval-set decontamination: drop (or flag) training documents that share
  * any word n-gram with an evaluation set — the published train/test
  * contamination rule (GPT-3 appendix C's 13-gram overlap; Lee et al. 2021
  * dedup/decontamination), a DIFFERENT relation than near-dup similarity:
  * one shared n-gram contaminates, however dissimilar the rest of the
  * document is.
  *
  * Scale posture: eval sets are small by construction (thousands of
  * documents → millions of n-grams), so the reference set broadcasts and
  * the train side streams scan-stage: `explode` of the n-gram array feeds
  * a broadcast left-semi join, no train-side shuffle — only the matched
  * doc ids (tiny) pass through a distinct. When the reference set outgrows
  * a broadcast (many eval suites × languages), [[contaminatedIdsBloom]]
  * prunes the exploded n-grams with a Bloom filter AT SCAN TIME first —
  * no false negatives, and false positives only admit candidates the
  * exact join then rejects, so the result is bit-identical (ExtSpec pins
  * the equivalence) while the shuffle sees only near-hits.
  */
object Decontaminate {

  /** Whitespace word n-grams of `text` as space-joined strings; documents
    * shorter than `n` tokens yield an empty array. Routed through the
    * single-pass native [[graft.functions.WordNgrams]] — the interpreted
    * HOF form ([[ngramsComposable]]) has no codegen and measured ~20×
    * slower on the q64 explode stage. */
  def ngrams(text: Column, n: Int): Column =
    graft.functions.WordNgrams(text, n)

  /** The composable reference-semantics twin of [[ngrams]] — kept for the
    * ExtSpec bit-identity test. The `size >= n` guard matters: Spark's
    * `sequence(1, 0)` is DESCENDING `[1, 0]`, not empty. (On null text
    * this yields an empty array where the native form yields null —
    * indistinguishable through `explode`, which drops both.) */
  def ngramsComposable(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be positive, got $n")
    val toks = TextStats.tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** The distinct n-gram reference set of the eval corpus — one `ngram`
    * column, built once and reused across every training shard. */
  def evalNgrams(eval: DataFrame, text: Column, n: Int): DataFrame =
    eval.select(explode(ngrams(text, n)).as("ngram")).distinct()

  /** Ids of training documents sharing at least one n-gram with the
    * reference set (`evalNg` must be [[evalNgrams]]-shaped). Exact:
    * exploded train n-grams → broadcast left-semi → distinct ids. */
  def contaminatedIds(train: DataFrame, id: Column, text: Column,
      evalNg: DataFrame, n: Int): DataFrame =
    train.select(id.as("__cid"), explode(ngrams(text, n)).as("ngram"))
      .join(broadcast(evalNg), Seq("ngram"), "left_semi")
      .select(col("__cid")).distinct()

  /** [[contaminatedIds]] for an un-broadcastable reference set: a Bloom
    * filter over the eval n-grams prunes the exploded train side at scan
    * time (same native BloomFilterAggregate/MightContain pair as
    * [[graft.ops.Joins.missingKeysBloom]], via xxhash64), then the exact
    * semi-join — left unhinted, its left side is already near-hits only —
    * settles false positives. Bit-identical to the exact form. */
  def contaminatedIdsBloom(train: DataFrame, id: Column, text: Column,
      evalNg: DataFrame, n: Int,
      approxNgrams: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(approxNgrams, fpp)
    val buildAgg = GraftColumnBridge.column(
      new BloomFilterAggregate(
        GraftColumnBridge.expression(xxhash64(col("ngram"))),
        Literal(approxNgrams), Literal(numBits)).toAggregateExpression())
    val filterBytes = evalNg.agg(buildAgg).head().getAs[Array[Byte]](0)
    val probe = GraftColumnBridge.column(new BloomFilterMightContain(
      Literal.create(filterBytes, BinaryType),
      GraftColumnBridge.expression(xxhash64(col("ngram")))))
    train.select(id.as("__cid"), explode(ngrams(text, n)).as("ngram"))
      .filter(probe)
      .join(evalNg, Seq("ngram"), "left_semi")
      .select(col("__cid")).distinct()
  }

  /** `train` plus a `contaminated` flag (reporting form — how much each
    * slice would lose). The matched-id set is tiny, so it broadcasts back. */
  def flagContaminated(train: DataFrame, id: Column, text: Column,
      evalNg: DataFrame, n: Int): DataFrame =
    train.join(broadcast(contaminatedIds(train, id, text, evalNg, n)),
        id === col("__cid"), "left")
      .withColumn("contaminated", col("__cid").isNotNull)
      .drop("__cid")

  /** The filtering form: `train` without contaminated documents. */
  def decontaminate(train: DataFrame, id: Column, text: Column,
      evalNg: DataFrame, n: Int): DataFrame =
    train.join(broadcast(contaminatedIds(train, id, text, evalNg, n)),
      id === col("__cid"), "left_anti")

  /** Per-row contamination predicate — the STREAMING / serving form. The
    * join paths need a distinct over matched ids (a stateful aggregation
    * an append-mode stream can't run); this collects the reference set
    * once and tests each document's own n-grams through a native hash-set
    * probe, so it is a stateless scan-stage filter that attaches to any
    * plan, batch or streaming (StreamingSpec pins the stream twin against
    * the batch flags).
    *
    * Set encoding is size-routed. Small sets ride the plan as an
    * [[graft.functions.AnyInSet]] literal (no broadcast round-trip).
    * Above [[PredicateLiteralMax]] the set backs a broadcast variable
    * ([[graft.functions.AnyInSetBc]]) — the plan-literal form serializes
    * the whole set into EVERY task binary (measured ~87 MB of task bytes
    * and 2.5 s vs 0.42 s per local job at 10^6 13-grams), while the
    * broadcast ships once per executor. Above [[PredicateMaxNgrams]] the
    * driver-side collect and per-executor hash set are the failure mode
    * regardless of encoding, and the call fails loudly BEFORE collecting
    * anything (a cheap count, not a driver OOM), pointing at
    * [[contaminatedIdsBloom]] — the form whose train side never holds
    * the reference set in one heap.
    *
    * Broadcast lifetime: the broadcast variable backing the large-set form
    * is released by Spark's ContextCleaner once the returned Column (and
    * any plan holding it) becomes unreachable — same lifecycle as a
    * broadcast join's. A long-lived session that rebuilds the predicate
    * per eval-suite refresh should drop references to the old Column so
    * the tens-of-MB payload can be reclaimed. */
  def contaminationPredicate(evalNg: DataFrame, text: Column, n: Int): Column = {
    // the ceiling guard (count) and the collect both execute the eval
    // pipeline — typically an explode + distinct shuffle; persist so the
    // plan materializes once, not twice per predicate construction. A
    // caller following the "built once, reused across shards" advice may
    // have cached evalNg itself: the Scope leaves that cache alone.
    val items = Scope {
      val cached = Scope.persist(evalNg)
      val total = cached.count()
      require(total <= PredicateMaxNgrams,
        s"contaminationPredicate: $total eval n-grams exceeds the " +
          s"driver-collectable ceiling of $PredicateMaxNgrams — use " +
          "contaminatedIdsBloom (scan-time Bloom prune + exact semi-join) " +
          "for reference sets this large")
      cached.collect().map(_.getString(0))
    }
    val probe =
      if (items.length <= PredicateLiteralMax)
        graft.functions.AnyInSet(ngrams(text, n), items.toIndexedSeq)
      else
        graft.functions.AnyInSetBc(ngrams(text, n),
          evalNg.sparkSession.sparkContext.broadcast(items))
    // coalesce: null text has no n-grams, so it is NOT contaminated —
    // without it the native null propagates and `filter(!pred)` silently
    // drops null-text rows the join forms keep (stream/batch divergence)
    coalesce(probe, lit(false))
  }

  /** Largest reference set carried as a plan literal (~0.5 MB of task
    * bytes at 13-gram sizes — noise); bigger sets take the broadcast. */
  private[ext] val PredicateLiteralMax = 10000

  /** Hard ceiling for the predicate forms: past ~10^7 n-grams the
    * driver-side collect and per-executor hash set (~GBs) are the wrong
    * tool regardless of encoding. */
  private[ext] val PredicateMaxNgrams = 10000000
}
