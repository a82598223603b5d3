package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Catalog
import graft.ext.{Ivf, Pq}
import graft.queries.Q

/** `serve`: a closed loop of top-k searches for seed-chosen query vectors,
  * rotating IVF, PQ and IVF-PQ over Catalog-persisted indexes, in passes of
  * 30 requests. Every 10th
  * request appends new vectors to one index and then searches until the
  * first of them is returned. Measures per-request latency, the small
  * driver actions each search makes, and partition pruning. Every timed
  * search's result goes to run.py, which checks its recall@10 against an
  * exact cosine top-10 over the index's contents at that moment. */
object ServeWorkload {
  val kinds = Seq("ivf", "pq", "ivfpq")
  val nList = 16
  val nProbe = 2
  val topK = 10
  val appendEvery = 10
  /** Requests per pass: three appends, one into each index. */
  val passRequests = 30
  private val queryCount = 64
  private val warmRequests = 6

  def corpusRef(kind: String) = s"ann.${kind}_corpus"
  private val centroidsRef = "ann.centroids"
  private val codebooksRef = "ann.codebooks"

  private def vec(r: Row, i: Int): Array[Double] = r.getSeq[Float](i).map(_.toDouble).toArray

  def run(h: Harness): Unit = {
    val spark = h.spark
    val cat = new Catalog(spark, s"${h.workDir}/serve-catalog")
    val emb = Q.t(spark, h.dataDir, "embeddings").persist(StorageLevel.MEMORY_AND_DISK)
    val n = emb.count()
    // build once: centroids and codebooks trained on the corpus, then the
    // three corpora (cluster-partitioned for IVF and IVF-PQ)
    def step[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally h.set(s"setup.$name", (System.nanoTime() - t0) / 1e9)
    }
    val cents = step("train_centroids_s")(Ivf.trainCentroids(emb, k = nList, iters = 3))
    val cb = step("train_codebooks_s")(Pq.trainCodebooks(emb, m = 8, k = 64, iters = 3))
    step("write_indexes_s") {
      Ivf.saveCentroids(cat, centroidsRef, cents)
      Pq.saveCodebooks(cat, codebooksRef, cb)
      cat.save(Ivf.assign(emb, cents), corpusRef("ivf"), partitionBy = Seq("cluster"))
      cat.save(Pq.encode(emb, cb), corpusRef("pq"))
      cat.save(Pq.encode(Ivf.assign(emb, cents), cb), corpusRef("ivfpq"),
        partitionBy = Seq("cluster"))
    }
    val qIds = Seq.fill(queryCount)(h.rng.nextLong(n)).distinct
    val queries = emb.filter(col("vec_id").isin(qIds: _*)).select("vec_id", "embedding")
      .collect().sortBy(_.getLong(0)).map(r => (r.getLong(0), vec(r, 1)))
    emb.unpersist()
    val appends = Q.t(spark, h.dataDir, "appends")
    val appendBatches = appends.select(col("batch")).distinct().collect().map(_.getInt(0)).sorted
    val appendHeads = appends.filter(col("first")).select("batch", "vec_id", "embedding")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), vec(r, 2))).toMap

    /** One search; returns the ids in rank order. */
    def search(kind: String, qv: Array[Double], op: Int): Seq[Long] = {
      val t0 = System.nanoTime()
      val corpus = h.tracer.span("core", "Catalog.load", op)(cat.load(corpusRef(kind)))
      val t1 = System.nanoTime()
      val df: DataFrame = h.tracer.span("ext", s"$kind.topk", op) {
        kind match {
          case "ivf" => Ivf.ivfTopKPartitionedVec(corpus, Ivf.loadCentroids(cat, centroidsRef),
            qv, topK, nProbe)
          case "pq" => Pq.pqTopKRerankVec(corpus, qv, Pq.loadCodebooks(cat, codebooksRef),
            topK, shortlist = 10)
          case "ivfpq" => Pq.ivfPqTopKVec(corpus, Ivf.loadCentroids(cat, centroidsRef),
            Pq.loadCodebooks(cat, codebooksRef), qv, topK, nProbe, shortlist = 10)
        }
      }
      val t2 = System.nanoTime()
      h.mean("ann.corpus_load_ms", (t1 - t0) / 1e6)
      h.mean("ann.centroids_load_ms", (t2 - t1) / 1e6)
      h.mean("queries.construct_ms", (t2 - t0) / 1e6)
      if (h.traced) h.mean("queries.construct_jobs", h.jobsSoFar(op).toDouble)
      h.plan(df, op)
      val t3 = System.nanoTime()
      val rows = h.tracer.span("spark", "collect", op)(df.collect())
      h.mean("ann.search_ms", (System.nanoTime() - t3) / 1e6)
      if (h.traced) {
        val frac = PlanFiles.filesRead(df.queryExecution.executedPlan).toDouble /
          corpus.inputFiles.length
        h.mean("ann.files_read_frac", frac)
        h.mean(s"ann.$kind.files_read_frac", frac)
      }
      rows.map(_.getLong(0)).toSeq
    }

    var request = 0
    var appended = 0
    val appendedIds = scala.collection.mutable.Map.empty[String, Set[Int]].withDefaultValue(Set())
    def next(): Unit = {
      request += 1
      if (request % appendEvery == 0 && appended < appendBatches.length) {
        val batch = appendBatches(appended)
        val kind = kinds(appended % kinds.size)
        appended += 1
        h.op("append_visible", "ext", s"append.$kind") { op =>
          val rows = appends.filter(col("batch") === batch).select("vec_id", "embedding")
          val t0 = System.nanoTime()
          h.tracer.span("ext", s"$kind.append", op) {
            kind match {
              case "ivf" => Ivf.appendAssign(cat, corpusRef(kind), centroidsRef, rows)
              case "pq" => Pq.appendEncode(cat, corpusRef(kind), codebooksRef, rows)
              case "ivfpq" => Pq.appendAssignEncode(cat, corpusRef(kind), centroidsRef,
                codebooksRef, rows)
            }
          }
          h.mean("ann.append_ms", (System.nanoTime() - t0) / 1e6)
          appendedIds(kind) += batch
          val (id, qv) = appendHeads(batch)
          if (!Iterator.range(0, 3).exists(_ => search(kind, qv, op).contains(id)))
            sys.error(s"appended vector $id never returned by $kind search")
        }
      } else {
        val kind = kinds(request % kinds.size)
        val (qid, qv) = queries(h.rng.nextInt(queries.length))
        h.op("search", "ext", s"search.$kind", also = s"search.$kind") { op =>
          val ids = search(kind, qv, op)
          if (!h.warming) h.outputs += Seq(Json.str(kind), qid.toString,
            appendedIds(kind).toSeq.sorted.mkString("[", ",", "]"),
            ids.mkString("[", ",", "]")).mkString("[", ",", "]")
        }
      }
    }

    h.warming = true
    (0 until warmRequests).foreach(_ => next())
    h.startTiming()
    h.closedLoop((0 until passRequests).foreach(_ => next()))
    h.foldProbe()
    h.foldProbe("search.spark", Set("search"))
    h.set("ann.jobs_per_search", h.values.getOrElse("search.spark.jobs", 0.0))

    // untimed verification: every appended batch is present in its index
    h.warming = true
    kinds.foreach { kind =>
      val want = appendedIds(kind).toSeq
      val have = if (want.isEmpty) 0L else cat.load(corpusRef(kind))
        .join(appends.filter(col("batch").isin(want: _*)).select("vec_id"), "vec_id").count()
      val expected = appends.filter(col("batch").isin(want: _*)).count()
      h.check(s"ann.$kind.appends_visible", have == expected,
        s"$kind holds $have of $expected appended vectors")
    }
  }
}
