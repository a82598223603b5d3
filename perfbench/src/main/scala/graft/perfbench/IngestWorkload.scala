package graft.perfbench

import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.ext.Dedup
import graft.queries.Q
import graft.streaming.IncrementalDedup

/** `ingest`: IncrementalDedup.processBatch over a seeded document stream in
  * fixed-size micro-batches, into a fresh Catalog per stream pass. State
  * grows with every batch, so a probe that scans all of it shows as rising
  * batch time; manifest commits dominate the small batches. */
object IngestWorkload {
  val threshold = 0.5
  private val docsRef = "cur.docs"
  private val bandsRef = "cur.bands"

  def run(h: Harness): Unit = {
    val spark = h.spark
    val stream = Q.t(spark, h.dataDir, "stream").select("doc_id", "text")
    val batchSize = Q.t(spark, h.dataDir, "stream_meta").head().getAs[Long]("batch_size")
    val total = stream.count()
    val batches = (total / batchSize).toInt
    val inputBytes = stream.select(sum(length(col("text")))).head().getLong(0).toDouble
    var pass = 0

    /** One pass over the stream into a fresh Catalog; returns it. */
    def streamPass(limit: Int): Catalog = {
      pass += 1
      val root = s"${h.workDir}/ingest-$pass"
      val cat = new Catalog(spark, root)
      val dedup = new IncrementalDedup(cat, docsRef, bandsRef, threshold = threshold)
      val times = (0 until limit).flatMap { b =>
        val batch = stream.filter(col("doc_id") >= b * batchSize && col("doc_id") < (b + 1) * batchSize)
        val t = h.op("ingest_batch", "streaming", s"processBatch.$b") { op =>
          val t0 = System.nanoTime()
          h.tracer.span("streaming", "processBatch", op)(dedup.processBatch(batch, b.toLong))
          (System.nanoTime() - t0) / 1e9
        }
        if (h.traced && !h.warming) {
          val t0 = System.nanoTime()
          h.tracer.span("core", "Catalog.load", 0) { cat.load(docsRef); cat.load(bandsRef) }
          h.mean("catalog.load_ms", (System.nanoTime() - t0) / 1e6)
        }
        t
      }
      if (times.size == limit && limit == batches) {
        val half = math.max(1, batches / 2)
        times.takeRight(half).foreach(h.sample("ingest_batch_late", _))
        times.take(half).foreach(h.sample("ingest_batch_early", _))
        h.sample("ingest_docs_per_s", total / times.sum)
      }
      cat
    }

    h.warming = true
    streamPass(1)
    h.startTiming()
    var last: Catalog = null
    h.closedLoop { last = streamPass(batches) }
    h.foldProbe()
    h.foldProbe("ingest_batch.spark", Set("ingest_batch"))

    // per-layer state and storage figures of the last pass (untimed)
    h.warming = true
    val state = last.load(bandsRef)
    val accepted = last.load(docsRef).select("doc_id").collect().map(_.getLong(0)).toSet
    h.set("streaming.state_rows", state.count().toDouble)
    h.set("streaming.accept_ratio", accepted.size.toDouble / total)
    h.set("catalog.versions", last.snapshotVersions(docsRef).size.toDouble)
    val files = listFiles(new java.io.File(s"${h.workDir}/ingest-$pass"))
    h.set("catalog.files_written", files.size.toDouble)
    h.set("catalog.bytes_written_per_input_byte", files.map(_.length).sum / inputBytes)

    // ingest survivors must equal one batch sweep of the same stream
    val dropped = Dedup.nearDupPairs(stream, threshold = threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val sweep = stream.join(dropped, Seq("doc_id"), "left_anti").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    h.clearCache()
    h.check("ingest.stream_equals_sweep", sweep == accepted,
      s"stream kept ${accepted.size} docs, batch sweep ${sweep.size}; " +
        s"${(sweep diff accepted).size} only in sweep, ${(accepted diff sweep).size} only in stream")
    h.check("ingest.state_is_10_batches", accepted.size >= 10 * batchSize,
      s"accepted state ${accepted.size} < 10 batches of $batchSize")
  }

  private def listFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))
}
