package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the confs this engine assumes everywhere.
  *
  * Scale posture (tested on local[32], designed for a 1000-executor cluster):
  *  - AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  *    dynamic broadcast conversion replace hand-tuned partition counts when
  *    the same plans run at 100 TB.
  *  - shuffle.partitions defaults to the local core count here; on a real
  *    cluster it is set to 2-3x total cores and AQE coalesces down.
  *  - UTC session timezone: BigQuery `CURRENT_DATE()`/`DATE(ts)` are UTC-based
  *    (SURVEY §7.4); pinning UTC keeps date extraction parity.
  */
object Sessions {
  /** Entries in Spark's generated-class cache (`CodeGenerator`'s Guava LRU,
    * default 100, in 4 segments that each evict on their own). Distinct
    * classes one loop compiles, counted as JFR `jdk.ClassDefine` events of
    * `GeneratedClass` with nothing evicted: a perfbench `monitor` pass 313,
    * `graft.Verify`'s 98 queries at sf0.01 983, `graft.Bench`'s 96 queries
    * × 3 passes at sf0.1 1,014 in all. At 100 entries every repeated loop
    * evicted each class before its next use and compiled it again (Bench
    * compiled 4,934). This holds the largest loop with 2x slack. */
  val CodegenCacheEntries: Int = 2048

  /** Settings one JVM shares across its sessions: `CodeGenerator`'s cache is
    * sized by the first session that generates code, and Hadoop caches one
    * `file:` FileSystem per JVM. Every engine session and the spec session
    * apply this one map. */
  val jvmWide: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.driver.host", "localhost")
      .config(jvmWide)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
