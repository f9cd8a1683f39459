package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Designed for a real cluster (the settings below are the ones that matter at
  * 100 TB: AQE re-planning, skew-join splitting, partition coalescing) but
  * testable on local[N]. Shuffle partitions default to the local core count —
  * on a cluster, set `spark.sql.shuffle.partitions` (or rely on AQE coalescing)
  * via spark-submit conf.
  */
object GraftSession {

  def builder(master: String = s"local[${defaultCpus}]",
              shufflePartitions: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // native engine functions (vector_dot / vector_cosine) — see graft.plans
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // pandas/Glue-parity: implicit casts + coerce-to-null instead of errors
      // (SURVEY §8.4: the reference runs non-ANSI PySpark on Glue 4.0).
      .config("spark.sql.ansi.enabled", "false")
      // the driver testdata stores events.ts as parquet INT64 TIMESTAMP(NANOS),
      // which Spark cannot represent natively; read as long and convert.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // id-shortlist fetches (the ANN refine tier's vector fetch) push an
      // isin over row-group-sorted ids into the parquet scan; past this
      // threshold Spark degrades the pushed In to a min/max range, which
      // skips nothing over hash-scattered ids — raise it to cover a
      // serving-shaped shortlist (row-group stat eval is per row GROUP,
      // so a 1024-term In costs microseconds per file)
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      // a table with more partition directories than this is listed by a
      // Spark job with one task per directory; below it, on the driver.
      // Spark's default is 32, and that job cost ~0.3 s per listing of the
      // 61-partition cashback table on 4 cores. A year of daily partitions
      // (366) now lists on the driver; a table past 1024 partitions (the
      // cluster case) goes back to the distributed listing job.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // Spark's LRU cache of compiled generated classes (whole-stage
      // iterators, projections, predicates). An entry is one class source
      // per class loader; the driver and the executor threads each hold one.
      // Measured at local[4], one pass fills 268 entries for the seven
      // corpus-operator queries (q24 q41 q60 q62 q72 q90 q113), 28 for a
      // cashback load and its rerun on the golden fixture, and 1,387 for
      // all 134 queries at sf0.001 (1,400 after three passes). At Spark's
      // default of 100 the LRU evicts classes each pass needs again, and
      // Janino recompiles ~290 of them on every corpus pass. 4096 holds the
      // whole suite with ~3x headroom, so a long-lived session compiles each
      // class once. The conf is static and JVM-wide: Spark sizes the cache
      // once, from the session active when the first class in the JVM is
      // compiled, so it takes effect only when a session built here is the
      // first to generate code in the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Whole-stage classes are named after their codegen stage id, which AQE
      // assigns in stage finish order, so the same pipeline came back under
      // a new name and compiled again on later passes (2-26 compiles per
      // corpus pass with the cache above). Without the id its source does not
      // change between calls; the id stays in the plan's `*(n)` markers, and
      // stack traces name the class `GeneratedIterator`.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(Runtime.getRuntime.availableProcessors(), 32))

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Lifecycle owner for the engine's internal persists. The dedup/ANN
    * operators persist intermediate relations (hashed token sets, SimHash
    * signatures, PPJoin prefixes) because their self-joins consume each one
    * twice and Catalyst does not reuse those exchanges (measured: q24/q26
    * run ~2×/1.5× slower without the persist). Those blocks are
    * session-scoped by design — a long-lived session calls this between
    * logical jobs to return to a clean block manager, exactly as
    * `graft.Bench` does between timed runs. */
  def releaseCaches(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }
}
