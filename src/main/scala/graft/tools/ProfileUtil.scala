package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** Shared substrate for the profiling tools (dev-only, not part of the
  * driver contract): the executed-plan walk, the CPU and I/O calibration
  * sentinels every banked leg carries, and the scaled-corpus builder with
  * construction-parameter-encoded completion markers.
  *
  * The metric walk exists because the obvious readout is silently wrong
  * twice over (the round-14 lesson, VERDICT r14/ADVICE): `df.count()`
  * runs a SEPARATE QueryExecution (count wraps the plan in
  * `groupBy().count()`), so metrics read afterwards from
  * `df.queryExecution.executedPlan` come from a never-executed adaptive
  * plan whose counters are all zero; and materialized AQE stages plus
  * cached relations are leaves of the final plan — a walk that does not
  * recurse into `QueryStageExec.plan` / `InMemoryRelation.cachedPlan`
  * misses every exchange (and every spill) that ran inside them. */
object ProfileUtil {

  /** Every node of an EXECUTED plan, each visited exactly once, in
    * pre-order with its depth: recurses through children, subqueries,
    * finalized adaptive plans, materialized query stages, and
    * cached-relation interiors (each distinct cache entered once via its
    * `cacheBuilder` identity — two scans of one persisted relation share
    * one materialization, and its metrics must not double). Sum a metric
    * over it for a plan total (`p.metrics.get("spillSize")`), or keep
    * the nodes for a per-node attribution. Read it from the QueryExecution that
    * actually ran (`qe.toRdd.count()`, or a QueryExecutionListener's
    * `qe`), never after a `df.count()`. */
  def executedNodes(root: SparkPlan): Seq[(SparkPlan, Int)] = {
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    val out = collection.mutable.ArrayBuffer.empty[(SparkPlan, Int)]
    def walk(p: SparkPlan, depth: Int): Unit = {
      out += p -> depth
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: InMemoryTableScanExec =>
          if (seenCaches.add(c.relation.cacheBuilder)) Seq(c.relation.cachedPlan)
          else Nil
        case other => other.children
      }
      (kids ++ p.subqueries).foreach(walk(_, depth + 1))
    }
    walk(root, 0)
    out.toSeq
  }

  /** The calibration bracket every banked leg carries: one warm-up rep
    * (codegen compile, never timed), then min-of-3 of the I/O-free
    * sentinel. A leg bracketed ≥ ~1.5× the session's calm floor is
    * re-run or discarded, never banked (SCALE.md §Round 14 protocol). */
  def calib(spark: SparkSession): Double = {
    graft.Bench.calibrationOnce(spark)
    (1 to 3).map(_ => graft.Bench.calibrationOnce(spark)).min
  }

  /** I/O-side calm floor: min-of-3 of the fsync'd-write sentinel
    * ([[graft.Bench.ioProbeOnce]] — a 256 MiB synchronous write to the
    * shuffle filesystem, ~0.45-0.6 s calm on this host; no warm-up needed,
    * there is no codegen to compile). Exists because the CPU sentinel is
    * provably blind to I/O-side host contention: the round-15 q60
    * candidateHashJoin A/B's worst leg ran at a CALM CPU bracket while its
    * wall integrated an I/O storm, leaving the A/B unadjudicable (SCALE.md
    * §R15). Same banking rule as [[calib]]: a leg whose bracket reads
    * ≥ ~1.5× the session's calm floor is re-run or discarded. */
  def ioCalib(): Double = (1 to 3).map(_ => graft.Bench.ioProbeOnce()).min

  /** Both sentinels, as every banked leg should carry them from round 16
    * on: (CPU floor, I/O floor). A leg is CALM only when BOTH read at
    * their session floors — calm-CPU + stormy-I/O legs are exactly the
    * shape that left round-15's seam A/B ambiguous. */
  def calibBoth(spark: SparkSession): (Double, Double) =
    (calib(spark), ioCalib())

  /** Synthetic scaled documents corpus: `copies` disjoint-token copies of
    * `srcDir/documents.parquet` (per-copy token prefixes keep shingle sets
    * across copies disjoint — organic near-dup density preserved, no
    * cross-copy cliques fabricated), repartitioned to `parts`. The
    * completion marker encodes every construction parameter PLUS the
    * source tag, so changing any of them — including deriving the fourth
    * decade from sf10 instead of a 1000-way sf0.1 union — invalidates
    * stale bytes instead of silently re-measuring a different layout
    * (ADVICE r14: a stale `_SCALED_OK_v1` would have reused an
    * old-construction corpus and perturbed the banked exponents). */
  def buildScaledDocs(spark: SparkSession, srcDir: String, dir: String,
                      copies: Int, pfx: String, parts: Int): Unit = {
    val srcTag = srcDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val marker = new java.io.File(s"$dir/_SCALED_OK_${srcTag}_${copies}x_${pfx}_p$parts")
    if (marker.exists()) return
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val nDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    (0 until copies).map { i =>
      docs.select(
        (col("doc_id") + lit(i.toLong * nDoc)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(lit(s"$pfx$i"), t)), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    marker.createNewFile()
    println(s"[scale] built ${copies}x $srcDir corpus at $dir")
  }

  /** The three shared scaled-docs corpora (second/third/fourth decade over
    * the sf0.1 bench corpus), built idempotently under the parameter-coded
    * markers above. Returns (sf1Dir, sf10Dir, sf100Dir); the fourth-decade
    * build only runs when `fourth` is set (it costs minutes). */
  def scaledDocsDirs(spark: SparkSession, fourth: Boolean): (String, String, String) = {
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = sys.env.getOrElse("GRAFT_SF1_DOCS_DIR", "/tmp/graft_scale3_sf1")
    val sf10 = sys.env.getOrElse("GRAFT_SF10_DOCS_DIR", "/tmp/graft_scale3_sf10")
    val sf100 = sys.env.getOrElse("GRAFT_SF100_DOCS_DIR", "/tmp/graft_scale4_sf100")
    buildScaledDocs(spark, sf01, sf1, 10, "c", 32)
    buildScaledDocs(spark, sf01, sf10, 100, "c", 32)
    // derived from sf10 under a SECOND prefix layer — tokens "d<j>c<i>w"
    // stay globally disjoint across all 1000 effective copies and Catalyst
    // sees a 10-way union instead of a 1000-branch plan
    if (fourth) buildScaledDocs(spark, sf10, sf100, 10, "d", 128)
    (sf1, sf10, sf100)
  }

  /** Standalone corpus build (`runMain graft.tools.ProfileUtil [fourth]`)
    * so the scaled corpora can be (re)built once, ahead of a measurement
    * session, instead of silently inside its first timed tool. */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dirs = scaledDocsDirs(spark, fourth = args.contains("fourth"))
    println(s"[scale] corpora ready: $dirs")
    spark.stop()
  }
}
