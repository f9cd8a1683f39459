package graft

import graft.queries.Queries
import org.apache.spark.metrics.source.CodegenMetrics

/** A long-lived session compiles each generated class once. The corpus
  * operators' first round fills Spark's codegen cache; a second round, back
  * to back in the same session, finds its classes there. At Spark's default
  * cache size (100 entries) the second round recompiles nearly all of them
  * (269 at sf0.001), so this spec fails if [[GraftSession]] stops sizing
  * the cache, or if the generated source starts to vary between calls. */
class CodegenReuseSpec extends SparkSpec {
  private val corpus = Seq("q24", "q41", "q60", "q62", "q72", "q90", "q113")

  /** Classes a steady round may still compile: twice the largest count
    * measured, 0-8 per round at sf0.001. They are plan variants AQE picks
    * by stage finish order: the bitmap Jaccard self-join of q24 and q41
    * swaps its broadcast side, which reorders operands in the generated
    * join code, and q113's `doremiWeights` stage has more than one shape.
    * Each new variant compiles once per class loader (driver and executor
    * threads), so it costs 2. */
  private val Residual = 16

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def round(): Long = {
    val c0 = compiles
    corpus.foreach { stem =>
      val fn = Queries.all.collectFirst { case (n, f) if n.startsWith(stem + "_") => f }.get
      Bench.materialize(fn(spark, sf))
      GraftSession.releaseCaches(spark, blocking = true)
    }
    compiles - c0
  }

  test("a second round of the corpus queries compiles at most the residual classes") {
    val first = round()
    val second = round()
    assert(second <= Residual,
      s"the second round compiled $second classes (first round: $first)")
  }
}
