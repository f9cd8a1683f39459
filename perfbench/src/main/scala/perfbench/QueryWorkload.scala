package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.queries.Queries

/** A list of declared queries over the committed parquet tables. One pass
  * runs every query once, in an order drawn from the seed. Each operation is
  * timed from the query call until its output is materialized and the
  * session's persisted blocks are released. The set-up's verify pass
  * compares each query's result with its committed digest; a mismatch or a
  * throw fails that query's operations for the whole run. */
final class QueryWorkload(spark: SparkSession, dataDir: String, stems: Seq[String], seed: Long,
                          digests: Map[String, Digest.Value]) extends Workload {

  private val byStem: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map { case (name, fn) => name.takeWhile(_ != '_') -> fn }
  require(stems.forall(byStem.contains), s"unknown query in $stems")

  val opNames: Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    val xs = stems.toArray
    (xs.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs.toSeq
  }

  private var bad = Set.empty[String]

  def setup(phases: Phases): Unit = {
    bad = phases.time("verify")(opNames.filterNot { q =>
      val got = try Some(Digest.of(byStem(q)(spark, dataDir))) catch {
        case e: Exception => System.err.println(s"[perfbench] $q failed: $e"); None
      }
      GraftSession.releaseCaches(spark, blocking = true)
      val ok = got.isDefined && got == digests.get(q)
      if (!ok) System.err.println(s"[perfbench] $q digest ${got.orNull} != committed ${digests.get(q).orNull}")
      ok
    }.toSet)
  }

  /** The digests of this run's results, in committed-file form. */
  def digestLines(): Seq[String] = opNames.sorted.map { q =>
    val d = Digest.of(byStem(q)(spark, dataDir))
    GraftSession.releaseCaches(spark, blocking = true)
    s"$q\t$d"
  }

  def pass(tracer: Option[Tracer], phases: Phases): Seq[Op] = opNames.map { q =>
    val fn = byStem(q)
    val (seconds, r) = Main.timed(tracer match {
      case None =>
        Main.materialize(fn(spark, dataDir))
        GraftSession.releaseCaches(spark, blocking = true)
      case Some(t) => t.span(q) {
        val df = t.span("queries.build")(fn(spark, dataDir))
        t.span("queries.plan")(df.queryExecution.executedPlan)
        t.span("queries.exec")(Main.materialize(df))
        t.sampleCachedBytes()
        t.span("session.release")(GraftSession.releaseCaches(spark, blocking = true))
      }
    })
    Main.settle()
    Op(q, seconds, r.isRight && !bad(q))
  }

  def layerMetrics(t: Tracer, passes: Int): Map[String, Double] = {
    val spans = t.allSpans
    val opSpans = spans.filter(_.parent == -1)
    def sec(layer: String) = spans.filter(_.name == layer).map(_.durUs).sum / 1e6 / passes
    Seq("queries.build", "queries.plan", "queries.exec").map(l => s"${l}_s" -> sec(l)).toMap ++
      opNames.map { q =>
        val ids = opSpans.filter(_.name == q).map(_.id).toSet
        s"query.$q.jobs" -> t.countsOf(s => ids(s.id)).jobs.toDouble / passes
      }
  }
}
