package graft.tools

import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkSpec}

/** The executed-plan walk every profiler reads its metrics through. Under
  * AQE the exchanges run inside materialized query stages and a cached
  * relation's interior hangs off its scan, so a walk over plain
  * `children` sees neither and reads zeros (the round-14 silent-zero trap,
  * see [[ProfileUtil]]). */
class ProfileUtilSpec extends SparkSpec {

  test("executed-plan walk enters AQE stages, visits a twice-scanned cache once, and reads live counters") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "true")
    try {
      val cached = spark.range(0, 1000, 1, 4)
        .select((col("id") % 10).as("k"), col("id")).persist()
      val qe = cached.unionAll(cached).groupBy("k").agg(sum("id")).queryExecution
      assert(qe.toRdd.count() === 10)
      assert(qe.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      val nodes = ProfileUtil.executedNodes(qe.executedPlan).map(_._1)

      val stages = nodes.collect { case q: QueryStageExec => q }
      assert(stages.nonEmpty, "AQE ran no query stage")
      assert(stages.forall(s => nodes.exists(_ eq s.plan)),
        "the walk must enter every materialized query stage")
      assert(nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
        "the aggregate's exchange lives inside a stage and must be reached")

      // two scans of one cached relation; its interior (the Range that
      // built it) is visited once, not once per scan
      assert(nodes.count(_.isInstanceOf[InMemoryTableScanExec]) === 2)
      assert(nodes.count(_.isInstanceOf[RangeExec]) === 1)

      val rows = nodes.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      assert(rows > 0, "numOutputRows read zero over the executed plan")
    } finally {
      GraftSession.releaseCaches(spark, blocking = true)
      spark.conf.set(aqeKey, aqe)
    }
  }
}
