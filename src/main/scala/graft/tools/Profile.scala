package graft.tools

import graft.GraftSession
import graft.queries.Queries
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only: run a declared query and say where its time went, all from
  * the same run:
  *   - the Spark JOBS it submits (eager routing/stats actions, broadcast
  *     builds, driver collects, the final materialize) with their wall
  *     time — how many driver round trips the plan really pays;
  *   - every node of every EXECUTED plan (main query + the eager actions)
  *     with its time-like SQL metrics (codegen span duration, shuffle
  *     write/fetch wait, sort/agg time, broadcast build), output rows and
  *     spill — the operator-grain view the job table cannot give;
  *   - the spilling nodes ranked by bytes, so an aggregate spill number is
  *     attributed to the operator that paid it (a sort-merge join's input
  *     sorts, an aggregate's hash-map overflow and a too-narrow exchange
  *     each want a different fix);
  *   - how many generated classes the run compiled with Janino (`compiled=`,
  *     next to the job count): 0 once the session's codegen cache holds the
  *     query's classes, so a non-zero count on a later rep is codegen cost.
  * Node ids (`#id`) match across the last two sections.
  *
  * Usage: runMain graft.tools.Profile <query> [sfDir] [reps]
  */
object Profile {
  private val keep = Set("duration", "time in aggregation build", "sort time",
    "shuffle write time", "fetch wait time", "time to build hash map",
    "time to broadcast", "time to collect", "scan time",
    "task commit time", "shuffle records written", "number of output rows",
    "spill size")

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = Queries.all(name)
    def release(): Unit = {
      GraftSession.releaseCaches(spark, blocking = true)
      System.gc()
    }
    // warm-up (codegen)
    try graft.Bench.materialize(fn(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => }
    release()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
    val plans = collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("") +
            " stages=" + j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString("|").take(120)))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null) jobs.synchronized {
          jobs += ((j.jobId, (System.nanoTime() - s._1) / 1e9, s._2))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += ((f"$funcName ${durationNs / 1e9}%.3fs", qe.executedPlan)) }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })

    (1 to reps).foreach { rep =>
      val c0 = ProfileUtil.calib(spark)
      // both listeners are fed from the asynchronous listener bus: let the
      // sentinel's events land before capture starts, and the query's
      // before they are read
      Thread.sleep(1500)
      jobs.synchronized(jobs.clear())
      plans.synchronized(plans.clear())
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      graft.Bench.materialize(fn(spark, dir))
      val total = (System.nanoTime() - t0) / 1e9
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      Thread.sleep(1500)
      println(f"== $name rep$rep total=$total%.3f calib=$c0%.3f")

      val jobSnap = jobs.synchronized(jobs.toSeq)
      println("-- jobs")
      jobSnap.sortBy(_._1).foreach { case (id, dt, d) =>
        println(f"  job$id%-4d $dt%7.3f  $d")
      }
      println(f"  jobs=${jobSnap.length} compiled=$compiled jobSum=${jobSnap.map(_._2).sum}%.3f")

      val spills = collection.mutable.ArrayBuffer.empty[(String, Long)]
      plans.synchronized(plans.toSeq).foreach { case (tag, root) =>
        println(s"-- execution: $tag")
        ProfileUtil.executedNodes(root).foreach { case (p, depth) =>
          val ms = p.metrics.toSeq
            .filter { case (k, m) => keep.exists(m.name.getOrElse(k).contains) }
            .map { case (k, m) => s"${m.name.getOrElse(k)}=${m.value}" }
          val detail = ("  " * depth + s"#${p.id} " +
            p.simpleString(8).replaceAll("\\s+", " ")).take(140)
          println("  " + detail + (if (ms.nonEmpty) "  [" + ms.mkString(", ") + "]" else ""))
          p.metrics.get("spillSize").map(_.value).filter(_ > 0)
            .foreach(v => spills += s"${p.nodeName}#${p.id}" -> v)
        }
      }
      println(f"-- spill by node: total=${spills.map(_._2).sum >> 20} MB")
      spills.sortBy(-_._2).foreach { case (n, v) => println(f"  ${v >> 20}%8d MB  $n") }
      Console.flush()
      release()
    }
    spark.stop()
  }
}
