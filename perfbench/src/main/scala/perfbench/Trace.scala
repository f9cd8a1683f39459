package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlExecutionEnd

/** One timed interval of the traced run. `op` is the operation the span
  * belongs to; an operation's own span has `parent == -1`. Times are
  * microseconds since the tracer started. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Work counters of the Spark scheduler, summed over the tasks and jobs of
  * one span (or of the whole traced run). */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, schedDelayMs, inputBytes, shuffleWriteBytes, shuffleReadBytes = 0L
  var spillBytes, outputBytes, resultBytes, catalogFilesScanned = 0L
}

/** Spans and counters of the traced run, recorded from the benchmark's own
  * code around each call into a layer of the program, plus a SparkListener:
  * jobs, stages and tasks, and the SQL metrics of each finished query
  * execution's plan by node class. Everything stays in memory until
  * [[writeSpans]].
  *
  * Jobs are attributed to the innermost open span through a job-local
  * property, so the asynchronous listener events land on the right span, and
  * a SQL execution to the span of its jobs. Work outside every span (the
  * untimed checks) is not counted. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private def nowUs: Long = (System.nanoTime() - t0Ns) / 1000

  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Int, Long)] // id, op, start
  private var nextId = 0

  val total = new Counts
  private val bySpan = mutable.Map.empty[Int, Counts]
  /** Summed SQL timing metrics (seconds of task time) per node class. */
  val sqlSeconds: mutable.Map[String, Double] =
    mutable.Map("scan" -> 0.0, "exchange" -> 0.0, "join_agg" -> 0.0, "sort_window" -> 0.0)
  var cachedBytesPeak = 0L
  /** JVM garbage-collection time inside operation spans. */
  var gcMs = 0L

  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val openJobs = mutable.Map.empty[Int, (Int, Int, Long)] // job -> (span, op, start)
  private val seenCaches = mutable.Set.empty[Int]

  private def counts(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)
  /** The run total and the span's own counters, or nothing outside spans. */
  private def counted(span: Int): Seq[Counts] = if (span == -1) Nil else Seq(total, counts(span))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      // "<span>/<op>" of the innermost span open when the job was submitted
      val Array(span, op) = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .getOrElse("-1/-1").split('/').map(_.toInt)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .filter(_ => span != -1).foreach(x => execSpan(x.toLong) = span)
      e.stageIds.foreach(stageSpan(_) = span)
      openJobs(e.jobId) = (span, op, e.time)
      counted(span).foreach(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (span, op, start) =>
        spans += Span(nextJobId(), span, op, s"spark.job.${e.jobId}",
          (start - t0EpochMs) * 1000, (e.time - t0EpochMs) * 1000)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      counted(stageSpan.getOrElse(e.stageInfo.stageId, -1)).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      counted(stageSpan.getOrElse(e.stageId, -1)).foreach { c =>
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          // the Spark UI's scheduler delay: task wall time not spent
          // deserializing, running, serializing or fetching the result
          c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
          c.resultBytes += m.resultSize
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execSpan.remove(end.executionId).foreach { span =>
          SqlExecutionEnd.plan(end).foreach(walk(_, span, java.util.Collections.newSetFromMap(
            new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())))
        }
      }
      case _ =>
    }
  }

  /** Node class → bucket. Joins and aggregates are matched before sorts, so
    * a sort-merge join or sort aggregate counts as join/aggregate work. */
  private def bucket(p: SparkPlan): Option[String] = {
    val n = p.getClass.getSimpleName
    if (n.contains("Exchange") || n.contains("ShuffleRead")) Some("exchange")
    else if (n.contains("Join") || n.contains("Aggregate")) Some("join_agg")
    else if (n.contains("Sort") || n.contains("Window")) Some("sort_window")
    else if (n.contains("Scan") && !n.startsWith("InMemory")) Some("scan")
    else None
  }

  private def walk(p: SparkPlan, span: Int, seen: java.util.Set[SparkPlan]): Unit =
    if (seen.add(p)) {
      bucket(p).foreach { b =>
        val secs = p.metrics.values.toSeq.map { m =>
          m.metricType match {
            case "timing" => m.value / 1e3
            case "nsTiming" => m.value / 1e9
            case _ => 0.0
          }
        }.sum
        sqlSeconds(b) += secs
      }
      p match {
        case s: FileSourceScanExec if s.tableIdentifier.isDefined =>
          val files = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          counted(span).foreach(_.catalogFilesScanned += files)
        case _ =>
      }
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil // the reused exchange is walked where it ran
        case c: InMemoryTableScanExec =>
          // a cached relation is computed once; walk its plan the first time
          if (seenCaches.add(System.identityHashCode(c.relation.cacheBuilder)))
            Seq(c.relation.cachedPlan) else Nil
        case other => other.children
      }
      (kids ++ p.subqueries).foreach(walk(_, span, seen))
    }

  private var jobIds = -1
  private def nextJobId(): Int = { jobIds -= 1; jobIds } // job spans get negative ids

  def start(): Unit = sc.addSparkListener(listener)

  def stop(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Open a span for `body`. With no span open this starts an operation. */
  def span[A](name: String)(body: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val op = stack.headOption.map(_._2).getOrElse(id)
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val gc0 = if (parent == -1) Host.gcMillis() else 0L
    stack.push((id, op, nowUs))
    val saved = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s"$id/$op")
    try body
    finally {
      sc.setLocalProperty(SpanProp, saved)
      val (_, _, start) = stack.pop()
      synchronized { spans += Span(id, parent, op, name, start, nowUs) }
      if (parent == -1) gcMs += Host.gcMillis() - gc0
    }
  }

  /** Persisted blocks right now; the run keeps the peak. */
  def sampleCachedBytes(): Unit = {
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    cachedBytesPeak = math.max(cachedBytesPeak, bytes)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Counters of every span named `name` (summed), jobs included. */
  def countsOf(pred: Span => Boolean): Counts = synchronized {
    val ids = spans.filter(pred).map(_.id).toSet
    // a span's counters include those of the spans nested in it
    val all = spans.filter(s => s.id > 0 && (ids(s.id) || ancestors(s).exists(ids))).map(_.id).toSet
    val c = new Counts
    all.flatMap(bySpan.get).foreach { x =>
      c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks; c.failedTasks += x.failedTasks
      c.catalogFilesScanned += x.catalogFilesScanned
    }
    c
  }

  private def ancestors(s: Span): List[Int] = {
    val byId = spans.iterator.map(x => x.id -> x).toMap
    Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(-1))
      .takeWhile(_ != -1).toList
  }

  /** Operation wall time not covered by any of its Spark jobs, in seconds. */
  def driverSeconds(opSpan: Span): Double = {
    val jobs = allSpans.filter(s => s.id < 0 && s.op == opSpan.id)
      .map(j => (math.max(j.startUs, opSpan.startUs), math.min(j.endUs, opSpan.endUs)))
      .filter { case (a, b) => b > a }
    (opSpan.durUs - Tracer.unionUs(jobs)) / 1e6
  }

  /** Every span as one JSON array, with its self time (its duration minus
    * the part its children cover). */
  def writeSpans(file: java.io.File): Unit = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val lines = all.sortBy(s => (s.startUs, s.id)).map { s =>
      val cover = Tracer.unionUs(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs))).filter(x => x._2 > x._1))
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"self_us":${s.durUs - cover}}"""
    }
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try w.println(lines.mkString("[\n", ",\n", "\n]")) finally w.close()
  }
}

object Tracer {
  /** Length of the union of half-open intervals. */
  def unionUs(xs: Seq[(Long, Long)]): Long = {
    var covered, end = 0L
    var started = false
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (!started || a > end) { covered += b - a; end = b; started = true }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}
