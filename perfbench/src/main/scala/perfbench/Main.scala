package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, sources}

/** One operation of a pass: its timed window and whether its output passed
  * every check. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** A workload: set-up beyond the session, then passes over its operations. */
trait Workload {
  def opNames: Seq[String]
  def setup(phases: Phases): Unit
  def pass(tracer: Option[Tracer], phases: Phases): Seq[Op]
  /** Per-layer metrics this workload owns, per pass of the traced run. */
  def layerMetrics(t: Tracer, passes: Int): Map[String, Double]
}

/** Set-up phase timers. A phase nested in another is charged to the inner
  * one only. Once frozen (the first timed operation starts), bodies still
  * run but nothing more is charged. */
final class Phases {
  val seconds: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap("session" -> 0.0, "generate" -> 0.0, "warmup" -> 0.0, "verify" -> 0.0)
  var frozen = false
  private val open = mutable.Stack.empty[String]

  def time[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    open.push(name)
    try body
    finally {
      open.pop()
      val dt = (System.nanoTime() - t0) / 1e9
      if (!frozen) {
        seconds(name) += dt
        open.headOption.foreach(p => seconds(p) -= dt)
      }
    }
  }
}

/** The benchmark: one process, one session, one workload, closed loop with
  * a single client (each operation starts when the previous one ended).
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <parquet dir> --digests <file> --work <scratch dir> --out <record dir>
  * }}}
  * The last line of standard output is the result object. `--write-digests
  * <file>` instead runs a query workload's verify pass and writes the
  * digests of its results. */
object Main {

  /** Spark-native scans, exchanges, joins, aggregates and windows over the
    * TPC-H-ish star; little time goes to `graft.operators` here. */
  val Relational: Seq[String] = Seq("q01", "q02", "q03", "q06", "q07", "q08", "q09", "q10", "q11",
    "q12", "q14", "q15", "q18", "q19", "q44", "q74")
  /** The dedup, ANN, text and curation queries the ROADMAP's job-collapse,
    * Bloom-prune and q90 items touch. q103's first call in a session builds
    * its stored index (about 15 s), which does not fit the per-run budget. */
  val Corpus: Seq[String] = Seq("q24", "q41", "q60", "q62", "q72", "q90", "q113")

  /** Nominal seconds of one measured pass on a 4-core host. The number of
    * passes is fixed from it and `--seconds`, so every run of a workload
    * makes the same number of measurements whatever the code's speed. */
  private val nominalPassSeconds = Map(
    "cashback_elt" -> 6.0, "relational_queries" -> 7.0, "corpus_operators" -> 9.0)

  /** The timed action: a no-op datasource write forces every output column
    * through the whole plan and returns nothing to the driver. `count()` is
    * not used because Catalyst may skip work that a count does not need. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Between operations, outside every timed window: collect the previous
    * operation's garbage now rather than during the next one. */
  def settle(): Unit = System.gc()

  /** Wall seconds of `body`, and its value or the exception it threw. */
  def timed[A](body: => A): (Double, Either[Throwable, A]) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] operation failed: $e")
        Left(e)
    }
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the
    * (n-10)-th smallest sample, or the largest one when n <= 10. Returns the
    * value and the percentile. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing $n"))
    val workloadName = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val trace = arg(args, "--trace").contains("1")
    val dataDir = new java.io.File(need("--data")).getAbsolutePath
    val work = new java.io.File(need("--work")).getAbsoluteFile
    val out = new java.io.File(need("--out")).getAbsoluteFile
    require(nominalPassSeconds.contains(workloadName), s"unknown workload $workloadName")
    require(new java.io.File(dataDir, "lineitem.parquet").isFile, s"no tables under $dataDir")

    val phases = new Phases
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = phases.time("session") {
      val s = GraftSession.builder(s"local[$cores]", cores)
        .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").toURI.toString)
        .config("spark.local.dir", new java.io.File(work, "local").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    try run(spark, args, workloadName, seed, seconds, trace, dataDir, work, out, phases, cores,
      jvmStartMs)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: Array[String], workloadName: String, seed: Long,
                  seconds: Double, trace: Boolean, dataDir: String, work: java.io.File,
                  out: java.io.File, phases: Phases, cores: Int, jvmStartMs: Long): Unit = {
    val sentinelT0 = System.nanoTime()
    val before = Host.sentinels(spark)
    val sentinelS = (System.nanoTime() - sentinelT0) / 1e9

    def digests = Digest.load(new java.io.File(arg(args, "--digests").getOrElse(sys.error("missing --digests"))))
    val workload: Workload = workloadName match {
      case "cashback_elt" => new Elt(spark, work, seed)
      case "relational_queries" => new QueryWorkload(spark, dataDir, Relational, seed, digests)
      case "corpus_operators" => new QueryWorkload(spark, dataDir, Corpus, seed, digests)
    }
    arg(args, "--write-digests").foreach { file =>
      val lines = workload.asInstanceOf[QueryWorkload].digestLines()
      java.nio.file.Files.write(java.nio.file.Paths.get(file),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"), java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      return
    }

    workload.setup(phases)
    settle()
    phases.frozen = true
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - sentinelS

    val passes = math.max(1, math.round(seconds / nominalPassSeconds(workloadName)).toInt)
    val plain = mutable.ArrayBuffer.empty[Seq[Op]]
    val traced = mutable.ArrayBuffer.empty[Seq[Op]]
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer match {
      case None => (1 to passes).foreach(_ => plain += workload.pass(None, phases))
      case Some(t) =>
        // one traced pass between two untraced ones, so a trend over the run
        // (the JVM still warming) biases neither side of trace.overhead_frac
        plain += workload.pass(None, phases)
        t.start()
        traced += workload.pass(Some(t), phases)
        t.stop()
        plain += workload.pass(None, phases)
    }
    val after = Host.sentinels(spark)
    val peakRssMb = Host.peakRssMb()

    val ops = (plain ++ traced).flatten
    val failed = ops.filterNot(_.ok)
    val opSeconds = plain.flatten.map(_.seconds)
    val (tailS, tailPct) = tail(opSeconds.toSeq)
    val passS = median(plain.map(_.map(_.seconds).sum).toSeq)

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("op_p50_s", median(opSeconds.toSeq), "s"),
        ("peak_rss_mb", peakRssMb, "MB"))
      case Some(t) =>
        val measured = workload.layerMetrics(t, traced.size) ++
          Layers.spark(t, traced.size) ++
          phases.seconds.map { case (k, v) => s"setup.${k}_s" -> v } ++
          Layers.functions(spark, dataDir) ++ Map(
            "session.release_s" ->
              t.allSpans.filter(_.name == "session.release").map(_.durUs).sum / 1e6 / traced.size,
            "trace.overhead_frac" -> (median(traced.map(_.map(_.seconds).sum).toSeq) / passS - 1)) ++
          plain.flatten.groupBy(_.name).map { case (o, xs) =>
            (if (o.startsWith("q")) s"query.$o.s" else s"elt.${o}_s") -> median(xs.map(_.seconds).toSeq)
          }
        // a layer the workload does not exercise did no work in it: 0
        Layers.names.map { case (n, unit) => (n, measured.getOrElse(n, 0.0), unit) }
    }

    metrics.foreach { case (n, v, u) => println(f"$n%-36s $v%.6f $u") }
    val metricsJson = Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)
    println(f"ops ${ops.size} failed ${failed.size} passes ${plain.size}+${traced.size} traced; op tail is p$tailPct%.1f of ${opSeconds.size}")
    println(f"sentinels cpu ${before.cpuS}%.3f -> ${after.cpuS}%.3f s, io ${before.ioS}%.3f -> ${after.ioS}%.3f s")

    val tag = s"$workloadName-seed$seed-trace${if (trace) 1 else 0}"
    tracer.foreach(_.writeSpans(new java.io.File(out, s"$tag-spans.json")))
    val record = Json.obj(
      "workload" -> Json.str(workloadName), "seed" -> seed.toString,
      "trace" -> trace.toString, "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "passes" -> plain.size.toString, "traced_passes" -> traced.size.toString,
      "op_samples" -> opSeconds.size.toString,
      "op_tail_s" -> Json.num(tailS), "op_tail_percentile" -> Json.num(tailPct),
      "failed_ops" -> failed.map(o => Json.str(o.name)).mkString("[", ",", "]"),
      "failed_frac" -> Json.num(failed.size.toDouble / ops.size),
      "setup_phases_s" -> Json.obj(phases.seconds.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "sentinels" -> Json.obj("cpu_before_s" -> Json.num(before.cpuS), "cpu_after_s" -> Json.num(after.cpuS),
        "io_before_s" -> Json.num(before.ioS), "io_after_s" -> Json.num(after.ioS)),
      "ops" -> plain.zipWithIndex.flatMap { case (p, i) =>
        p.map(o => Json.obj("pass" -> i.toString, "op" -> Json.str(o.name),
          "s" -> Json.num(o.seconds), "ok" -> o.ok.toString))
      }.mkString("[", ",", "]"),
      "metrics" -> metricsJson)
    out.mkdirs()
    java.nio.file.Files.write(new java.io.File(out, s"$tag.json").toPath, (record + "\n").getBytes("UTF-8"))

    println(Json.obj("correct" -> failed.isEmpty.toString, "attempted" -> ops.size.toString,
      "failed" -> failed.size.toString, "metrics" -> metricsJson))
  }
}

/** Host state recorded in every run record, as diagnostics: the same CPU
  * and I/O sentinels `graft.Bench` brackets its runs with. */
object Host {
  final case class Sentinels(cpuS: Double, ioS: Double)

  /** CPU: a fixed codegen'd aggregate over `spark.range`, timed after one
    * warm rep. I/O: 256 MiB written to the temp dir and fsync'd. */
  def sentinels(spark: SparkSession): Sentinels = {
    def cpu(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32).selectExpr("sum((id * 2654435761) % 1000003) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    cpu()
    Sentinels(cpu(), io())
  }

  private def io(): Double = {
    val f = java.io.File.createTempFile("perfbench_ioprobe_", ".bin")
    try {
      val buf = Array.fill[Byte](1 << 20)(0x5A)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      try {
        (1 to 256).foreach(_ => out.write(buf))
        out.getFD.sync()
      } finally out.close()
      (System.nanoTime() - t0) / 1e9
    } finally f.delete()
  }

  /** VmHWM: the process's peak resident set, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN) finally src.close()
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

/** Per-layer metric names, and the ones every traced run measures. */
object Layers {
  private val pipeline = Seq("pipeline.ingest_s" -> "s", "pipeline.ingest_tasks" -> "count",
    "pipeline.transform_s" -> "s", "pipeline.load_s" -> "s", "pipeline.files_written" -> "count",
    "pipeline.bytes_written" -> "B", "pipeline.files_scanned" -> "count", "pipeline.jobs" -> "count",
    "pipeline.rows_appended" -> "count", "pipeline.append_ratio" -> "ratio")

  val names: Seq[(String, String)] =
    Seq("initial", "daily", "rerun").flatMap(op => pipeline.map { case (m, u) => s"$op.$m" -> u }) ++
      Seq("elt.initial_s", "elt.daily_s", "elt.rerun_s",
        "queries.build_s", "queries.plan_s", "queries.exec_s").map(_ -> "s") ++
      Main.Corpus.map(q => s"query.$q.s" -> "s") ++
      Main.Corpus.map(q => s"query.$q.jobs" -> "count") ++
      Seq("setup.session_s", "setup.generate_s", "setup.warmup_s", "setup.verify_s",
        "session.release_s").map(_ -> "s") ++
      Seq("spark.cached_bytes_peak" -> "B") ++
      Seq("functions.vector_cosine_s", "functions.md5_long_s", "functions.unicode_normalize_s",
        "sql.scan_s", "sql.exchange_s", "sql.join_agg_s", "sql.sort_window_s").map(_ -> "s") ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_s" -> "s", "spark.sched_delay_s" -> "s", "spark.driver_s" -> "s",
        "spark.gc_s" -> "s", "spark.input_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
        "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.output_bytes" -> "B",
        "spark.result_bytes" -> "B", "spark.failed_tasks" -> "count", "trace.overhead_frac" -> "ratio")

  /** Scheduler counters and SQL node-class times, per traced pass. */
  def spark(t: Tracer, passes: Int): Map[String, Double] = {
    val c = t.total
    val ops = t.allSpans.filter(s => s.parent == -1 && s.id > 0)
    Map(
      "spark.jobs" -> c.jobs, "spark.stages" -> c.stages, "spark.tasks" -> c.tasks,
      "spark.input_bytes" -> c.inputBytes, "spark.shuffle_write_bytes" -> c.shuffleWriteBytes,
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes, "spark.spill_bytes" -> c.spillBytes,
      "spark.output_bytes" -> c.outputBytes, "spark.result_bytes" -> c.resultBytes,
      "spark.failed_tasks" -> c.failedTasks
    ).map { case (k, v) => k -> v.toDouble / passes } ++ Map(
      "spark.task_s" -> c.taskMs / 1e3, "spark.sched_delay_s" -> c.schedDelayMs / 1e3,
      "spark.driver_s" -> ops.map(t.driverSeconds).sum, "spark.gc_s" -> t.gcMs / 1e3
    ).map { case (k, v) => k -> v / passes } ++
      t.sqlSeconds.map { case (k, v) => s"sql.${k}_s" -> v / passes } +
      ("spark.cached_bytes_peak" -> t.cachedBytesPeak.toDouble)
  }

  /** One registered SQL function at a time over the committed
    * `embeddings`/`documents` tables (median of three runs each). */
  def functions(spark: SparkSession, dataDir: String): Map[String, Double] = {
    sources.Tables.embeddings(spark, dataDir).createOrReplaceTempView("pb_embeddings")
    sources.Tables.documents(spark, dataDir).createOrReplaceTempView("pb_documents")
    val text = "concat(d.text, CAST(r.id AS STRING))"
    Seq(
      "functions.vector_cosine_s" ->
        "SELECT sum(vector_cosine(a.embedding, b.embedding)) FROM pb_embeddings a CROSS JOIN pb_embeddings b",
      "functions.md5_long_s" ->
        s"SELECT sum(md5_long($text)) FROM pb_documents d CROSS JOIN range(200) r",
      "functions.unicode_normalize_s" ->
        s"SELECT sum(length(unicode_normalize($text, 'NFKC'))) FROM pb_documents d CROSS JOIN range(200) r"
    ).map { case (k, sql) =>
      k -> Main.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        (System.nanoTime() - t0) / 1e9
      })
    }.toMap
  }
}

/** Just enough JSON writing for the run record and the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
