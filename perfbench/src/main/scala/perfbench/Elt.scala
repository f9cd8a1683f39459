package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.pipeline.{ApiIngest, CashbackTransform, IncrementalLoad, Pipeline}

/** The paper's workload: the cashback ELT from extract to idempotent load.
  * One pass is three operations on one warehouse table:
  *  - initial: the table is dropped (untimed), then `Pipeline.run` loads the
  *    split CSV extracts of the history into the empty warehouse;
  *  - daily: `Pipeline.run` through an in-process `ApiIngest.Client` serving
  *    the history plus a delta of new rewards and their transactions as
  *    JSON payloads, which appends the delta;
  *  - rerun: the same daily payload again, which appends nothing.
  * After every operation an untimed check compares the warehouse with the
  * generator's invariants. */
final class Elt(spark: SparkSession, work: java.io.File, seed: Long) extends Workload {
  import Elt._

  private val table = "cashback"
  private val rewardsCsv = new java.io.File(work, "extract/rewards").getPath
  private val transactionsCsv = new java.io.File(work, "extract/transactions").getPath
  private val tableDir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
    .stripPrefix("file:"), table)
  private var client: ApiIngest.Client = _
  private var expected: Map[String, (Long, Generator.Invariants)] = Map.empty

  val opNames: Seq[String] = Seq("initial", "daily", "rerun")

  def setup(phases: Phases): Unit = {
    phases.time("generate") {
      val d = Generator.generate(seed, Rewards, DeltaFraction)
      val parts = spark.sparkContext.defaultParallelism
      Generator.writeRewardsCsv(new java.io.File(rewardsCsv), d.history, parts)
      Generator.writeTransactionsCsv(new java.io.File(transactionsCsv), d.historyTx, parts)
      val allRewards = d.history ++ d.delta
      val allTx = d.historyTx ++ d.deltaTx
      val txJson = Generator.transactionsJson(allTx)
      val rewardsJson = Generator.rewardsJson(allRewards)
      client = new ApiIngest.Client {
        def getTransactions(): String = txJson
        def getRewards(): String = rewardsJson
      }
      val history = Generator.invariants(d.history, d.historyTx)
      val daily = Generator.invariants(allRewards, allTx)
      expected = Map(
        "initial" -> (d.history.size.toLong, history),
        "daily" -> (d.delta.size.toLong, daily),
        "rerun" -> (0L, daily))
    }
    // load times still fall over the first iterations (codegen, JIT, file
    // system caches), so warm iterations belong in set-up
    phases.time("warmup")((1 to WarmPasses).foreach(_ => pass(None, phases)))
  }

  def pass(tracer: Option[Tracer], phases: Phases): Seq[Op] = opNames.map { name =>
    if (name == "initial") spark.sql(s"DROP TABLE IF EXISTS $table")
    val apiClient = if (name == "initial") None else Some(client)
    val (seconds, result) = tracer match {
      case None => Main.timed {
        val r = Pipeline.run(spark, rewardsCsv, transactionsCsv, table, apiClient)
        GraftSession.releaseCaches(spark, blocking = true)
        r.appendedRows
      }
      case Some(t) => tracedRun(t, name, apiClient)
    }
    val ok = result.isRight && phases.time("verify") {
      try check(name, result.toOption.get) catch {
        case e: Exception => System.err.println(s"[perfbench] $name check failed: $e"); false
      }
    }
    Main.settle()
    Op(name, seconds, ok)
  }

  /** The three stages `Pipeline.run` composes, called one by one and
    * materialized at each boundary so each gets its own span. */
  private def tracedRun(t: Tracer, name: String, apiClient: Option[ApiIngest.Client])
  : (Double, Either[Throwable, Long]) = {
    val before = parquetFiles(tableDir)
    var incoming = 0L
    val r = Main.timed(t.span(name) {
      val (tx, rw) = t.span("pipeline.ingest") {
        val (tx, rw) = ApiIngest.fetchData(spark, apiClient, transactionsCsv, rewardsCsv)
        Seq(tx, rw).foreach { df => df.persist(StorageLevel.MEMORY_AND_DISK); df.count() }
        (tx, rw)
      }
      val cashback = t.span("pipeline.transform") {
        val c = CashbackTransform.transform(rw, tx).persist(StorageLevel.MEMORY_AND_DISK)
        incoming = c.count()
        c
      }
      val appended = t.span("pipeline.load") {
        IncrementalLoad.appendNew(spark, cashback, table, "reward_id", Some("transaction_date"))
      }
      t.sampleCachedBytes()
      t.span("session.release")(GraftSession.releaseCaches(spark, blocking = true))
      appended
    })
    val after = parquetFiles(tableDir)
    val written = after.keySet -- before.keySet
    loadStats += LoadStats(name, incoming, r._2.getOrElse(0L), written.size,
      written.iterator.map(after).sum)
    r
  }

  private val loadStats = scala.collection.mutable.ArrayBuffer.empty[LoadStats]

  /** Untimed: appended rows, one row per reward, and the generator's sums. */
  private def check(name: String, appended: Long): Boolean = {
    val (wantAppended, inv) = expected(name)
    val r = spark.table(table).agg(count(lit(1)), countDistinct("reward_id"),
      sum("transaction_amount"), sum("plu_price"),
      sum(when(col("transaction_id").isNull, 1).otherwise(0))).head()
    val ok = appended == wantAppended && r.getLong(0) == inv.rows && r.getLong(1) == inv.rows &&
      close(r.getDouble(2), inv.sumTransactionAmount) && close(r.getDouble(3), inv.sumPluPrice) &&
      r.getLong(4) == inv.nullTransactionIds
    if (!ok) System.err.println(s"[perfbench] $name check failed: appended=$appended " +
      s"(want $wantAppended), table=$r, want $inv")
    ok
  }

  def layerMetrics(t: Tracer, passes: Int): Map[String, Double] = {
    val spans = t.allSpans
    opNames.flatMap { op =>
      val opSpans = spans.filter(s => s.parent == -1 && s.name == op).map(_.id).toSet
      def sec(layer: String) =
        spans.filter(s => opSpans(s.op) && s.name == layer).map(_.durUs).sum / 1e6 / passes
      val stats = loadStats.filter(_.op == op)
      val incoming = stats.map(_.incoming).sum
      val appended = stats.map(_.appended).sum
      Seq(
        "pipeline.ingest_s" -> sec("pipeline.ingest"),
        "pipeline.ingest_tasks" ->
          t.countsOf(s => opSpans(s.op) && s.name == "pipeline.ingest").tasks.toDouble / passes,
        "pipeline.transform_s" -> sec("pipeline.transform"),
        "pipeline.load_s" -> sec("pipeline.load"),
        "pipeline.files_written" -> stats.map(_.filesWritten).sum.toDouble / passes,
        "pipeline.bytes_written" -> stats.map(_.bytesWritten).sum.toDouble / passes,
        "pipeline.files_scanned" -> t.countsOf(s => opSpans(s.op) && s.name == "pipeline.load")
          .catalogFilesScanned.toDouble / passes,
        "pipeline.jobs" -> t.countsOf(s => opSpans(s.id)).jobs.toDouble / passes,
        "pipeline.rows_appended" -> appended.toDouble / passes,
        "pipeline.append_ratio" -> (if (incoming == 0) 0.0 else appended.toDouble / incoming)
      ).map { case (k, v) => s"$op.$k" -> v }
    }.toMap
  }
}

object Elt {
  final case class LoadStats(op: String, incoming: Long, appended: Long, filesWritten: Int,
                             bytesWritten: Long)

  /** About 10× the reference fixture (1,753 rewards, 2,909 transactions). */
  val Rewards = 17530
  val DeltaFraction = 0.01
  val WarmPasses = 1

  /** Relative tolerance of the sums: Spark adds in another order. */
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Parquet files under `dir` with their sizes, by path. */
  def parquetFiles(dir: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk) else Iterator.single(f)
    if (!dir.exists()) Map.empty
    else walk(dir).filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.length()).toMap
  }
}
