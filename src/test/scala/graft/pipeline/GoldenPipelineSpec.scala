package graft.pipeline

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Golden end-to-end run on a compact reference-shaped extract pair
  * (`golden/rewards.csv` + `golden/transactions.csv` test resources, 60
  * rewards / 100 transactions written from the FIXTURES.md §A1–A2 column
  * profile by `tools/golden_fixture.py`, which also derives every count
  * asserted here with DuckDB), asserting the invariants from FIXTURES.md
  * §A3.
  */
class GoldenPipelineSpec extends SparkSpec {

  private def resource(name: String): String =
    new java.io.File(getClass.getResource(s"/golden/$name").toURI).getPath
  private val rewardsCsv = resource("rewards.csv")
  private val transactionsCsv = resource("transactions.csv")

  private lazy val cashback = {
    val rewards = Ingest.normalizeRewards(Ingest.csvAllStrings(spark, rewardsCsv))
    val tx = Ingest.normalizeTransactions(Ingest.csvAllStrings(spark, transactionsCsv))
    CashbackTransform.transform(rewards, tx)
  }

  test("row count preserved by left join: 60 rewards in, 60 cashback rows out") {
    assert(cashback.count() === 60L)
    // 2 null reference_ids and 1 dangling one match no transaction
    assert(cashback.where(col("transaction_id").isNull).count() === 3L)
  }

  test("transaction_amount = abs(amount)/100 for all matched rows") {
    val bad = cashback.where(col("transaction_amount").isNotNull &&
      col("transaction_amount") < 0).count()
    assert(bad === 0L)
  }

  test("null-safe rejected filter keeps null reasons (P4, 4 null-reason rows)") {
    val kept = MonthlyRewards.monthlyCount(
      Ingest.normalizeRewards(Ingest.csvAllStrings(spark, rewardsCsv))
        .withColumn("plu_amount", col("plu_amount").cast("double"))
        .withColumn("plu_price", lit(1.0)))
    // fixture: 60 total, 6 'Rejected by admin' → 54 rows survive,
    // including all 4 null-reason rows
    val raw = Ingest.normalizeRewards(Ingest.csvAllStrings(spark, rewardsCsv))
    val surviving = raw.where(col("reason").isNull || col("reason") =!= "Rejected by admin")
    assert(surviving.count() === 54L)
    assert(surviving.where(col("reason").isNull).count() === 4L)
    assert(kept.count() >= 1)
  }

  test("idempotent load: appending twice equals appending once (J2)") {
    val table = "cashback_golden_idem"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val first = IncrementalLoad.appendNew(spark, cashback, table, "reward_id",
      Some("transaction_date"))
    val second = IncrementalLoad.appendNew(spark, cashback, table, "reward_id",
      Some("transaction_date"))
    assert(first === 60L)
    assert(second === 0L)
    assert(spark.table(table).count() === 60L)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("empty load appends nothing: a missing table stays missing, an existing one gains no files") {
    val table = "cashback_golden_empty"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      val empty = cashback.limit(0)
      assert(IncrementalLoad.appendNew(spark, empty, table, "reward_id",
        Some("transaction_date")) === 0L)
      assert(!spark.catalog.tableExists(table), "an empty load must not create the table")
      IncrementalLoad.appendNew(spark, cashback, table, "reward_id", Some("transaction_date"))
      val location = new java.io.File(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      def files = org.apache.commons.io.FileUtils.listFiles(location, null, true)
        .toArray.map(_.toString).toSet
      val before = files
      assert(before.nonEmpty)
      assert(IncrementalLoad.appendNew(spark, empty, table, "reward_id",
        Some("transaction_date")) === 0L)
      assert(files === before, "an empty load must add no files")
      assert(spark.table(table).count() === 60L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("nested fiat_transaction dict-literal parses to a 3-level struct (E10)") {
    val raw = Ingest.normalizeRewards(Ingest.csvAllStrings(spark, rewardsCsv))
    val parsed = raw.where(col("fiat_transaction").isNotNull)
      .withColumn("ft", Ingest.parseDictLiteral("fiat_transaction", Schemas.fiatTransaction))
    val withClean = parsed.where(col("ft.clean_description").isNotNull)
    assert(withClean.count() > 0)
  }

  test("E10 regression: every non-empty payload parses (pd.json_normalize parity)") {
    // The old prepass blanket-replaced ' with ", silently nulling any payload
    // whose value contained an apostrophe. Zero silent nulls allowed.
    import org.apache.spark.sql.types._
    val contisSchema = StructType(Seq(
      StructField("description", StringType),
      StructField("currency", StringType),
      StructField("transaction_amount", StringType)))
    val raw = Ingest.normalizeRewards(Ingest.csvAllStrings(spark, rewardsCsv))
    val probes = Seq(
      ("fiat_transaction", Schemas.fiatTransaction, "id"),
      ("contis_transaction", contisSchema, "description"))
    for ((c, schema, key) <- probes) {
      val nonEmpty = raw.where(col(c).isNotNull && length(col(c)) > 2)
        .withColumn("p", Ingest.parseDictLiteral(c, schema))
      val total = nonEmpty.count()
      val parsed = nonEmpty.where(col("p").isNotNull && col(s"p.$key").isNotNull).count()
      assert(parsed === total, s"$c: $parsed of $total payloads parsed")
    }
  }

  test("E10 drift guard: zero non-empty payloads parse to null on the fixture") {
    val raw = Ingest.normalizeRewards(Ingest.csvAllStrings(spark, rewardsCsv))
    assert(Ingest.dictParseFailures(raw, "fiat_transaction", Schemas.fiatTransaction) === 0L)
    // the guard actually fires on corrupted payloads
    val broken = spark.createDataFrame(Seq(Tuple1("{'unterminated: "))).toDF("fiat_transaction")
    assert(Ingest.dictParseFailures(broken, "fiat_transaction", Schemas.fiatTransaction) === 1L)
  }

  test("E10 regression: apostrophes in values survive (Domino's / Mery's rows)") {
    val raw = Ingest.normalizeRewards(Ingest.csvAllStrings(spark, rewardsCsv))
    val descs = raw.where(col("fiat_transaction").isNotNull)
      .withColumn("ft", Ingest.parseDictLiteral("fiat_transaction", Schemas.fiatTransaction))
      .select(col("ft.clean_description").as("d"))
      .where(col("d").contains("'"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(descs.contains("Domino's Pizza"), s"got: $descs")
    assert(descs.contains("Mery's Market Barcelo"), s"got: $descs")
  }

  test("transactions_view pushdown semantics: filter+sort+limit+count (S4)") {
    val tx = Ingest.normalizeTransactions(Ingest.csvAllStrings(spark, transactionsCsv))
      .withColumn("date", col("date").cast("timestamp"))
      .withColumn("amount", col("amount").cast("long"))
    val page = TransactionsView.query(tx, "2024-01-01", "2024-12-31",
      "CARD_SETTLEMENT", limit = 10)
    assert(page.count() === 10)
    val cnt = TransactionsView.totalCount(tx, "2024-01-01", "2024-12-31", "CARD_SETTLEMENT")
    assert(cnt > 10)
  }

  test("warehouse DDL generation maps types like the reference (S11)") {
    val ddl = IncrementalLoad.toWarehouseDdl("public.cashback", Schemas.cashback)
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS public.cashback ("))
    assert(ddl.contains("reward_id VARCHAR(256)"))
    assert(ddl.contains("plu_amount DOUBLE PRECISION"))
    assert(ddl.contains("rebate_rate INTEGER"))
    assert(ddl.contains("available BOOLEAN"))
    assert(ddl.contains("created_at TIMESTAMP"))
  }

  test("API fetch adapter: a healthy client feeds the pipeline (S3/S4)") {
    val client = new ApiIngest.Client {
      def getTransactions(): String =
        """[{"id":"t1","model":"m","user_id":"u1","currency":"GBP","amount":"100",
          |"date":"2024-01-01","type":"CARD","is_debit":true,"__typename":"x",
          |"description":"shop"}]""".stripMargin.replace("\n", "")
      def getRewards(): String =
        """[{"id":"r1","amount":"1.5","type":"cashback","reason":null}]"""
    }
    val (tx, rw) = ApiIngest.fetchData(spark, Some(client), transactionsCsv, rewardsCsv)
    // API path taken: one row each, normalization applied to the payload
    assert(tx.count() === 1 && rw.count() === 1)
    assert(tx.columns.contains("transaction_id") && !tx.columns.contains("is_debit")
      && !tx.columns.contains("__typename"))
    assert(rw.columns.toSet.intersect(Set("reward_id", "plu_amount", "reward_type")).size === 3)
  }

  test("API fetch adapter: a failing client falls back to the fixture CSVs") {
    val failing = new ApiIngest.Client {
      def getTransactions(): String = throw new RuntimeException("status 500")
      def getRewards(): String = sys.error("unreachable")
    }
    val (tx, rw) = ApiIngest.fetchData(spark, Some(failing), transactionsCsv, rewardsCsv,
      retry = Retry.Policy(sleep = _ => ()))
    assert(rw.count() === 60L, "fallback must read the rewards fixture")
    assert(tx.columns.contains("transaction_id"))
    // no client at all (missing credentials) is the same fixture path
    val (tx2, rw2) = ApiIngest.fetchData(spark, None, transactionsCsv, rewardsCsv)
    assert(rw2.count() === 60L && tx2.count() === tx.count())
  }

  test("Pipeline.run with a failing client still completes on fixtures (fallback seam)") {
    val failing = new ApiIngest.Client {
      def getTransactions(): String = throw new RuntimeException("api down")
      def getRewards(): String = sys.error("unreachable")
    }
    val table = "cashback_golden_api_fallback"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val res = Pipeline.run(spark, rewardsCsv, transactionsCsv, table, Some(failing),
      retry = Retry.Policy(sleep = _ => ()))
    assert(res.cashbackRows === 60L)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  // --- the one-plan load: counts observed on the write, one file per date ---

  private def withTable(name: String)(body: String => Unit): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try body(name) finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  private def run(table: String, api: Option[ApiIngest.Client] = None): (Long, Long) = {
    val r = Pipeline.run(spark, rewardsCsv, transactionsCsv, table, api)
    (r.cashbackRows, r.appendedRows)
  }

  /** Parquet file names under `table`'s location, by partition directory. */
  private def parquetByPartition(table: String): Map[String, Set[String]] = {
    val location = new java.io.File(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    org.apache.commons.io.FileUtils.listFiles(location, Array("parquet"), true)
      .toArray.toSeq.map(_.asInstanceOf[java.io.File])
      .groupBy(_.getParentFile.getName).map { case (d, fs) => d -> fs.map(_.getName).toSet }
  }

  /** A golden extract's records as (column, value) pairs; null = empty field. */
  private def records(csv: String): Seq[Seq[(String, String)]] = {
    val df = Ingest.csvAllStrings(spark, csv)
    df.collect().toSeq.map(r => df.columns.toSeq.zip(r.toSeq.map(v => if (v == null) null else v.toString)))
  }

  private def jsonString(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** Records as an API payload in the shapes a live API sends and a CSV
    * cannot: a value `unquoted` accepts goes out as a bare JSON number,
    * Python booleans as JSON booleans, and a null field as an explicit
    * `null` in odd records but a left-out key in even ones. `extra` adds
    * keys to the first record. */
  private def payload(recs: Seq[Seq[(String, String)]], unquoted: (String, String) => Boolean,
                      extra: Seq[(String, String)] = Nil): String =
    recs.zipWithIndex.map { case (rec, i) =>
      val fields = rec.flatMap {
        case (k, null) => if (i % 2 == 0) None else Some(s"${jsonString(k)}:null")
        case (k, v) =>
          val json = v match {
            case "True" => "true"
            case "False" => "false"
            case _ if unquoted(k, v) => v
            case _ => jsonString(v)
          }
          Some(s"${jsonString(k)}:$json")
      }
      val extras = if (i == 0) extra.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" } else Nil
      (fields ++ extras).mkString("{", ",", "}")
    }.mkString("[", ",", "]")

  private def client(tx: String, rw: String): ApiIngest.Client = new ApiIngest.Client {
    def getTransactions(): String = tx
    def getRewards(): String = rw
  }

  /** The golden extracts as API payloads: unquoted amounts and rates, the
    * transactions' numeric `type` codes unquoted next to their enum names,
    * JSON booleans, left-out keys and one extra key; plus `newRewards`
    * copies of golden rewards under fresh ids. */
  private def goldenClient(newRewards: Int = 0): ApiIngest.Client = {
    val txJson = payload(records(transactionsCsv),
      (k, v) => k == "amount" || (k == "type" && v.forall(_.isDigit)))
    val rw = records(rewardsCsv)
    val fresh = rw.take(newRewards).zipWithIndex.map { case (rec, i) =>
      rec.map { case ("id", _) => ("id", s"new-reward-$i"); case kv => kv }
    }
    val numeric = Set("amount", "rebate_rate", "base_rate", "staking_rate", "fiat_amount_rewarded")
    client(txJson, payload(rw ++ fresh, (k, _) => numeric(k), extra = Seq("promo_code" -> "SPRING24")))
  }

  test("Pipeline.run counts come from the write: (60, 60) on the first load, (60, 0) on a rerun") {
    withTable("cashback_golden_counts") { t =>
      assert(run(t) === ((60L, 60L)))
      assert(run(t) === ((60L, 0L)), "an all-duplicate rerun still reports its incoming rows")
      assert(spark.table(t).count() === 60L)
    }
  }

  /** `body` with the anti-join forced to a sort-merge join. */
  private def sortMergeAntiJoin(body: => Unit): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Pipeline.run counts hold under a sort-merge anti-join") {
    sortMergeAntiJoin(withTable("cashback_golden_counts_smj") { t =>
      assert(run(t) === ((60L, 60L)))
      val plan = IncrementalLoad.newRows(spark.table(t), spark.table(t), "reward_id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(run(t) === ((60L, 0L)))
      assert(spark.table(t).count() === 60L)
    })
  }

  test("Pipeline.run on the API path: a daily load appends the delta, its rerun nothing") {
    withTable("cashback_golden_api_counts") { t =>
      assert(run(t) === ((60L, 60L)))
      val daily = goldenClient(newRewards = 5)
      assert(run(t, Some(daily)) === ((65L, 5L)))
      assert(run(t, Some(daily)) === ((65L, 0L)))
      assert(spark.table(t).count() === 65L)
    }
  }

  test("API payloads load a table identical to the CSV extracts'") {
    withTable("cashback_golden_from_csv") { fromCsv =>
      withTable("cashback_golden_from_api") { fromApi =>
        assert(run(fromCsv) === ((60L, 60L)))
        assert(run(fromApi, Some(goldenClient())) === ((60L, 60L)))
        val (c, a) = (spark.table(fromCsv), spark.table(fromApi))
        assert(c.schema === a.schema)
        assert(c.exceptAll(a).isEmpty && a.exceptAll(c).isEmpty)
      }
    }
    // a key absent from every record reads as null, as an empty CSV field does
    val sparse = Ingest.jsonPayload(spark, """[{"id":"r1"},{"id":"r2","amount":1.5}]""",
      Ingest.rewardKeys)
    assert(sparse.columns.toSeq === Ingest.rewardKeys)
    assert(sparse.where(col("reason").isNull).count() === 2L)
  }

  test("a truncated API payload fails Pipeline.run and loads no rows") {
    val good = goldenClient()
    val truncated = client(good.getTransactions(), good.getRewards().dropRight(40))
    withTable("cashback_golden_truncated") { t =>
      intercept[Exception](run(t, Some(truncated)))
      assert(!spark.catalog.tableExists(t) || spark.table(t).isEmpty)
      assert(run(t) === ((60L, 60L)))
      intercept[Exception](run(t, Some(truncated)))
      assert(spark.table(t).count() === 60L)
      assert(spark.table(t).where(col("reward_id").isNull).isEmpty)
    }
  }

  private def oneFilePerDatePerLoad(table: String): Unit =
    withTable(table) { t =>
      assert(run(t) === ((60L, 60L)))
      val initial = parquetByPartition(t)
      val dates = cashback.select("transaction_date").distinct().count()
      assert(initial.size === dates, initial.keys)
      assert(initial.values.forall(_.size == 1), initial)
      // a second load of new rows on a few dates
      val delta = cashback.where(col("transaction_date") < "2024-03-01")
        .withColumn("reward_id", concat(col("reward_id"), lit("-daily")))
      val touched = delta.select("transaction_date").distinct().count()
      assert(touched > 1)
      val n = IncrementalLoad.appendNew(spark, delta, t, "reward_id", Some("transaction_date"))
      assert(n === delta.count())
      val after = parquetByPartition(t)
      val added = after.map { case (d, fs) => d -> (fs -- initial.getOrElse(d, Set.empty)).size }
      assert(added.values.forall(_ <= 1), added)
      assert(added.values.sum === touched)
    }

  test("each load writes one file per date partition it touches") {
    oneFilePerDatePerLoad("cashback_golden_layout")
  }

  test("each load writes one file per date partition it touches, under a sort-merge anti-join") {
    sortMergeAntiJoin(oneFilePerDatePerLoad("cashback_golden_layout_smj"))
  }

  test("a daily load's date-clustering exchange keeps the session width, uncoalesced") {
    // The writer's cost is per file: a coalesced clustering exchange would
    // open every date file of the load from one task. The final adaptive
    // plan must keep the spec session's 4 partitions with no coalescing read.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    withTable("cashback_golden_width") { t =>
      assert(run(t) === ((60L, 60L)))
      spark.listenerManager.register(listener)
      try {
        assert(run(t, Some(goldenClient(newRewards = 5))) === ((65L, 5L)))
        org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
    }
    val nodes = plans.toArray(Array.empty[SparkPlan]).toSeq
      .flatMap(p => graft.tools.ProfileUtil.executedNodes(p).map(_._1))
    val byDate = nodes.collect {
      case s: ShuffleQueryStageExec if (s.plan.outputPartitioning match {
        case h: HashPartitioning => h.references.map(_.name).toSet == Set("transaction_date")
        case _ => false
      }) => s
    }
    assert(byDate.size === 1, nodes.mkString("\n"))
    val stage = byDate.head
    assert(stage.plan.outputPartitioning.numPartitions === 4)
    val reads = nodes.collect { case r: AQEShuffleReadExec if r.child eq stage => r }
    assert(reads.isEmpty, s"the clustering exchange was read through ${reads.mkString}")
  }

  test("Spark jobs per Pipeline.run: initial CSV, daily JSON and rerun JSON") {
    // counted on this spec's session (local[4], 4 shuffle partitions); the
    // persisted transform and the count-then-write load ran 12 / 16 / 15,
    // the one-plan load 6 / 9 / 9. The golden table's 47 date partitions are
    // above Spark's default partition-discovery threshold (32), so each
    // listing of it ran as a 47-task job: the write's refresh on the initial
    // load and the anti-join's table scan on the others. GraftSession lists
    // up to 1024 partitions on the driver, which drops one job from each.
    // The daily and rerun loads read 7 or 8. The table has no catalog stats,
    // so the anti-join is planned as a sort-merge join, and AQE turns it into
    // a broadcast once the table side's shuffle stage has run. If the
    // transformed incoming rows are ready first, AQE has already run their
    // reward_id exchange as a stage of its own (one more job), which the
    // broadcast join then reads locally. While the table scan waited on its
    // listing job, it always finished last, and both loads read 9.
    // Spark's cache manager substitutes any cached plan that matches part of
    // the load's plan (a cached golden transform cut the initial load to 5
    // jobs), and every suite of the run shares this session, so the caches
    // are released first and the count is the load's own plan.
    GraftSession.releaseCaches(spark, blocking = true)
    val sc = spark.sparkContext
    val tag = "graft.test.pipelineJobs"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(op => jobs.merge(op, 1, (a, b) => a + b))
    }
    def counted(op: String)(body: => Unit): Int = {
      sc.setLocalProperty(tag, op)
      try body finally sc.setLocalProperty(tag, null)
      org.apache.spark.graftbridge.ListenerBus.drain(sc)
      Option(jobs.get(op)).fold(0)(_.intValue)
    }
    sc.addSparkListener(listener)
    try withTable("cashback_golden_jobs") { t =>
      val daily = goldenClient(newRewards = 5)
      val initial = counted("initial")(run(t))
      val dailyJobs = counted("daily")(run(t, Some(daily)))
      val rerun = counted("rerun")(run(t, Some(daily)))
      assert(initial === 6)
      assert(Set(7, 8)(dailyJobs), s"daily load ran $dailyJobs jobs")
      assert(Set(7, 8)(rerun), s"rerun ran $rerun jobs")
    } finally sc.removeSparkListener(listener)
  }
}
