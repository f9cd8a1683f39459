package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

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
    CashbackTransform.transform(rewards, tx).cache()
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
}
