package graft.pipeline

import org.apache.spark.sql.SparkSession

/** §2.11 orchestration: the Step-Functions DAG (extract → transform → load,
  * reference infra/lambda.tf:148-240) collapsed into one driver call and one
  * Spark plan: the stages are lazy frames composed into the load's write,
  * with no materialized boundary between them.
  *
  * At the paper's scale a load's cost is per file, not per byte: a daily
  * load appends a few hundred rows over dozens of date partitions, so the
  * load writes its date files from every shuffle partition
  * ([[IncrementalLoad.load]]) and the table's listings run on the driver
  * (`GraftSession.builder`).
  *
  * Differences from the reference, by design (SURVEY §8.7): the
  * clear-then-rewrite-then-crawl sequence (S8/S9) becomes one atomic
  * `saveAsTable(overwrite)`; the crawler poll loop disappears because
  * writes are synchronous; per-stage retry is Spark task retry.
  */
object Pipeline {

  final case class Result(cashbackRows: Long, appendedRows: Long)

  /** Run extract(API or fixture CSVs) → transform → partitioned write →
    * idempotent warehouse append, as one plan. The result's counts are the
    * transformed rows that reached the load and the rows it appended, both
    * observed on the write. `rewardsCsv`/`transactionsCsv` point at
    * reference-shaped extracts (header CSV); `warehouseTable` is the managed
    * target; `apiClient` is the optional S3/S4 fetch adapter — when present
    * the extracts come from the API with the CSVs as the failure fallback
    * (reference pull_data_glue_job_lambda.py:40-63). */
  def run(spark: SparkSession, rewardsCsv: String, transactionsCsv: String,
          warehouseTable: String = "cashback",
          apiClient: Option[ApiIngest.Client] = None,
          retry: Retry.Policy = Retry.Policy()): Result = {

    // Extract (S1 header-only strings — casts happen inside the transform,
    // matching glue_script.py:19-20; or S3/S4 API payloads via the injected
    // client, retried per the Step-Functions policy and read as strings over
    // the declared keys) + ingest renames (P2/P3).
    val (transactions, rewards) =
      ApiIngest.fetchData(spark, apiClient, transactionsCsv, rewardsCsv, retry)

    // Transform (J1 + E1–E6 + P1/P2 + E4) and load (idempotent anti-join
    // append on reward_id, J2) run as ONE plan, from the extract scan to the
    // partitioned write: nothing is persisted, and both counts are observed
    // on the write's own jobs.
    val cashback = CashbackTransform.transform(rewards, transactions)
    val counts = IncrementalLoad.load(
      spark, cashback, warehouseTable, "reward_id", Some("transaction_date"))
    Result(counts.incoming, counts.appended)
  }
}
