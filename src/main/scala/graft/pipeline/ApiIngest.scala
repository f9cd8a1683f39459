package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S3/S4 driver-side fetch adapter: the reference's try-API-fall-back-to-
  * fixtures seam (reference pull_data_glue_job_lambda.py:40-63) with the
  * HTTP client injected, so the seam is testable without network access —
  * exactly how the lambda is structured around its `PlutusApi` object.
  *
  * The client returns raw JSON payload strings (reference api.py:89-105
  * REST rewards endpoint; api.py:179-200 GraphQL transactions POST — the
  * response unwrapping of `data.transactions_view` is the client's job,
  * mirroring `response.json()['data']['transactions_view']`). Payload →
  * DataFrame goes through [[Ingest.jsonPayload]] (S5), fixtures through
  * [[Ingest.csvAllStrings]] (S1); both land all-string columns and then
  * share the ingest normalization (P2/P3), as in the reference where
  * `fetch_data` applies the same drops/renames to either source.
  */
object ApiIngest {

  /** Injectable API surface (reference api.py `PlutusApi`). Implementations
    * raise on non-200 (`api.py:95-103` status guard) — the seam treats any
    * throw as "fall back to fixtures". */
  trait Client {
    /** GraphQL transactions payload as a JSON array string (api.py:179-200). */
    def getTransactions(): String
    /** REST rewards payload as a JSON array string (api.py:89-105). */
    def getRewards(): String
  }

  /** Fetch both extracts: API when a client is configured (the reference
    * gates on its four credential env vars, :42 — here, `Some(client)`),
    * fixture CSVs when not, or when any API call fails mid-flight. Each API
    * pull is retried per `retry` (reference Step Functions policy,
    * infra/lambda.tf:161-173) BEFORE the fixture fallback engages. Returns
    * ingest-normalized (transactions, rewards). The payloads parse lazily:
    * one that was fetched but is malformed fails the load that reads it
    * ([[Ingest.jsonPayload]] is FAILFAST), it does not fall back. */
  def fetchData(spark: SparkSession, client: Option[Client],
                transactionsCsv: String, rewardsCsv: String,
                retry: Retry.Policy = Retry.Policy()): (DataFrame, DataFrame) = {
    val raw = client.flatMap { c =>
      try {
        // pull both payloads BEFORE building either frame: the reference
        // falls back for the pair, never half-API half-fixture
        val (t, r) = Retry(retry) { (c.getTransactions(), c.getRewards()) }
        Some((Ingest.jsonPayload(spark, t, Ingest.transactionKeys),
          Ingest.jsonPayload(spark, r, Ingest.rewardKeys)))
      } catch { case NonFatal(_) => None }
    }.getOrElse(
      (Ingest.csvAllStrings(spark, transactionsCsv), Ingest.csvAllStrings(spark, rewardsCsv)))
    (Ingest.normalizeTransactions(raw._1), Ingest.normalizeRewards(raw._2))
  }
}
