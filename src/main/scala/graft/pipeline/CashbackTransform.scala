package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** THE core transform (reference glue_script.py:19-78): rewards LEFT JOIN
  * transactions + derived columns + cast battery, producing the `cashback`
  * fact table.
  *
  * Semantics notes (SURVEY §8):
  *  - `plu_price` uses the canonical **elt.py** formula (elt.py:38-44): the
  *    rebate branch is `abs(raw pence amount)/100 * rebate_rate / plu_amount`.
  *    glue_script.py:47 divides by 100 twice (uses the already-scaled
  *    transaction_amount) — documented bug, not replicated; pinned by
  *    CashbackTransformSpec.
  *  - E2 reads `fiat_amount_rewarded` BEFORE the E3 rescale, matching the
  *    reference's expression order (glue_script.py:43-50 precedes :53).
  *  - Join: both sides are key-joined on reward.reference_id =
  *    transaction.transaction_id; Catalyst broadcasts the smaller side
  *    automatically at fixture scale and falls back to sort-merge at 100 TB —
  *    no hint needed (SURVEY §4).
  */
object CashbackTransform {

  /** Full transform over ingested (normalized, typed) rewards/transactions. */
  def transform(rewards: DataFrame, transactions: DataFrame): DataFrame = {
    val r = rewards.alias("r")
    val t = transactions.alias("t")

    // J1: left outer equi-join (glue_script.py:23)
    val joined = r.join(t, col("r.reference_id") === col("t.transaction_id"), "left")

    // E1: pence → pounds (glue_script.py:26)
    val withAmount = joined.withColumn(
      "transaction_amount", abs(col("t.amount")) / 100)

    // E2: conditional plu_price, canonical elt.py semantics (elt.py:38-44):
    //   rebate_rate == 0 → fiat_amount_rewarded / plu_amount   (pence / tokens)
    //   otherwise       → abs(amount)/100 * rebate_rate / plu_amount
    val withPrice = withAmount.withColumn(
      "plu_price",
      when(col("r.rebate_rate").cast("int") === 0,
        col("r.fiat_amount_rewarded") / col("r.plu_amount"))
        .otherwise(abs(col("t.amount")) / 100 * col("r.rebate_rate") / col("r.plu_amount")))

    // E3: rescale fiat_amount_rewarded AFTER E2 consumed the raw value
    // (glue_script.py:53; expression-order contract per SURVEY §8.2)
    val rescaled = withPrice.withColumn(
      "fiat_amount_rewarded", abs(col("r.fiat_amount_rewarded")) / 100)

    // P1/P2: project + rename (glue_script.py:29-37), E5/E6 (timestamp parse,
    // date-string partition key, glue_script.py:39-40), E4 cast battery
    // (glue_script.py:56-74).
    rescaled.select(
      col("r.reward_id").cast("string").as("reward_id"),
      col("t.transaction_id").cast("string").as("transaction_id"),
      col("t.description").cast("string").as("description"),
      col("r.plu_amount").cast("double").as("plu_amount"),
      date_format(col("t.date").cast("timestamp"), "yyyy-MM-dd").as("transaction_date"),
      col("t.date").cast("timestamp").as("transaction_timestamp"),
      col("r.available").cast("boolean").as("available"),
      col("r.reason").cast("string").as("reason"),
      col("r.createdAt").cast("timestamp").as("created_at"),
      col("r.updatedAt").cast("timestamp").as("updated_at"),
      col("r.rebate_rate").cast("int").as("rebate_rate"),
      col("fiat_amount_rewarded").cast("string").as("fiat_amount_rewarded"),
      col("t.currency").cast("string").as("currency"),
      col("r.reference_type").cast("string").as("reference_type"),
      col("r.reward_type").cast("string").as("reward_type"),
      col("transaction_amount").cast("double").as("transaction_amount"),
      col("plu_price").cast("double").as("plu_price"))
  }
}
