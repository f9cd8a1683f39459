package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the fastText-style hashed linear
  * classifier every large pretraining pipeline runs after the heuristic
  * gates (Joulin et al. 2016 "Bag of Tricks for Efficient Text
  * Classification"; the GPT-3/LLaMA-style "quality classifier" data cut):
  * tokens hash into `dims` feature buckets and a logistic model over those
  * buckets scores every document in one narrow pass.
  *
  * [[hashedLinearScore]] scores under a fixed published weight vector
  * ([[fixedWeights]]): a pure row-local expression (transform + ordered
  * fold), ZERO shuffles, bit-deterministic on any engine: the per-token
  * weight is `w[md5_long(token) mod dims]` (the engine's cross-engine
  * 60-bit content hash, [[graft.functions.Md5LongFunction.md5Long]]),
  * summed in token order. This is the oracle-gated tier (q105).
  *
  * Reference anchor: the reference pipeline scores rows with fixed
  * per-category reward rules (glue_script.py:19-78 equivalents); this
  * operator family is the learned generalization a 100 TB corpus needs.
  */
object QualityModel {

  /** Feature buckets of the published model. */
  val Dims = 64

  /** Published fixed scoring weights for the oracle-gated query: a pure
    * function of the bucket index (NOT trained), so the engine and the
    * DuckDB oracle embed the IDENTICAL literal vector. Values span
    * [-1, 1] with short decimal expansions that round-trip exactly
    * through `Double.toString` → SQL literal parsing. */
  def fixedWeights(): Array[Double] =
    Array.tabulate(Dims)(i => ((i * 37 + 11) % 101).toDouble / 50.0 - 1.0)

  /** Per-row mean bucket weight: `(Σ_t w[md5_long(t) mod dims]) / n_tokens`
    * — transform in token order, ordered fold, divide. The exact shape a
    * SQL oracle replays with `list_sum(list_transform(...)) / len(...)`. */
  private def meanTokenWeight(textCol: Column, weights: Array[Double]): Column = {
    val dims = weights.length
    val warr = array(weights.toIndexedSeq.map(lit): _*)
    val toks = split(textCol, " ")
    val perTok = transform(toks, t =>
      element_at(warr,
        (graft.functions.Md5LongFunction.md5Long(t) % dims).cast("int") + 1))
    aggregate(perTok, lit(0.0), (acc, x) => acc + x) / size(toks)
  }

  /** Column form of the model score: `σ(bias + meanTokenWeight)` rounded
    * to 6 decimals (absorbs the ≤1-ulp cross-engine `exp` difference;
    * also exactly the quantization [[graft.operators.Sampling.keepByTokenBudget]]'s
    * histogram fail-fast requires, so this column feeds budgeted
    * selection directly). Pure row-local expression. */
  def scoreColumn(text: Column, weights: Array[Double], bias: Double): Column = {
    require(weights.nonEmpty, "need a non-empty weight vector")
    val z = lit(bias) + meanTokenWeight(text, weights)
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** Score every document with a fixed hashed-linear model:
    * [[scoreColumn]] plus the `keep` decision at 0.5 computed
    * FROM the rounded score so both engines decide identical bits. Null
    * text scores null and is never kept. Adds `model_score` and `keep`;
    * zero shuffles, no state. */
  def hashedLinearScore(df: DataFrame, textCol: String,
                        weights: Array[Double], bias: Double): DataFrame = {
    val clash = Seq("model_score", "keep").filter(df.columns.contains)
    require(clash.isEmpty,
      s"input columns collide with output names: ${clash.mkString(", ")}")
    df.withColumn("model_score", scoreColumn(col(textCol), weights, bias))
      .withColumn("keep", col("model_score") >= 0.5)
  }
}
