package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval composition operators — the serving/evaluation half of the
  * similarity family: hybrid rank fusion (lexical BM25 + dense vectors is
  * how production RAG retrieval actually ships) and retrieval-quality
  * reporting (the recall@k measurement the ANN profiling tools compute
  * driver-side, exposed as a distributed, oracle-able operator).
  *
  * Both operate on ANSWER-SIZED relations (top-k rankings, |queries|·k
  * rows) — metadata scale; the corpus-scale work lives in the tiers that
  * produced the rankings. */
object Retrieval {

  /** Reciprocal Rank Fusion (Cormack et al., SIGIR 2009): fuse N ranked
    * lists by score(d) = Σ_systems 1/(k0 + rank_system(d)) — the standard
    * hybrid-retrieval combiner (robust to incomparable score scales, which
    * is exactly the BM25-vs-cosine situation).
    *
    * Determinism: each term quantizes to exact integer MICRO-UNITS
    * (`round(1e12/(k0+rank))` — one correctly-rounded double division and
    * a half-up round, identical in any engine; the DoReMi micro-unit
    * precedent), so the per-document sum is an exact LONG sum —
    * association-order-free — and the (score, id) ranking replays exactly.
    * Rail: 1e12/(k0+1) ≤ ~1.6e10 per term, so overflow needs ~5.7e8
    * fused systems — unreachable; no guard needed. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              k0: Int = 60, topK: Int = 20): DataFrame = {
    require(rankings.size >= 2, s"fusion needs ≥ 2 rankings, got ${rankings.size}")
    require(k0 >= 0, s"k0 must be ≥ 0, got $k0")
    require(topK >= 1, s"topK must be ≥ 1, got $topK")
    val scored = rankings.map(_.select(col(idCol),
      round(lit(1e12) / (lit(k0.toDouble) + col(rankCol).cast("double")), 0)
        .cast("long").as("rrf_term")))
      .reduce(_.unionByName(_))
    scored.groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_systems"),
        sum(col("rrf_term")).as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), col("n_systems"), col("rrf_micro").cast("long").as("rrf_micro"))
  }

  /** Per-query recall@k of a candidate neighbor relation against an exact
    * truth relation (both carrying (query_id, neighbor_id)) — the
    * evaluation every approximate tier is tuned by. Queries present in
    * the truth but absent from the candidate report 0, not silence. */
  def recallReport(truth: DataFrame, candidate: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be ≥ 1, got $k")
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val c = candidate.select(col("query_id"), col("neighbor_id"))
    val hits = t.join(c, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    t.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).cast("long").as("hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") / k, 6).as("recall"))
  }

  /** Per-query NDCG@k of a RANKED candidate relation against an exact
    * truth relation — [[recallReport]]'s rank-sensitive sibling
    * (Järvelin & Kekäläinen, TOIS 2002): recall treats a hit at rank 1
    * and rank k identically; NDCG discounts each hit by 1/log₂(rank+1),
    * which is what separates two tiers with equal recall but different
    * orderings. Binary relevance (a candidate is relevant iff it is in
    * the truth set — the graded-gain variant needs human labels this
    * pipeline does not have): DCG = Σ_hits 1/log₂(rank+1), IDCG = the
    * perfect-ordering DCG over min(k, |truth|) slots, ndcg rounded to 6
    * (the family convention; every term is a correctly-rounded double
    * log and division, identical in any engine). Queries present in the
    * truth but absent from the candidate report 0, not silence.
    *
    * `candidate` must carry the tier's rank column (1-based, as
    * [[graft.operators.Similarity.bruteForceTopK]] and every indexed
    * tier emit); ranks beyond k are ignored so a wider candidate list
    * can be re-scored at tighter k without recomputation. Answer-sized
    * relations throughout, exactly as [[recallReport]]. */
  def ndcgReport(truth: DataFrame, candidate: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be ≥ 1, got $k")
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val c = candidate.select(col("query_id"), col("neighbor_id"),
        col("rk").cast("long").as("nd_rk"))
      .where(col("nd_rk") >= 1 && col("nd_rk") <= k)
    val dcg = t.join(c, Seq("query_id", "neighbor_id"))
      .groupBy("query_id")
      .agg(sum(lit(1.0) / log2(col("nd_rk").cast("double") + 1.0)).as("dcg"))
    val ideal = t.groupBy("query_id")
      .agg(least(count(lit(1)), lit(k.toLong)).as("nd_m"))
      // IDCG(m) = Σ_{i=1..m} 1/log₂(i+1) — a k-term map over a bounded
      // sequence, never a per-row loop at corpus scale (k is the eval knob)
      .withColumn("idcg", aggregate(
        sequence(lit(1L), col("nd_m")),
        lit(0.0), (acc, i) => acc + lit(1.0) / log2(i.cast("double") + 1.0)))
    ideal
      .join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("dcg"), lit(0.0)), 6).as("dcg"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg"))
  }
}
