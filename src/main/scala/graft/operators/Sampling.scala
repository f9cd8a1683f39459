package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible sampling / split assignment for training-data pipelines.
  *
  * Spark's `sample`/`sampleBy` are seed-deterministic but partition-layout
  * dependent and implementation-specific — useless as a cross-engine or
  * cross-run contract. These operators derive the decision from a content
  * hash instead: md5 of the key modulo a bucket count. Any engine computes
  * the identical assignment (md5 is md5), re-runs are stable under
  * repartitioning, and adding data never reshuffles existing rows between
  * splits — the properties a train/val/test split must have.
  *
  * Scale: pure per-row expressions, no shuffle, no state.
  */
object Sampling {

  /** The bucket count of [[hashBucket]]: fractions resolve to percent. */
  private val Buckets = 100

  /** Stable bucket in [0, 100) from the md5 of the key column. */
  def hashBucket(key: Column): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(Buckets.toLong))

  /** Stratified deterministic sample: a per-stratum keep fraction (e.g.
    * upsample rare languages, downsample English), decided by the
    * content-hash bucket of [[hashBucket]] so the kept set is
    * stable across runs, engines, and data growth — the property a training
    * mixture needs. Rows in strata absent from `fractions` keep
    * `defaultFraction`. Pure per-row expression, no shuffle. */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       fractions: Seq[(String, Double)],
                       defaultFraction: Double = 0.0): DataFrame = {
    val cut = fractions.foldLeft(lit((defaultFraction * Buckets).toLong)) {
      case (acc, (s, f)) => when(stratum === s, lit((f * Buckets).toLong)).otherwise(acc)
    }
    df.where(hashBucket(key) < cut)
  }

  /** Mix a corpus to target stratum weights (the pretraining "data mixture"
    * step: e.g. 50% en / 30% code / 20% math): measure each named stratum's
    * population, find the binding stratum (smallest count/weight ratio —
    * the one that runs out first), size every stratum's keep-target off
    * that scale, and keep rows by the same content-hash bucket as
    * [[stratifiedSample]]. Strata not named in `weights` are dropped.
    *
    * The kept set is as large as the targets allow without upsampling: the
    * binding stratum keeps (almost) everything, the rest downsample to
    * weight proportion. Bucket granularity (default 1%) quantizes the
    * fractions — floor'd, so realized shares never overshoot their weight.
    *
    * Scale shape: one map-side-combinable count per named stratum (a
    * metadata relation — ≤ weights.size rows — collected once), then a pure
    * per-row hash predicate on the corpus: no corpus shuffle, no join, and
    * the decision replays identically in any engine (md5 is md5; the cut
    * arithmetic is plain IEEE doubles).
    *
    * Fails fast (IllegalArgumentException) when none of the named strata
    * exist in the corpus — a mixture whose every source is missing is a
    * config error, not an empty result — and on duplicate stratum names,
    * which would otherwise silently last-win. */
  def mixToWeights(df: DataFrame, key: Column, stratum: Column,
                   weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"weights must be positive, got $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate stratum names in weights (a duplicate would silently " +
        s"last-win): ${weights.map(_._1)}")
    val wExpr = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (s, f)) => when(lit(s) === col("mx_stratum"), lit(f)).otherwise(acc)
    }
    val counts = df.groupBy(stratum.as("mx_stratum"))
      .agg(count(lit(1)).as("mx_cnt"))
      .withColumn("mx_w", wExpr)
      .where(col("mx_w").isNotNull)
      .collect()
    require(counts.nonEmpty,
      s"none of the named strata ${weights.map(_._1)} exist in the corpus")
    val scale = counts.iterator
      .map(r => r.getLong(1).toDouble / r.getDouble(2)).min
    val cut = counts.foldLeft(lit(0L)) { (acc, r) =>
      when(stratum === r.getString(0),
        lit(math.floor(r.getDouble(2) * scale / r.getLong(1) * Buckets).toLong))
        .otherwise(acc)
    }
    df.where(hashBucket(key) < cut)
  }

  /** TEMPERATURE-scaled mixture weights — the multilingual rebalancing
    * recipe (mT5/PaLM-style sampling temperature): stratum weights
    * proportional to population^alpha, so alpha = 1 reproduces the natural
    * mix, alpha = 0 the uniform mix, and the usual alpha ∈ (0,1) lifts
    * rare strata between the two. Feed the result straight to
    * [[mixToWeights]] — under its binding-stratum arithmetic the
    * smallest stratum keeps (almost) everything and a stratum of size n
    * keeps the fraction (n_min/n)^(1−alpha).
    *
    * Weights are quantized to 6 decimals with the engine's standard
    * HALF-UP rounding so an oracle replaying `pow` on its own libm
    * computes the IDENTICAL doubles (a raw pow differs by ≤1 ulp across
    * engines, and the binding stratum's keep-cut sits exactly on the
    * floor boundary where 1 ulp flips the bucket count).
    *
    * Scale shape: one map-side-combined count per stratum; the collect is
    * stratum-sized and fail-fasts past [[MaxStrata]] (a corpus-cardinality
    * stratum column is a config error — at that grain use
    * [[keepByGroupTokenBudget]]'s distributed thresholds instead). Null
    * strata are excluded (they cannot be named in a mixture). */
  def temperatureWeights(df: DataFrame, stratum: Column,
                         alpha: Double): Seq[(String, Double)] = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    collectStrata(df, stratum, count(lit(1)), "temperature weights")
      .map { r =>
        r.getString(0) -> BigDecimal(math.pow(r.getLong(1).toDouble, alpha))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sortBy(_._1)
  }

  /** The most strata the mixture-weight planners collect to the driver. */
  private[operators] val MaxStrata = 10000

  /** Shared stratum-aggregation scaffold for the mixture-weight planners
    * ([[temperatureWeights]], [[unimaxWeights]]): non-null strata,
    * string-cast groupBy, ONE map-side-combined aggregate, the
    * cardinality fail-fast guarded by a persist so the count and the
    * collect read the same computed relation, bounded collect. */
  private def collectStrata(df: DataFrame, stratum: Column, agg: Column,
                            what: String): Seq[org.apache.spark.sql.Row] = {
    val counts = df.where(stratum.isNotNull)
      .groupBy(stratum.cast("string").as("st_stratum"))
      .agg(agg.as("st_v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(counts.count() <= MaxStrata,
        s"stratum cardinality exceeds $MaxStrata — $what are for " +
          "mixture-grain strata (languages, sources), not row-grain keys")
      counts.collect().toSeq
    } finally counts.unpersist()
  }

  /** UNIMAX budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): distribute a total training budget of
    * `budgetFactor · Σ size` over strata by WATERFILLING under a
    * per-stratum epoch cap — each stratum, processed in ascending
    * capacity order, is capped at `epochCap` epochs while that fits
    * inside an equal share of the remaining budget; the first stratum
    * whose cap exceeds its share ends the capping and every remaining
    * stratum splits the leftover equally. Low-resource strata therefore
    * repeat up to (never past) `epochCap`, and the head stratum absorbs
    * the remainder — the published fix for temperature sampling's
    * unbounded low-resource repetition.
    *
    * Returns per-stratum EPOCH factors (allocation ÷ capacity) in
    * [[epochExpand]]'s shape, so the full UniMax recipe is
    * `epochExpand(df, key, stratum, unimaxWeights(...))`.
    *
    * Cross-engine parity: capacities are exact LONG sums; the budget,
    * caps, running cap-sum (ascending (capacity, name) order — the same
    * left-to-right fold a SQL running window computes) and the leftover
    * share are IEEE doubles combined in the written order; the final
    * epoch factor quantizes to 6 decimals HALF-UP exactly like
    * [[temperatureWeights]], so an oracle replaying the same arithmetic
    * computes identical doubles even where a capped stratum's
    * `(epochCap·c)/c` lands 1 ulp off `epochCap`.
    *
    * Scale shape: one map-side-combined LONG sum per stratum; the
    * collect is stratum-sized with the same [[MaxStrata]] fail-fast as
    * [[temperatureWeights]] (mixture-grain strata only); the
    * waterfilling loop is O(strata) on the driver. Null strata are
    * excluded (they cannot be named in a mixture); zero-capacity strata
    * are excluded from the fill (0 epochs of nothing) and never
    * divide-by-zero. */
  def unimaxWeights(df: DataFrame, stratum: Column, size: Column,
                    budgetFactor: Double, epochCap: Double): Seq[(String, Double)] = {
    require(budgetFactor > 0.0, s"budgetFactor must be positive, got $budgetFactor")
    require(epochCap > 0.0, s"epochCap must be positive, got $epochCap")
    val rows = collectStrata(df, stratum, sum(size.cast("long")),
      "UniMax weights").map { r =>
      require(!r.isNullAt(1) && r.getLong(1) >= 0L,
        s"stratum '${r.getString(0)}' has a null/negative size sum — " +
          "size must be a non-negative measure (chars, tokens, bytes)")
      r.getString(0) -> r.getLong(1)
    }
    val live = rows.filter(_._2 > 0L).sortBy { case (n, c) => (c, n) }
    val total = rows.map(_._2).sum
    val budget = budgetFactor * total.toDouble
    val L = live.size
    // waterfill: cap strata ascending while epochCap·c fits the equal
    // share of what remains; the first violation freezes the prefix k
    // and the leftover splits equally over the L−k uncapped strata.
    // The spent prefix is tracked as an EXACT long capacity sum and
    // multiplied by epochCap once per use, so a SQL replay's running
    // window sum (integer, association-order-free) reproduces the
    // identical doubles regardless of how its engine associates the
    // additions.
    var spentCap = 0L
    var k = 0
    var violated = false
    live.foreach { case (_, c) =>
      if (!violated) {
        val cap = epochCap * c.toDouble
        if (cap <= (budget - epochCap * spentCap.toDouble) / (L - k)) {
          spentCap += c; k += 1
        } else violated = true
      }
    }
    val share =
      if (k < L) (budget - epochCap * spentCap.toDouble) / (L - k) else 0.0
    val weights = live.zipWithIndex.map { case ((n, c), i) =>
      val alloc = if (i < k) epochCap * c.toDouble else share
      n -> BigDecimal(alloc / c.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (weights ++ rows.filter(_._2 == 0L).map(_._1 -> 0.0)).sortBy(_._1)
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * arXiv:2305.10429) under a STATIC unigram proxy. DoReMi's group-DRO
    * loop upweights domains by their EXCESS LOSS — proxy-model loss
    * minus per-domain reference loss — via multiplicative weights.
    * Two published facts make a closed-form engine operator of it:
    * under unigram LMs, a domain's per-token excess loss (cross-entropy
    * of the domain under the corpus-mixture model minus the domain's
    * own entropy) IS exactly KL(P_domain ‖ P_corpus) — the drift
    * relation [[TextAnalysis.unigramDrift]] already gates (q63) — and
    * multiplicative weights over a STATIC excess collapse to a softmax
    * with the step count absorbed into `eta`. The full DoReMi recipe
    * retrains the proxy between updates; this operator is the
    * distributed half a pipeline runs per update, honest about the
    * static-proxy simplification.
    *
    * Cross-engine parity: the KL arrives round-6 from unigramDrift; the
    * softmax factor exp(eta·kl) quantizes straight to exact integer
    * MICRO-units (half-up), so the normalizing sum is an exact long sum
    * — association-order-free — and the final weight is one correctly-
    * rounded division, round-6. A drift-free corpus (all KLs ≈ 0)
    * yields near-uniform weights, exactly DoReMi's no-op answer.
    *
    * Scale shape: [[TextAnalysis.unigramDrift]]'s (one corpus pass to
    * (slice, token) counts; everything downstream reduces from that
    * aggregate) plus a slice-sized softmax over a broadcast scalar
    * total. Output: (slice, kl, weight) — collect it to feed
    * [[mixToWeights]]/[[epochExpand]], both of which fail fast on
    * corpus-grain cardinality. */
  def doremiWeights(df: DataFrame, sliceCol: String, textCol: String,
                    eta: Double): DataFrame = {
    require(eta > 0.0, s"eta must be positive, got $eta")
    val drift = TextAnalysis.unigramDrift(df, sliceCol, textCol)
    // fail fast instead of saturating: under the session's non-ANSI
    // config cast-to-long SATURATES past Long.MaxValue, which would
    // silently collapse every high-drift domain to the same weight
    // (and the SQL oracle hard-errors on the same input — the engine
    // must not out-survive its own gate). exp(eta·kl) past the
    // micro-unit rail means eta is mis-sized for this corpus's KLs.
    val factor = exp(lit(eta) * col("kl"))
    val micro = when(factor <= lit(9.0e12), round(factor * lit(1e6), 0).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"doremiWeights: exp(eta*kl) overflows the micro-unit Long " +
          s"rail (eta=$eta) for slice "), col(sliceCol).cast("string"),
        lit(" — lower eta"))))
    val d = drift.select(col(sliceCol), col("kl"), micro.as("dw_mu"))
    // The per-row rail above bounds each factor, not their SUM: two or
    // more slices near the 9.0e18-micro rail push sum(long) past
    // Long.MaxValue, where Spark's non-ANSI sum silently WRAPS negative
    // while DuckDB's BIGINT sum promotes to HUGEINT and stays correct —
    // exactly the engine/oracle divergence the rail exists to prevent.
    // Summing in decimal(38,0) mirrors the HUGEINT promotion (38 digits
    // hold ~10^19 slices at the rail) and costs one slice-sized agg.
    val tot = d.agg(sum(col("dw_mu").cast("decimal(38,0)")).as("dw_tot"))
    d.crossJoin(broadcast(tot))
      .select(col(sliceCol), col("kl"),
        round(col("dw_mu").cast("double") / col("dw_tot").cast("double"), 6)
          .as("weight"))
  }

  /** Epoch-weighted mixture EXPANSION — the upsampling counterpart of
    * [[mixToWeights]]: materialize per-stratum epoch factors (the
    * pretraining recipe "wikipedia × 3.2 epochs, web × 0.5") by emitting
    * each row `⌊w⌋` times plus one more iff its content-hash bucket falls
    * under the fractional part — so a 3.2-epoch stratum repeats every doc
    * 3 times and a deterministic 20% of docs a 4th, and a 0.5-epoch
    * stratum keeps a deterministic half once. Strata not named keep
    * `defaultEpochs` (1.0 = pass through). A weight of 0 drops the
    * stratum.
    *
    * Output is the input schema plus an `epoch` column (0-based copy
    * index), so downstream shuffling/export can spread copies apart and
    * a (key, epoch) pair stays unique. The decision reuses
    * [[hashBucket]]'s content hash: stable across runs, engines,
    * partitioning, and appends, exactly as the rest of the family —
    * and fractions quantize to bucket granularity (default 1%),
    * HALF-UP — so w = 0.3 keeps 30% despite 0.3's IEEE representation
    * sitting just under 0.3 (a bare floor would keep 29%).
    *
    * Scale shape: pure per-row expressions + a narrow explode (no
    * shuffle, no join, no state); output size = Σ_s |s|·w_s by
    * construction. At 100 TB the expansion is usually the LAST step
    * before shard export — compose with [[corpusShuffle]] keyed on
    * (key, epoch) so repeats land in different shards. */
  def epochExpand(df: DataFrame, key: Column, stratum: Column,
                  epochs: Seq[(String, Double)],
                  defaultEpochs: Double = 1.0): DataFrame = {
    require(epochs.forall(_._2 >= 0),
      s"epoch factors must be non-negative, got $epochs")
    require(defaultEpochs >= 0,
      s"defaultEpochs must be non-negative, got $defaultEpochs")
    require(epochs.map(_._1).distinct.size == epochs.size,
      s"duplicate stratum names in epochs (a duplicate would silently " +
        s"last-win): ${epochs.map(_._1)}")
    require(!df.columns.contains("epoch"),
      "input columns collide with reserved names: epoch")
    val w = epochs.foldLeft(lit(defaultEpochs)) {
      case (acc, (s, f)) => when(stratum === s, lit(f)).otherwise(acc)
    }
    val whole = floor(w).cast("int")
    // HALF-UP quantization of the fractional epoch: floor alone under-
    // buckets common decimals through IEEE representation (w = 0.3 →
    // frac·100 = 29.999…96 → cut 29, silently keeping 29% instead of
    // 30%); +0.5 before the floor lands every such decimal on its
    // intended bucket. (stratifiedSample keeps its own documented floor
    // convention — its fractions are caller-chosen cut points, not a
    // user-facing epoch weight.)
    val fracBuckets = floor((w - floor(w)) * Buckets + 0.5).cast("long")
    val copies = whole +
      when(hashBucket(key) < fracBuckets, lit(1)).otherwise(lit(0))
    df.withColumn("epoch",
        explode(when(copies > 0, sequence(lit(0), copies - 1))
          .otherwise(array().cast("array<int>"))))
  }

  /** EXACTLY-k-per-stratum deterministic sample: rank each stratum's rows
    * by the md5 of their key (key itself as the tie-break) and keep the k
    * smallest — the fixed-BUDGET companion to [[stratifiedSample]]'s fixed
    * FRACTION (eval-set carving, per-language probe sets, capped
    * inspection dumps all want "give me exactly k of each"). The kept set
    * is a pure function of content: stable across runs, engines,
    * partitioning, and appends that don't displace the k smallest hashes.
    * REQUIRES `key` to be unique within each stratum: duplicate keys tie
    * on the full (hash, key) sort and `row_number` breaks the tie by
    * partition layout, so which duplicate survives would vary across
    * runs — pass a row-unique id (doc id, primary key), not content.
    *
    * Scale shape: one shuffle on the stratum key into a per-stratum
    * row_number window. The full sort per stratum is the cost at corpus
    * scale; when strata are huge and k is small, pre-cut with the SAME
    * rank hash first — `where(md5Long(key) < (f · 2⁶⁰))` for a fraction f
    * safely above k/|stratum| — a pure per-row predicate that preserves
    * the k smallest ranks exactly (it keeps a prefix of the rank order),
    * so the window only ever sorts ~f of the stratum. (A mod-bucket cut
    * like [[stratifiedSample]]'s does NOT compose this way: bucket id is
    * not a prefix of the rank order.) */
  def fixedSizeSample(df: DataFrame, key: Column, stratum: Column,
                      k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fs_stratum"))
      .orderBy(col("fs_rank").asc, col("fs_key").asc)
    df.withColumn("fs_stratum", stratum)
      .withColumn("fs_key", key.cast("string"))
      .withColumn("fs_rank", graft.functions.Md5LongFunction.md5Long(col("fs_key")))
      .withColumn("fs_rn", row_number().over(w))
      .where(col("fs_rn") <= k)
      .drop("fs_stratum", "fs_key", "fs_rank", "fs_rn")
  }

  /** WEIGHTED sampling without replacement, deterministic — the
    * Efraimidis–Spirakis A-ES scheme (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): every row draws a
    * uniform u ∈ (0,1) and competes on the key u^(1/w); the k LARGEST
    * keys are distributed exactly as k sequential weighted draws without
    * replacement. Here u derives from the engine's cross-engine content
    * hash of (seed, key) — `(md5_long(seed ∥ key) + 0.5) / 2⁶⁰` — so the
    * sample is a pure function of (content, seed): stable across runs,
    * engines, and partition layouts, re-seedable for fresh draws, and
    * SQL-replayable (the +0.5 lifts u off zero; at 60-bit magnitudes it
    * is absorbed identically by both engines' round-to-nearest, so parity
    * is bit-exact). k rows are kept per stratum; for a GLOBAL draw use
    * [[weightedSampleGlobal]] — a constant stratum here would funnel the
    * whole corpus into ONE window partition, the classic scale killer.
    *
    * Rows that cannot compete are excluded up front: null key, and null /
    * NaN / non-positive / infinite weight (u^(1/w) is undefined or
    * ill-ordered there — +∞ collapses every key to exactly 1.0, turning
    * the draw among such rows into a plain hash lottery; a zero-weight
    * row should never be drawn anyway). Ties on the ES key are broken by
    * (hash, key) — a total order.
    *
    * Scale shape: one shuffle on the stratum key into a per-stratum
    * row_number window, exactly [[fixedSizeSample]]'s cost. For huge
    * strata with small k, a per-row pre-cut `ws_esk ≥ τ` composes safely
    * for any τ below the eventual k-th key (it keeps a SUPERSET prefix of
    * the descending ES order); with weights bounded by w_max, τ =
    * (ε)^(w_max) guarantees ≥ k survivors with probability governed by ε
    * — pick ε from k/|stratum| with slack, the same engineering as
    * [[fixedSizeSample]]'s md5-prefix pre-cut. */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
                     stratum: Column, k: Int, seed: String = ""): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val reserved = Seq("ws_key", "ws_h", "ws_w", "ws_esk", "ws_stratum", "ws_rn")
    val clash = df.columns.filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"input columns collide with scratch names [${clash.mkString(", ")}] — " +
        "rename or drop them first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ws_stratum"))
      .orderBy(col("ws_esk").desc, col("ws_h").asc, col("ws_key").asc)
    esKeyed(df, key, weight, seed)
      .withColumn("ws_stratum", stratum)
      .withColumn("ws_rn", row_number().over(w))
      .where(col("ws_rn") <= k)
      .drop(reserved: _*)
  }

  /** GLOBAL [[weightedSample]] — the same Efraimidis–Spirakis draw with the
    * top-k taken by `orderBy(…).limit(k)`, which Spark plans as
    * TakeOrderedAndProject: a bounded k-row HEAP per partition merged on
    * the driver — no shuffle of the corpus, no single-partition window
    * (spec-asserted). The per-stratum variant cannot use this shape (its
    * k is per group); globally it is strictly better than a
    * constant-stratum window. Same exclusions, same total order, same
    * (content, seed) determinism. */
  def weightedSampleGlobal(df: DataFrame, key: Column, weight: Column,
                           k: Int, seed: String = ""): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val reserved = Seq("ws_key", "ws_h", "ws_w", "ws_esk")
    val clash = df.columns.filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"input columns collide with scratch names [${clash.mkString(", ")}] — " +
        "rename or drop them first")
    esKeyed(df, key, weight, seed)
      .orderBy(col("ws_esk").desc, col("ws_h").asc, col("ws_key").asc)
      .limit(k)
      .drop(reserved: _*)
  }

  /** [[systematicResample]]'s bucket bits: 2^8 bucket totals on the driver,
    * 256 parallel bucket sorts. */
  private val ResampleBucketBits = 8

  /** WEIGHTED resampling WITH replacement, deterministic — systematic
    * (low-variance / stratified-universal) resampling (Kitagawa 1996,
    * JCGS 5(1); Douc, Cappé & Moulines 2005 compare the schemes): lay
    * the rows' integer weights end-to-end on a line of total mass W,
    * then take `n` draws at the equally-spaced positions
    * (j + ½)·W/n, j = 0…n−1 — the row whose cumulative interval
    * contains a position receives that draw. Each row's draw count is
    * then GUARANTEED within 1 of its expectation n·wᵢ/W (it is
    * ⌊n·wᵢ/W⌋ or ⌈n·wᵢ/W⌉ up to interval phase — the minimum-variance
    * resampler, vs multinomial's O(√n) noise), and the counts sum to
    * exactly `n`. This is the with-replacement counterpart the
    * Efraimidis–Spirakis family ([[weightedSample]]) cannot express —
    * the shape importance-resampling pipelines (DSIR-style exp-weight
    * draws, length-proportional token-uniform eval carving) actually
    * run, where one document may legitimately be drawn many times.
    *
    * Determinism and cross-engine parity: the line order is the seeded
    * content order (md5_long(seed ∥ key) ASC, key ASC) — the house draw
    * order — and every quantity is INTEGER: weights are taken as longs
    * (pre-quantize fractional importance weights to micro-units, the
    * [[doremiWeights]] / RRF precedent), cumulative mass is summed in
    * decimal(38,0) (DuckDB replays it as HUGEINT — no float drift, no
    * long overflow, the ADVICE-r18 lesson), and the per-row count is a
    * difference of exact integral divisions:
    * `g(2n·cumᵢ) − g(2n·cumᵢ₋₁)` with `g(X) = (X + W) DIV 2W`
    * (g counts the draw positions at or below X/2n: position j sits at
    * mass (2j+1)·W/2n, so (2j+1)·W ≤ X ⟺ j < g(X)). Rows with a null
    * key or a null / non-positive weight cannot receive a draw and are
    * excluded up front, exactly as in [[weightedSample]]. REQUIRES
    * `key` unique across the corpus (duplicate keys tie the line order
    * and the tied rows' counts would split layout-dependently — pass a
    * row-unique id), same as [[deterministicShuffle]].
    *
    * Output: the competing rows that received ≥ 1 draw, with a `draws`
    * count column (Σ draws = n). Materialize the multiplicity
    * downstream with the [[epochExpand]] explode shape
    * (`explode(sequence(0, draws − 1))`) when physical copies are
    * needed — counts stay |output| ≤ n rows here.
    *
    * Scale shape: NO global window. The prefix sum is bucketed: the top
    * [[ResampleBucketBits]] bits of the 60-bit draw hash define 2^bits
    * buckets that are a PREFIX of the line order (hash-ascending), so
    * per-bucket mass totals (one map-side-combined aggregate, 2^bits
    * rows — metadata scale, collected and prefix-summed on the driver)
    * plus a window partitioned BY bucket reconstruct the exact global
    * cumulative sum with per-bucket parallel sorts of |corpus|/2^bits
    * rows each. Two corpus passes (totals + window), one shuffle (the
    * bucket window). */
  def systematicResample(df: DataFrame, key: Column, weight: Column,
                         n: Long, seed: String = ""): DataFrame = {
    require(n > 0, s"draw count must be positive, got $n")
    require(n <= 1000000000L,
      s"draw count $n exceeds the 1e9 rail — the count arithmetic's " +
        "decimal(38,0) headroom assumes 2n·W < 1e38 with W ≤ 1e28")
    val reserved = Seq("sr_key", "sr_h", "sr_w", "sr_b", "sr_off", "sr_cum", "draws")
    val clash = df.columns.filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"input columns collide with scratch/output names " +
        s"[${clash.mkString(", ")}] — rename or drop them first")
    val keyed = df
      .withColumn("sr_key", key.cast("string"))
      .withColumn("sr_w", weight.cast("long"))
      .where(col("sr_key").isNotNull &&
        col("sr_w").isNotNull && col("sr_w") > 0)
      .withColumn("sr_h",
        graft.functions.Md5LongFunction.md5Long(concat(lit(seed), col("sr_key"))))
      .withColumn("sr_b", shiftright(col("sr_h"), 60 - ResampleBucketBits))
    // Per-bucket mass totals: 2^ResampleBucketBits rows, exact decimal sums.
    val totals = keyed.groupBy("sr_b")
      .agg(sum(col("sr_w").cast("decimal(38,0)")).as("t"))
      .collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).toBigInteger)
      .sortBy(_._1)
    require(totals.nonEmpty,
      "systematicResample: no positively-weighted rows to draw from")
    val W = totals.map(_._2).reduce(_ add _)
    require(new java.math.BigDecimal(W)
        .compareTo(new java.math.BigDecimal("1e28")) < 0,
      s"systematicResample: total weight $W exceeds the 1e28 rail — " +
        "quantize weights coarser (2n·W must stay inside decimal(38,0))")
    // Exclusive prefix offsets per bucket, computed exactly on the driver.
    var acc = java.math.BigInteger.ZERO
    val offsets = totals.map { case (b, t) =>
      val o = acc; acc = acc.add(t); (b, new java.math.BigDecimal(o))
    }
    val s = df.sparkSession
    import scala.jdk.CollectionConverters._
    val offDf = s.createDataFrame(
      offsets.map(p => org.apache.spark.sql.Row(p._1, p._2)).toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sr_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sr_off",
          org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)))))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sr_b"))
      .orderBy(col("sr_h").asc, col("sr_key").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wLit = s"CAST('$W' AS DECIMAL(38,0))"
    val n2 = s"CAST('${2L * n}' AS DECIMAL(38,0))"
    keyed
      .join(broadcast(offDf), "sr_b")
      .withColumn("sr_cum",
        col("sr_off") + sum(col("sr_w").cast("decimal(38,0)")).over(win))
      .withColumn("draws", expr(
        s"CAST(((sr_cum * $n2 + $wLit) DIV ($wLit + $wLit)) - " +
          s"(((sr_cum - sr_w) * $n2 + $wLit) DIV ($wLit + $wLit)) AS BIGINT)"))
      .where(col("draws") >= 1)
      .drop("sr_key", "sr_h", "sr_w", "sr_b", "sr_off", "sr_cum")
  }

  /** Shared ES scratch columns: competing rows only (non-null key,
    * positive finite weight), the seeded 60-bit uniform, and the
    * u^(1/w) competition key. */
  private def esKeyed(df: DataFrame, key: Column, weight: Column,
                      seed: String): DataFrame =
    df.withColumn("ws_key", key.cast("string"))
      .withColumn("ws_w", weight.cast("double"))
      // positive FINITE weights only: +∞ would pass a bare > 0 and
      // collapse its key to pow(u, 1/∞) = 1.0 exactly — every such row
      // ties at the top and the "weighted" draw among them degrades to
      // the hash tie-break, violating the exclusion contract silently
      .where(col("ws_key").isNotNull &&
        col("ws_w").isNotNull && !isnan(col("ws_w")) &&
        col("ws_w") > 0 && col("ws_w") < lit(Double.PositiveInfinity))
      .withColumn("ws_h",
        graft.functions.Md5LongFunction.md5Long(concat(lit(seed), col("ws_key"))))
      .withColumn("ws_esk",
        pow((col("ws_h").cast("double") + lit(0.5)) / lit(math.pow(2.0, 60)),
          lit(1.0) / col("ws_w")))

  /** Deterministic corpus shuffle + sharding — the training-export stage:
    * a model's data order must be reproducible (resume from step N, rerun
    * an ablation, bisect a loss spike) yet statistically shuffled, and at
    * 100 TB it must also be SHARDED so loaders stream per-shard files.
    * Each row's shard and its position within the shard derive from the
    * cross-engine [[graft.functions.Md5LongFunction.md5Long]] of
    * (seed, key): change the seed → a fresh permutation; same seed → the
    * identical order on any engine, any partition layout, any rerun.
    *
    * Scale shape: NO global row_number (a global window is a single
    * partition — the classic scale killer); the shard is a pure per-row
    * hash and the position is a window partitioned BY shard, so the sort
    * parallelizes over `shards` (set shards ≳ cluster cores at 100 TB;
    * loaders get one ordered file list per shard directory from a
    * `partitionBy("shard")` write). Ties cannot occur within a shard
    * except on 60-bit hash collisions, broken by the RAW key column (its
    * native ordering — the same `ORDER BY h, key` an oracle replays;
    * breaking on the stringified key would order "10" before "9" and
    * silently disagree with a numeric-key replay).
    *
    * REQUIRES `key` to be unique across the corpus: two rows sharing a
    * key value tie on the full (hash, key) sort, so which gets which
    * position is partition-layout-dependent — the duplicates still land
    * deterministically in the SAME shard at an adjacent pair of
    * positions, but the byte-reproducibility of a `partitionBy("shard")`
    * export holds only up to that pairwise order. Pass
    * a row-unique id (doc id, primary key), not content. Rejects inputs
    * that already carry any of the output/scratch columns (`shard`,
    * `pos`, `ds_*`) instead of silently overwriting them. */
  def deterministicShuffle(df: DataFrame, key: Column, seed: String,
                           shards: Int): DataFrame = {
    require(shards > 0, s"need a positive shard count, got $shards")
    val reserved = Seq("shard", "pos", "ds_key", "ds_h", "ds_shard", "ds_pos")
    val clash = df.columns.filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"deterministicShuffle writes columns [${reserved.mkString(", ")}] and " +
        s"the input already has [${clash.mkString(", ")}] — rename or drop " +
        "them first (silently overwriting would corrupt caller data)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ds_shard"))
      .orderBy(col("ds_h").asc, key.asc)
    df.withColumn("ds_key", key.cast("string"))
      .withColumn("ds_h",
        graft.functions.Md5LongFunction.md5Long(concat(lit(seed), col("ds_key"))))
      .withColumn("ds_shard", pmod(col("ds_h"), lit(shards.toLong)).cast("int"))
      .withColumn("ds_pos", row_number().over(w).cast("long"))
      .withColumn("shard", col("ds_shard"))
      .withColumn("pos", col("ds_pos"))
      .drop("ds_key", "ds_h", "ds_shard", "ds_pos")
  }

  /** EXACTLY-k budgeted selection by score — the quality-filter step that
    * keeps the best k documents of a corpus (FineWeb-style classifier-score
    * curation with a hard budget), deterministically: rows rank by
    * (score DESC, md5(key), key), the [[fixedSizeSample]] tie-break
    * discipline, so the kept set is a pure function of content — stable
    * across runs, engines, and partitioning. `key` must be row-unique.
    *
    * Scale shape — the naive `orderBy(desc).limit(k)` either ships every
    * partition's top k to ONE task (TakeOrdered: fine for small k, dead at
    * budget-sized k) or range-sorts the corpus; this instead never sorts
    * corpus rows at all:
    *   1. ONE map-side-combined aggregate to (score, count) — the score
    *      histogram, metadata-sized because scores are QUANTIZED (every
    *      score in this repo is round-6; a raw unrounded double would make
    *      the histogram corpus-sized, so cardinality > [[MaxDistinctScores]]
    *      fails fast with that instruction rather than silently collecting
    *      a corpus to the driver);
    *   2. the threshold score τ and the above-τ row count read off the
    *      histogram on the driver (a bounded-metadata collect);
    *   3. ONE more corpus pass keeps score ≥ τ — a pure per-row
    *      predicate leaving ~k + ties rows — and the per-score md5-rank
    *      window decides the τ tie group's remaining slots. The window is
    *      the single non-narrow step and its input is ANSWER-sized
    *      (|{score ≥ τ}|); when a deployment's boundary group is itself
    *      huge, the md5-prefix pre-cut documented on [[fixedSizeSample]]
    *      composes here unchanged (the kept ranks are a prefix of the
    *      md5 order).
    * Rows with null or NaN score are never selected (neither is a
    * ranking); if fewer than k scored rows exist, all are kept. */
  def topKByScore(df: DataFrame, key: Column, score: Column, k: Int): DataFrame = {
    require(k > 0, s"budget must be positive, got $k")
    val reserved = Seq("tk_score", "tk_key", "tk_rn").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"input columns collide with reserved names: ${reserved.mkString(", ")}")
    // Persisted BELOW the null/NaN filter, for the same two measured
    // reasons as keepByGroupTokenBudget's scored relation (see the
    // comment there; SCALE.md §Round 17): the histogram job and the
    // selection pass both read it, and a filter pushed beneath the cache
    // re-substitutes the caller's score expression into every reference.
    // The histogram collect() doubles as the sequential materializer.
    // Lifecycle owner: GraftSession.releaseCaches.
    val s = df
      .withColumn("tk_score", score.cast("double"))
      .withColumn("tk_key", key.cast("string"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .where(col("tk_score").isNotNull && !isnan(col("tk_score")))
    // ONE corpus pass builds the histogram; it is cached so the guard
    // count and the collect read the same computed relation (a bare
    // take(N) would re-run the aggregate under the driver's limit
    // escalation — measured 3-4 extra score passes at bench scale), and
    // the guard fires BEFORE any corpus-sized collect can happen.
    val histDf = s.groupBy("tk_score").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hist = try {
      require(histDf.count() <= MaxDistinctScores,
        s"score histogram exceeds $MaxDistinctScores distinct values — " +
          "quantize the score (round it) before budgeted selection")
      histDf.collect()
    } finally histDf.unpersist()
    val desc = hist.map(r => (r.getDouble(0), r.getLong(1))).sortBy(-_._1)
    var cum = 0L
    var i = 0
    while (i < desc.length && cum + desc(i)._2 < k) { cum += desc(i)._2; i += 1 }
    if (i >= desc.length) { // fewer than k scored rows: keep them all
      s.select(df.columns.map(col).toIndexedSeq: _*)
    } else {
      val (tau, _) = desc(i)
      val rem = k - cum
      // ONE selection pass: the ≥ τ filter leaves ~k + ties rows, so the
      // tie-break window exchanges an ANSWER-sized relation (above-τ score
      // groups get ranked too — harmless, they are kept regardless)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tk_score"))
        .orderBy(graft.functions.Md5LongFunction.md5Long(col("tk_key")).asc,
          col("tk_key").asc)
      s.where(col("tk_score") >= tau)
        .withColumn("tk_rn", row_number().over(w))
        .where(col("tk_score") > tau || col("tk_rn") <= rem)
        .select(df.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** TOKEN-budget selection by score — [[topKByScore]]'s sibling with the
    * budget denominated in TOKENS, the unit real dataset cuts use: walk
    * docs in (score DESC, md5(key), key) order and keep the maximal
    * PREFIX whose running token total fits `budget`. Prefix-greedy (the
    * standard practice), not knapsack: the first doc that would overflow
    * the budget is dropped and, the order being total and the running sum
    * monotone, so is everything after it. Deterministic — the kept set is
    * a pure function of content.
    *
    * Scale shape mirrors [[topKByScore]]: ONE map-side-combined
    * (score, docs, tokens) histogram (same [[MaxDistinctScores]]
    * fail-fast), the boundary score read off it on the driver, then ONE
    * ≥ τ selection pass — above-τ docs are kept outright (their token
    * mass provably fits), and the τ tie group takes a running-sum window
    * in md5 order against the remaining budget. Above-τ rows number at
    * most `budget` BECAUSE every selectable doc carries ≥ 1 token: rows
    * with a non-positive token count are excluded up front (a zero-token
    * doc contributes nothing a token budget measures and would void that
    * bound; a negative count is ill-formed input), exactly as null/NaN
    * scores and null token counts are. The tie group is unbounded in
    * principle and composes with [[fixedSizeSample]]'s md5-prefix
    * pre-cut when huge. */
  def keepByTokenBudget(df: DataFrame, key: Column, score: Column,
                        tokenCount: Column, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val reserved = Seq("tk_score", "tk_key", "tk_n", "tk_cum").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"input columns collide with reserved names: ${reserved.mkString(", ")}")
    // Persisted below the filter — same double-read /
    // expression-re-substitution rationale as topKByScore and
    // keepByGroupTokenBudget (SCALE.md §Round 17); the histogram collect()
    // is the sequential materializer.
    // Lifecycle owner: GraftSession.releaseCaches.
    val s = df
      .withColumn("tk_score", score.cast("double"))
      .withColumn("tk_key", key.cast("string"))
      .withColumn("tk_n", tokenCount.cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .where(col("tk_score").isNotNull && !isnan(col("tk_score")) &&
        col("tk_n").isNotNull && col("tk_n") > 0)
    val histDf = s.groupBy("tk_score")
      .agg(count(lit(1)).as("c"), sum(col("tk_n")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hist = try {
      require(histDf.count() <= MaxDistinctScores,
        s"score histogram exceeds $MaxDistinctScores distinct values — " +
          "quantize the score (round it) before budgeted selection")
      histDf.collect()
    } finally histDf.unpersist()
    val desc = hist.map(r => (r.getDouble(0), r.getLong(2))).sortBy(-_._1)
    var cumTok = 0L
    var i = 0
    while (i < desc.length && cumTok + desc(i)._2 <= budget) { cumTok += desc(i)._2; i += 1 }
    if (i >= desc.length) { // every scored doc fits the budget
      s.select(df.columns.map(col).toIndexedSeq: _*)
    } else {
      val (tau, _) = desc(i)
      val rem = budget - cumTok // < the τ group's token mass, ≥ 0
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tk_score"))
        .orderBy(graft.functions.Md5LongFunction.md5Long(col("tk_key")).asc,
          col("tk_key").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      s.where(col("tk_score") >= tau)
        .withColumn("tk_cum", sum(col("tk_n")).over(w))
        .where(col("tk_score") > tau || col("tk_cum") <= rem)
        .select(df.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** Per-GROUP token-budget selection — [[keepByTokenBudget]] applied
    * independently inside every group: for each group (domain, source,
    * language, …) keep the maximal (score DESC, md5(key), key)-ordered
    * prefix of its docs whose running token total fits `budgetPerGroup`.
    * This is the per-domain cap real web-corpus curation applies (bound
    * any one domain's contribution so boilerplate-heavy giants cannot
    * dominate the mixture) — the reference has no analogue; the semantics
    * follow the global operator doc-for-doc, per group.
    *
    * Scale shape: the global operator's driver-side histogram cannot
    * generalize here (|groups| is corpus-scale — millions of domains — so
    * a driver collect is out), and the naive spelling (running-sum window
    * partitioned by group over the CORPUS in score order) sorts every
    * group's full doc set and concentrates each giant domain in one task.
    * Instead the threshold moves distributed:
    *
    *   1. ONE map-side-combined pass builds the (group, score)-level token
    *      mass — |groups × quantized scores| rows, far below corpus scale.
    *   2. A window over that LEVEL relation (partitioned by group, best
    *      score first) yields each level's mass-strictly-above `tk_prev`;
    *      levels with `tk_prev ≥ budget` are dropped, levels fitting
    *      whole are kept outright, and the single boundary level per
    *      group carries its remaining budget `tk_rem = budget − tk_prev`.
    *   3. The decision joins back to the corpus on (group, score); the
    *      inner join IS the drop filter (the corpus side pays one hash
    *      exchange here — its rows never sort; the level side arrives
    *      already partitioned by its aggregate). The running-sum window
    *      then adds NO exchange — it partitions by the join's own
    *      (group, score) keys — and its input is answer-sized (each
    *      group's kept set numbers ≤ `budgetPerGroup` docs because every
    *      selectable doc carries ≥ 1 token); a giant group's boundary tie
    *      set composes with [[fixedSizeSample]]'s md5-prefix pre-cut
    *      exactly as the global operator documents.
    *
    * Rows with a null group, null/NaN score, or non-positive token count
    * are never selected (same exclusions, same reasons, as the global
    * operator; a null group names no budget to charge). Deterministic —
    * the kept set is a pure function of content. The score must be
    * quantized (rounded) for the level relation to stay small; unlike the
    * global operator there is no driver-side cardinality fail-fast — the
    * level relation never leaves the cluster.
    *
    * The DOC-count cap ("keep the best k docs per domain") is this
    * operator with `tokenCount = lit(1)` and `budgetPerGroup = k` — every
    * doc charges one unit, so the maximal fitting prefix is exactly the
    * top-k (spec-pinned identity against a per-group row_number). */
  def keepByGroupTokenBudget(df: DataFrame, group: Column, key: Column,
                             score: Column, tokenCount: Column,
                             budgetPerGroup: Long): DataFrame = {
    require(budgetPerGroup > 0, s"token budget must be positive, got $budgetPerGroup")
    val reserved = Seq("tk_grp", "tk_score", "tk_key", "tk_n", "tk_lvl",
      "tk_prev", "tk_rem", "tk_cum").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"input columns collide with reserved names: ${reserved.mkString(", ")}")
    // The scored projection is PERSISTED, and the persist sits BELOW the
    // degenerate-row filter — both halves matter (SCALE.md §Round 17, sf10,
    // one bare scoring pass = 25.8 s):
    //   - no persist at all: the lineage references the projection on both
    //     selection sides (level aggregate + join) and Catalyst inlines
    //     the caller's score expression into every reference site — the
    //     regex-heavy quality score re-evaluated ~6× per row, 145.1 s;
    //   - persist ABOVE the filter: predicate pushdown shoves the
    //     null/NaN/positivity checks beneath the cache, straight onto the
    //     parquet scan, where each tk_* reference substitutes the FULL
    //     score expression again — the cache build itself pays ~3×
    //     scoring, 71.2 s (plan-verified: Filter under the Projects);
    //   - persist the bare projection, filter above it: the filter reads
    //     cached scalars, one scoring pass total, 24–28 s.
    // The cache is as narrow as the caller's projection (select the
    // id/group/score/token columns before calling, as q98 does).
    // Lifecycle owner: GraftSession.releaseCaches (the returned lineage
    // reads the cache, so the operator cannot unpersist it itself).
    val proj = df
      .withColumn("tk_grp", group.cast("string"))
      .withColumn("tk_score", score.cast("double"))
      .withColumn("tk_key", key.cast("string"))
      .withColumn("tk_n", tokenCount.cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s = proj.where(col("tk_grp").isNotNull &&
      col("tk_score").isNotNull && !isnan(col("tk_score")) &&
      col("tk_n").isNotNull && col("tk_n") > 0)
    // Materialize SEQUENTIALLY before the selection job: the level
    // aggregate and the join are independent consumer stages, and a
    // lazily-populated cache lets them race — both compute the scoring
    // scan concurrently and the cache saves nothing. The global operators
    // get this for free from their histogram collect(); here the count IS
    // that materializer.
    proj.count()
    // (group, score)-level token mass: the one corpus-wide aggregate
    val lvl = s.groupBy("tk_grp", "tk_score").agg(sum(col("tk_n")).as("tk_lvl"))
    // per-group mass strictly ABOVE each level (best score first); levels
    // have one row per (group, score) so the order is total without a
    // tie-break. tk_rem is null ⇔ the level fits whole.
    val wLvl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tk_grp")).orderBy(col("tk_score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val dec = lvl
      .withColumn("tk_prev", sum(col("tk_lvl")).over(wLvl) - col("tk_lvl"))
      .where(col("tk_prev") < budgetPerGroup)
      .withColumn("tk_rem",
        when(col("tk_prev") + col("tk_lvl") <= budgetPerGroup,
          lit(null).cast("long"))
          .otherwise(lit(budgetPerGroup) - col("tk_prev")))
      .drop("tk_lvl", "tk_prev")
    // inner join = the drop filter; the boundary window's input is the
    // kept set (answer-sized), partitioned per (group, score) so only the
    // boundary level's running sum is ever consulted
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tk_grp"), col("tk_score"))
      .orderBy(graft.functions.Md5LongFunction.md5Long(col("tk_key")).asc,
        col("tk_key").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    s.join(dec, Seq("tk_grp", "tk_score"))
      .withColumn("tk_cum", sum(col("tk_n")).over(wTie))
      .where(col("tk_rem").isNull || col("tk_cum") <= col("tk_rem"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Fail-fast ceiling for [[topKByScore]]'s driver-side score histogram:
    * 2²⁰ distinct score values ≈ 16 MB of (double, long) rows — far above
    * any rounded score's cardinality, far below driver trouble. */
  val MaxDistinctScores: Int = 1 << 20

  /** Split assignment by cumulative bucket ranges, e.g.
    * `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`. Fractions are
    * interpreted in [[hashBucket]] units (percent granularity). */
  def deterministicSplit(df: DataFrame, key: Column,
                         splits: Seq[(String, Double)]): DataFrame = {
    val bounds = splits.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * Buckets)
    }.tail
    val b = hashBucket(key)
    val expr = splits.map(_._1).zip(bounds).reverse
      .foldLeft(lit(null).cast("string")) { case (acc, (name, hi)) =>
        when(b < hi, lit(name)).otherwise(acc)
      }
    df.withColumn("split", expr)
  }
}
