package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import ExchangeWidth.widenForJoin

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Generalizes the reference's only dedup mechanism — the idempotent-load
  * anti-join on `reward_id` (reference `load_to_redshift_lambda.py:88-100`) —
  * into the dedup family a training-data pipeline needs:
  *
  *  - exact:   hash-groupBy on a content fingerprint (one shuffle on the
  *             fingerprint; representative = min id, deterministic).
  *  - MinHash: (Broder, SEQUENCES'97) shingle → k min-hashes → LSH banding →
  *             bucket self-join, every hash an md5Long so an external
  *             engine replays it exactly.
  *             Candidate generation never compares all O(n²) pairs; the only
  *             shuffles are the explode-on-(band,bucket) exchange and the
  *             bucket join, both key-partitioned and skew-safe (bucket sizes
  *             are capped by banding width).
  *  - SimHash: (Charikar, STOC'02) 64-bit signature; candidates must share
  *             one of four 16-bit chunks (pigeonhole: hamming ≤ 3 guarantees
  *             a shared chunk).
  *  - n-gram Jaccard: exact near-dup pairs with PPJoin-style prefix
  *             filtering (Bayardo et al., WWW'07): order tokens rarest-first
  *             by global document frequency; if J(A,B) ≥ τ the two sets must
  *             share a token within their first |A|−⌈τ|A|⌉+1 tokens, so the
  *             candidate join runs on exploded prefixes instead of whole
  *             blocks. Lossless (no false negatives), and the prefix length
  *             shrinks as τ grows — at τ=0.95 it is ~3 tokens per doc.
  *
  * For the pair operators, token sets are hashed to 64-bit longs (`xxhash64`)
  * once up front and the hashed relation is persisted: every downstream stage
  * (candidate join, exact verification) reuses it instead of re-deriving
  * string arrays.
  * Intersection counts over the hashed sets equal those over the raw sets
  * unless two distinct tokens of a compared pair collide in 64 bits
  * (P < 1e-11 for realistic vocabularies), so verified Jaccard values are
  * bit-identical to a string-set oracle.
  *
  * Persist lifecycle: these internal persists are session-scoped (Catalyst
  * does not reuse a self-join's two identical exchanges, so dropping them
  * costs ~2× on the candidate joins — measured). Long-lived sessions release
  * them between jobs with [[graft.GraftSession.releaseCaches]].
  *
  * Everything is built from codegen'd builtins — no UDFs, no driver loops.
  */
object Dedup {

  // ---------------------------------------------------------------- exact --

  /** Exact dedup: keep the smallest `idCol` per fingerprint group.
    * One hash-aggregate shuffle on the fingerprint — at scale this is the
    * canonical map-side-combinable dedup. */
  def exact(df: DataFrame, fingerprint: Column, idCol: Column): DataFrame =
    df.groupBy(fingerprint.as("fp"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Duplicate-family size histogram — the dedup ROI report (how much of
    * the corpus is redundant, and in what family sizes: a long tail of
    * pairs reads very differently from one 10⁵-copy boilerplate family).
    * Works over ANY (row → cluster) assignment: exact fingerprints,
    * [[canonicalIds]] output, passage keys. Returns one row per observed
    * family size: (cluster_size, n_clusters, n_docs, n_redundant) where
    * n_redundant = what dedup would delete (size − 1 per family).
    *
    * Scale shape: two map-side-combinable groupBys — the second over the
    * family-size relation (≤ distinct sizes ≪ corpus). */
  def clusterSizeHistogram(assign: DataFrame, clusterCol: String): DataFrame =
    assign.groupBy(col(clusterCol)).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"),
        sum(col("sz")).cast("long").as("n_docs"),
        sum(col("sz") - 1).cast("long").as("n_redundant"))

  // -------------------------------------------------------------- jaccard --

  /** |A ∩ B| / |A ∪ B| over two pre-distinct token arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b)))
  }

  /** id + distinct xxhash64'd token set. NOT persisted here: callers
    * persist at their own layering (block rename + set size) so the
    * cached plan IS the one their downstream paths reference — which is
    * what lets those paths `unpersist` it the moment its last consumer
    * (the ordered-prefix build) has materialized. A persist buried under
    * a caller-side rename would be unreachable to a by-plan unpersist. */
  private def hashedSets(df: DataFrame, id: String, tokenSet: String,
                         extra: Seq[String]): DataFrame =
    df.select((col(id).as("hs_id")) +: extra.map(col) :+
        array_distinct(transform(col(tokenSet), t => xxhash64(t))).as("hs"): _*)

  /** Largest dictionary for which the bitmap representation is used:
    * 1024 tokens = 16 longs per set. */
  private val BitmapVocabMax = 1024L

  /** Exactness guard for the bitmap path: if the sampled estimate
    * under-shot and the TRUE dictionary exceeds this, the bitmap build
    * hands off to the prefix path instead of producing 64+-word masks. */
  private val BitmapVocabHardMax = 4 * BitmapVocabMax

  /** Token-occurrence budget for the representation-choice estimate,
    * split evenly across partitions and enforced as a pure per-row
    * predicate on the within-partition ordinal — never via `.limit(n)`,
    * which before an aggregate plans GlobalLimit: a single-partition
    * exchange of up to n rows PER PARTITION. The capped estimate's only
    * exchange is the final single-row aggregate. */
  private val VocabSampleTokens = 1 << 20

  /** Posting rows per shuffle partition the candidate joins aim for
    * ([[ExchangeWidth]]'s target for the pair family's occ-scale posting
    * joins; `occ` is the total token-occurrence count [[totalOcc]] already
    * has — no extra corpus pass). The anchor is the sf10 knob replay
    * (SCALE.md §Third decade): q60 ran 72/36/41 s and q62 57/35/66 s at
    * 32/128/512 shuffle partitions over a ~10⁸-occurrence corpus — best
    * near 10⁸/128 ≈ 0.8 M rows per partition, with 512 already over-split.
    * A session-global width (`initialPartitionNum=512`) costs +26 s at
    * bench scale, so the width must come from the data, not the conf. */
  private[operators] val PairJoinTargetOccPerPartition = 768L * 1024

  /** The verification fetch every pair path shares: candidates joined to
    * the left-side arrays then the right-side arrays, each byte-heavy
    * exchange widened by [[widenForJoin]] (these joins move the token
    * arrays — Σ corpus tokens per side). `leftArrays`/`rightArrays` carry
    * (blk, left_id/right_id, ls/rs). */
  private def widenedVerifyJoin(candidates: DataFrame, width: Int,
                                leftArrays: DataFrame,
                                rightArrays: DataFrame): DataFrame =
    widenForJoin(widenForJoin(candidates, width, col("blk"), col("left_id"))
      .join(widenForJoin(leftArrays, width, col("blk"), col("left_id")),
        Seq("blk", "left_id")),
      width, col("blk"), col("right_id"))
      .join(widenForJoin(rightArrays, width, col("blk"), col("right_id")),
        Seq("blk", "right_id"))

  /** Total posting volume (Σ n) of a persisted hashed/prefix relation —
    * the volume [[ExchangeWidth]] sizes the pair joins from. One
    * single-row aggregate over a relation the caller persists anyway;
    * running it eagerly here doubles as the cache materializer, so
    * downstream stages reuse the bytes instead of recomputing the prefix
    * build. */
  private def totalOcc(rel: DataFrame): Long = {
    val r = rel.agg(sum(col("n"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Exact near-dup pairs within a blocking key (e.g. language).
    *
    * Adaptive representation. The choice is driven by a BOUNDED estimate —
    * `approx_count_distinct` over at most [[VocabSampleTokens]] token
    * occurrences, capped per partition with no extra exchange (the same
    * kind of stats-driven choice AQE makes from runtime statistics); the
    * scan itself is not early-stopped, but it is the action that populates
    * the persisted `hs` cache every downstream stage reuses, so no
    * additional corpus pass is ever spent just deciding. Skipped entirely
    * when the caller passes `vocabHint`.
    * The choice need not be exact to be safe: both representations are
    * exact, and the bitmap path re-checks the TRUE dictionary size while
    * building its dictionary (which it needs anyway), handing off to the
    * prefix path beyond [[BitmapVocabHardMax]].
    *
    *  - high τ over bounded sets on a big corpus (⌊n_max·(1−τ)/τ⌋ ≤ 1 and
    *    more than [[SmallCorpusOccMax]] occurrences): deletion-neighborhood candidates
    *    ([[jaccardPairsDelete1]]) — Θ(Σ n) for any dictionary size, chosen
    *    BEFORE the dictionary estimate because both other representations
    *    go quadratic on a big corpus whose dictionary fits their trigger.
    *
    *  - small dictionary (≤ [[BitmapVocabMax]] distinct tokens corpus-wide):
    *    dictionary-encode each token to a bit position and represent every
    *    set as a W-word bitmask (W = ⌈|vocab|/64⌉). Jaccard becomes
    *    popcount(AND)/popcount(OR) — pure codegen'd long arithmetic, so even
    *    the full within-block pair join is cheap. Exact, not approximate.
    *
    *  - large dictionary and τ > 0: PPJoin prefix filter (Bayardo et al.,
    *    WWW'07): order tokens rarest-first by global document frequency; if
    *    J(A,B) ≥ τ the sets must share a token within their first
    *    n−⌈τn⌉+1 tokens, so the candidate join runs on exploded prefixes
    *    instead of whole blocks. Lossless; candidates then verify with an
    *    exact intersection.
    *
    *  - τ = 0 (diagnostic/baseline use): full block self-join, since
    *    zero-overlap pairs must be emitted too.
    *
    * NOT fully lazy: constructing the returned DataFrame runs one eager
    * Spark job on the prefix path — the posting-volume aggregate that
    * sizes the pair shuffle ([[ExchangeWidth]]) and doubles as the
    * materializer of the persisted prefix cache every downstream stage
    * reuses (at which point the hashed-set INPUT cache, consumer-less
    * from then on, is released). Build the plan
    * only when you intend to run it. */
  def jaccardPairs(df: DataFrame, id: String, tokenSet: String,
                   block: String, threshold: Double,
                   vocabHint: Option[Long] = None): DataFrame = {
    val hs = hashedSets(df, id, tokenSet, Seq(block))
      .withColumnRenamed(block, "blk")
      .withColumn("n", size(col("hs")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    jaccardPairsFromHashed(hs, threshold, vocabHint)
  }

  /** The routing aggregate's outputs: sampled dictionary estimate,
    * max set size, total token occurrences — one single-row job over the
    * persisted hashed-set relation (which it also materializes).
    * [[canonicalIdsCascadeAt]] shares this job with its occurrence gate
    * (the gate reads the same `occ` the routing needs), so the cascade
    * pays ONE stats pass instead of the round-19 two (guide §1: fewer
    * driver round trips; A/B'd in OPTIMIZATION_r20.md). */
  private[operators] case class RouteStats(vocabEst: Long, nMax: Int, occ: Long)

  /** The one single-row-aggregate job that decides every routing question
    * (no extra pass vs the historical estimate-only job): the dictionary
    * estimate samples inside the aggregate via a conditional
    * approx_count_distinct, while max-set-size and total occurrences run
    * uncapped over the same exploded scan — which is also the action that
    * populates the persisted `hs` every path reuses. */
  private[operators] def routeStats(hs: DataFrame): RouteStats = {
    val toks = hs.select(col("n"), explode(col("hs")).as("h"))
    val parts = math.max(1, toks.rdd.getNumPartitions)
    // monotonically_increasing_id puts the within-partition ordinal in
    // the low 33 bits: `ordinal < cap` bounds every partition's
    // contribution as a codegen'd predicate, with no exchange anywhere
    // before the final single-row aggregate
    val stats = toks.withColumn("ord",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .agg(
        approx_count_distinct(when(col("ord") <
          lit(math.max(1L, VocabSampleTokens.toLong / parts)), col("h"))).as("v"),
        max(col("n")).as("nmax"),
        count(lit(1)).as("occ")).head()
    RouteStats(stats.getLong(0),
      if (stats.isNullAt(1)) 0 else stats.getInt(1), stats.getLong(2))
  }

  /** Representation routing over an already-hashed set relation
    * (blk, hs_id, n, hs) — the seam [[canonicalIdsCascade]] uses to pair
    * its deduplicated representatives without re-hashing tokens.
    * `precomputed` carries a [[routeStats]] result the caller already
    * paid for (the cascade's occurrence gate); absent, the job runs here. */
  private def jaccardPairsFromHashed(hs: DataFrame, threshold: Double,
                                     vocabHint: Option[Long],
                                     precomputed: Option[RouteStats] = None): DataFrame = {
    // τ = 0 must emit zero-overlap pairs, which the bitmap path cannot: its
    // explode drops empty-token docs entirely. Route τ = 0 to the full
    // self-join branch of the prefix path, which keeps them.
    if (threshold <= 0) return jaccardPairsPrefix(hs, threshold)
    if (vocabHint.isEmpty) {
      val st = precomputed.getOrElse(routeStats(hs))
      // Radius gate FIRST, independent of the dictionary size: when τ and
      // the max set size bound any qualifying pair to ≤ 1 differing
      // token, the deletion-neighborhood path is exact and Θ(Σ n) for ANY
      // dictionary — both alternatives go quadratic on a big corpus that
      // fits their trigger (bitmap: docs²/blocks cross product; prefix: a
      // tiny dictionary makes even rarest-token postings O(docs/vocab),
      // so candidate volume ~ Σ df² — measured >16 min at the 100×
      // synthetic decade where this path takes seconds, SCALE.md §Third
      // decade). Small corpora (total occurrences ≤ [[SmallCorpusOccMax]])
      // fall through to the estimate-driven choice, whose measured bench
      // plans are cheaper there. With `vocabHint` the caller took manual
      // control of representation choice; the gate defers to it.
      if (math.floor(st.nMax * (1 - threshold) / threshold) <= 1 &&
          st.occ > SmallCorpusOccMax)
        return jaccardPairsDelete1(hs, threshold)
      if (st.vocabEst <= BitmapVocabMax)
        return jaccardPairsBitmap(hs, threshold)
      return jaccardPairsPrefix(hs, threshold)
    }
    if (vocabHint.get <= BitmapVocabMax) jaccardPairsBitmap(hs, threshold)
    else jaccardPairsPrefix(hs, threshold)
  }

  /** Largest corpus (total token occurrences, the quantity the routing
    * aggregate already counts) for which the quadratic representations
    * are tolerated when the deletion-neighborhood path applies: 2^21
    * occurrences ≈ 40 k docs at 50 tokens each → ≈ 1.6e9 crossed
    * bitmap pairs of pure long arithmetic — seconds on 32 threads; past
    * it the cross product dominates everything else in the plan. */
  private val SmallCorpusOccMax = 1L << 21

  /** Test seam: run [[jaccardPairsDelete1]] regardless of the doc-count
    * gate (the gate needs > [[SmallCorpusOccMax]] occurrences, beyond spec
    * scale), so
    * equivalence with the bitmap/prefix paths is assertable directly. The
    * radius precondition is still enforced — calling this where a
    * qualifying pair could differ by ≥ 2 tokens would be lossy. */
  private[operators] def jaccardPairsDelete1Path(df: DataFrame, id: String,
      tokenSet: String, block: String, threshold: Double): DataFrame = {
    val hs = hashedSets(df, id, tokenSet, Seq(block))
      .withColumnRenamed(block, "blk")
      .withColumn("n", size(col("hs")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nMax = hs.agg(max(col("n"))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    require(math.floor(nMax * (1 - threshold) / threshold) <= 1,
      s"delete-1 path requires ⌊n_max·(1−τ)/τ⌋ ≤ 1 (n_max=$nMax, τ=$threshold)")
    jaccardPairsDelete1(hs, threshold)
  }

  /** Deletion-neighborhood path (the FastSS candidate scheme applied to
    * set similarity): when ⌊n_max·(1−τ)/τ⌋ ≤ 1, any pair with J ≥ τ has
    * symmetric difference ≤ 1 token (J ≥ τ ⟹ |AΔB| ≤ |A∩B|·(1−τ)/τ), so
    * the EXACT candidate set is (equal token sets) ∪ (sets where deleting
    * one token of A yields B). Both are equi-joins on an ADDITIVE set
    * fingerprint — the sum of the distinct token hashes — under which a
    * one-token deletion is a subtraction, so all n delete-fingerprints of
    * a set cost O(n) with no array rebuilds. Candidate volume is Θ(Σ n)
    * fingerprint rows and join output bounded by true pairs (+ additive
    * collisions, which only ADD candidates and die in the exact verify);
    * the token arrays move once per surviving candidate, never through
    * the fingerprint shuffle. Intra-clique output (identical-set groups)
    * is the answer itself — Θ(clique²) rows — not avoidable shuffle. */
  private def jaccardPairsDelete1(hs: DataFrame, threshold: Double): DataFrame = {
    // empty token sets all share (fp=0, n=0), so leaving them in the
    // equal-fingerprint self-join crosses every blank doc in a block with
    // every other — Θ(empties²) candidates that only die at verify (null
    // Jaccard). With τ > 0 an empty set can never be in a qualifying pair
    // (J = 0/|B| or 0/0); drop them before any join. This path triggers
    // precisely on big corpora, where stripped/blank docs are numerous.
    val base = hs.where(col("n") > 0)
      .select(col("blk"), col("hs_id"), col("n"), col("hs"))
      .withColumn("fp", aggregate(col("hs"), lit(0L), (a, x) => a + x))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // this path triggers precisely on big corpora (occ > SmallCorpusOccMax)
    // — size the Θ(Σn) delete-fingerprint join from the data
    val width = ExchangeWidth.width(hs.sparkSession, totalOcc(base),
      PairJoinTargetOccPerPartition)
    // `base` is materialized (MEMORY_AND_DISK: its blocks can spill but
    // never vanish), and every downstream stage reads it — the input
    // cache has no consumer left; at corpus scale holding it doubles the
    // resident bytes for nothing
    hs.unpersist(blocking = false)
    val slim = base.select(col("blk"), col("fp"), col("hs_id"), col("n"))
    // the candidate joins stay SORT-MERGE deliberately: a SHUFFLE_HASH
    // build on the doc-level slim side was A/B'd at the fourth decade and
    // REJECTED — calm legs read ~1.2× slower with the hash build and zero
    // spill either way (the input sorts never spill, so there was nothing
    // to save; SCALE.md §Round 16). The seam retired with its verdict.
    // equal-set candidates: same (block, fingerprint)
    val eq = slim.select(col("blk"), col("fp"),
        col("hs_id").as("left_id"), col("n").as("nl"))
      .join(slim.select(col("blk"), col("fp"),
        col("hs_id").as("right_id"), col("n").as("nr")), Seq("blk", "fp"))
      .where(col("left_id") < col("right_id"))
      .select(col("blk"), col("left_id"), col("right_id"), col("nl"), col("nr"))
    // subset candidates: superset drops one token and lands on the
    // subset's full fingerprint; |sub| = |sup| − 1 by construction
    val dels = widenForJoin(base.select(col("blk"), col("hs_id").as("sup_id"),
      col("n").as("nsup"),
      explode(transform(col("hs"), h => col("fp") - h)).as("fp")),
      width, col("blk"), col("fp"))
    val sub = dels.join(widenForJoin(slim.select(col("blk"), col("fp"),
        col("hs_id").as("sub_id"), col("n").as("nsub")),
        width, col("blk"), col("fp")), Seq("blk", "fp"))
      .where(col("sub_id") =!= col("sup_id"))
      .where(col("nsub") === col("nsup") - 1)
      .where(col("nsub") >= lit(threshold) * col("nsup") - 1e-9)
      .select(col("blk"),
        least(col("sup_id"), col("sub_id")).as("left_id"),
        greatest(col("sup_id"), col("sub_id")).as("right_id"),
        when(col("sup_id") < col("sub_id"), col("nsup")).otherwise(col("nsub")).as("nl"),
        when(col("sup_id") < col("sub_id"), col("nsub")).otherwise(col("nsup")).as("nr"))
    // pair-level dedup of the candidate union. distinct() over the full
    // (blk, pair, sizes) row — NOT dropDuplicates(left_id, right_id):
    // the rows are functionally determined by the pair (blk and sizes
    // derive from the same two docs), so the results are identical, but
    // dropDuplicates plants first(blk) aggregates whose string buffer
    // forces a SORT-based aggregate — measured 4.6-9.9 GB of sort spill
    // at the fourth decade, the one spilling node left in this path
    // (SCALE.md §Round 15) — where grouping-only distinct stays a hash
    // aggregate, and the exchange is width-sized instead of riding the
    // session default (adopted round 15; the dropDuplicates seam retired
    // with its verdict).
    val candidates = widenForJoin(eq.unionByName(sub), width,
      col("blk"), col("left_id"), col("right_id")).distinct()
    widenedVerifyJoin(candidates, width,
      base.select(col("blk"), col("hs_id").as("left_id"), col("hs").as("ls")),
      base.select(col("blk"), col("hs_id").as("right_id"), col("hs").as("rs")))
      .withColumn("inter", size(array_intersect(col("ls"), col("rs"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nl") + col("nr") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** Small-dictionary path: W-word bitmask per set, popcount Jaccard.
    * Builds (and therefore exactly counts) the token dictionary itself;
    * if the sampled estimate under-shot and the true dictionary exceeds
    * [[BitmapVocabHardMax]], delegates to the prefix path — so a wrong
    * estimate can only cost time, never correctness. */
  private def jaccardPairsBitmap(hs: DataFrame, threshold: Double): DataFrame = {
    import hs.sparkSession.implicits._
    // The dictionary is ≤ [[BitmapVocabHardMax]] longs BY DEFINITION of
    // this path (else it hands off to prefix), so build it on the driver
    // from ONE bounded collect — the round-19 shape paid a count() job,
    // a persisted distinct relation, and a single-partition row_number
    // window for the same ≤ 32 KB of longs (guide §1; A/B'd in
    // OPTIMIZATION_r20.md). The limit caps the fetch at hardMax + 1 rows:
    // enough to detect an estimate undershoot, never a corpus-scale pull.
    val vocabRows = hs.select(explode(col("hs")).as("h")).distinct()
      .limit(BitmapVocabHardMax.toInt + 1).as[Long].collect()
    if (vocabRows.length > BitmapVocabHardMax)
      return jaccardPairsPrefix(hs, threshold)
    // empty corpus → zero-word mask; keep one word so the plan builds
    val w = math.max(1, (vocabRows.length + 63) / 64)
    // deterministic dictionary: bit position = rank of token hash
    val vocab = vocabRows.sorted.zipWithIndex
      .map { case (h, i) => (h, i) }.toSeq.toDF("h", "idx")
    val masks = hs.select(col("blk"), col("hs_id"), col("n"), explode(col("hs")).as("h"))
      .join(broadcast(vocab), "h")
      .groupBy("blk", "hs_id", "n")
      // tokens are distinct per set, so summing distinct powers of two == OR
      .agg(sum(when(floor(col("idx") / 64) === 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))")).otherwise(0L)).as("w0"),
        (1 until w).map(j => sum(when(floor(col("idx") / 64) === j,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))")).otherwise(0L)).as(s"w$j")): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ws = (0 until w).map(j => s"w$j")
    val l = masks.select(col("blk") +: col("hs_id").as("left_id") +: col("n").as("nl") +:
      ws.map(c => col(c).as(s"l_$c")): _*)
    val r = masks.select(col("blk") +: col("hs_id").as("right_id") +: col("n").as("nr") +:
      ws.map(c => col(c).as(s"r_$c")): _*)
    val inter = ws.map(c => bit_count(col(s"l_$c").bitwiseAND(col(s"r_$c"))))
      .reduce(_ + _)
    l.join(r, Seq("blk")).where(col("left_id") < col("right_id"))
      .where(col("nl") >= lit(threshold) * col("nr") - 1e-9 &&
             col("nr") >= lit(threshold) * col("nl") - 1e-9)
      .withColumn("inter", inter)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nl") + col("nr") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** Rarest-first ordered token arrays: every set's tokens sorted by
    * (global document frequency, hash) — the substrate of the
    * PPJoin/containment prefix theorem. NOT persisted here and carries NO
    * prefix column: the prefix (first n − ⌈τ·n⌉ + 1 tokens — the tokens
    * at least one of which any qualifying partner MUST share, pigeonhole
    * over the ≤ n − ⌈τ·n⌉ misses τ allows) is a pure `slice` of `ord`
    * ([[prefixExpr]]) computed on cache READ by the consumers, so the
    * corpus-scale cache holds each token hash exactly ONCE instead of
    * duplicating the array head into a second cached column (the
    * round-14 shape — A/B'd and retired, SCALE.md §R15).
    * Shared by Jaccard and containment candidate generation; both are
    * lossless over it.
    *
    * The document-frequency attach (round-15 default shape): only
    * REPEATED tokens (df ≥ 2) enter the join, as the build side of a
    * shuffled-hash left join, with missing df coalesced to 1. The arrays
    * are PROVABLY identical to joining the full df relation: a df = 1
    * token's struct is (1, h) either way (its real count IS 1), and the
    * sort tie-breaks equal-df tokens by hash in both shapes. What changes
    * is the plan: the join's build side shrinks from one row per DISTINCT
    * token (≈ the posting count itself on a mostly-unique dictionary —
    * the synthetic scaled corpora, and every corpus's hapax tail) to one
    * row per repeated token — bounded above by postings/2, since df ≥ 2
    * charges every build row at least two stream rows, so a ~0.75 M-row
    * posting partition ([[PairJoinTargetOccPerPartition]]) carries at
    * most ~0.37 M build entries (≈ 10 MB hashed) and the SHUFFLE_HASH
    * build always fits. That turns the round-14 sort-merge join — which sorted BOTH
    * corpus-scale sides, ~17 GB of q60's 79 GB fourth-decade spill
    * (SCALE.md §Round 15, the per-node spill map) — into a sort-free
    * streaming probe (adopted round 15; the full-df seam retired with
    * its verdict — the A/B table and the order-identity argument above
    * remain the record).
    *
    * Every exchange in the build is sized by `width` — the same
    * data-driven [[ExchangeWidth]] the candidate joins already use
    * (computed from the INPUT relation's posting volume, so it exists
    * before the build runs). The round-14 build ran its aggregates at
    * the SESSION width: at the fourth decade that is ~84 M posting rows
    * per task, which is what pushed the token-df aggregate (~20 GB) and
    * the collect_list pair (~41 GB) into sort/spill in the first place —
    * width-first beats fallback-tuning: raising the
    * objectHashAggregate fallback threshold instead was measured 2×
    * SLOWER at sf10 (hash-mode buffer churn) and OOMs the JVM at sf100
    * (the threshold counts KEYS, not buffer bytes — nothing bounds the
    * per-task array memory the way a 0.75 M-row partition does).
    * [[widenForJoin]] leaves every exchange untouched when the computed
    * width is at or below the session conf, so bench-scale plans are
    * byte-identical to round-14's.
    *
    * The df≥2 aggregate and the probe stream are both pre-partitioned on
    * `h` at `width`, so the aggregate needs no second exchange and the
    * hash join consumes both sides exchange-free; the collect_list
    * groupBy is pre-partitioned on (blk, hs_id) — a subset of its
    * grouping keys, which satisfies its clustering requirement — so its
    * per-task state is bounded by the posting width however large the
    * corpus. */
  private def orderedArrays(hs: DataFrame, width: Int,
                            carry: Seq[String] = Nil): DataFrame = {
    // carry columns ride the groupBy for free: hs_id is unique per row,
    // so they are functionally dependent keys, not extra grouping work
    val keys = Seq("blk", "hs_id", "n") ++ carry
    val postings = hs.select(keys.map(col) :+ explode(col("hs")).as("h"): _*)
    val repeated = widenForJoin(hs.select(explode(col("hs")).as("h")),
        width, col("h"))
      .groupBy("h").agg(count(lit(1)).as("tdf"))
      .where(col("tdf") >= 2)
    val attached = widenForJoin(postings, width, col("h"))
      .join(repeated.hint("SHUFFLE_HASH"), Seq("h"), "left")
      .select(keys.map(col) :+
        struct(coalesce(col("tdf"), lit(1L)).as("tdf"), col("h")).as("th"): _*)
    widenForJoin(attached, width, col("blk"), col("hs_id"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(col("th"))),
        s => s.getField("h")).as("ord"))
  }

  /** The PPJoin prefix as an expression over (`ord`, `n`):
    * slice(ord, 1, n − ⌈τ·n⌉ + 1). Codegen'd array slice — computed per
    * cache read, never materialized into the cache. */
  private def prefixExpr(threshold: Double): Column =
    slice(col("ord"), lit(1),
      (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))

  /** Persist the ordered-arrays relation for a τ-thresholded pair path
    * and hand back (cache, prefixed view, pair width): the cache carries
    * `ord` only — the prefix is sliced per read; the view exposes both.
    * Two eager bounded aggregates run here: [[totalOcc]] over the INPUT
    * relation first — materializing the hashed-set cache and yielding the
    * posting volume that sizes every exchange of the ord BUILD itself, not
    * just the downstream pair shuffles ([[orderedArrays]]) — then a count
    * that materializes the prefix cache, after which the input cache,
    * consumer-less from then on, is released. Release must not precede
    * materialization: an evicted input under a lazy prefix cache would
    * silently re-run the whole token hash/shingle build. */
  private def prefixCache(hs: DataFrame, threshold: Double,
                          carry: Seq[String] = Nil): (DataFrame, DataFrame, Int) = {
    val width = ExchangeWidth.width(hs.sparkSession, totalOcc(hs),
      PairJoinTargetOccPerPartition)
    val pre = orderedArrays(hs, width, carry).persist(StorageLevel.MEMORY_AND_DISK)
    pre.count()
    hs.unpersist(blocking = false)
    (pre, pre.withColumn("prefix", prefixExpr(threshold)), width)
  }

  /** Large-dictionary path: PPJoin prefix filtering (τ > 0) or the full
    * block self-join (τ = 0), with exact array-intersection verification.
    *
    * Scale shape (τ > 0; the same candidate/verify split as
    * [[containmentFromHashed]], SCALE.md §Third decade): the candidate
    * join rides SLIM posting rows — (block, token, id, size, position) —
    * never the token arrays; pairs collapse to their FIRST shared prefix
    * token via a min-aggregate; the PPJoin positional filter (both sides
    * share one global rarest-first order, so achievable overlap at the
    * first match is 1 + what remains on each side) prunes pairs that
    * cannot reach the τ-implied overlap τ/(1+τ)·(nl+nr) before the
    * arrays are fetched — once per surviving pair — for exact
    * verification. */
  private def jaccardPairsPrefix(hs: DataFrame, threshold: Double): DataFrame = {
    if (threshold > 0) {
      // data-aware width for the occ-scale posting join (the sf10 spill
      // term; the aggregate doubles as the persist materializer — after
      // which the hashed-set input cache is released inside prefixCache)
      val (pre, prefixed, width) = prefixCache(hs, threshold)
      val l = widenForJoin(prefixed.select(col("blk"), col("hs_id").as("left_id"),
        col("n").as("nl"), posexplode(col("prefix")).as(Seq("lp", "h"))),
        width, col("blk"), col("h"))
      val r = widenForJoin(prefixed.select(col("blk"), col("hs_id").as("right_id"),
        col("n").as("nr"), posexplode(col("prefix")).as(Seq("rp", "h"))),
        width, col("blk"), col("h"))
      // size-ratio filter: J ≥ τ implies min(n) ≥ τ·max(n) (epsilon loosens)
      val candidates = l.join(r, Seq("blk", "h"))
        .where(col("left_id") < col("right_id"))
        .where(col("nl") >= lit(threshold) * col("nr") - 1e-9 &&
               col("nr") >= lit(threshold) * col("nl") - 1e-9)
        .groupBy(col("blk"), col("left_id"), col("right_id"),
          col("nl"), col("nr"))
        .agg(min(struct(col("lp"), col("rp"))).as("fm"))
        // positional filter: the struct-min over prefix×prefix matches IS
        // the globally first shared token (order agreement: an earlier
        // shared token would sit at earlier positions on BOTH sides, hence
        // inside both prefixes, hence in the join), so overlap is bounded
        // by 1 + min(remaining) and must reach τ/(1+τ)·(nl+nr) for J ≥ τ
        .where(lit(1) + least(col("nl") - col("fm.lp") - 1,
                              col("nr") - col("fm.rp") - 1)
          >= lit(threshold / (1 + threshold)) * (col("nl") + col("nr")) - 1e-9)
      widenedVerifyJoin(candidates, width,
        pre.select(col("blk"), col("hs_id").as("left_id"), col("ord").as("ls")),
        pre.select(col("blk"), col("hs_id").as("right_id"), col("ord").as("rs")))
        .withColumn("inter", size(array_intersect(col("ls"), col("rs"))))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("nl") + col("nr") - col("inter")))
        .where(col("jaccard") >= threshold)
        .select(col("left_id"), col("right_id"), col("jaccard"))
    } else {
      val l = hs.select(col("blk"), col("hs_id").as("left_id"),
        col("n").as("nl"), col("hs").as("ls"))
      val r = hs.select(col("blk"), col("hs_id").as("right_id"),
        col("n").as("nr"), col("hs").as("rs"))
      l.join(r, Seq("blk")).where(col("left_id") < col("right_id"))
        .withColumn("inter", size(array_intersect(col("ls"), col("rs"))))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("nl") + col("nr") - col("inter")))
        .where(col("jaccard") >= threshold)
        .select(col("left_id"), col("right_id"), col("jaccard"))
    }
  }

  /** CROSS-RELATION Jaccard pairs: (l from `left`, r from `right`) with
    * J ≥ τ within a blocking key — the incremental-ingest dedup shape ("which
    * docs in today's batch near-duplicate the existing corpus"). Ids must be
    * disjoint across the two relations. Returns (left_id, right_id, jaccard).
    *
    * Scale shape: one global document-frequency pass over the UNION (the
    * rarest-first order must be shared or the prefix theorem breaks), PPJoin
    * prefixes on BOTH sides (R×S prefix filtering is lossless exactly as in
    * the self-join case: J(A,B) ≥ τ forces a shared token inside each side's
    * n − ⌈τn⌉ + 1 prefix), candidate join keyed on the globally rarest
    * tokens, exact intersection verify. The batch side is typically ≪ the
    * corpus side; AQE broadcasts its exploded prefix when it fits.
    *
    * NOT fully lazy: construction runs one eager Spark job (the
    * posting-volume aggregate sizing the pair shuffle, which also
    * materializes the shared prefix cache) — see [[jaccardPairs]]. */
  def crossJaccardPairs(left: DataFrame, right: DataFrame, id: String,
                        tokenSet: String, block: String,
                        threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"cross-jaccard threshold must be in (0, 1], got $threshold")
    val both = left.select(lit(0).as("side"), col(id), col(block), col(tokenSet))
      .unionByName(right.select(lit(1).as("side"), col(id), col(block), col(tokenSet)))
    val hs = hashedSets(both, id, tokenSet, Seq(block, "side"))
      .withColumnRenamed(block, "blk")
      .withColumn("n", size(col("hs")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    crossJaccardFromHashed(hs, threshold)
  }

  /** Shared R×S candidate/verify core: the same SLIM-posting PPJoin split
    * as [[jaccardPairsPrefix]] (positions and sizes through the candidate
    * shuffle, first-match min-aggregate, positional filter, arrays fetched
    * once per surviving pair) — the shared rarest-first order over the
    * UNION makes the positional bound valid across relations exactly as
    * in the self-join case. */
  private def crossJaccardFromHashed(hs: DataFrame, threshold: Double): DataFrame = {
    val (pre, prefixed, width) = prefixCache(hs, threshold, carry = Seq("side"))
    val l = widenForJoin(prefixed.where(col("side") === 0).select(col("blk"),
      col("hs_id").as("left_id"), col("n").as("nl"),
      posexplode(col("prefix")).as(Seq("lp", "h"))),
      width, col("blk"), col("h"))
    val r = widenForJoin(prefixed.where(col("side") === 1).select(col("blk"),
      col("hs_id").as("right_id"), col("n").as("nr"),
      posexplode(col("prefix")).as(Seq("rp", "h"))),
      width, col("blk"), col("h"))
    val candidates = l.join(r, Seq("blk", "h"))
      .where(col("nl") >= lit(threshold) * col("nr") - 1e-9 &&
             col("nr") >= lit(threshold) * col("nl") - 1e-9)
      .groupBy(col("blk"), col("left_id"), col("right_id"),
        col("nl"), col("nr"))
      .agg(min(struct(col("lp"), col("rp"))).as("fm"))
      .where(lit(1) + least(col("nl") - col("fm.lp") - 1,
                            col("nr") - col("fm.rp") - 1)
        >= lit(threshold / (1 + threshold)) * (col("nl") + col("nr")) - 1e-9)
    widenedVerifyJoin(candidates, width,
      pre.where(col("side") === 0).select(col("blk"),
        col("hs_id").as("left_id"), col("ord").as("ls")),
      pre.where(col("side") === 1).select(col("blk"),
        col("hs_id").as("right_id"), col("ord").as("rs")))
      .withColumn("inter", size(array_intersect(col("ls"), col("rs"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nl") + col("nr") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** ASYMMETRIC containment pairs within a blocking key: (A, B) with
    * |A ∩ B| / |A| ≥ τ — the quote / subset-duplicate / templated-expansion
    * detector (A's content lives inside B even when B is much larger, so
    * symmetric Jaccard misses it). Returns (left_id, right_id, containment)
    * with left = the contained side; both directions of a mutual pair
    * surface as two rows.
    *
    * Scale shape (PPJoin candidate/verify split, third-decade-measured —
    * SCALE.md §Third decade): candidate generation explodes only A's
    * rarest-first PREFIX (n − ⌈τ·n⌉ + 1 tokens — pigeonhole: a B covering
    * ≥ τ of A must hit one; lossless) against B's full token postings, on
    * SLIM rows (block, token, id, size, position) — the token arrays
    * never ride the posting shuffle. Pairs collapse to their FIRST shared
    * token via a min-aggregate; the size filter |B| ≥ τ·|A| and the
    * POSITIONAL filter (remaining overlap after the first match must
    * reach τ·|A|) prune before the arrays are fetched — once per
    * surviving pair — for exact verification.
    *
    * NOT fully lazy: construction runs one eager Spark job — see
    * [[jaccardPairs]]. */
  def containmentPairs(df: DataFrame, id: String, tokenSet: String,
                       block: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val hs = hashedSets(df, id, tokenSet, Seq(block))
      .withColumnRenamed(block, "blk")
      .withColumn("n", size(col("hs")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    containmentFromHashed(hs, threshold)
  }

  private def containmentFromHashed(hs: DataFrame, threshold: Double): DataFrame = {
    // Candidate generation rides SLIM postings — (block, token, id, set
    // size, position) only. The previous shape carried each document's
    // FULL token array on every exploded posting row: O(|doc|) bytes per
    // posting makes the candidate shuffle Θ(Σ n·|doc|) bytes — measured
    // super-linear wall time at the 100× synthetic decade (spill-bound;
    // SCALE.md §third decade) — where the slim shape is Θ(Σ n).
    val (pre, prefixed, width) = prefixCache(hs, threshold)
    // the r side explodes FULL ordered arrays, so Σn is exactly this
    // join's posting volume — size its shuffle from the data
    val l = widenForJoin(prefixed.select(col("blk"), col("hs_id").as("left_id"),
      col("n").as("nl"), posexplode(col("prefix")).as(Seq("lp", "h"))),
      width, col("blk"), col("h"))
    val r = widenForJoin(pre.select(col("blk"), col("hs_id").as("right_id"),
      col("n").as("nr"), posexplode(col("ord")).as(Seq("rp", "h"))),
      width, col("blk"), col("h"))
    // the candidate join stays SORT-MERGE deliberately: a shuffled-hash
    // build on the (≈5× smaller) prefix side was A/B'd at the fourth
    // decade TWICE — round 15's minima favored the hash join 1.31×, the
    // round-16 both-sentinel re-run favored sort-merge 1.47× on the
    // calmest legs, zero spill either way (the input sorts never spill).
    // Two sessions disagreeing in DIRECTION means the seam's effect is
    // below session noise — no reproducible win; retired (SCALE.md §R16).
    val candidates = l.join(r, Seq("blk", "h"))
      .where(col("left_id") =!= col("right_id"))
      .where(col("nr") >= lit(threshold) * col("nl") - 1e-9)
      // one row per pair, at A's FIRST matched prefix token (min lp): the
      // aggregate replaces the old per-posting array first-match predicate
      .groupBy(col("blk"), col("left_id"), col("right_id"),
        col("nl"), col("nr"))
      .agg(min(struct(col("lp"), col("rp"))).as("fm"))
      // PPJoin positional filter (Xiao et al., WWW'08): both sides share
      // ONE global rarest-first order, so at the first matched prefix
      // token no earlier token of A is in B (first match) and no earlier
      // token of B can equal a later token of A (order agreement) — the
      // achievable overlap is 1 + what remains on each side. Pairs whose
      // bound can't reach τ·|A| never pay the verification join.
      .where(lit(1) + least(col("nl") - col("fm.lp") - 1,
                            col("nr") - col("fm.rp") - 1)
        >= lit(threshold) * col("nl") - 1e-9)
    // verification: the token arrays move ONCE per surviving pair side,
    // not once per posting
    widenedVerifyJoin(candidates, width,
      pre.select(col("blk"), col("hs_id").as("left_id"), col("ord").as("ls")),
      pre.select(col("blk"), col("hs_id").as("right_id"), col("ord").as("rs")))
      .withColumn("inter", size(array_intersect(col("ls"), col("rs"))))
      .withColumn("containment", col("inter").cast("double") / col("nl"))
      .where(col("containment") >= threshold)
      .select(col("left_id"), col("right_id"), col("containment"))
  }

  // -------------------------------------------------------------- minhash --

  /** CROSS-ENGINE-DETERMINISTIC MinHash-LSH — every hash is
    * [[TextAnalysis.md5Long]] (md5 is md5 in any engine), so an external
    * replay computes the identical signatures, band buckets, candidate
    * set, and therefore the identical RECALL MISSES. LSH recall is
    * probabilistic by design (a J=0.9 pair misses all of 4 bands of 4 with
    * p≈1.4% — measured: 2 of 256 exact pairs at sf0.1); an oracle that
    * verifies against the exact-Jaccard pair set silently depends on
    * recall being 1 on the gated corpus, which stops holding as the corpus
    * grows. This operator moves q25's contract from "recall happened to be
    * 1" to "oracled by construction" — the repo-wide standard the SimHash
    * (q26) and SRP (q31) tiers already meet:
    *
    *  - per-perm shingle hash: md5Long("i:" ++ shingle string) — the
    *    min over a doc's shingles is signature row m_i;
    *  - band bucket: md5Long("b:" ++ m concatenated with ':') — colon
    *    joins over decimal renderings, identical in SQL;
    *  - candidates: distinct bucket-join pairs;
    *  - verification: exact Jaccard over the distinct shingle-STRING sets
    *    (never hashes — injective by construction).
    *
    * It is the engine's one MinHash. An xxhash64 family would be cheaper
    * per gram (codegen'd, where md5 is not), but no external engine could
    * replay its recall misses. */
  def minHashDedupPortable(df: DataFrame, id: String, tokens: String,
                           shingleN: Int, threshold: Double): DataFrame = {
    val k = 16 // signature rows
    val bands = 4
    val rows = k / bands
    val md5Long = graft.functions.Md5LongFunction.md5Long _
    // one distinct-shingle-string relation feeds the signature build AND
    // both verification joins (persisted: three consumers)
    val sh = df
      .select(col(id).as("mh_id"),
        TextAnalysis.shingles(col(tokens), shingleN).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = sh.select(col("mh_id"), explode(col("sh")).as("s"))
    val sig = e.groupBy("mh_id").agg(
      min(md5Long(concat(lit("0:"), col("s")))).as("m0"),
      (1 until k).map(i =>
        min(md5Long(concat(lit(s"$i:"), col("s")))).as(s"m$i")): _*)
    val banded = sig.select(col("mh_id"),
      array((0 until bands).map(b =>
        md5Long(concat_ws(":", lit(b) +:
          (0 until rows).map(r => col(s"m${b * rows + r}")): _*))): _*).as("bks"))
      .select(col("mh_id"), posexplode(col("bks")).as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"), col("mh_id").as("left_id"))
    val r = banded.select(col("band"), col("bucket"), col("mh_id").as("right_id"))
    val cands = l.join(r, Seq("band", "bucket"))
      .where(col("left_id") < col("right_id"))
      .select("left_id", "right_id").distinct()
    cands
      .join(sh.select(col("mh_id").as("left_id"), col("sh").as("ls")), Seq("left_id"))
      .join(sh.select(col("mh_id").as("right_id"), col("sh").as("rs")), Seq("right_id"))
      .withColumn("inter", size(array_intersect(col("ls"), col("rs"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("ls")) + size(col("rs")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  // ------------------------------------------------------------- clusters --

  /** Connected components over a near-dup pair graph by min-label
    * propagation: every vertex adopts the smallest component id among itself
    * and its neighbors until fixpoint. Iterations are bounded by the
    * component diameter — near-dup clusters produced by the pair operators
    * are dense (quasi-cliques), so this converges in 2–3 rounds; each round
    * is one key-partitioned join + aggregate, with the frontier persisted
    * and the previous one released. (For adversarial long-chain graphs,
    * swap in large-star/small-star contraction — same interface.)
    *
    * Returns (id, component) where component = min doc id in the cluster.
    *
    * The pair graph's size is MEASURED first (one count on the persisted
    * edge relation, which the loop would reuse anyway). At or under
    * `maxDriverEdges` undirected edges the component labels are computed by
    * union-find on the driver — the same runtime regime as collecting a
    * broadcast-join build side (a few-MB bounded relation), and O(E·α(E))
    * in one job instead of O(log d) rounds each costing a join cascade plus
    * a checkpoint. Near-dup graphs are orders of magnitude smaller than
    * their corpus (pairs, not docs), so this is the common case even at
    * 100 TB; a genuinely huge graph (`maxDriverEdges = 0` forces it) runs
    * the distributed min-label/pointer-jumping loop below, at most 25
    * rounds, each truncating its lineage with `localCheckpoint`. */
  def connectedComponents(pairs: DataFrame,
                          maxDriverEdges: Long = 1L << 21): DataFrame = {
    val maxIter = 25
    val edgesSrc = pairs.select(col("left_id").as("src"), col("right_id").as("dst"))
      .unionByName(pairs.select(col("right_id").as("src"), col("left_id").as("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val callerParts = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    val nEdges = edgesSrc.count()
    // nEdges counts both directions; the driver threshold is undirected.
    // Besides the caller's edge cap, the driver path must fit the ACTUAL
    // heap: the dominant resident cost is the boxed local output relation
    // (~[[DriverBytesPerEdge]] B/edge, math in the scaladoc there), capped
    // at 1/8 of driver maxMemory so a small driver degrades to the
    // distributed loop instead of OOMing.
    if (nEdges <= 2 * maxDriverEdges &&
        (nEdges / 2) * DriverBytesPerEdge <= Runtime.getRuntime.maxMemory / 8)
      return driverComponents(edgesSrc, pairs.sparkSession)
    // scale the loop's shuffle width to the measured graph size (~1M edges
    // per partition): a near-dup graph is orders of magnitude smaller than
    // the corpus, and iterating a tiny graph over the session's full
    // partition count pays pure scheduling latency every round. The
    // narrowed width lives on a CHILD session (same SparkContext — shared
    // executors, block manager, checkpoint dir — but isolated SQL conf), so
    // queries planned concurrently on the caller's session can never
    // inherit it; the final labels are rebound to the caller's session
    // before returning (below), so no child-session handle ever escapes.
    val iso = pairs.sparkSession.newSession()
    iso.conf.set("spark.sql.shuffle.partitions",
      math.max(1L, math.min(callerParts.toLong, nEdges / 1000000L + 1)).toString)
    val edges = iso.createDataFrame(edgesSrc.toJavaRDD, edgesSrc.schema)
    // eager checkpoint truncates lineage each round — without it the
    // adaptive plan re-derives every prior iteration and rounds get slower
    // labels only ever decrease, so Σcomp is a monotone convergence witness:
    // fixpoint ⟺ the sum stops changing. Every sum (this one and each
    // round's) rides its checkpoint's materialization job as an observe()
    // metric — verified to fire for localCheckpoint — so convergence
    // detection costs zero extra jobs.
    val obs0 = org.apache.spark.sql.Observation("cc_init")
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .observe(obs0, coalesce(sum(col("comp")), lit(0L)).as("s"))
      .localCheckpoint()
    var prevSum = obs0.get("s").asInstanceOf[Long]
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("comp")).as("nbr"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"))
      // pointer jumping (path halving): comp ← comp's comp. Neighbor-min
      // alone needs O(diameter) rounds on chain-shaped near-dup graphs;
      // the jump collapses label chains exponentially → O(log d) rounds.
      // (A second jump per round was measured SLOWER: the self-join
      // duplicates the un-checkpointed subtree, outweighing saved rounds.)
      // The jump self-joins `stepped`; a round-scoped persist computes its
      // two-join subtree once per round instead of twice (self-join
      // exchanges are not reused by Catalyst — measured).
      stepped.persist(StorageLevel.MEMORY_AND_DISK)
      // labels only decrease, so Σcomp is a fixpoint witness, checked EVERY
      // round (a skipped probe costs a surplus ROUND of joins + checkpoint;
      // quasi-clique near-dup graphs converge in 1-2 rounds). The sum rides
      // the checkpoint's own materialization job as an observe() metric —
      // no separate agg job per round.
      val obs = org.apache.spark.sql.Observation(s"cc_round_$i")
      val next =
        try stepped.as("x")
          .join(stepped.select(col("id").as("cid"), col("comp").as("ccomp")),
            col("x.comp") === col("cid"), "left")
          .select(col("x.id").as("id"),
            least(col("x.comp"), coalesce(col("ccomp"), col("x.comp"))).as("comp"))
          .observe(obs, coalesce(sum(col("comp")), lit(0L)).as("s"))
          .localCheckpoint()
        finally stepped.unpersist(blocking = false)
      labels = next
      i += 1
      val s = obs.get("s").asInstanceOf[Long]
      converged = s == prevSum
      prevSum = s
    }
    // the loop ran on the hidden child session; rebind the checkpointed
    // labels (a LogicalRDD — the RDD is already materialized, so this is a
    // plan-level rewrap, not a recompute) to the CALLER's session, so
    // downstream createOrReplaceTempView / catalog lookups / SQL-conf-
    // sensitive ops target the session the caller owns, not iso's
    pairs.sparkSession.createDataFrame(labels.toJavaRDD, labels.schema)
  }

  /** Estimated resident driver bytes per undirected edge on the union-find
    * path — PRIMITIVE throughout since round 10. The edge batch arrives as
    * per-partition packed `Array[Long]` chunks (16 B/edge, no Row/Long
    * boxes), is copied once into src/dst arrays (16 B/edge, chunks then
    * unreachable), the union-find state is ≤ 2 vertices/edge × (8 B sorted
    * id + 4 B parent + 1 B rank + 8 B min + 8 B resolved comp) ≈ 58 B/edge,
    * and the output relation is two BROADCAST primitive long arrays
    * (≤ 32 B/edge) instead of the former boxed LocalRelation (GenericRow +
    * 2 boxed Longs ≈ 220 B/edge — the engine's single largest driver
    * allocation and the prime suspect for q41's GC-driven bimodal tail).
    * 120 B/edge covers the worst (all-distinct-vertices) case with slack;
    * at the 1<<21 default cap that is ~240 MB, additionally gated to 1/8
    * of the driver's real maxMemory at the call site. */
  private val DriverBytesPerEdge = 120L

  /** Driver-side union-find over a measured-small symmetrized edge relation.
    * Edges arrive in ONE `collect()` job as per-partition PACKED primitive
    * `Array[Long]` chunks (src,dst interleaved) — never as boxed Rows; a
    * plain `collect()` of Rows was measured at ~110 B/edge of GenericRow +
    * boxed-Long garbage, and `toLocalIterator` before that scheduled one
    * sequential job PER PARTITION, ~1 s of pure scheduling latency on a
    * 32-partition cached relation of a few thousand rows. The union-find
    * itself runs on dense int indices (vertex ids sorted + binary-searched),
    * so its state is primitive arrays, not boxed LongMaps. Path-compressed,
    * union by rank; labels resolve to the component-minimum vertex id,
    * bit-identical to the distributed loop's fixpoint. The output relation
    * is built from two BROADCAST primitive arrays mapped over a `range` —
    * the driver never materializes a boxed row per vertex, and downstream
    * joins still broadcast the (tiny, statically range-sized) relation
    * exactly like a built dimension. */
  private def driverComponents(edges: DataFrame,
                               spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    // src <= dst keeps each undirected edge once and retains degenerate
    // self-edges, whose vertices must still surface in the labeling
    var chunks = edges.where(col("src") <= col("dst")).select("src", "dst")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val b = scala.collection.mutable.ArrayBuilder.make[Long]
        it.foreach { case (s, d) => b += s; b += d }
        Iterator.single(b.result())
      }.collect()
    val nE0 = chunks.iterator.map(_.length / 2).sum
    val src = new Array[Long](nE0)
    val dst = new Array[Long](nE0)
    var j = 0
    chunks.foreach { c =>
      var p = 0
      while (p < c.length) { src(j) = c(p); dst(j) = c(p + 1); p += 2; j += 1 }
    }
    chunks = null // release the packed batch before building anything else
    val nE = src.length
    // dense vertex index: sort a primitive scratch array, dedupe in place
    val all = new Array[Long](2 * nE)
    System.arraycopy(src, 0, all, 0, nE)
    System.arraycopy(dst, 0, all, nE, nE)
    java.util.Arrays.sort(all)
    var nV = 0
    var last = 0L
    var i = 0
    while (i < all.length) {
      if (nV == 0 || all(i) != last) { last = all(i); all(nV) = all(i); nV += 1 }
      i += 1
    }
    val verts = java.util.Arrays.copyOf(all, nV)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(verts, v)
    val parent = Array.tabulate(nV)(identity)
    val rank = new Array[Byte](nV)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    var e = 0
    while (e < nE) {
      val ra = find(idx(src(e)))
      val rb = find(idx(dst(e)))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
      e += 1
    }
    // verts is ascending, so the FIRST vertex reaching a root is its min
    val minOfRoot = new Array[Long](nV)
    java.util.Arrays.fill(minOfRoot, Long.MaxValue)
    i = 0
    while (i < nV) {
      val r = find(i)
      if (minOfRoot(r) == Long.MaxValue) minOfRoot(r) = verts(i)
      i += 1
    }
    val comp = new Array[Long](nV)
    i = 0
    while (i < nV) { comp(i) = minOfRoot(find(i)); i += 1 }
    // emit via broadcast primitive arrays over a range: zero boxed rows on
    // the driver. The relation is returned under an explicit broadcast()
    // hint — near the edge cap Catalyst's size ESTIMATE for the range +
    // mapPartitions plan can exceed autoBroadcastJoinThreshold, and a
    // silent downgrade to a shuffle join is exactly what this "built
    // dimension" contract exists to avoid (the actual payload is two
    // primitive arrays, ≤ ~32 MB at the cap). bVerts/bComp live as long
    // as the returned plan can re-execute; reclamation is the
    // ContextCleaner's, once the relation itself is unreachable.
    val bVerts = spark.sparkContext.broadcast(verts)
    val bComp = spark.sparkContext.broadcast(comp)
    org.apache.spark.sql.functions.broadcast(
      spark.range(0, nV.toLong, 1, math.max(1, nV / 1000000 + 1))
        .mapPartitions { it =>
          val v = bVerts.value; val c = bComp.value
          it.map(i => (v(i.toInt), c(i.toInt)))
        }.toDF("id", "comp"))
  }

  /** Cluster-level dedup decision: every doc in a near-dup component keeps
    * the component minimum as its canonical id (docs in no pair are their
    * own canonical). */
  def canonicalIds(allIds: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    allIds.select(col(idCol).as("id")).distinct()
      .join(comps, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("comp"), col("id")).as("canonical_id"))
  }

  /** Near-dup canonical labels through the EXACT-first cascade (the
    * standard production dedup shape — e.g. RefinedWeb/Dolma run exact
    * dedup before fuzzy): collapse identical token sets to one
    * representative (an exact groupBy on the sorted hash array — no
    * fingerprint collisions possible), run the near-dup pair stage over
    * REPRESENTATIVES only, and reconnect members with star edges
    * (rep—member) before connected components.
    *
    * Labels are identical to `canonicalIds(docs, id, jaccardPairs(…))`:
    * an exact-dup pair is connected through its shared representative; a
    * near-dup pair between members has the same token sets — hence the
    * same Jaccard — as the pair between their representatives, which the
    * rep stage emits (τ > 0 required: zero-overlap "pairs" have no shared
    * representative structure). Spec-asserted equal on the real corpus.
    *
    * Scale shape: the Θ(clique²) identical-set pair blowup never exists —
    * the edge relation is Θ(docs + near-dup pairs between DISTINCT sets),
    * which keeps [[connectedComponents]]' driver union-find applicable
    * for decades longer (measured: the 100× synthetic corpus feeds 9.4 M
    * directed edges to the distributed loop without the cascade vs a
    * driver-sized graph with it; SCALE.md §Third decade). The exact
    * groupBy shuffles the hashed-set bytes once — the same order of bytes
    * the pair stage's posting explode already moves. Below
    * [[SmallCorpusOccMax]] occurrences the plain pairs→CC shape runs
    * instead (same labels; the collapse overhead exceeds its savings
    * there — the same size-driven representation choice the pair stage
    * itself makes). */
  def canonicalIdsCascade(df: DataFrame, id: String, tokenSet: String,
                          block: String, threshold: Double): DataFrame =
    canonicalIdsCascadeAt(df, id, tokenSet, block, threshold,
      occGate = SmallCorpusOccMax)

  /** [[canonicalIdsCascade]] with an explicit occurrence gate (test seam:
    * occGate = 0 forces the collapse at spec scale). Below the gate the
    * plain pairs→CC shape runs — same labels, and at that size the
    * collapse's exact groupBy + rep join cost more than the clique pairs
    * they avoid (measured +1.5 s across q41+q43 at the sf0.1 bench); a
    * corpus that threatens the CC driver gate is always far above it. */
  private[operators] def canonicalIdsCascadeAt(df: DataFrame, id: String,
      tokenSet: String, block: String, threshold: Double,
      occGate: Long): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"cascade threshold must be in (0, 1], got $threshold")
    // `n` is computed BEFORE the persist so the cached plan is the exact
    // (blk, hs_id, hs, n) relation handed to jaccardPairsFromHashed —
    // Dataset.unpersist releases by plan identity, and the round-15 shape
    // (persist bare, derive `n` per consumer) made every documented
    // release downstream a silent no-op on this path (ADVICE r15 #1): at
    // corpus scale the input cache stayed resident through the whole
    // cascade, exactly the cache-fit pressure the release exists to shed.
    val hsRaw = hashedSets(df, id, tokenSet, Seq(block))
      .withColumnRenamed(block, "blk")
      .withColumn("n", size(col("hs")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE stats job serves both the occurrence gate here and (below the
    // gate) the pair stage's representation routing — the round-19 shape
    // paid a separate sum(n) job for the gate and then re-derived occ
    // inside the routing aggregate (guide §1; A/B'd in
    // OPTIMIZATION_r20.md). The job doubles as the hsRaw materializer.
    val st = routeStats(hsRaw)
    if (st.occ <= occGate)
      return canonicalIds(df.select(col(id)), id,
        jaccardPairsFromHashed(hsRaw, threshold, vocabHint = None,
          precomputed = Some(st)))
    val hs = hsRaw.withColumn("skey", array_sort(col("hs")))
    val withRep = hs.join(
      hs.groupBy(col("blk"), col("skey")).agg(min(col("hs_id")).as("rep")),
      Seq("blk", "skey"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // empty sets are never pairs under any representation (J = 0/0 is
    // null-rejected), so they must not be star-connected either — each
    // empty doc stays its own canonical, exactly as in the plain path
    val stars = withRep.where(col("hs_id") =!= col("rep") && size(col("hs")) > 0)
      .select(col("rep").as("left_id"), col("hs_id").as("right_id"))
    // persisted as the EXACT plan the pair stage consumes (same reason as
    // hsRaw above): the delete-1/prefix paths release it the moment their
    // own derived cache has materialized
    val repHs = withRep.where(col("hs_id") === col("rep"))
      .select(col("blk"), col("hs_id"), col("n"), col("hs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val repPairs = jaccardPairsFromHashed(repHs, threshold, vocabHint = None)
      .select("left_id", "right_id")
    // the pair stage's eager routing aggregate materialized repHs — and
    // therefore withRep's cache blocks — so the raw input has no consumer
    // left (stars reads withRep, not hsRaw)
    hsRaw.unpersist(blocking = false)
    canonicalIds(df.select(col(id)), id, repPairs.unionByName(stars))
  }

  /** Cross-document passage dedup (the C4/CCNet line-dedup step, applied to
    * any (doc, position, passage) relation — lines, sentences, or fixed
    * token windows from [[Packing.chunkByTokens]]): every passage keeps only
    * its globally FIRST occurrence, ordered by (doc id, position), so
    * boilerplate repeated across documents survives exactly once.
    *
    * Scale shape: one exchange on the passage's [[TextAnalysis.md5Long]]
    * hash + a per-group sort (the window) — key-partitioned; group sizes
    * are occurrence counts of one passage, and the heaviest boilerplate key
    * is exactly what AQE skew splitting handles. The hash is cross-engine,
    * so an oracle can replay the grouping on the raw passage text. */
  def dropDuplicatePassages(segments: DataFrame, id: String, pos: String,
                            passage: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("dp_hash").orderBy(col(id), col(pos))
    segments.withColumn("dp_hash", TextAnalysis.md5Long(col(passage)))
      .withColumn("dp_rn", row_number().over(w))
      .where(col("dp_rn") === 1)
      .drop("dp_rn", "dp_hash")
  }

  /** Boilerplate REMOVAL by document frequency — the CCNet/RefinedWeb
    * line-filter that [[dropDuplicatePassages]] is not: there, a repeated
    * passage keeps its first occurrence; here a passage repeated across
    * `maxDf`-or-more DISTINCT documents (headers, footers, cookie
    * banners, license blurbs — content whose very ubiquity marks it as
    * template, not prose) is dropped from EVERY document including the
    * first, and each document is RECONSTRUCTED from its surviving
    * passages in position order. Within-document repetition does not
    * count toward the frequency (a chorus repeated in one lyric is not
    * boilerplate — that is [[graft.operators.TextAnalysis]]'s
    * repetition/destutter territory); the frequency is distinct-doc.
    *
    * Documents whose every passage is boilerplate come back with an
    * EMPTY `clean_text` and kept = 0 rather than vanishing — dropping
    * them is a later length-filter's explicit decision, not this
    * operator's silent side effect.
    *
    * Scale shape: one map-side-combined distinct-doc count per passage
    * hash (the [[TextAnalysis.md5Long]] of the text — grouping never
    * shuffles the passage strings twice), a join of the segments against
    * the per-hash frequency (key-partitioned; AQE broadcasts it when the
    * distinct-passage relation is small and skew-splits the heavy
    * boilerplate keys when it is not), and one reconstruction aggregate
    * per document (collect + sort of that DOC's surviving passages —
    * group size is a single document's passage count, never corpus
    * scale). An oracle replays the grouping on the raw passage text. */
  def removeFrequentPassages(segments: DataFrame, id: String, pos: String,
                             passage: String, maxDf: Int): DataFrame = {
    require(maxDf >= 2,
      s"maxDf must be at least 2, got $maxDf (1 would drop every passage " +
        "— each occurs in at least its own document)")
    val reserved = Seq("bp_hash", "bp_doc", "bp_df", "bp_keep",
      "clean_text", "kept_passages", "dropped_passages")
    val clash = segments.columns
      .filter(c => reserved.contains(c.toLowerCase) && c != id)
    require(clash.isEmpty,
      s"input columns collide with scratch/output names " +
        s"[${clash.mkString(", ")}] — rename or drop them first")
    val freq = segments
      .select(TextAnalysis.md5Long(col(passage)).as("bp_hash"), col(id).as("bp_doc"))
      .distinct()
      .groupBy("bp_hash").agg(count(lit(1)).as("bp_df"))
    segments
      .withColumn("bp_hash", TextAnalysis.md5Long(col(passage)))
      .join(freq, "bp_hash")
      .withColumn("bp_keep", col("bp_df") < maxDf)
      .groupBy(col(id))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("bp_keep"),
            struct(col(pos).as("p"), col(passage).as("t"))))),
          x => x("t")), " ").as("clean_text"),
        count(when(col("bp_keep"), 1)).as("kept_passages"),
        count(when(!col("bp_keep"), 1)).as("dropped_passages"))
  }

  // -------------------------------------------------------------- simhash --

  /** (id, sh) SimHash signatures via explode → groupBy with 64 conditional
    * sums — one map-side-combinable shuffle, fully codegen'd (higher-order
    * array folds are CodegenFallback in Spark; this path is not). Docs with
    * empty token sets produce no signature (they near-dup nothing). */
  def simHashSignatures(df: DataFrame, id: String, tokenSet: String): DataFrame = {
    val th = df.select(col(id).as("sh_id"), explode(col(tokenSet)).as("tok"))
      .select(col("sh_id"), TextAnalysis.md5Long(col("tok")).as("h"))
    val votes = th.groupBy("sh_id").agg(
      sum(when(col("h").bitwiseAND(1) === 1, 1).otherwise(-1)).as("v0"),
      (1 until 64).map(i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i")): _*)
    votes.select(col("sh_id"),
      (0 until 64).map(i =>
        when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** The block count of [[simHashCandidates]]: the classic 4×16-bit
    * chunking, low bits first. */
  private val SimHashBlocks = 4

  /** Candidate pairs from a (sh_id, sh) signature relation via Manku-style
    * block-combination tables (Manku, Jain, Das Sarma, WWW'07 §3): split the
    * 64 bits into `blocks` = 4 blocks; a pair with hamming ≤ maxHamming leaves
    * ≥ blocks − maxHamming blocks untouched (pigeonhole), so it MUST agree
    * on at least one of the C(blocks, blocks−maxHamming) block combinations.
    * Each combination is one table, keyed by that combination's bits packed
    * into a long — an equi-join key, so candidate generation is a linear
    * explode (×#tables) + a key-partitioned self-join, never all-pairs.
    *
    * Sizing (full math in SCALE.md): per-table key width is
    * 64·(blocks−maxHamming)/blocks bits, so expected in-bucket candidate
    * volume is Θ(N²/2^width) per table. blocks=4, h=3 gives 4 tables on
    * 16-bit keys (fine to ~10⁷ docs).
    *
    * A pair agreeing on several tables would surface once per table; it is
    * kept only where `tbl` is the FIRST agreeing table (some block of every
    * earlier table differs) — a codegen'd filter on bits already in the
    * row, replacing a `distinct()` that would shuffle the whole candidate
    * set again. Exposed within graft so specs can bound candidate counts. */
  private[graft] def simHashCandidates(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val blocks = SimHashBlocks
    require(maxHamming >= 0 && maxHamming < blocks,
      s"pigeonhole completeness needs maxHamming < blocks, got " +
        s"maxHamming=$maxHamming blocks=$blocks")
    val widths = Seq.fill(blocks)(64 / blocks)
    val offsets = widths.scanLeft(0)(_ + _).init
    def blockOf(sig: Column, b: Int): Column =
      shiftrightunsigned(sig, offsets(b)).bitwiseAND((1L << widths(b)) - 1)
    def keyOf(sig: Column, tbl: Seq[Int]): Column =
      tbl.foldLeft(lit(0L))((k, b) => shiftleft(k, widths(b)).bitwiseOR(blockOf(sig, b)))
    val tables: Seq[Seq[Int]] =
      (0 until blocks).combinations(blocks - maxHamming).map(_.toSeq).toSeq
    val keyed = sigs.select(col("sh_id"), col("sh"), posexplode(
      array(tables.map(t => keyOf(col("sh"), t)): _*)).as(Seq("tbl", "tkey")))
    val l = keyed.select(col("tbl"), col("tkey"),
      col("sh_id").as("left_id"), col("sh").as("lsh"))
    val r = keyed.select(col("tbl"), col("tkey"),
      col("sh_id").as("right_id"), col("sh").as("rsh"))
    val firstMatch = tables.indices.init.map { t =>
        col("tbl") <= t ||
          tables(t).map(b => blockOf(col("lsh"), b) =!= blockOf(col("rsh"), b))
            .reduce(_ || _)
      }.foldLeft(lit(true))(_ && _)
    l.join(r, Seq("tbl", "tkey")).where(col("left_id") < col("right_id"))
      .where(firstMatch)
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming.
    * Candidate generation via [[simHashCandidates]] block-combination
    * tables (the classic 4×16-bit chunk scheme). The pigeonhole bound
    * is structural: maxHamming < 4 is required, so no parameterization
    * can silently miss pairs. The signature relation is persisted so the
    * self-join's two sides don't recompute it. */
  def simHashPairs(df: DataFrame, id: String, tokenSet: String,
                   maxHamming: Int = 3): DataFrame = {
    val sigs = simHashSignatures(df, id, tokenSet).persist(StorageLevel.MEMORY_AND_DISK)
    simHashCandidates(sigs, maxHamming)
      .withColumn("hamming", bit_count(col("lsh").bitwiseXOR(col("rsh"))))
      .where(col("hamming") <= maxHamming)
      .select("left_id", "right_id", "hamming")
  }

  /** Quality-aware keep policy over near-dup clusters — the
    * RefinedWeb/FineWeb curation choice: within each duplicate cluster
    * keep the HIGHEST-QUALITY member, not the smallest id
    * ([[canonicalIds]]' label is an arbitrary cluster NAME; which member
    * survives is a policy decision, and "first crawled" throws away the
    * cleanest copy whenever a later crawl fixed the boilerplate).
    * `labels` carries (idCol, canonical_id) — any cluster labeling;
    * `scores` carries (idCol, quality). Ties break to the smallest id.
    * Returns every row with its cluster, score, and a `kept` bit, so the
    * caller can filter, audit, or weight.
    *
    * Determinism: the repo's quality scores are round(…,6) quotients
    * (q33), identical cross-engine, so the per-cluster arg-max replays
    * exactly. Scale shape: one doc-grain equi-join plus a window
    * partitioned BY CLUSTER — partitions are clique-sized, and the exact
    * dup cliques that could concentrate one partition are exactly what
    * [[canonicalIdsCascade]] collapses upstream. */
  def qualityKeep(labels: DataFrame, scores: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("canonical_id")
      .orderBy(col("quality").desc, col(idCol))
    labels.join(scores, Seq(idCol))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col(idCol), col("canonical_id"), col("quality"), col("kept"))
  }
}
