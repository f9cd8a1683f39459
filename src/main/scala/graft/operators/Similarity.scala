package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector-similarity operators over `array<float>` embedding columns.
  *
  * Two tiers, mirroring how ANN is actually deployed on Spark:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Query side is broadcast (small), corpus side streams: no shuffle of the
  *    corpus, one window per query id for the top-k cut.
  *  - [[srpBucketTopK]]: sign-random-projection LSH (an IVF-style coarse
  *    quantizer): each vector lands in a bucket keyed by the sign pattern of
  *    `nbits` fixed random hyperplanes; search only compares within matching
  *    buckets. At 100 TB the bucket key becomes the partition key, so a query
  *    touches a bounded slice of the corpus instead of all of it.
  *
  * All arithmetic is done in double precision with strictly index-ascending
  * accumulation (deterministic and engine-portable), through the native
  * codegen'd kernels in [[graft.functions.VectorExpressions]] — a single
  * primitive loop per row instead of interpreted higher-order folds.
  */
object Similarity {
  import graft.functions.VectorFunctions

  def dot(a: Column, b: Column): Column = VectorFunctions.vectorDot(a, b)

  def norm(a: Column): Column = VectorFunctions.vectorNorm(a)

  def cosine(a: Column, b: Column): Column = VectorFunctions.vectorCosine(a, b)

  /** Per-vector cohesion against its group's centroid: cosine(v, mean of the
    * group's vectors) — the SemDeDup-style outlier signal (a low score marks
    * an embedding that doesn't belong to its cluster/label: mislabeled,
    * noise, or a semantic stray worth pruning before training).
    *
    * Scale shape: the centroid build is ONE shuffle of (group, dim, value)
    * partial sums — map-side combined, ≤ |groups|·dim rows after — and the
    * centroid relation (|groups| rows) broadcasts back onto the corpus, so
    * the big side is never reshuffled. Centroid components are exact
    * DECIMAL sums divided by the count (the [[ivfCentroids]] shape — a
    * double `avg` folds in partition order and can flip the 6th decimal
    * at a rounding boundary across layouts), rounded to 6 d.p. BEFORE the
    * cosine so both engines (and any executor fold order) agree on the
    * exact centroid bits; the cosine itself runs in the native
    * index-ordered kernel. */
  def centroidCohesion(df: DataFrame, groupCol: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val cent = df.select(col(groupCol).as("g"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("g", "pos").agg(round(
        sum(col("v").cast("decimal(30,10)")).cast("double") / count(lit(1)), 6).as("c"))
      .groupBy("g")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))
    df.select(col(idCol), col(groupCol), col(vecCol))
      .join(broadcast(cent), col(groupCol) === col("g"))
      .select(col(idCol), col(groupCol),
        round(cosine(col(vecCol), col("centroid")), 6).as("cos_centroid"))
  }

  /** Exact top-k cosine neighbors for each row of `queries` against `corpus`.
    * `queries` is expected to be small — Catalyst broadcasts it, so the big
    * corpus is never shuffled; only the per-query window sorts candidates. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("nv")), 6))
      // a zero-norm vector has no angle (0/0 cosine = NaN) and Spark
      // ranks NaN ABOVE every number — without this cut a zero-norm
      // corpus row would occupy a top-k slot ahead of every real
      // neighbor (the semanticDecontaminate NaN convention, applied
      // family-wide: a NaN pair judges nothing)
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk").cast("long").as("rk"))
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE data
    * op, Karpukhin et al. 2020): for each query, the top-k corpus
    * neighbors whose cosine lands in [lo, hi) — similar enough to be
    * confusable, below the positive band — ranked hardest (most similar)
    * first. The band applies to the ROUNDED cosine (round(…,6), the
    * family convention), so the kept band replays identically in any
    * engine; NaN pairs (zero-norm vectors) judge nothing, per the
    * [[bruteForceTopK]] convention.
    *
    * Scale shape: identical to [[bruteForceTopK]] — the query batch
    * broadcasts, the corpus never shuffles, the per-query window ranks
    * only in-band candidates. At stored-index scale the same band is a
    * post-filter over any scored neighbor tier's (query_id, neighbor_id,
    * cosine) relation with k widened to survive the cut — [[bandFilter]]
    * is that stage exposed (the [[voteLabels]] composition pattern),
    * spec-asserted equivalent over an exact-scored relation. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    lo: Double, hi: Double, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    require(hi <= 1.0 && lo >= -1.0, s"cosine band must lie in [-1,1]: [$lo, $hi)")
    require(k > 0, s"k must be positive, got $k")
    bandFilter(
      broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
        .crossJoin(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")))
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", round(cosine(col("qv"), col("nv")), 6)),
      lo, hi, k)
  }

  /** The band-and-rank stage of [[hardNegatives]], exposed so it composes
    * over ANY scored neighbor relation with (query_id, neighbor_id,
    * cosine) columns — in particular the stored-index tiers' output. */
  def bandFilter(scored: DataFrame, lo: Double, hi: Double, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .where(!isnan(col("cosine")) &&
        col("cosine") >= lo && col("cosine") < hi)
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rk").cast("long").as("rk"))
  }

  /** Retrieval-based labeling — the kNN majority-vote classifier over an
    * embedding corpus (the curation pattern behind classifier-assisted
    * filtering when no trained model exists: label the unlabeled by their
    * labeled neighbors). Each query takes the label holding the most of
    * its k nearest neighbors; ties break to the SMALLEST label in the
    * label type's own ordering (numeric for numeric labels, lexicographic
    * for strings), votes and votes/k confidence ride along — fully
    * deterministic, so the vote is hard-oracle-able. The winning label is
    * returned in the corpus column's ORIGINAL type (no cast: a string
    * label class votes and wins as itself — a silent cast-to-null here
    * once produced valid-looking all-null labels). Rows whose corpus
    * label is null never vote (a missing label is not a class; null
    * tie-break order also differs across engines, so nulls are excluded
    * rather than ranked).
    *
    * Scale shape: the neighbor relation is ANSWER-sized (|queries|·k
    * rows) and attaches to the corpus labels by an UNHINTED equi-join —
    * for any sane query batch AQE broadcasts the neighbor side at runtime
    * (one pass over the label column, no full corpus exchange), while a
    * batch too large to broadcast degrades to a shuffle join instead of
    * blowing `spark.sql.broadcastTimeout`/driver memory the way a forced
    * hint would. The vote reduce and the per-query argmax window then run
    * on |queries|·(distinct labels) rows, metadata scale. Serving-shaped
    * on the same contract as [[bruteForceTopK]] (the query batch
    * broadcasts); to label against a stored 100 TB index, feed
    * [[ivfPqTopKIndexed]]'s output to [[voteLabels]] — the same vote
    * stage this operator runs (spec-asserted). */
  def knnLabel(queries: DataFrame, corpus: DataFrame, k: Int,
               labelCol: String = "label", idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    voteLabels(bruteForceTopK(queries, corpus, k, idCol, vecCol),
      corpus, k, labelCol, idCol)

  /** The vote stage of [[knnLabel]], exposed so it composes over ANY
    * neighbor relation with (query_id, neighbor_id) columns — in
    * particular [[ivfPqTopKIndexed]]/[[ivfPqTopKRefined]] output, which is
    * how labeling runs against a stored 100 TB index (spec-asserted ≡
    * [[knnLabel]] at covering knobs). `labels` carries (`idCol`,
    * `labelCol`); semantics (null labels never vote, smallest-label
    * tie-break, original label type) are [[knnLabel]]'s. */
  def voteLabels(nn: DataFrame, labels: DataFrame, k: Int,
                 labelCol: String = "label",
                 idCol: String = "vec_id"): DataFrame = {
    val lbl = labels.where(col(labelCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("knn_lbl"))
    val votes = lbl.join(nn.select("query_id", "neighbor_id"),
        Seq("neighbor_id"))
      .groupBy("query_id", "knn_lbl")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("knn_lbl").asc)
    votes.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("query_id"), col("knn_lbl").as("label"),
        col("votes").cast("long").as("votes"),
        (col("votes").cast("double") / k).as("confidence"))
  }

  /** Deterministic pseudo-random hyperplanes: dim × nbits sign projections.
    * Exposed within graft so the SQL oracle can embed the identical
    * constants. */
  private[graft] def hyperplanes(dim: Int, nbits: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(0xC0FFEEL)
    Array.fill(nbits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-random-projection bucket id (0 .. 2^nbits-1) for a vector column.
    * The hyperplanes are compile-time constants folded into the plan; the
    * projection is a fixed linear map per row — no shuffle, no state. */
  def srpBucket(vec: Column, dim: Int, nbits: Int = 8): Column = {
    val planes = hyperplanes(dim, nbits)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val proj = aggregate(
        zip_with(vec, lit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  // ------------------------------------------------------------------ IVF --

  /** IVF (inverted-file) coarse quantizer: k centroids seeded from the k
    * lowest-id vectors (deterministic), refined with `iters` Lloyd steps.
    * Each refinement is fully distributed (assign = per-row argmax against
    * literal centroids; means = posexplode + per-(cluster,dim) average); only
    * the k×dim centroid matrix itself ever reaches the driver — metadata
    * scale, like collecting broadcast-join build keys. */
  def ivfCentroids(corpus: DataFrame, k: Int, iters: Int = 1,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    var cents = corpus.orderBy(col(idCol)).limit(k).select(col(vecCol))
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 0 until iters) {
      // two-step projection: assignment → attribute, THEN the explode.
      // A generator in the same select is hoisted BELOW the other
      // expressions (ExtractGenerator), so the inlined k-way argmax would
      // re-run once per EXPLODED row — ×dim work, the same no-CSE trap
      // [[pqTrain]] documents (measured here: build k64 81→4 s at 2k rows,
      // 393 s→… at 20k, with the per-row marginal ~17 ms — SCALE.md
      // §Round 16, the coarse quantizer)
      val means = corpus
        .select(nearestCentroid(col(vecCol), cents).as("cluster"),
          col(vecCol).as("iv_v"))
        .select(col("cluster"), posexplode(col("iv_v")).as(Seq("pos", "x")))
        // decimal sums are order-independent, so centroids (and therefore
        // bucket assignments) are identical under any partition layout; the
        // exact decimal sum is cast to double BEFORE the divide so the mean
        // is one double÷int — reproducible by any engine, with no
        // decimal-division scale/rounding semantics in play
        .groupBy("cluster", "pos")
        .agg((sum(col("x").cast("decimal(30,10)")).cast("double") / count(lit(1)))
          .as("m"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cent"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cents = cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** Index of the nearest centroid (argmax cosine), as a pure row-local
    * expression — no shuffle, broadcast-free. Evaluated by the fused
    * [[graft.functions.CentroidTopN]] kernel: one expression node carrying
    * the k×dim matrix as a referenced object, so plan size is constant in
    * k and the k ≈ √N regime a fourth-decade corpus wants (k ≥ 1024) is
    * reachable. Bit-identical to [[nearestCentroidLiteral]] (the shape
    * this replaced — spec-asserted, ties and NaN included), so stored
    * cluster layouts are unchanged. */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.CentroidFunctions.centroidTopN(vec, centroids, 1).getItem(0)

  /** The literal-expression argmax the kernel replaced: k inlined cosine
    * kernels + structs + array_max. Kept as the parity/measurement
    * reference — Θ(k·dim) expression NODES, so plan build cost grows with
    * k (unusable past ~k≈64); see CentroidExpressionsSpec and SCALE.md. */
  private[graft] def nearestCentroidLiteral(vec: Column,
                                            centroids: Array[Array[Double]]): Column =
    array_max(array(centroids.zipWithIndex.map { case (c, i) =>
      struct(graft.functions.VectorFunctions.vectorCosine(vec, typedLit(c.toSeq)).as("cos"),
        lit(i).as("cluster"))
    }: _*)).getField("cluster")

  /** The query side probes its `nprobe` nearest centroids: `array<int>` of
    * cluster ids, descending (cos, id) — same kernel, same tie rules. */
  private def probeCentroids(vec: Column, centroids: Array[Array[Double]],
                             nprobe: Int): Column =
    graft.functions.CentroidFunctions.centroidTopN(vec, centroids, nprobe)

  /** Literal-shape probe (parity reference, see [[nearestCentroidLiteral]]). */
  private[graft] def probeCentroidsLiteral(vec: Column, centroids: Array[Array[Double]],
                                           nprobe: Int): Column =
    transform(slice(reverse(array_sort(array(centroids.zipWithIndex.map { case (c, i) =>
      struct(graft.functions.VectorFunctions.vectorCosine(vec, typedLit(c.toSeq)).as("cos"),
        lit(i).as("cluster"))
    }: _*))), 1, nprobe), s => s.getField("cluster"))

  /** IVF ANN top-k: corpus partitioned by nearest-centroid cluster, queries
    * probe their `nprobe` closest clusters — candidate generation is an
    * equi-join on cluster id. At 100 TB the corpus is *stored* clustered
    * (partitionBy(cluster)), so a probe reads nprobe/k of the data; recall
    * is tuned by nprobe exactly as in FAISS-style IVF deployments. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroids: Array[Array[Double]], nprobe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      nearestCentroid(col(vecCol), centroids).as("cluster"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probeCentroids(col(vecCol), centroids, nprobe)).as("probe"))
      .select(col("query_id"), col("qv"), col("probe").as("cluster"))
    ivfScoreTopK(q, c, k)
  }

  // ------------------------------------------------------------------- PQ --

  /** Product-quantization codebooks (Jégou et al., PAMI'11 — the FAISS
    * memory-compression standard): the `dim`-dim space splits into `m`
    * contiguous subspaces of dim/m; each learns its own `ksub`-code
    * codebook by the same deterministic k-means as [[ivfCentroids]]
    * (seeds = the ksub lowest-id vectors' subvectors, `iters` Lloyd steps
    * with order-independent DECIMAL sums). Returns codebooks(s)(code) =
    * centroid of subspace s — m·ksub·(dim/m) doubles, metadata scale.
    *
    * Everything distributed is one pass per Lloyd step: assignment is a
    * row-local argmin over literal codes (no shuffle — |c|² − 2x·c, the
    * |x|² term cancels inside an argmin), and ALL subspaces' means ride a
    * single posexplode + groupBy((subspace, code, pos)) — not m passes. */
  def pqTrain(corpus: DataFrame, m: Int = 4, ksub: Int = 16, iters: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding")
  : Array[Array[Array[Double]]] = {
    require(m > 0 && ksub > 0, s"need positive sizing, got m=$m ksub=$ksub")
    // dim reads off the seed rows — the separate `select(size(vec)).head()`
    // job it replaces cost one full scheduler round trip per train call
    // (guide §1.2: fewer passes; the seeds collect was already paying for
    // the scan)
    val seeds = corpus.orderBy(col(idCol)).limit(ksub).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(seeds.nonEmpty, "pqTrain needs a non-empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] =
      seeds
        .map(v => Array.tabulate(m)(s => v.slice(s * dsub, (s + 1) * dsub)))
        .transpose.map(_.toArray)
    for (_ <- 0 until iters) {
      // three-step projection: slices → attribute, assignment array →
      // attribute, THEN the explode. Inlining either one re-evaluates the
      // 16-code argmin (and its 16 dot kernels) once per generated row —
      // the no-CSE trap, measured 24 s vs 1 s at sf0.1.
      val means = corpus
        .select(col(vecCol).as("pq_v") +: (0 until m).map(s =>
          slice(col(vecCol), s * dsub + 1, dsub).as(s"pq_sub_$s")): _*)
        .select(col("pq_v"), array((0 until m).map(s =>
          nearestCode(col(s"pq_sub_$s"), books(s))): _*).as("asg"))
        .select(col("asg"), posexplode(col("pq_v")).as(Seq("pos", "x")))
        .withColumn("s", (col("pos") / dsub).cast("int"))
        .withColumn("code", element_at(col("asg"), col("s") + 1))
        .groupBy("s", "code", "pos")
        .agg((sum(col("x").cast("decimal(30,10)")).cast("double") / count(lit(1)))
          .as("mval"))
        .groupBy("s", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mval")))),
          r => r.getField("mval")).as("cent"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
      books = Array.tabulate(m)(s => Array.tabulate(ksub)(c =>
        means.getOrElse((s, c), books(s)(c))))
    }
    books
  }

  /** Row-local nearest code for an already-PROJECTED subvector attribute:
    * argmin over the literal codebook of |c|² − 2·x_s·c (the |x_s|² term is
    * constant inside the argmin), ties to the LOWEST code index via struct
    * ordering. Callers must pass the subvector as an attribute, not an
    * inline slice — the slice would be re-evaluated per code. */
  private def nearestCode(sub: Column, codes: Array[Array[Double]]): Column =
    array_min(array(codes.zipWithIndex.map { case (c, j) =>
      val dot = graft.functions.VectorFunctions.vectorDot(sub, typedLit(c.toSeq))
      struct((lit(c.map(x => x * x).sum) - lit(2.0) * dot).as("d"),
        lit(j).as("code"))
    }: _*)).getField("code")

  /** PQ-encode the corpus: each vector compresses to m small code columns
    * (code_0…code_{m-1}) — dim·4 bytes → m bytes at ksub ≤ 256, the 100 TB
    * ANN memory trick. Pure row-local argmins against literal codebooks:
    * no shuffle, no join, whole output integer-deterministic (distance
    * ties break to the lowest code). */
  def pqEncode(corpus: DataFrame, codebooks: Array[Array[Array[Double]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    require(m > 0 && codebooks.forall(_.nonEmpty), "codebooks must be non-empty")
    val dsub = codebooks(0)(0).length
    corpus
      .select(col(idCol) +: (0 until m).map(s =>
        slice(col(vecCol), s * dsub + 1, dsub).as(s"pq_sub_$s")): _*)
      .select(col(idCol) +: (0 until m).map(s =>
        nearestCode(col(s"pq_sub_$s"), codebooks(s))
          .cast("long").as(s"code_$s")): _*)
  }

  /** PQ top-k search by asymmetric distance computation (ADC): each query
    * scores the COMPRESSED corpus — squared L2 to the reconstruction,
    * Σ_s (|q_s|² + |c_{code_s}|² − 2·q_s·c_{code_s}) — so the corpus side
    * never touches its original vectors (m bytes/row instead of dim·4: at
    * 100 TB the whole index fits executor RAM, THE reason PQ exists).
    *
    * Plan shape: queries broadcast (small side) with their subspace norms
    * precomputed ONCE per query row; the corpus code relation is persisted
    * before the join — a BroadcastNestedLoopJoin re-drives its stream-side
    * projection per PAIR, so an unmaterialized encode would re-run the
    * 16-code argmin |corpus|×|queries| times (measured 4.8 s → 0.4 s at
    * sf0.1). Per pair the centroid is an element_at into the literal
    * codebook and the dot runs in the native kernel; one per-query window
    * cuts the top-k. Distances accumulate subspace-ascending (fixed
    * order), ties break on neighbor id — deterministic and
    * engine-replayable. Approximate by construction (quantization error);
    * the spec pins output = exact top-k by distance-to-reconstruction. */
  def pqTopK(queries: DataFrame, codes: DataFrame,
             codebooks: Array[Array[Array[Double]]], k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val q = queries
      .select(col(idCol).as("query_id") +: (0 until m).map(s =>
        slice(col(vecCol), s * dsub + 1, dsub).as(s"q_sub_$s")): _*)
      .select(col("query_id") +:
        (0 until m).map(s => col(s"q_sub_$s")) ++:
        (0 until m).map(s => graft.functions.VectorFunctions
          .vectorDot(col(s"q_sub_$s"), col(s"q_sub_$s")).as(s"q_nrm_$s")): _*)
    val c = codes.withColumnRenamed(idCol, "neighbor_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    pairs.withColumn("adc_dist", round(adcDist(codebooks), 6))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("rk").cast("long").as("rk"))
  }

  /** Train an 8-bit SCALAR quantizer (the FAISS IndexScalarQuantizer
    * QT_8bit shape, the third codec tier between exact vectors and PQ):
    * each dimension gets an independent affine [min, max] range and codes
    * are the 0…255 grid buckets — 4× smaller than float32 at far higher
    * fidelity than PQ's m bytes (SQ loses ~1/255 of each dim's range; PQ
    * loses whole-subspace structure), the standard memory/recall
    * middle ground.
    *
    * Returns (mins, maxs) as dim-sized driver arrays — bounded like the
    * PQ codebooks (dim doubles, not corpus data). Scale shape: ONE
    * distributed pass — posexplode to (dim, value) then a map-side-
    * combined min/max per dim, so the corpus×dim explosion collapses to
    * partitions×dim rows before the (tiny) shuffle. */
  def sqTrain(corpus: DataFrame,
              vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val mm = corpus.select(posexplode(col(vecCol)).as(Seq("sq_i", "sq_x")))
      .groupBy("sq_i")
      .agg(min(col("sq_x").cast("double")).as("mn"),
        max(col("sq_x").cast("double")).as("mx"))
      .orderBy("sq_i").collect()
    require(mm.nonEmpty, "cannot train a scalar quantizer on an empty corpus")
    (mm.map(_.getDouble(1)), mm.map(_.getDouble(2)))
  }

  /** SQ-encode the corpus: each vector compresses to one `sq_code`
    * array<int> of 0…255 grid buckets — round((x−mn)·255/(mx−mn)),
    * clamped so out-of-train-range values (appends after training) still
    * encode, constant dimensions (mx == mn) code 0. Pure row-local
    * expressions over dim-sized literal ranges: no shuffle, no join,
    * integer-deterministic. */
  def sqEncode(corpus: DataFrame, mins: Array[Double], maxs: Array[Double],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(mins.length == maxs.length && mins.nonEmpty,
      s"mins/maxs must be equal-length and non-empty, got ${mins.length}/${maxs.length}")
    val mn = typedLit(mins.toSeq)
    val mx = typedLit(maxs.toSeq)
    corpus.select(col(idCol),
      transform(col(vecCol), (x, i) => {
        val lo = element_at(mn, i + 1); val hi = element_at(mx, i + 1)
        when(hi > lo,
          least(greatest(round((x.cast("double") - lo) * 255.0 / (hi - lo))
            .cast("int"), lit(0)), lit(255)))
          .otherwise(lit(0))
      }).as("sq_code"))
  }

  /** SQ top-k search: queries score the quantizer's RECONSTRUCTIONS
    * (mn_i + code_i·(mx_i−mn_i)/255) by the same query-constant-dropped
    * squared-L2 the PQ tier ranks with — |x̂|² − 2·q·x̂ — so the whole
    * corpus is scanned at 8-bit fidelity, the RAM-resident baseline tier
    * exactly like [[pqTopK]] (the probed/refined tiers remain the scale
    * path; SQ composes under IVF the same way PQ does).
    *
    * Plan shape mirrors [[pqTopK]] and inherits its measured lesson: the
    * corpus side persists DECODED (plus its precomputed |x̂|²) before the
    * broadcast join, because a BroadcastNestedLoopJoin re-drives its
    * stream-side projection per PAIR — an unmaterialized decode would be
    * re-run |queries|× per row. Persisting reconstructions trades the
    * codes' 4× RAM edge for kernel-speed scoring; at a scale where that
    * matters the index belongs in the stored/probed tiers anyway, and the
    * PARQUET/storage side keeps the 4× (codes travel, doubles don't). */
  def sqTopK(queries: DataFrame, codes: DataFrame,
             mins: Array[Double], maxs: Array[Double], k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(mins.length == maxs.length && mins.nonEmpty,
      s"mins/maxs must be equal-length and non-empty, got ${mins.length}/${maxs.length}")
    require(codes.columns.contains("sq_code"),
      s"codes must carry sq_code (from sqEncode), got ${codes.columns.mkString(", ")}")
    val mn = typedLit(mins.toSeq)
    val step = typedLit(maxs.zip(mins).map { case (hi, lo) =>
      if (hi > lo) (hi - lo) / 255.0 else 0.0 }.toSeq)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("sq_qv"))
    val c = codes
      // null code arrays (a null corpus vector encodes to null) must be
      // excluded BEFORE the ranking: the distance sort is ASCENDING and
      // Spark sorts nulls first, so a null distance would silently win
      // top-k slots (the brute/cosine tier is safe by accident — its sort
      // is descending, nulls last)
      .where(col("sq_code").isNotNull)
      .select(col(idCol).as("neighbor_id"),
        transform(col("sq_code"), (cd, i) =>
          element_at(mn, i + 1) + element_at(step, i + 1) * cd).as("sq_dec"))
      .withColumn("sq_cn",
        graft.functions.VectorFunctions.vectorDot(col("sq_dec"), col("sq_dec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sq_dist").asc, col("neighbor_id").asc)
    broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sq_dist", round(col("sq_cn") - lit(2.0) *
        graft.functions.VectorFunctions.vectorDot(col("sq_qv"), col("sq_dec")), 6))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sq_dist"),
        col("rk").cast("long").as("rk"))
  }

  /** SEMANTIC decontamination — the embedding-grain member of the
    * decontamination family (q52 flags docs sharing n-grams with a
    * benchmark, q94 cuts leaked spans; this drops corpus rows whose
    * embedding is too close to ANY held-out suite embedding, the
    * paraphrase leak the lexical grains cannot see). Returns the
    * SURVIVING corpus rows as (id, max_sim) where max_sim is the
    * row's maximum rounded cosine against the suite — survivors satisfy
    * max_sim < tau; rows with a null max (a null or zero-norm corpus
    * vector, or an empty/null-only/zero-norm-only suite — a pair with no
    * defined angle judges nothing) survive with max_sim null (callers
    * who want strict hygiene filter nulls). `idCol` must be NON-NULL and
    * UNIQUE — enforced by a fail-fast (a null id would silently dodge the
    * gate's join-back; duplicates would share one max).
    *
    * Scale shape: the suite is eval-sized and broadcasts (null-vector
    * suite rows dropped first — they can judge nothing); ONE corpus pass
    * scores |corpus|×|suite| pairs through the codegen'd cosine kernel
    * with the per-id max reduced map-side, then the metadata-thin max
    * relation left-joins back. For a suite too large to broadcast, use
    * [[semanticDecontaminateIndexed]] — the stored-index composition
    * (suite rows probe the index, hit ids anti-join away), approximate
    * where this gate is exact, with the recall-for-scale trade measured
    * in SimilaritySpec and SCALE.md. */
  def semanticDecontaminate(corpus: DataFrame, suite: DataFrame, tau: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val reserved = Seq("sd_id", "sd_cv", "sd_sv", "max_sim")
      .filter(corpus.columns.contains)
    require(reserved.isEmpty,
      s"corpus columns collide with reserved names: ${reserved.mkString(", ")}")
    // Fail fast on null or duplicate corpus ids: the max-sim relation
    // joins back on an equi-join, so a NULL id would never match (the row
    // always survives, even at sim ≥ tau — a silent gate hole) and
    // duplicate ids collapse to one shared max (which duplicate earned it
    // is unknowable downstream). One id-column aggregate — negligible
    // next to the |corpus|×|suite| scoring pass this gate runs anyway.
    val idRow = corpus.agg(count(lit(1)).as("n"),
      count(col(idCol)).as("nn"), countDistinct(col(idCol)).as("nd")).head()
    val (nAll, nNonNull, nDistinct) =
      (idRow.getLong(0), idRow.getLong(1), idRow.getLong(2))
    require(nNonNull == nAll,
      s"semanticDecontaminate needs non-null $idCol: ${nAll - nNonNull} " +
        "null ids would silently survive the gate regardless of similarity")
    require(nDistinct == nNonNull,
      s"semanticDecontaminate needs unique $idCol: ${nNonNull - nDistinct} " +
        "duplicate ids would collapse to one shared max_sim")
    val sv = broadcast(suite.where(col(vecCol).isNotNull)
      .select(col(vecCol).as("sd_sv")))
    // NaN cosines (a zero-norm vector on either side: 0/0) must be
    // excluded BEFORE the max — Spark's max treats NaN as greater than
    // everything, so one zero-norm suite row would otherwise poison every
    // corpus row's max_sim to NaN, which fails both `< tau` and `isNull`
    // and silently drops the ENTIRE corpus. A NaN pair judges nothing: a
    // corpus row whose every pair is NaN falls out of the max relation
    // and survives with null max_sim, exactly like the null-vector case.
    val mx = corpus.select(col(idCol).as("sd_id"), col(vecCol).as("sd_cv"))
      .crossJoin(sv)
      .withColumn("sd_cos", round(cosine(col("sd_cv"), col("sd_sv")), 6))
      .where(!isnan(col("sd_cos")))
      .groupBy("sd_id")
      .agg(max(col("sd_cos")).as("max_sim"))
    corpus.join(mx, corpus(idCol) === mx("sd_id"), "left")
      .where(col("max_sim") < tau || col("max_sim").isNull)
      .select(corpus(idCol), col("max_sim"))
  }

  /** Shared ADC distance: Σ_s (|q_s|² + |c_{code_s}|² − 2·q_s·c_{code_s}),
    * folded subspace-ascending; expects q_sub_s / q_nrm_s attributes on the
    * query side and code_s columns on the corpus side. */
  private def adcDist(codebooks: Array[Array[Array[Double]]]): Column =
    codebooks.indices.map { s =>
      val cents = typedLit(codebooks(s).map(_.toSeq).toSeq)
      val cNorms = typedLit(codebooks(s).map(c => c.map(x => x * x).sum).toSeq)
      val cent = element_at(cents, col(s"code_$s").cast("int") + 1)
      col(s"q_nrm_$s") +
        element_at(cNorms, col(s"code_$s").cast("int") + 1) -
        lit(2.0) * graft.functions.VectorFunctions.vectorDot(col(s"q_sub_$s"), cent)
    }.reduce(_ + _)

  /** IVF+PQ top-k — the production FAISS index shape, composed from the
    * engine's own tiers: the coarse quantizer ([[ivfCentroids]]) partitions
    * the corpus into clusters, PQ compresses each vector to m codes, and a
    * query ADC-scores ONLY its `nprobe` probed clusters. Two scale wins
    * over either tier alone: candidate generation is an EQUI-join on the
    * cluster id (a probe touches ~nprobe/k of the corpus — at 100 TB the
    * index is *stored* clustered, so that is an I/O bound, not just CPU),
    * and the scored side is m bytes/vector. The (cluster, codes) relation
    * is the stored index and is persisted — same discipline as [[pqTopK]].
    * Deterministic end to end: coarse ties follow [[nearestCentroid]]
    * (max cos, then max cluster id), code ties take the lowest code,
    * distance ties the lowest neighbor id. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                coarse: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]], nprobe: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val idx = ivfPqEncode(corpus, coarse, codebooks, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    adcScoreClustered(
      prepProbedQueries(queries, coarse, codebooks, nprobe, idCol, vecCol),
      idx, codebooks, k)
  }

  /** The stored IVF+PQ index relation: (neighbor_id, cluster, code_0…
    * code_{m-1}) — coarse assignment + PQ codes, both pure row-local
    * argmins against literal centroids/codebooks (no shuffle).
    * `keepVec = true` carries the raw vector through as `embedding` — the
    * flat/rerank tier of a stored index (see [[ivfPqIndexWrite]]). */
  def ivfPqEncode(corpus: DataFrame, coarse: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]],
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  keepVec: Boolean = false): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val keep = if (keepVec) Seq(col(vecCol).as("embedding")) else Nil
    corpus
      .select(col(idCol).as("neighbor_id") +:
        nearestCentroid(col(vecCol), coarse).as("cluster") +:
        ((0 until m).map(s => slice(col(vecCol), s * dsub + 1, dsub).as(s"pq_sub_$s")) ++ keep): _*)
      .select(col("neighbor_id") +: col("cluster") +: ((0 until m).map(s =>
        nearestCode(col(s"pq_sub_$s"), codebooks(s)).cast("long").as(s"code_$s")) ++
        keep.map(_ => col("embedding"))): _*)
  }

  /** Query side of the clustered ADC search: subvectors + their norms
    * (computed once per query row) + the probe explode. */
  private def prepProbedQueries(queries: DataFrame, coarse: Array[Array[Double]],
                                codebooks: Array[Array[Array[Double]]], nprobe: Int,
                                idCol: String, vecCol: String): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      // subvectors and norms become attributes BEFORE the probe explode;
      // sharing a select with the generator would hoist them above the
      // Generate and re-evaluate them once per probe row (×nprobe)
      .select(col("query_id") +: col("qv") +: (0 until m).map(s =>
          slice(col("qv"), s * dsub + 1, dsub).as(s"q_sub_$s")): _*)
      .select(col("query_id") +: col("qv") +:
        (0 until m).map(s => col(s"q_sub_$s")) ++:
        (0 until m).map(s => graft.functions.VectorFunctions
          .vectorDot(col(s"q_sub_$s"), col(s"q_sub_$s")).as(s"q_nrm_$s")): _*)
      .select(col("query_id") +:
        (0 until m).map(s => col(s"q_sub_$s")) ++:
        (0 until m).map(s => col(s"q_nrm_$s")) :+
        explode(probeCentroids(col("qv"), coarse, nprobe)).as("probe"): _*)
      .select(col("query_id") +:
        (0 until m).map(s => col(s"q_sub_$s")) ++:
        (0 until m).map(s => col(s"q_nrm_$s")) :+
        col("probe").as("cluster"): _*)
  }

  /** Shared clustered-ADC scoring: broadcast the probed queries, equi-join
    * the index on cluster, score, cut top-k per query. */
  private def adcScoreClustered(q: DataFrame, idx: DataFrame,
                                codebooks: Array[Array[Array[Double]]],
                                k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    broadcast(q).join(idx, Seq("cluster"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", round(adcDist(codebooks), 6))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("rk").cast("long").as("rk"))
  }

  /** MATERIALIZE the IVF+PQ index: write [[ivfPqEncode]]'s relation as
    * parquet `partitionBy("cluster")` — the claim `ivfTopK`/`ivfPqTopK`
    * make about 100 TB deployments ("the index is *stored* clustered, so
    * a probe is an I/O bound") as an actual code path. Layout: one
    * directory per coarse cluster holding (neighbor_id, code_0…code_{m-1})
    * at m bytes of code per vector; rewritten atomically (overwrite).
    *
    * `withVectors = true` (the default) also stores the raw vector as an
    * `embedding` column — the FAISS-IVFFlat shape, which lets the SAME
    * clustered layout serve every tier by COLUMN pruning on top of the
    * partition pruning: the ADC probe ([[ivfPqTopKIndexed]]) reads only
    * the code columns (spec-asserted: its scan's ReadSchema excludes
    * `embedding`), the exact-cosine probe ([[ivfTopKIndexed]]) and
    * [[semanticDedupIndexed]] read the vector and ignore the codes, and an
    * exact rerank over ADC candidates has the vectors in place. Parquet is
    * columnar, so the unread columns cost disk, never probe I/O; a
    * code-only deployment sets `withVectors = false` (appends must then
    * use the same setting — parquet files in one index must agree on
    * schema). */
  /** Exchange an encoded relation onto the cluster layout before a
    * partitionBy write. A dynamic-partition write without it emits up to
    * (write tasks × k) files — at k ≥ 1024 on a wide cluster that is
    * millions of files per rewrite, and every append batch seeds
    * (tasks × touched clusters) fragments for compaction to clean.
    * Hash-partitioning on (cluster, salt) bounds the count at k×F total
    * (each (cluster, salt) combo lands in exactly one task), where
    * F = max(1, shuffle width / k) keeps write parallelism ≥ the session
    * width when k is small. The salt is a deterministic id hash — layout
    * only, row content and cluster values are untouched.
    *
    * Rows are additionally SORTED by (cluster, id) within each write task:
    * the (cluster) prefix satisfies the dynamic-partition writer's required
    * ordering (so this replaces, not adds to, the sort the writer would
    * inject), and the id suffix gives every parquet row group a tight
    * min/max stat on the id column — which turns a pushed id-shortlist
    * filter ([[ivfPqTopKRefined]]'s vector fetch) into genuine row-group
    * skipping, the columnar analog of a point lookup. */
  private def clusteredLayout(encoded: DataFrame, k: Int,
                              idCol: String = "neighbor_id"): DataFrame = {
    val w = encoded.sparkSession.sessionState.conf.numShufflePartitions
    val f = math.max(1, w / math.max(1, k))
    encoded.repartition(k * f, col("cluster"),
      pmod(xxhash64(col(idCol)), lit(f.toLong)))
      .sortWithinPartitions(col("cluster"), col(idCol))
  }

  def ivfPqIndexWrite(corpus: DataFrame, path: String,
                      coarse: Array[Array[Double]],
                      codebooks: Array[Array[Array[Double]]],
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      withVectors: Boolean = true): Unit =
    clusteredLayout(
      ivfPqEncode(corpus, coarse, codebooks, idCol, vecCol, keepVec = withVectors),
      coarse.length)
      .write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** APPEND a batch into an existing clustered index: new vectors encode
    * against the SAME coarse centroids + codebooks and land as extra files
    * inside their cluster directories — the nightly-ingest shape (no index
    * rewrite; at 100 TB a rewrite is a full-corpus job, an append is
    * |batch|). Quantizers are frozen by design: re-training them would
    * silently re-shape every EXISTING cluster/code, so index growth beyond
    * the quantizers' training distribution is a rebuild
    * ([[ivfPqIndexWrite]]), the same contract FAISS add() makes.
    * Spec-asserted: search over (write A, append B) ≡ search over the
    * union written at once ≡ the in-memory path. */
  def ivfPqIndexAppend(batch: DataFrame, path: String,
                       coarse: Array[Array[Double]],
                       codebooks: Array[Array[Array[Double]]],
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       withVectors: Boolean = true): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same mutual-exclusion protocol as [[ivfPqIndexAppendOnce]]: raise a
    // lease, THEN look for a compaction staging — anonymous files landed
    // mid-swap would be destroyed by the crash-heal's retired-copy restore
    // with no replay to heal them, so this path needs the guard even more
    // than the idempotent one
    val lease = acquireAppendLease(fs, root)
    try {
      failIfCompacting(fs, root)
      // a stamped manifest must follow EVERY mutation path, not just the
      // idempotent one: snapshot the listing, land the batch, merge rows for
      // exactly the files the write added (Spark's append names them
      // anonymously, so the delta comes from the listing, not a prefix)
      val stamped = fs.exists(new Path(root, ManifestName))
      val before: Set[String] =
        if (stamped) indexDataFiles(fs, root).map(_._2).toSet else Set.empty
      clusteredLayout(
        ivfPqEncode(batch, coarse, codebooks, idCol, vecCol, keepVec = withVectors),
        coarse.length)
        .write.mode("append").partitionBy("cluster").parquet(path)
      if (stamped) {
        val added = indexDataFiles(fs, root).filterNot(f => before(f._2))
        val in = fs.open(new Path(root, ManifestName))
        val old = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList finally in.close()
        writeIndexManifest(spark, root,
          (old ++ manifestRows(spark, added)).sorted)
      }
    } finally fs.delete(lease, false)
  }

  /** IDEMPOTENT append for replayable writers (the streaming sink,
    * [[graft.streaming.Streams.ivfPqIndexSink]]): the same `batchId`
    * presented twice lands its rows exactly once, which upgrades the
    * sink's delivery from at-least-once to effectively exactly-once —
    * Structured Streaming replays a crashed micro-batch under the SAME id
    * with the SAME rows, so idempotence here is all that's missing.
    *
    * Protocol (all hidden from readers — `_`-prefixed paths are invisible
    * to Spark's file listing):
    *   1. if the commit marker `_batches/batch-<id>` exists, the batch
    *      already landed — skip (the replay fast path);
    *   2. encode into a private staging dir `<path>_batch<id>` with
    *      overwrite semantics (a half-written previous attempt is simply
    *      rewritten);
    *   3. scrub any residue a crashed attempt left in the live cluster
    *      dirs (both final `b<id>_*.parquet` names and `_`-prefixed
    *      in-progress names), then land each staged file in TWO phases:
    *      first rename it to an invisible in-progress name
    *      `_b<id>_<n>.parquet.inprogress` INSIDE the live cluster dir —
    *      on an object store rename is copy+delete, and this is where the
    *      bytes move, invisibly (Spark's file listing skips `_` paths) —
    *      then rename in-directory to the final `b<id>_<n>.parquet`;
    *   4. write the marker, drop staging.
    * A crash anywhere before 4 replays into the same deterministic names
    * after the scrub — never a duplicate row, and never a reader-visible
    * partially-copied file: the cross-directory byte move happens under an
    * underscore name no probe ever lists. The contract survives a
    * compaction running BETWEEN the crash and the replay, too:
    * [[ivfPqIndexCompact]] deletes un-markered batch files before
    * rewriting anything (folding them into anonymous part files would
    * blind this scrub and land the replay twice). Markers tie the index to ONE
    * checkpoint lineage: restarting a stream with a fresh checkpoint
    * restarts batch ids at 0, so pair a fresh checkpoint with a fresh
    * index (or a rebuild), exactly as foreachBatch's own idempotence
    * guidance prescribes. Like the indexed probes, appends refuse to start
    * while a compaction staging dir exists — landing files mid-swap risks
    * the crash-heal destroying them while the batch marker survives to
    * suppress the replay.
    *
    * The append↔compaction exclusion is MECHANICAL, not check-time
    * best-effort: the append raises a lease file (`_leases/lease-<uuid>`,
    * `_`-prefixed so readers never see it) BEFORE checking for the
    * compaction staging, and [[ivfPqIndexCompact]] raises its staging dir
    * BEFORE scanning for leases — the mirror image. Whatever the
    * interleaving, at least one side observes the other's artifact and
    * fails fast, so a compaction can no longer slip into the gap between
    * this append's guard check and its renames (the round-13 TOCTTOU
    * window). The lease is dropped on every exit, including failure — a
    * failed landing is un-markered and the replay heals it; only a
    * KILLED JVM leaves a lease behind, which compaction treats as
    * crashed once it exceeds its staleness bound and scrubs (the
    * un-markered files it vouched for are scrubbed by the same call).
    * Both sides backing off simultaneously is possible (two fail-fast
    * errors, no progress) — retry; neither ever proceeds unsafely.
    * Returns false on the skip path. */
  def ivfPqIndexAppendOnce(batch: DataFrame, path: String, batchId: Long,
                           coarse: Array[Array[Double]],
                           codebooks: Array[Array[Array[Double]]],
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           withVectors: Boolean = true): Boolean = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // replay fast path FIRST: an already-landed batch writes nothing, so
    // a streaming restart that replays it during a (crashed) compaction
    // window must return false, not throw — the maintenance-window guard
    // below protects WRITES, and a replay performs none.
    val marker = new Path(new Path(root, "_batches"), s"batch-$batchId")
    if (fs.exists(marker)) return false
    // writes observe the SAME maintenance window as probes: a live (or
    // crashed) compaction staging means cluster dirs are mid-swap — files
    // landed now could sit in a dir the heal is about to delete and
    // restore from its retired copy, while this batch's commit marker
    // would survive and suppress the replay: permanent silent row loss.
    // LEASE FIRST, then the staging check (scaladoc above): compaction
    // does the reverse (staging first, then the lease scan), so whatever
    // the interleaving at least one side sees the other and fails fast —
    // there is no window between this check and the renames below in
    // which a compaction can proceed.
    val lease = acquireAppendLease(fs, root)
    try {
      failIfCompacting(fs, root)
      // staging sibling derives from the NORMALIZED root, matching the
      // compact/guard normalization — raw `path + "_batch<id>"` on a
      // trailing-slash path would stage at `dir/_batch<id>` INSIDE the
      // index root and leave permanent residue there after a crash
      val staging = new Path(root.toString + s"_batch$batchId")
      clusteredLayout(
        ivfPqEncode(batch, coarse, codebooks, idCol, vecCol, keepVec = withVectors),
        coarse.length)
        .write.mode("overwrite").partitionBy("cluster").parquet(staging.toString)
      val prefix = s"b${batchId}_"
      if (fs.exists(root))
        fs.listStatus(root)
          .filter(d => d.isDirectory && d.getPath.getName.startsWith("cluster="))
          .foreach(d => fs.listStatus(d.getPath).map(_.getPath)
            .filter(p => p.getName.startsWith(prefix) ||
              p.getName.startsWith(s"_$prefix"))
            // checked: a residue file the delete silently failed to remove
            // would later double-count rows next to the fresh landing
            .foreach(p => require(fs.delete(p, false),
              s"scrub of crash residue $p failed; aborting the landing — " +
                "replaying the batch heals")))
      fs.listStatus(staging)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("cluster="))
        .foreach { d =>
          val live = new Path(root, d.getPath.getName)
          fs.mkdirs(live)
          fs.listStatus(d.getPath).map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
            .zipWithIndex.foreach { case (f, i) =>
              // two-phase landing: the cross-directory rename is where the
              // bytes move (copy+delete on object stores), so it targets an
              // underscore-prefixed in-progress name Spark's listing never
              // surfaces; the final in-directory rename just flips the name
              val tmp = new Path(live, s"_$prefix$i.parquet.inprogress")
              require(fs.rename(f, tmp),
                s"batch-append rename of $f to $tmp failed; " +
                  "staging preserved — replaying the batch heals")
              require(fs.rename(tmp, new Path(live, s"$prefix$i.parquet")),
                s"batch-append publish of $tmp failed; " +
                  "replaying the batch heals")
            }
        }
      // maintain a stamped manifest BEFORE the commit marker: batch-keyed
      // file names make the merge idempotent (drop this batch's rows, add
      // the fresh ones), and marker-after-manifest means a crash between
      // them replays the whole landing INCLUDING the re-merge — the marker
      // never vouches for files the manifest doesn't describe
      if (fs.exists(new Path(root, ManifestName))) {
        val landed = fs.listStatus(root)
          .filter(d => d.isDirectory && d.getPath.getName.startsWith("cluster="))
          .flatMap(d => fs.listStatus(d.getPath).map(_.getPath)
            .filter(_.getName.startsWith(prefix))
            .map(p => (d.getPath.getName, p.toString)))
          .toSeq
        val in = fs.open(new Path(root, ManifestName))
        val old = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList finally in.close()
        val kept = old.filterNot(manifestLineInBatch(_, batchId))
        writeIndexManifest(spark, root,
          (kept ++ manifestRows(spark, landed)).sorted)
      }
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
      fs.delete(staging, true)
      true
    } finally fs.delete(lease, false)
  }

  /** COMPACT a grown index: every append ([[ivfPqIndexAppend]], streaming
    * [[graft.streaming.Streams.ivfPqIndexSink]]) lands new FILES in the
    * cluster directories, and at nightly-batch cadence a year of ingest is
    * thousands of small files per cluster — each probe then pays file-open
    * and footer-read overhead per file, the classic small-files tax.
    * Compaction rewrites only the cluster directories whose file count
    * exceeds `maxFilesPerCluster` down to ONE file each (hash-partitioned
    * by cluster, so each cluster lands in exactly one task's output), with
    * NO re-encoding — no quantizer passes, pure I/O, |dirty clusters|
    * work, not |index|.
    *
    * The rewrite stages into `<path>_compacting/fresh` and then swaps each
    * dirty cluster directory by rename, retiring the old copy INTO the
    * staging dir first — so at every instant each cluster's rows exist in
    * the live tree or the staging tree (or both), never nowhere. A crashed
    * run is healed on the next call before anything else happens: every
    * `retired_cluster=N` still in staging is renamed back over its live
    * twin (deleting the live dir first if present). The retired copy
    * always wins because a live twin may be a PARTIAL swap — rename on
    * object stores is copy+delete, not atomic — while rolling back a swap
    * that completed merely discards a redundant rewrite of the same rows;
    * the next compaction redoes it.
    *
    * Renames are per-cluster, not index-atomic, so writers and probes are
    * excluded MECHANICALLY for the duration: the staging dir doubles as
    * the maintenance mutex. It is raised FIRST, and only then are append
    * leases scanned — the mirror image of the appenders' lease-then-check
    * order ([[ivfPqIndexAppendOnce]]) — so whatever the interleaving, an
    * in-flight append either sees the staging and fails fast or its lease
    * is seen here and THIS call backs off (releasing the staging; retry
    * later). A lease older than `leaseStaleMs` is a killed appender's:
    * scrubbed, along with its un-markered files (the orphan scrub), and
    * that batch replays cleanly afterwards. Probes fail fast while the
    * staging exists and validate their listing against the live tree
    * besides ([[assertNotCompacting]]); re-plan any DataFrame created
    * before the compaction. Returns the compacted cluster ids (empty =
    * nothing dirty; idempotent). */
  def ivfPqIndexCompact(spark: org.apache.spark.sql.SparkSession, path: String,
                        maxFilesPerCluster: Int = 4,
                        leaseStaleMs: Long = 60L * 60 * 1000): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    require(maxFilesPerCluster >= 1, s"need maxFilesPerCluster ≥ 1, got $maxFilesPerCluster")
    require(leaseStaleMs >= 0, s"need leaseStaleMs ≥ 0, got $leaseStaleMs")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    // derive the staging sibling from the NORMALIZED root (trailing
    // slashes stripped), exactly as assertNotCompacting and the append
    // guard do — raw `path + "_compacting"` on a trailing-slash path
    // would stage at `dir/_compacting` (inside the root), where neither
    // guard ever looks
    val staging = new Path(root.toString + "_compacting")
    // heal a crashed previous run BEFORE discarding its staging dir: any
    // retired cluster still in staging is the authoritative pre-compaction
    // copy of its rows, and it ALWAYS wins. When its live twin exists the
    // live dir may be a PARTIAL swap — on object stores rename is
    // copy+delete, so a crash mid fresh→live can leave a half-copied live
    // cluster; trusting it and deleting staging would destroy the only
    // complete copy (silent row loss). Rolling back a swap that actually
    // completed merely discards a redundant rewrite of the same rows —
    // the next compaction redoes it — so restore-unconditionally is safe
    // on every filesystem, not just ones with atomic rename.
    val mutex = new Path(staging, CompactMutexName)
    if (fs.exists(staging)) {
      // LIVE-vs-CRASHED: a staging carrying a mutex file younger than
      // `leaseStaleMs` (against STORE time — [[storeNow]]) belongs to a
      // compaction still running; "healing" it would roll back its swaps
      // mid-run. Fail fast instead — totalling the compact↔compact
      // exclusion the same way compact↔append already is. A mutex-less
      // staging (pre-mutex writer, or a partial acquisition) or a stale
      // one is a crashed run: heal and retake. Recovery latency for a
      // killed compactor is therefore bounded by `leaseStaleMs` — size it
      // above the longest expected maintenance run, as for appends.
      // every probe here races the OWNING compaction's own completion,
      // which deletes mutex and staging out from under us (exists → true,
      // then the file vanishes before getFileStatus/listStatus — observed
      // as a FileNotFoundException under the fleet-shaped concurrency
      // test). A vanished artifact means the other run just finished or
      // was healed: refuse retryably, exactly as if its mutex were live —
      // the retry sees the settled state.
      def refuseLive(): Nothing = throw new IllegalStateException(
        s"index at $root is being compacted by another caller " +
          s"($mutex is live): two concurrent compactions would race the " +
          "same staging tree. Retry after it finishes; a mutex older " +
          s"than leaseStaleMs=$leaseStaleMs ms is treated as crashed " +
          "and healed automatically.")
      val mutexLive =
        try fs.exists(mutex) &&
          storeNow(fs, root) - fs.getFileStatus(mutex).getModificationTime < leaseStaleMs
        catch { case _: java.io.FileNotFoundException => refuseLive() }
      if (mutexLive) refuseLive()
      val retired =
        try fs.listStatus(staging).filter(_.getPath.getName.startsWith("retired_cluster="))
        catch { case _: java.io.FileNotFoundException => refuseLive() }
      retired.foreach { r =>
          val live = new Path(root, r.getPath.getName.stripPrefix("retired_"))
          if (fs.exists(live)) fs.delete(live, true)
          // Hadoop rename reports most failures as `false`, not an
          // exception — an unchecked result here followed by the recursive
          // staging delete would destroy the only copy of the cluster
          require(fs.rename(r.getPath, live),
            s"crash-heal rename of ${r.getPath} to $live failed; " +
              "staging dir preserved — resolve manually before compacting")
        }
      fs.delete(staging, true)
    }
    // ACQUIRE the maintenance mutex: raise the staging dir FIRST, then
    // scan for append leases — the mirror image of the append protocol
    // (lease first, then staging check), so in every interleaving at
    // least one side observes the other's artifact and fails fast. This
    // closes the round-13 TOCTTOU window mechanically: an append whose
    // guard check passed has its lease on disk before any of its renames,
    // and this scan runs strictly after the staging flag those renames
    // would have refused on. A lease older than `leaseStaleMs` belongs to
    // a KILLED appender (live ones drop theirs on every exit, including
    // failure) and is scrubbed — its un-markered files fall to the orphan
    // scrub below, and the batch replays cleanly afterwards.
    //
    // The acquisition: `create(overwrite = false)` on the mutex file
    // (creating the staging dir implicitly) throws for every caller but
    // one — ATOMIC on HDFS and local filesystems (the same caveat as the
    // rename commit points below; on S3A-style object stores existence is
    // checked at create() and the object lands at close(), so two racers
    // can both "win" — run maintenance single-writer there, as the store
    // docs themselves require for rename-based committers). The round-14
    // `mkdirs` flag succeeded for both callers on EVERY filesystem.
    try fs.create(mutex, false).close()
    catch { case e: java.io.IOException =>
      throw new IllegalStateException(
        s"index at $root: a concurrent compaction won the mutex race " +
          s"($mutex already exists). Retry after it finishes.", e)
    }
    // Narrow the create-window race (ADVICE r15): the staging dir becomes
    // visible a beat before the mutex file inside it, and a concurrent
    // caller's heal block reads that window as a CRASHED run — deleting
    // the live winner's staging (mutex included). Re-checking our own
    // mutex after acquisition catches a healer that already ran over us
    // and fails loudly instead of compacting unguarded. Not a total fix:
    // a healer whose exists(mutex) probe ran inside the create window but
    // whose staging delete lands after this re-check removes the mutex
    // unobserved (nothing else is in staging yet, so no data moves) and
    // leaves THIS run unguarded against a third compactor — the residual
    // exposure is three concurrent compactions on one index, microseconds
    // wide against a mutex that lives for the whole run.
    if (!fs.exists(mutex))
      throw new IllegalStateException(
        s"index at $root: compaction mutex $mutex vanished after " +
          "acquisition — a concurrent caller's crash-heal raced the " +
          "acquisition window. Retry.")
    val leasesDir = new Path(root, LeasesDirName)
    if (fs.exists(leasesDir)) {
      // staleness is judged against the STORE's clock, not the client's:
      // System.currentTimeMillis() on a skewed client could scrub a live
      // lease early or hold a dead one past the bound (VERDICT r14 #2)
      val now = storeNow(fs, root)
      val (stale, live) = fs.listStatus(leasesDir)
        .filter(_.getPath.getName.startsWith("lease-"))
        .partition(l => now - l.getModificationTime >= leaseStaleMs)
      stale.foreach(l => fs.delete(l.getPath, false))
      if (live.nonEmpty) {
        fs.delete(staging, true)
        throw new IllegalStateException(
          s"index at $root has ${live.length} append lease(s) in flight " +
            s"(${leasesDir}): compacting now could destroy files the append " +
            "is landing. Retry after the appends finish; a lease older than " +
            s"leaseStaleMs=$leaseStaleMs ms is treated as a crashed appender " +
            "and scrubbed automatically.")
      }
    }
    // scrub ORPHANED batch landings before anything is rewritten: a
    // b<id>_ file (final or in-progress name) whose commit marker is
    // absent is a crashed append's partial landing — that batch WILL
    // replay (its marker was never written), and folding its rows into
    // anonymous compacted part files would blind the replay's prefix
    // scrub, landing the batch twice. Deleting them re-creates exactly
    // the state the replay's own scrub would have made; appends running
    // concurrently are already excluded by the maintenance window.
    val batchesDir = new Path(root, "_batches")
    val committed: Set[String] =
      if (fs.exists(batchesDir))
        fs.listStatus(batchesDir).map(_.getPath.getName.stripPrefix("batch-")).toSet
      else Set.empty
    val BatchFile = "^_?b(\\d+)_.*".r
    fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cluster="))
      .foreach(d => fs.listStatus(d.getPath).map(_.getPath).foreach { p =>
        p.getName match {
          case BatchFile(id) if !committed.contains(id) =>
            // checked: a silently-surviving orphan would be folded into
            // anonymous part files below, blinding the replay's prefix
            // scrub — the exact double-landing this scrub exists to prevent
            require(fs.delete(p, false),
              s"orphan-batch scrub of $p failed; aborting compaction with " +
                "staging preserved — resolve before retrying")
          case _ => ()
        }
      })
    val manifestPath = new Path(root, ManifestName)
    val dirty = fs.listStatus(root).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("cluster="))
      .filter(d => fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerCluster)
      .map(_.getPath.getName.stripPrefix("cluster=").toInt).sorted.toSeq
    if (dirty.isEmpty) {
      // a crash that separated a prior mutation's commit point from its
      // manifest update leaves a stale stamp with no staging left to
      // heal — the listing compare detects it here, on the next
      // maintenance call, and a rebuild repairs it (under the mutex, so
      // no append's merge can interleave with the rebuild)
      if (fs.exists(manifestPath) && manifestStale(fs, root))
        ivfPqIndexManifest(spark, path)
      fs.delete(staging, true)
      return Nil
    }
    // the rewrite lands in a SUBDIR of staging, not staging itself:
    // Spark's overwrite mode deletes its target before writing, and the
    // staging dir is the maintenance mutex — deleting it even briefly
    // would reopen the append/probe window this function just closed
    val freshRoot = new Path(staging, "fresh")
    // typed pruning literals (pruneToProbed), NOT raw int isin: with
    // partition-type inference off the cluster column is string and a
    // mistyped literal would cast the partition column — a full-index scan
    // instead of |dirty| directories
    pruneToProbed(spark.read.parquet(path), dirty.toArray)
      .repartition(dirty.length, col("cluster"))
      // preserve the id-sorted row groups the original write laid down
      // ([[clusteredLayout]]): a compacted cluster must keep serving the
      // refine tier's pushed-id row-group skipping
      .sortWithinPartitions(col("cluster"), col("neighbor_id"))
      .write.mode("overwrite").partitionBy("cluster").parquet(freshRoot.toString)
    dirty.foreach { c =>
      val live = new Path(root, s"cluster=$c")
      val fresh = new Path(freshRoot, s"cluster=$c")
      // both renames CHECKED: Hadoop reports most failures as `false`, and
      // proceeding to the staging delete after a failed swap would destroy
      // the only copies (same hazard as the heal path above); aborting
      // leaves the staging dir in place, which the next call heals
      require(fs.rename(live, new Path(staging, s"retired_cluster=$c")),
        s"compaction retire rename of $live failed; staging preserved for heal")
      require(fs.rename(fresh, live),
        s"compaction swap rename to $live failed; staging preserved for heal")
    }
    // a stamped manifest follows the rewrite with |dirty|-proportional
    // work (compaction's own cost contract): drop the rewritten clusters'
    // lines, stream only their fresh files. The merge runs BEFORE the
    // staging delete (the commit point), still under the mutex: a crash
    // here is rolled back by the next call's heal — retired copies
    // restored, stamp rebuilt if the listing compare disagrees — so no
    // append's merge can ever interleave with this one. If the stamp
    // carried damage BEYOND the rewritten clusters (a crashed prior
    // update), the listing compare on the merged result catches it and a
    // full rebuild repairs.
    if (fs.exists(manifestPath)) {
      val in = fs.open(manifestPath)
      val old = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      val kept = old.filterNot(l => manifestLineCluster(l).exists(dirty.contains))
      val fresh = indexDataFiles(fs, root)
        .filter { case (c, _) => dirty.contains(c.stripPrefix("cluster=").toInt) }
      writeIndexManifest(spark, root, (kept ++ manifestRows(spark, fresh)).sorted)
      if (manifestStale(fs, root)) ivfPqIndexManifest(spark, path)
    }
    fs.delete(staging, true)
    dirty
  }

  private val ManifestName = "_manifest.jsonl"
  private val LeasesDirName = "_leases"
  private val CompactMutexName = "_mutex"

  /** Read the STORE's clock: write a probe file, take its modification
    * time, delete it. Lease/mutex staleness classification compares two
    * store-assigned modification times this way, so a client whose clock
    * skews from the object store can neither scrub a live lease early
    * nor hold a dead one past the bound — `System.currentTimeMillis()`
    * against store mtimes would do both (VERDICT r14). The probe is
    * `_`-prefixed (invisible to Spark readers) and removed immediately;
    * store mtime granularity (seconds on some object stores) is dwarfed
    * by the hour-scale staleness bounds it feeds. */
  private def storeNow(fs: org.apache.hadoop.fs.FileSystem,
                       root: org.apache.hadoop.fs.Path): Long = {
    val probe = new org.apache.hadoop.fs.Path(
      root, s"_clockprobe-${java.util.UUID.randomUUID()}")
    fs.create(probe, true).close()
    // the delete rides a finally: a getFileStatus failure (or a kill
    // between create and delete) must not leak probe files at the index
    // root — they are reader-invisible but nothing else ever scrubs them
    try fs.getFileStatus(probe).getModificationTime
    finally fs.delete(probe, false)
  }

  /** Raise an append lease — one `_leases/lease-<uuid>` file per in-flight
    * append (`_`-prefixed: invisible to Spark readers). One half of the
    * two-flag exclusion protocol with [[ivfPqIndexCompact]]: the appender
    * raises its lease BEFORE looking for the compaction staging, the
    * compactor raises its staging BEFORE scanning leases, so at least one
    * side always observes the other (see [[ivfPqIndexAppendOnce]]). */
  private def acquireAppendLease(fs: org.apache.hadoop.fs.FileSystem,
                                 root: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path = {
    val lease = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, LeasesDirName),
      s"lease-${java.util.UUID.randomUUID()}")
    fs.mkdirs(lease.getParent)
    fs.create(lease, true).close()
    lease
  }

  /** The append-side half of the exclusion protocol: fail fast while a
    * compaction staging dir exists (live run or crashed one awaiting
    * heal). Must run AFTER the caller's lease is on disk — the ordering
    * IS the protocol. */
  private def failIfCompacting(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path): Unit = {
    val compacting = new org.apache.hadoop.fs.Path(root.toString + "_compacting")
    if (fs.exists(compacting))
      throw new IllegalStateException(
        s"index at $root is being compacted ($compacting exists): appending " +
          "mid-swap can lose the batch to the crash-heal. Retry after " +
          "ivfPqIndexCompact returns; if a compaction crashed, calling it " +
          "again heals the index first.")
  }

  /** TRANSFER MANIFEST for a stored clustered index: one JSON line per
    * data file — `{"cluster","file","rows","bytes","md5"}` — written as
    * `_manifest.jsonl` at the index root (`_`-prefixed: invisible to
    * Spark readers), the same validation contract
    * [[graft.operators.Sampling.writeExportManifest]] gives the JSONL
    * export. A receiver checks a copied index without trusting the
    * transport: byte counts and md5s are of the exact file bytes (one
    * distributed streamed pass, one task per file, never a corpus
    * re-pass); `rows` comes from the parquet footer of the same file —
    * no data decode. Lines are sorted by (cluster, file) so two stamps of
    * the same bytes are byte-identical.
    *
    * Lifecycle: stamp on demand (this call — typically right before a
    * transfer, or after [[ivfPqIndexWrite]]); once stamped, EVERY
    * mutation path keeps it honest — [[ivfPqIndexAppendOnce]] merges its
    * batch's file rows in BEFORE writing the commit marker (a replay
    * after a crash re-merges — batch-keyed file names make the merge
    * idempotent), [[ivfPqIndexAppend]] merges the listing delta its
    * anonymous-named write added, and [[ivfPqIndexCompact]] merges the
    * rewritten clusters' rows (|dirty|-proportional, preserving
    * compaction's cost contract) and — because a crash can separate any
    * mutation's commit point from its manifest update — repairs a stamp
    * whose file list disagrees with the live listing (metadata-scale
    * compare) by a full rebuild on the next maintenance call. An index
    * never stamped pays zero manifest cost. Consistency matches the
    * index's own contract: authoritative at quiescence; mid-crash it can
    * lag exactly as far as the index does, and the crash-heal that rolls
    * clusters back to their retired copies rolls the manifest's truth
    * back with them (retired copies ARE the files the manifest
    * describes). The
    * streaming `_batches/` markers are deliberately NOT manifest rows —
    * they are checkpoint-lineage state, not transferable data; a receiver
    * continuing ingest pairs the copied index with a fresh checkpoint
    * (see [[ivfPqIndexAppendOnce]]). */
  def ivfPqIndexManifest(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeIndexManifest(spark, root, manifestRows(spark, indexDataFiles(fs, root)))
  }

  /** RECEIVER-SIDE verification of a transferred index against its
    * stamped `_manifest.jsonl`: re-derives every data file's md5, byte
    * count (streamed) and footer row count — the same distributed
    * one-task-per-file pass that stamps the manifest ([[fileStats]]) —
    * and compares field-by-field. Returns one human-readable discrepancy
    * per problem, naming the exact file; empty = the copy is
    * byte-faithful. Catches everything a transport can break:
    *
    *   - `MISSING` — listed in the manifest, absent on disk;
    *   - `EXTRA` — a data file the manifest never described (a foreign
    *     file Spark WOULD read — delete it or re-stamp deliberately);
    *   - `CORRUPT` — bytes/md5/footer-rows disagree (truncation shows as
    *     bytes+md5, a bit flip as md5 alone, an unreadable footer is
    *     named as such);
    *   - `MALFORMED` — a manifest line that doesn't parse (a damaged
    *     manifest copy).
    *
    * Cost: |index| bytes streamed once, distributed; driver work is
    * metadata-scale. Run it on the RECEIVING cluster after the copy —
    * the whole point is to not trust the transport (or the sender's
    * listing) — then serve probes from the verified tree. The `_batches`
    * checkpoint markers and `_leases` are deliberately outside the
    * contract: they are lineage state, not transferable data
    * ([[ivfPqIndexManifest]]). */
  def ivfPqIndexVerify(spark: org.apache.spark.sql.SparkSession,
                       path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifestPath = new Path(root, ManifestName)
    if (!fs.exists(manifestPath))
      return Seq(s"NO MANIFEST at $root: stamp the SENDER with " +
        "ivfPqIndexManifest before transferring, then copy _manifest.jsonl " +
        "along with the data")
    val in = fs.open(manifestPath)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList finally in.close()
    case class Expect(rows: Long, bytes: Long, md5: String)
    val parsed: Seq[(String, Expect)] = lines.flatMap { l =>
      for {
        f <- ManifestFileField.findFirstMatchIn(l).map(_.group(1))
        r <- ManifestRowsField.findFirstMatchIn(l).map(_.group(1).toLong)
        b <- ManifestBytesField.findFirstMatchIn(l).map(_.group(1).toLong)
        m <- ManifestMd5Field.findFirstMatchIn(l).map(_.group(1))
      } yield f -> Expect(r, b, m)
    }
    val malformed = lines.filter(l =>
        ManifestFileField.findFirstMatchIn(l).isEmpty ||
        ManifestRowsField.findFirstMatchIn(l).isEmpty ||
        ManifestBytesField.findFirstMatchIn(l).isEmpty ||
        ManifestMd5Field.findFirstMatchIn(l).isEmpty)
      .map(l => s"MALFORMED manifest line: $l")
    val expected = parsed.toMap
    val live: Map[String, (String, String)] = indexDataFiles(fs, root)
      .map { case (c, p) => s"$c/${new Path(p).getName}" -> (c, p) }.toMap
    val missing = (expected.keySet -- live.keySet).toSeq.sorted
      .map(f => s"MISSING $f: listed in the manifest, absent on disk")
    val extra = (live.keySet -- expected.keySet).toSeq.sorted
      .map(f => s"EXTRA $f: data file on disk that the manifest never " +
        "described — a reader WOULD scan it; remove it or re-stamp deliberately")
    val common = (expected.keySet intersect live.keySet).toSeq.sorted
    val corrupt = fileStats(spark, common.map(live)).flatMap {
      case (cluster, name, rows, bytes, md5) =>
        val f = s"$cluster/$name"
        val e = expected(f)
        val faults =
          (if (bytes != e.bytes) Seq(s"bytes $bytes != manifest ${e.bytes}" +
            (if (bytes < e.bytes) " (truncated)" else "")) else Nil) ++
          (if (md5 != e.md5) Seq(s"md5 $md5 != manifest ${e.md5}") else Nil) ++
          (rows match {
            case Left(reason) => Seq(reason)
            case Right(n) if n != e.rows => Seq(s"footer rows $n != manifest ${e.rows}")
            case _ => Nil
          })
        if (faults.isEmpty) None else Some(s"CORRUPT $f: ${faults.mkString("; ")}")
    }
    malformed ++ missing ++ extra ++ corrupt
  }

  /** (cluster dir name, absolute path) of every live data file — the
    * listing both the manifest and its staleness check derive from. */
  private def indexDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path): Seq[(String, String)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cluster="))
      .flatMap(d => fs.listStatus(d.getPath).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
        .map(p => (d.getPath.getName, p.toString)))
      .toSeq

  private val ManifestFileField = """"file":"([^"]+)"""".r
  private val ManifestClusterField = """"cluster":"cluster=(\d+)"""".r
  private val ManifestRowsField = """"rows":(\d+)""".r
  private val ManifestBytesField = """"bytes":(\d+)""".r
  private val ManifestMd5Field = """"md5":"([0-9a-f]{32})"""".r

  /** Cluster id a manifest line describes, parsed from its `cluster`
    * field — None on a line that fails to parse, which merge filters
    * treat as "keep": a kept-but-wrong line disagrees with the live
    * listing and the [[manifestStale]] compare triggers a full rebuild,
    * so the conservative default self-heals instead of silently dropping
    * a row another file still needs. */
  private def manifestLineCluster(line: String): Option[Int] =
    ManifestClusterField.findFirstMatchIn(line).map(_.group(1).toInt)

  /** Does this manifest line describe a file landed by `batchId`? Parsed
    * field, not substring: the file NAME comes out of the `file` field
    * and is matched against the exact `b<id>_` prefix, underscore
    * included — so batch 1 can never claim batch 12's files, and the
    * invariant survives a future file-name or line-format change (an
    * unparseable line is kept, and the staleness rebuild repairs any
    * disagreement). */
  private def manifestLineInBatch(line: String, batchId: Long): Boolean =
    ManifestFileField.findFirstMatchIn(line).exists { m =>
      m.group(1).split('/').last.startsWith(s"b${batchId}_")
    }

  /** Does the stamped manifest's file list disagree with the live
    * listing? Metadata-scale (names only, no bytes) — the repair signal
    * for a stamp orphaned by a crash between an index mutation's commit
    * point and its manifest update. */
  private def manifestStale(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path): Boolean = {
    import org.apache.hadoop.fs.Path
    val live = indexDataFiles(fs, root)
      .map { case (c, p) => s"$c/${new Path(p).getName}" }.toSet
    val in = fs.open(new Path(root, ManifestName))
    val listed = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .flatMap(l => ManifestFileField.findFirstMatchIn(l).map(_.group(1))).toSet
      finally in.close()
    live != listed
  }

  /** (cluster dir name, absolute file) → one distributed task per file:
    * streamed (md5, byte count) plus the parquet footer row count —
    * `Left(reason)` for the rows when the footer is unreadable (a
    * truncated or corrupted file), so callers decide whether that is
    * fatal (stamping) or a finding (verification). */
  private def fileStats(spark: org.apache.spark.sql.SparkSession,
                        files: Seq[(String, String)])
      : Seq[(String, String, Either[String, Long], Long, String)] = {
    import org.apache.hadoop.fs.Path
    if (files.isEmpty) return Nil
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.sparkContext.parallelize(files, files.length)
      .map { case (cluster, file) =>
        val p = new Path(file)
        val pfs = p.getFileSystem(bc.value.value)
        val md = java.security.MessageDigest.getInstance("MD5")
        var bytes = 0L
        val in = pfs.open(p)
        val buf = new Array[Byte](1 << 20)
        try {
          var n = in.read(buf)
          while (n > 0) { md.update(buf, 0, n); bytes += n; n = in.read(buf) }
        } finally in.close()
        val rows: Either[String, Long] =
          try {
            val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, bc.value.value))
            try Right(rdr.getRecordCount) finally rdr.close()
          } catch { case e: Exception => Left(s"unreadable parquet footer (${e.getMessage})") }
        (cluster, p.getName, rows, bytes, md.digest().map("%02x".format(_)).mkString)
      }.collect().sortBy(r => (r._1, r._2)).toSeq
  }

  /** (cluster dir name, absolute file) → sorted manifest lines, one
    * distributed pass ([[fileStats]]). Stamping requires every footer
    * readable — a corrupt live file must fail the stamp, not be recorded
    * as truth. */
  private def manifestRows(spark: org.apache.spark.sql.SparkSession,
                           files: Seq[(String, String)]): Seq[String] =
    fileStats(spark, files).map { case (cluster, name, rows, bytes, digest) =>
      val n = rows.fold(
        reason => throw new IllegalStateException(
          s"cannot stamp manifest: $cluster/$name has $reason"),
        identity)
      s"""{"cluster":"$cluster","file":"$cluster/$name",""" +
        s""""rows":$n,"bytes":$bytes,"md5":"$digest"}"""
    }

  /** Replace the manifest via tmp-write + rename (the `_`-prefixed tmp is
    * reader-invisible; a crash between delete and rename leaves NO
    * manifest rather than a wrong one — absent means re-stamp). */
  private def writeIndexManifest(spark: org.apache.spark.sql.SparkSession,
                                 root: org.apache.hadoop.fs.Path,
                                 lines: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try lines.foreach(l =>
      out.write((l + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    finally out.close()
    val live = new Path(root, ManifestName)
    if (fs.exists(live)) fs.delete(live, false)
    require(fs.rename(tmp, live),
      s"manifest publish rename to $live failed; tmp preserved")
  }

  /** IVF+PQ top-k over a MATERIALIZED index (read back from
    * [[ivfPqIndexWrite]]'s layout): the probed cluster ids are computed
    * first — |queries|·nprobe ints, metadata scale, exactly like
    * collecting broadcast-join build keys — and pushed into the scan as a
    * STATIC `cluster IN (…)` predicate, so partition pruning drops every
    * unprobed cluster directory before a byte is read (spec-asserted:
    * the scan's PartitionFilters select ≤ |probed| partitions). The scored
    * slice then rides the same broadcast equi-join + ADC window as
    * [[ivfPqTopK]]; with every cluster probed the result is identical to
    * the in-memory path (spec-asserted). */
  def ivfPqTopKIndexed(queries: DataFrame, index: DataFrame, k: Int,
                       coarse: Array[Array[Double]],
                       codebooks: Array[Array[Array[Double]]], nprobe: Int = 2,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    assertNotCompacting(index)
    val q = prepProbedQueries(queries, coarse, codebooks, nprobe, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = q.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    // project to exactly the ADC columns BEFORE scoring: an index written
    // withVectors must not pay vector I/O on the code path — the parquet
    // scan's ReadSchema excludes `embedding` (spec-asserted)
    val pruned = pruneToProbed(index, probed)
      .select(col("neighbor_id") +: col("cluster") +:
        codebooks.indices.map(s => col(s"code_$s")): _*)
    adcScoreClustered(q, pruned, codebooks, k)
  }

  /** FILTERED ANN probe over the stored index — the vector-DB "filtered
    * search" feature: only candidates whose id appears in `allow` (a
    * licensing allow-list, a tenant's slice, a freshness cut) may fill
    * the top-k. PRE-filter semantics: the allow semi-join lands beneath
    * the ADC ranking, so disallowed rows never occupy a slot and every
    * query still gets k ALLOWED answers when they exist — where filtering
    * the finished top-k (post-filter) k-starves exactly the queries whose
    * true neighbors are disallowed. Identity: ≡ [[ivfPqTopKIndexed]] over
    * an index holding only allowed rows (spec-asserted) — the quantizers
    * are frozen, so the filter changes candidates, never geometry.
    *
    * Scale shape: [[ivfPqTopKIndexed]]'s exact plan (static partition
    * pruning to the probed clusters, code-columns-only scan) plus ONE
    * left-semi join on `neighbor_id`. The allow-list is metadata-shaped
    * in every named use (ids, not vectors) and rides a broadcast;
    * a corpus-scale allow relation still plans — the semi-join falls
    * back to shuffle on the PROBED slice, not the corpus — but belongs
    * upstream as its own curated index. Recall caveat (the honest
    * vector-DB one): probes are chosen by the QUERY's nearest centroids,
    * not the allowed density — a highly selective filter concentrated in
    * unprobed clusters needs a larger nprobe, same as any coarse miss. */
  def ivfPqTopKIndexedFiltered(queries: DataFrame, index: DataFrame, k: Int,
                               coarse: Array[Array[Double]],
                               codebooks: Array[Array[Array[Double]]],
                               allow: DataFrame, nprobe: Int = 2,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    assertNotCompacting(index)
    val q = prepProbedQueries(queries, coarse, codebooks, nprobe, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = q.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val allowIds = allow.select(col(idCol).as("neighbor_id")).distinct()
    val pruned = pruneToProbed(index, probed)
      .select(col("neighbor_id") +: col("cluster") +:
        codebooks.indices.map(s => col(s"code_$s")): _*)
      .join(allowIds, Seq("neighbor_id"), "left_semi")
    adcScoreClustered(q, pruned, codebooks, k)
  }

  /** Pushed-id fetch cap for [[ivfPqTopKRefined]]: beyond this many
    * shortlist ids the isin is dropped from the scan (the broadcast
    * semi-join alone is correct; only the row-group skipping is lost) —
    * an unbounded In would bloat the plan and, past the session's parquet
    * `pushdown.inFilterThreshold`, degrade to a useless min/max range
    * over hash-scattered ids anyway. */
  private val RefineFetchPushdownMax = 1024

  /** Exact-cosine REFINEMENT of the ADC probe — the FAISS refine tier
    * (IndexRefineFlat) on the clustered parquet layout. Two passes over
    * the same stored index:
    *
    *   1. ADC shortlist: score the probed clusters over the CODE columns
    *      only (m bytes/candidate — [[ivfPqTopKIndexed]]'s exact plan)
    *      and keep `rerank`·k per query by (adc_dist, neighbor_id);
    *   2. exact rerank: fetch ONLY the shortlisted rows' stored vectors
    *      and re-cut the final top-k by exact cosine.
    *
    * Recovers the recall ADC loses to quantization ERROR (the shortlist
    * reordering) at vector-I/O cost proportional to the SHORTLIST —
    * |probed|·m bytes of codes + |shortlist| vectors — where
    * [[ivfTopKIndexed]] reads every probed vector and [[ivfPqTopKIndexed]]
    * never corrects the quantized ordering. Probe misses (true neighbors
    * in UNPROBED clusters) are nprobe's territory: with `rerank`·k
    * covering every probed candidate this is exactly [[ivfTopKIndexed]]
    * (spec-asserted), never better.
    *
    * The fetch is a broadcast semi-join of the shortlist against the
    * probed cluster directories, with the shortlist ids also PUSHED into
    * the parquet scan (≤ [[RefineFetchPushdownMax]] ids): index files are
    * id-sorted within each cluster ([[clusteredLayout]]; compaction
    * preserves it), so the row-group min/max stats on `neighbor_id` make
    * the pushed In skip row groups — the columnar analog of FAISS's
    * in-memory id lookup. Serving-shaped by design (the shortlist and the
    * query batch ride broadcasts); corpus-scale query batches belong on
    * [[ivfTopKIndexed]]. Output schema matches [[ivfTopKIndexed]]:
    * (query_id, neighbor_id, cosine, rk). */
  def ivfPqTopKRefined(queries: DataFrame, index: DataFrame, k: Int,
                       coarse: Array[Array[Double]],
                       codebooks: Array[Array[Array[Double]]], nprobe: Int = 2,
                       rerank: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    refinedImpl(queries, index, k, coarse, codebooks, nprobe, rerank,
      allow = None, idCol, vecCol)

  /** FILTERED refine tier — [[ivfPqTopKRefinedFiltered]] composes
    * [[ivfPqTopKIndexedFiltered]]'s pre-filter semantics with
    * [[ivfPqTopKRefined]]'s exact rerank: the allow semi-join lands on
    * the code relation BENEATH the ADC shortlist (disallowed rows never
    * occupy a shortlist slot — no k-starvation), and the final ordering
    * is exact cosine over the allowed shortlist's fetched vectors.
    *
    * This composition is the practical answer to the filtered tier's
    * measured recall ceiling (SCALE.md §R17): filtered ADC ranks by
    * QUANTIZED distance, and on a quantization-hostile corpus its recall
    * vs the filtered truth is capped by code noise — measured 0.26–0.40
    * on the uniform allow-list, where this tier's exact rerank removes
    * exactly that term. The OTHER failure mode — allowed mass
    * concentrated in unprobed clusters (measured recall 0.000 at
    * nprobe=2 on the adversarial fixture) — is coarse COVERAGE, which no
    * rerank can recover; its lever remains nprobe ([[tuneProbe]] with the
    * filter's selectivity in mind), exactly as the pre-filter caveat on
    * [[ivfPqTopKIndexedFiltered]] states. */
  def ivfPqTopKRefinedFiltered(queries: DataFrame, index: DataFrame, k: Int,
                               coarse: Array[Array[Double]],
                               codebooks: Array[Array[Array[Double]]],
                               allow: DataFrame, nprobe: Int = 2,
                               rerank: Int = 4,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame =
    refinedImpl(queries, index, k, coarse, codebooks, nprobe, rerank,
      allow = Some(allow), idCol, vecCol)

  private def refinedImpl(queries: DataFrame, index: DataFrame, k: Int,
                          coarse: Array[Array[Double]],
                          codebooks: Array[Array[Array[Double]]], nprobe: Int,
                          rerank: Int, allow: Option[DataFrame],
                          idCol: String, vecCol: String): DataFrame = {
    require(rerank >= 1, s"need rerank ≥ 1, got $rerank")
    assertNotCompacting(index)
    require(index.columns.contains("embedding"),
      "ivfPqTopKRefined needs an index written withVectors = true (no embedding column found)")
    val q = prepProbedQueries(queries, coarse, codebooks, nprobe, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = q.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val codesAll = pruneToProbed(index, probed)
      .select(col("neighbor_id") +: col("cluster") +:
        codebooks.indices.map(s => col(s"code_$s")): _*)
    // pre-filter semantics: the allow cut lands beneath the shortlist so
    // every shortlist slot is an ALLOWED candidate (same placement as
    // ivfPqTopKIndexedFiltered's, one tier lower)
    val codesOnly = allow match {
      case Some(a) => codesAll.join(
        a.select(col(idCol).as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_semi")
      case None => codesAll
    }
    val shortlist = adcScoreClustered(q, codesOnly, codebooks, rerank * k)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the id list is shortlist-sized (≤ |queries|·rerank·k — probe-batch
    // scale by contract, same as the probed-cluster collect above)
    val ids = shortlist.select(col("neighbor_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val vectors0 = pruneToProbed(index, probed)
      .select(col("neighbor_id"), col("embedding").as("nv"))
    val vectors =
      if (ids.length <= RefineFetchPushdownMax)
        vectors0.where(col("neighbor_id")
          .isin(ids.map(java.lang.Long.valueOf).toIndexedSeq: _*))
      else vectors0
    val qvs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // the broadcast hint holds only while the shortlist honors its
    // answer-sized contract (≤ |queries|·rerank·k rows). Covering-knob
    // compositions (q103's oracle config: 2²⁰ hits per suite row) make it
    // CORPUS-sized, where a forced broadcast collects the whole thing to
    // the driver — measured round 19: spark.driver.maxResultSize abort at
    // the fourth decade (223 suite rows × 2M candidates). The distinct-id
    // count is already collected for the fetch pushdown above; past the
    // pushdown rail the shortlist joins unhinted and AQE picks the
    // strategy its runtime size earns.
    val shortlistSide =
      if (ids.length <= RefineFetchPushdownMax) broadcast(shortlist)
      else shortlist
    val scored = vectors
      .join(shortlistSide, Seq("neighbor_id"))
      .join(broadcast(qvs), Seq("query_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("nv")), 6))
      // NaN ranks above every number in Spark — a zero-norm vector (no
      // angle) must not outrank real neighbors ([[bruteForceTopK]]'s cut)
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rk").cast("long").as("rk"))
  }

  /** SEMANTIC decontamination through the STORED index — the
    * suite-too-big composition [[semanticDecontaminate]]'s scaladoc
    * promises: when the eval suite outgrows a broadcast, its rows probe
    * the corpus's clustered index as QUERIES ([[ivfPqTopKRefined]] —
    * exact cosine over the ADC shortlist) and every corpus id hit at
    * rounded cosine ≥ tau is anti-joined away. Returns the SURVIVING
    * corpus ids (one `idCol` column — the indexed tier judges only
    * probed candidates, so a per-survivor max_sim would be a lie; the
    * exact gate reports it, this one doesn't).
    *
    * Approximate where the exact gate is total, in two measurable ways:
    *   - '''coverage''': a leaked corpus row in a cluster the suite row
    *     doesn't probe is missed — nprobe's territory, exactly the
    *     [[ivfPqTopKIndexed]] recall story ([[tuneProbe]] applies);
    *   - '''multiplicity''': one suite row can flag at most
    *     `hitsPerSuiteRow` corpus rows; a benchmark question duplicated
    *     more than that many times within probed clusters keeps the
    *     excess. Size it to the plausible leak multiplicity, not to k.
    *
    * Id contract: a pair whose suite id EQUALS a corpus id is skipped by
    * the probe's self-exclusion — fine when the suite was carved from
    * the same id space (the shared id denotes the same row; literal
    * suite members are removed by id anti-join before this gate), wrong
    * if the two sides number their rows independently — disambiguate ids
    * first. Scale shape: probe-batch cost per suite row over the stored
    * index (partition-pruned, code-columns-only + shortlist vector
    * fetch), one answer-sized distinct, one anti-join — the corpus is
    * never crossed with the suite. */
  def semanticDecontaminateIndexed(corpus: DataFrame, suite: DataFrame,
                                   index: DataFrame,
                                   coarse: Array[Array[Double]],
                                   codebooks: Array[Array[Array[Double]]],
                                   tau: Double, nprobe: Int = 2,
                                   rerank: Int = 4, hitsPerSuiteRow: Int = 64,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    require(hitsPerSuiteRow >= 1,
      s"need hitsPerSuiteRow ≥ 1, got $hitsPerSuiteRow")
    requireNonNullIds(corpus, idCol, "corpus", "semanticDecontaminateIndexed")
    requireNonNullIds(suite, idCol, "suite", "semanticDecontaminateIndexed")
    // NaN must be excluded EXPLICITLY: Spark orders NaN above every
    // number, so `NaN >= tau` is TRUE and a zero-norm vector (0/0 cosine)
    // on either side would FALSELY drop the corpus row — the same
    // poisoning trap the exact gate excludes before its max.
    val hits = ivfPqTopKRefined(suite, index, hitsPerSuiteRow, coarse,
        codebooks, nprobe, rerank, idCol, vecCol)
      .where(!isnan(col("cosine")) && col("cosine") >= tau) // exact gate's rounded-≥ boundary
      .select(col("neighbor_id").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti").select(col(idCol))
  }

  /** The indexed gates' twin of [[semanticDecontaminate]]'s null-id
    * fail-fast: a null CORPUS id never equates in the left_anti join-back
    * (the row silently survives at any similarity), and a null SUITE id
    * nulls the self-exclusion `query_id =!= neighbor_id` (that suite row
    * silently judges nothing) — both the same silent-gate-hole class the
    * exact gate rejects. One id-column count aggregate per side — noise
    * next to the probe/anti-join passes these gates already run.
    * (Duplicate ids are NOT rejected here: the indexed gates return a
    * survivor id RELATION, where duplicates drop or survive together —
    * there is no per-id max to collapse.) */
  private def requireNonNullIds(df: DataFrame, idCol: String, side: String,
                                gate: String): Unit = {
    val r = df.agg(count(lit(1)).as("n"), count(col(idCol)).as("nn")).head()
    require(r.getLong(0) == r.getLong(1),
      s"$gate needs non-null $side $idCol: ${r.getLong(0) - r.getLong(1)} " +
        "null ids would silently dodge the gate")
  }

  /** RADIUS variant of [[semanticDecontaminateIndexed]] — the shape the
    * decontamination job actually wants: a radius gate has no natural k,
    * so the top-k shortlist the serving tier imposes is a pure recall
    * sink (SCALE.md §Round 18 measured it costing 0.289 of recall at
    * full probes on the bench corpus). This variant exact-scores EVERY
    * row of the probed clusters against each suite query — no ADC, no
    * shortlist, no `hitsPerSuiteRow`/`rerank` knobs — so its recall is
    * the pure coverage curve (1.0 at full probes, spec-asserted ≡ the
    * exact gate) and its only lever is nprobe.
    *
    * Cost model vs the shortlist variant: reads the probed clusters'
    * VECTOR column (nprobe/k of the corpus's vector bytes — the
    * [[ivfTopKIndexed]] I/O shape, partition- and column-pruned) instead
    * of codes + an answer-sized vector fetch; scores |suite| × (probed
    * corpus fraction) exact cosines. Decontamination is a batch job run
    * once per corpus cut — paying vector I/O on nprobe/k of the corpus
    * to delete the multiplicity failure mode is the right default; the
    * shortlist variant remains for suite sweeps so frequent that code
    * I/O dominates. Same id contract as the shortlist variant; needs an
    * index written `withVectors = true`. */
  def semanticDecontaminateIndexedRadius(corpus: DataFrame, suite: DataFrame,
                                         index: DataFrame,
                                         coarse: Array[Array[Double]],
                                         tau: Double, nprobe: Int = 2,
                                         idCol: String = "vec_id",
                                         vecCol: String = "embedding"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    assertNotCompacting(index)
    require(index.columns.contains("embedding"),
      "semanticDecontaminateIndexedRadius needs an index written " +
        "withVectors = true (no embedding column found)")
    requireNonNullIds(corpus, idCol, "corpus", "semanticDecontaminateIndexedRadius")
    requireNonNullIds(suite, idCol, "suite", "semanticDecontaminateIndexedRadius")
    val q = suite.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probeCentroids(col(vecCol), coarse, nprobe)).as("probe"))
      .select(col("query_id"), col("qv"), col("probe").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = q.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val vecs = pruneToProbed(index, probed)
      .select(col("cluster"), col("neighbor_id"), col("embedding").as("nv"))
    // NaN exclusion as above: a zero-norm vector's cosine is NaN, which
    // Spark ranks above tau — judge nothing, never drop on it
    val hits = broadcast(q).join(vecs, Seq("cluster"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sd_cos", round(cosine(col("qv"), col("nv")), 6))
      .where(!isnan(col("sd_cos")) && col("sd_cos") >= tau)
      .select(col("neighbor_id").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti").select(col(idCol))
  }

  /** [[tuneProbe]]'s result: the cheapest (nprobe, rerank) meeting the
    * recall target on the tuning sample, the recall that pair achieved,
    * whether the target was met at all within the caps (when false, the
    * pair is the best-achieving one found), and the full evaluation trace
    * `(nprobe, rerank, recall)` in the order walked — the caller's
    * record of the measured curve, SCALE.md-bankable as-is. */
  final case class ProbePlan(nprobe: Int, rerank: Int, recall: Double,
                             targetMet: Boolean,
                             trace: Seq[(Int, Int, Double)])

  /** Recall-targeted probe planning: measure, on a small query SAMPLE,
    * the cheapest `(nprobe, rerank)` whose [[ivfPqTopKRefined]] recall@k
    * against the exact truth set meets `recallTarget` — turning the two
    * hand-picked knobs into a stated recall contract. The banked curves
    * (SCALE.md §R16) say the levers are independent — nprobe lifts the
    * COARSE miss (true neighbors in unprobed clusters), rerank the
    * QUANTIZATION miss (ADC mis-ordering inside probed ones) — so the
    * walk honors the 100 TB cost asymmetry between them: nprobe is
    * corpus-I/O (a probe reads ~nprobe/k of the codes) while rerank is
    * answer-I/O (rerank·k vector point-lookups per query). For each
    * nprobe (doubling from 1) it first computes that level's PROVABLE
    * recall ceiling — the fraction of truth pairs whose neighbor's
    * stored cluster the query actually probes — skips levels whose
    * ceiling cannot reach the target (no probes wasted), and otherwise
    * exhausts the cheap lever: doubling rerank until the target is met
    * or the measured recall reaches the ceiling, where only more
    * clusters can help. (A consecutive-doublings plateau heuristic is
    * NOT sound here — recall vs rerank is flat-then-rising whenever a
    * true neighbor sits just past the current shortlist.)
    *
    * Tuning cost: ONE exact pass over the index (the brute-force truth
    * set — the unavoidable ground-truth price, paid once per index
    * build/tuning session, amortized over every probe batch the plan
    * then serves) plus a handful of sample-sized refined probes. All
    * driver-side state is sample-scale (|sample|·k truth pairs). The
    * sample should be representative of production queries; recall on a
    * different query distribution is the caller's risk (hold out a
    * validation sample — SCALE.md §Round 17, tuneProbe, shows the pattern).
    * Deterministic end-to-end. Requires an index written
    * `withVectors = true` (the truth set and the refine tier both read
    * stored vectors). Each evaluated cell leaves the refine tier's
    * sample-scale persists behind per the repo's session-scoped cache
    * convention — bracket a tuning session with
    * [[graft.GraftSession.withCaches]]. */
  def tuneProbe(sample: DataFrame, index: DataFrame, k: Int,
                coarse: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                recallTarget: Double,
                maxNprobe: Int = 0, maxRerank: Int = 16,
                idCol: String = "vec_id", vecCol: String = "embedding"): ProbePlan = {
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"recall target must be in (0, 1], got $recallTarget")
    require(maxRerank >= 1, s"need maxRerank ≥ 1, got $maxRerank")
    require(index.columns.contains("embedding"),
      "tuneProbe needs an index written withVectors = true (no embedding column found)")
    val npCap = math.min(if (maxNprobe > 0) maxNprobe else coarse.length, coarse.length)
    require(npCap >= 1, s"need maxNprobe ≥ 1, got $maxNprobe")
    def pairsOf(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairsOf(bruteForceTopK(sample,
      index.select(col("neighbor_id").as(idCol), col("embedding").as(vecCol)),
      k, idCol, vecCol))
    require(truth.nonEmpty, "tuning sample produced an empty truth set — is the sample empty?")
    // PROVABLE per-nprobe recall ceiling: a truth pair is reachable at
    // nprobe np iff its neighbor's stored cluster ranks among the query's
    // top-np coarse centroids. (The earlier heuristic — exit when recall
    // stops improving between consecutive rerank doublings — was wrong
    // for flat-then-rising curves: a neighbor at ADC rank 11–20 makes
    // rerank 1 and 2 read equal and abandons rerank 4, which would hit.)
    // Everything here is sample/answer-scale: the sample's vectors and
    // the truth neighbors' (id, cluster) rows collect driver-side, and
    // the centroid ranking replicates the CentroidTopN kernel exactly —
    // cosine descending, NaN above everything, ties to the LARGER id —
    // so reachability matches what the probe will actually read.
    val spark2 = sample.sparkSession
    val truthIdsDf = {
      import spark2.implicits._
      truth.map(_._2).toSeq.toDF("neighbor_id")
    }
    val clusterOf: Map[Long, Int] = index
      .join(broadcast(truthIdsDf), Seq("neighbor_id"), "left_semi")
      .select(col("neighbor_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
    // per query: position of each cluster in the kernel's centroid order
    val rankPos: Map[Long, Array[Int]] =
      kernelRankPositions(sample, coarse, idCol, vecCol)
    def ceiling(np: Int): Double = truth.count { case (q, n) =>
      clusterOf.get(n).exists(c => rankPos(q)(c) < np)
    }.toDouble / truth.size
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    var best: (Int, Int, Double) = (0, 0, -1.0)
    var met: Option[(Int, Int, Double)] = None
    val nprobes = Iterator.iterate(1)(_ * 2).takeWhile(_ < npCap).toSeq :+ npCap
    val npIt = nprobes.iterator
    while (met.isEmpty && npIt.hasNext) {
      val np = npIt.next()
      val ceil = ceiling(np)
      // a level whose ceiling provably cannot reach the target is skipped
      // outright (no probes wasted) — except the LAST level, which still
      // runs so a capped-out plan reports its honest best effort
      if (ceil + 1e-12 >= recallTarget || !npIt.hasNext) {
        var rerank = 1
        var exhausted = false
        while (met.isEmpty && !exhausted && rerank <= maxRerank) {
          val got = pairsOf(ivfPqTopKRefined(sample, index, k, coarse, codebooks,
            nprobe = np, rerank = rerank, idCol = idCol, vecCol = vecCol))
          val recall = got.intersect(truth).size.toDouble / truth.size
          trace += ((np, rerank, recall))
          if (recall > best._3) best = (np, rerank, recall)
          if (recall >= recallTarget) met = Some((np, rerank, recall))
          // the ceiling is exact: once reached, more rerank cannot recover
          // neighbors whose clusters were never probed
          else if (recall >= ceil - 1e-12) exhausted = true
          rerank *= 2
        }
      }
    }
    met match {
      case Some((np, r, rec)) => ProbePlan(np, r, rec, targetMet = true, trace.toSeq)
      case None => ProbePlan(best._1, best._2, best._3, targetMet = false, trace.toSeq)
    }
  }

  /** Driver-side replica of the CentroidTopN ranking (cosine descending
    * under SQLOrderingUtil doubles, NaN above everything, ties to the
    * LARGER centroid id) for every row of a SAMPLE-scale relation:
    * id → array mapping cluster id to its position in that row's probe
    * order, so "cluster c is probed at nprobe np" is `pos(c) < np` —
    * exactly what the probe kernel will read. Shared by [[tuneProbe]]
    * and [[tuneRadiusProbe]]. */
  private def kernelRankPositions(rows: DataFrame,
                                  coarse: Array[Array[Double]],
                                  idCol: String,
                                  vecCol: String): Map[Long, Array[Int]] = {
    val kernelOrder = new Ordering[(Double, Int)] {
      def compare(a: (Double, Int), b: (Double, Int)): Int = {
        val (an, bn) = (a._1.isNaN, b._1.isNaN)
        if (an && bn) b._2.compareTo(a._2)
        else if (an) -1
        else if (bn) 1
        else if (a._1 == b._1) b._2.compareTo(a._2)
        else java.lang.Double.compare(b._1, a._1)
      }
    }
    rows.select(col(idCol), col(vecCol)).collect().map { r =>
      val q = vecToDoubles(r.getSeq[Any](1))
      val qn = math.sqrt(q.map(x => x * x).sum)
      val ranked = coarse.indices.map { j =>
        val c = coarse(j)
        val dot = (0 until math.min(q.length, c.length))
          .foldLeft(0.0)((acc, i) => acc + q(i) * c(i))
        (dot / (qn * math.sqrt(c.map(x => x * x).sum)), j)
      }.sorted(kernelOrder).map(_._2)
      val pos = new Array[Int](coarse.length)
      ranked.zipWithIndex.foreach { case (cl, p) => pos(cl) = p }
      r.getLong(0) -> pos
    }.toMap
  }

  private def vecToDoubles(v: Seq[Any]): Array[Double] = v.map {
    case f: Float => f.toDouble
    case d: Double => d
    case x => x.toString.toDouble
  }.toArray

  /** [[tuneRadiusProbe]]'s result: the cheapest nprobe meeting the recall
    * target, the recall it achieves, whether the target was met within
    * the cap (when false, nprobe is the best-achieving level), and the
    * `(nprobe, recall)` curve in the order walked. */
  final case class RadiusProbePlan(nprobe: Int, recall: Double,
                                   targetMet: Boolean,
                                   trace: Seq[(Int, Double)])

  /** Recall-targeted probe planning for
    * [[semanticDecontaminateIndexedRadius]] — the gate whose only lever
    * IS nprobe (no shortlist, no rerank), so its recall at every level is
    * the pure COVERAGE term: a truly-contaminated corpus row is dropped
    * at nprobe np iff some ≥ τ suite witness probes the cluster the row
    * is stored in. That makes the curve computable EXACTLY without
    * running the gate once: one exact radius pass over the index's stored
    * vectors builds the truth hits (the same ground-truth price
    * [[tuneProbe]] pays — run once per index/suite, amortized over every
    * decontamination batch), the witnesses' centroid probe order is
    * replicated driver-side ([[kernelRankPositions]] — bit-exact vs the
    * CentroidTopN kernel), and recall(np) counts truth DOCS covered
    * (the doc-grain definition of the curve banked in SCALE.md §Round 18).
    * The identity "predicted recall ≡ measured gate recall at every
    * level" is spec-asserted on the fixture.
    *
    * Driver-side state: |suite| probe orders + the truth hit pairs —
    * suite-sample × contamination scale, NOT corpus scale (a truth set
    * too large to hold says the suite sample is too big or τ too loose).
    * `suite` should be the same suite (or a representative sample of it)
    * the production gate will run; recall against a different suite is
    * the caller's risk. Needs an index written `withVectors = true`. */
  def tuneRadiusProbe(suite: DataFrame, index: DataFrame,
                      coarse: Array[Array[Double]], tau: Double,
                      recallTarget: Double, maxNprobe: Int = 0,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): RadiusProbePlan = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"recall target must be in (0, 1], got $recallTarget")
    require(index.columns.contains("embedding"),
      "tuneRadiusProbe needs an index written withVectors = true " +
        "(no embedding column found)")
    assertNotCompacting(index)
    requireNonNullIds(suite, idCol, "suite", "tuneRadiusProbe")
    val npCap = math.min(if (maxNprobe > 0) maxNprobe else coarse.length,
      coarse.length)
    require(npCap >= 1, s"need maxNprobe ≥ 1, got $maxNprobe")
    // exact truth pass: every (witness, stored row) pair at ≥ τ, plus the
    // row's stored cluster — the radius gate's own NaN/self-id contract
    // declared brute-force truth pass, the bruteForceTopK shape: the
    // suite sample broadcasts against one full index scan
    val q = broadcast(suite.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val truth = q.crossJoin(index.select(col("cluster"), col("neighbor_id"),
        col("embedding").as("nv")))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sd_cos", round(cosine(col("qv"), col("nv")), 6))
      .where(!isnan(col("sd_cos")) && col("sd_cos") >= tau)
      .select(col("query_id"), col("neighbor_id"), col("cluster"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt))
    if (truth.isEmpty)
      // nothing to catch: every level has recall 1 by convention — the
      // cheapest plan is one probe
      return RadiusProbePlan(1, 1.0, targetMet = true, Seq((1, 1.0)))
    val rankPos = kernelRankPositions(suite, coarse, idCol, vecCol)
    val docs = truth.map(_._2).distinct
    def recallAt(np: Int): Double = {
      val covered = docs.count { d =>
        truth.exists { case (qid, nid, cl) =>
          nid == d && rankPos(qid)(cl) < np
        }
      }
      covered.toDouble / docs.length
    }
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val nprobes = Iterator.iterate(1)(_ * 2).takeWhile(_ < npCap).toSeq :+ npCap
    var best: (Int, Double) = (0, -1.0)
    var met: Option[(Int, Double)] = None
    val it = nprobes.iterator
    while (met.isEmpty && it.hasNext) {
      val np = it.next()
      val rec = recallAt(np)
      trace += ((np, rec))
      if (rec > best._2) best = (np, rec)
      if (rec + 1e-12 >= recallTarget) met = Some((np, rec))
    }
    met match {
      case Some((np, rec)) => RadiusProbePlan(np, rec, targetMet = true, trace.toSeq)
      case None => RadiusProbePlan(best._1, best._2, targetMet = false, trace.toSeq)
    }
  }

  /** Restrict a stored clustered index to the probed clusters with a
    * STATIC partition-pruning predicate. The pruning literals are typed
    * from the index's actual cluster column: parquet partition-column
    * inference yields int at default config, but with inference disabled
    * the column arrives as string (and a pre-clustered relation may carry
    * long) — a mistyped isin would cast the PARTITION COLUMN instead,
    * defeating static pruning or silently matching nothing. The join key is
    * normalized to int ABOVE the filter, so the scan still sees the typed
    * isin on the raw partition column while every downstream equi-join
    * meets int = int with no implicit cast. */
  /** Fail-fast guard enforcing [[ivfPqIndexCompact]]'s maintenance-window
    * contract: a probe racing a compaction could read a cluster mid-swap
    * (its directory momentarily retired into staging), silently missing
    * rows. Every indexed probe calls this at plan-build time; three
    * checks together make every probe↔compaction interleaving fail fast
    * instead of silently partial:
    *
    *   1. no `_compacting` staging sibling may exist for any of the
    *      index's file-source roots — an in-flight compaction OR a
    *      crashed one awaiting heal (one fs.exists per root);
    *   2. the DataFrame's file LISTING must cover every live cluster
    *      directory that holds data — a listing taken mid-swap (after a
    *      cluster was retired, before the staging delete was observable)
    *      is missing that cluster entirely, and once the swap completes
    *      check 1 alone can no longer see anything wrong. This also
    *      rejects a pre-append listing once the append lands a NEW
    *      cluster dir — the index mutated; re-read it (the documented
    *      contract). Metadata-scale: one listing pass, no bytes;
    *   3. `spark.sql.files.ignoreMissingFiles` must be false (the
    *      default) — a compaction that swaps AFTER the listing renames
    *      the listed files away, and execution must then throw
    *      FileNotFoundException, not silently skip the vanished files.
    *
    * In-memory relations have no file roots and pass through untouched. */
  private def assertNotCompacting(index: DataFrame): Unit = {
    val conf = index.sparkSession.sparkContext.hadoopConfiguration
    val relations = index.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Seq((hfs.location.rootPaths, hfs.location.inputFiles))
          case _ => Nil
        }
    }.flatten
    relations.foreach { case (roots, listed) =>
      // cluster dirs named in this relation's (plan-time) listing
      lazy val listedClusters: Set[String] = listed.iterator.flatMap { f =>
        val parent = new org.apache.hadoop.fs.Path(f).getParent
        if (parent != null && parent.getName.startsWith("cluster=")) Some(parent.getName)
        else None
      }.toSet
      roots.foreach { root =>
        val fs = root.getFileSystem(conf)
        val staging = new org.apache.hadoop.fs.Path(root.toString + "_compacting")
        if (fs.exists(staging))
          throw new IllegalStateException(
            s"index at $root is being compacted ($staging exists): a probe " +
              "during the swap can read a mid-swap cluster. Retry after " +
              "ivfPqIndexCompact returns; if a compaction crashed, calling " +
              "it again heals the index first.")
        val missing = indexDataFiles(fs, root).map(_._1).toSet -- listedClusters
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"index DataFrame's file listing at $root is STALE: live cluster " +
              s"directories ${missing.toSeq.sorted.mkString(", ")} hold data " +
              "absent from the plan's listing — the listing raced a " +
              "compaction swap, or the index was mutated after the read. " +
              "Re-read the index (spark.read.parquet) and retry.")
      }
    }
    if (relations.nonEmpty &&
        index.sparkSession.conf.get("spark.sql.files.ignoreMissingFiles", "false") == "true")
      throw new IllegalStateException(
        "indexed probes require spark.sql.files.ignoreMissingFiles=false: a " +
          "compaction swapping after the listing must surface as " +
          "FileNotFoundException, never as silently skipped files.")
  }

  private def pruneToProbed(index: DataFrame, probed: Array[Int]): DataFrame = {
    val lits: Array[Any] = index.schema("cluster").dataType match {
      case org.apache.spark.sql.types.IntegerType => probed.map(Int.box)
      case org.apache.spark.sql.types.LongType    => probed.map(i => java.lang.Long.valueOf(i.toLong))
      case org.apache.spark.sql.types.StringType  => probed.map(_.toString)
      case other => throw new IllegalArgumentException(
        s"index cluster column must be int, long, or string; got $other")
    }
    index.where(col("cluster").isin(lits.toIndexedSeq: _*))
      .withColumn("cluster", col("cluster").cast("int"))
  }

  /** EXACT-cosine IVF top-k over a MATERIALIZED index (written
    * `withVectors = true`): the cluster-assignment pass — the expensive
    * full-corpus argmax that [[ivfTopK]] recomputes per query batch — was
    * paid ONCE at index-build time; a probe here reads only the probed
    * cluster directories (static partition pruning, like
    * [[ivfPqTopKIndexed]]) and only the (neighbor_id, embedding) columns
    * (the PQ codes are ignored — column pruning). At 100 TB this is the
    * production IVF-Flat shape: assignment per corpus, not per query.
    * With every cluster probed the result is identical to [[ivfTopK]] over
    * the original corpus (spec-asserted — assignment is deterministic, so
    * the stored clusters ARE ivfTopK's clusters). */
  def ivfTopKIndexed(queries: DataFrame, index: DataFrame, k: Int,
                     centroids: Array[Array[Double]], nprobe: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    assertNotCompacting(index)
    require(index.columns.contains("embedding"),
      "ivfTopKIndexed needs an index written withVectors = true (no embedding column found)")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probeCentroids(col(vecCol), centroids, nprobe)).as("probe"))
      .select(col("query_id"), col("qv"), col("probe").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = q.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val c = pruneToProbed(index, probed)
      .select(col("cluster"), col("neighbor_id"), col("embedding").as("nv"))
    ivfScoreTopK(q, c, k)
  }

  /** Shared IVF exact-cosine scoring: equi-join probed queries to cluster
    * members, score, cut top-k per query. */
  private def ivfScoreTopK(q: DataFrame, c: DataFrame, k: Int): DataFrame = {
    val scored = q.join(c, Seq("cluster"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("nv")), 6))
      // NaN ranks above every number in Spark — a zero-norm vector (no
      // angle) must not outrank real neighbors ([[bruteForceTopK]]'s cut)
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk").cast("long").as("rk"))
  }

  /** [[semanticDedup]] over a MATERIALIZED index (written
    * `withVectors = true`): the coarse cluster assignment — at 100 TB the
    * expensive full-corpus pass, and the only part of SemDeDup that
    * touches the quantizer — comes from the stored layout instead of being
    * recomputed per run, which is the amortization the SemDeDup paper
    * assumes (one clustering per corpus, many dedup/search consumers).
    * The within-cluster prune is IDENTICAL to [[semanticDedup]]'s
    * (equi-join on cluster, cosine ≥ threshold inside the join condition,
    * lower-id mate wins), so the output matches the in-memory operator
    * row-for-row (spec-asserted). No partition pruning here — dedup is a
    * full-corpus pass by definition — but the scan reads only
    * (neighbor_id, embedding, cluster), never the PQ codes. */
  def semanticDedupIndexed(index: DataFrame, threshold: Double,
                           idCol: String = "vec_id"): DataFrame = {
    assertNotCompacting(index)
    require(index.columns.contains("embedding"),
      "semanticDedupIndexed needs an index written withVectors = true (no embedding column found)")
    val assigned = index
      .select(col("neighbor_id").as(idCol), col("embedding"),
        col("cluster").cast("int").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = assigned.select(col("cluster"), col(idCol).as("lo_id"), col("embedding").as("lv"))
    val r = assigned.select(col("cluster"), col(idCol).as("hi_id"), col("embedding").as("rv"))
    // NaN ≥ threshold is TRUE under Spark's NaN-above-everything ordering,
    // so without the isnan cut a zero-norm vector (0/0 cosine vs every
    // cluster-mate) would falsely mark all its higher-id mates as dups —
    // a no-angle pair judges nothing (the semanticDecontaminate convention)
    val sdiCos = round(cosine(col("lv"), col("rv")), 6)
    val dropped = l.join(r,
        l("cluster") === r("cluster") && col("lo_id") < col("hi_id")
          && !isnan(sdiCos) && sdiCos >= threshold)
      .select(col("hi_id").as(idCol))
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** EXACT all-pairs cosine self-join above a threshold, as a tiled
    * equi-join — the scale-safe form of the O(n²) comparison.
    *
    * Exact θ-joins on unstructured embeddings are inherently Ω(n²)
    * comparisons (borderline pairs — e.g. cosine ≈ τ — are near-orthogonal
    * to every LSH family, so no bucket/multi-probe scheme recalls them with
    * probability → 1; the approximate tier for *near-duplicate* cosines is
    * [[srpBucketTopK]]/q31). What CAN be fixed at scale is the plan shape:
    * a naive `a.join(b, cos(a,b) ≥ τ)` is a BroadcastNestedLoopJoin — it
    * broadcasts one whole side (OOM beyond a few GB) and serializes the
    * comparison stream through however many tasks the OTHER side has.
    *
    * Tiling restores a real blocking key: each vector gets a block id
    * g ∈ [0,B); the B(B+1)/2 unordered block pairs (bl ≤ br) form a tiny
    * metadata relation; each side broadcast-joins onto its tile row/column
    * and the two streams meet in ONE shuffled equi-join on the tile key
    * (bl, br). Every tile is an independent (n/B)² comparison unit, so work
    * spreads uniformly over the cluster, peak task memory is two blocks
    * (choose B so n/B rows fit an executor — the classic O(n·B) replication
    * / O(n√n) communication all-pairs scheme), and the cosine kernel runs
    * as a codegen'd join filter. Output is bit-identical to the naive plan. */
  def cosineSelfJoin(corpus: DataFrame, threshold: Double, blocks: Int = 8,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val blocked = corpus.select(col(idCol), col(vecCol),
      pmod(xxhash64(col(idCol)), lit(blocks.toLong)).as("g"))
    // B² ids unrolled from ONE range (a range×range cross join would itself
    // plan a nested loop and muddy the "no BNLJ anywhere" contract)
    val tiles = spark.range(blocks.toLong * blocks)
      .select((col("id") / blocks).cast("long").as("bl"),
        pmod(col("id"), lit(blocks.toLong)).as("br"))
      .where(col("bl") <= col("br"))
    // the tile join is COMPUTE-dense per byte (each tile pairs two whole
    // blocks through the cosine kernel), so AQE's byte-based partition
    // coalescing is exactly wrong for it: at bench scale it folds the
    // ~17 MB exchange into a handful of tasks and serializes the
    // Θ(tiles·(n/B)²) kernel work (measured 2.45 → 0.92 s at sf0.1 when
    // the coalescing floor is lifted). Pin the exchange with an explicit
    // repartition on the join keys — the SAME hash exchange the join
    // would insert, just not coalescible — at the data-aware stream
    // width (≥ session width: a cluster session keeps or widens its
    // parallelism, never narrows at scale).
    val tileWidth = ExchangeWidth.forScan(corpus,
      TextAnalysis.ScanStreamTargetBytesPerPartition)
    val l = blocked.select(col(idCol).as("left_id"), col(vecCol).as("va"),
        col("g").as("bl"))
      .join(broadcast(tiles), Seq("bl"))
      .repartition(tileWidth, col("bl"), col("br"))
    val r = blocked.select(col(idCol).as("right_id"), col(vecCol).as("vb"),
        col("g").as("br"))
      .join(broadcast(tiles), Seq("br"))
      .repartition(tileWidth, col("bl"), col("br"))
    val cos = round(cosine(col("va"), col("vb")), 6)
    // off-diagonal tiles hold each unordered pair exactly once (its two rows
    // live in different blocks), whatever the id order; only the diagonal
    // needs the id filter. Output order is then normalized by id — cosine is
    // symmetric, and the element-wise product stream is identical either way.
    l.join(r, Seq("bl", "br"))
      // !isnan: a zero-norm vector's NaN cosine compares ≥ any threshold
      // under Spark ordering — a no-angle pair is never a result pair
      .where((col("bl") < col("br") || col("left_id") < col("right_id"))
        && !isnan(cos) && cos >= threshold)
      .select(least(col("left_id"), col("right_id")).as("left_id"),
        greatest(col("left_id"), col("right_id")).as("right_id"),
        cos.as("cosine"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic near-duplicate
    * pruning at corpus scale — coarse-cluster the embedding space (the
    * engine's own deterministic [[ivfCentroids]]), compare pairs ONLY
    * within a cluster, and drop every vector that has a lower-id
    * cluster-mate at cosine ≥ threshold. Returns the survivors with their
    * cluster id. Approximate by design: a near-dup pair straddling a
    * cluster boundary survives (the paper's trade — SemDeDup's K grows
    * with the corpus so cluster populations stay bounded, keeping the
    * within-cluster comparison Σ nc² ≈ N²/K sub-quadratic; K is the
    * caller's knob here exactly as in the paper).
    *
    * Plan shape: ONE extra scan assigns clusters (a row-local argmax over
    * literal centroids — no shuffle); the pair generation is an EQUI-join
    * on the cluster id with the cosine threshold inside the join
    * condition, so only surviving pairs materialize (measured: condition
    * beats post-filter ~4× on the BNLJ tier, and it keeps this join a
    * SortMergeJoin — never a cartesian). The cosine is rounded to 6 dp
    * before the compare, the repo's cross-engine convention. */
  def semanticDedup(corpus: DataFrame, centroids: Array[Array[Double]],
                    threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // persisted: feeds both join sides AND the final anti-join (Catalyst
    // re-derives unpersisted subtrees per side); released by
    // GraftSession.releaseCaches
    val assigned = corpus
      .select(col(idCol), col(vecCol),
        nearestCentroid(col(vecCol), centroids).as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = assigned.select(col("cluster"), col(idCol).as("lo_id"), col(vecCol).as("lv"))
    val r = assigned.select(col("cluster"), col(idCol).as("hi_id"), col(vecCol).as("rv"))
    // !isnan: see [[semanticDedupIndexed]] — a zero-norm vector must not
    // NaN-match every cluster-mate into the dropped set
    val sdCos = round(cosine(col("lv"), col("rv")), 6)
    val dropped = l.join(r,
        l("cluster") === r("cluster") && col("lo_id") < col("hi_id")
          && !isnan(sdCos) && sdCos >= threshold)
      .select(col("hi_id").as(idCol))
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth step an
    * ANN index at 100 TB actually runs (4× smaller than float32, and int8
    * dot-product kernels): scale = max|x| / 127, q = round(x/scale) per
    * component. Emitted exploded as (id, pos, q, scale) rows so any engine
    * (and the DuckDB oracle) can compare the quantized stream exactly.
    *
    * Rounding is written as floor(x/scale + 0.5) — explicit and identical
    * in every engine, unlike round()'s half-even/half-up dialects. The
    * all-zero vector (scale 0) quantizes to all-zero q. Pure per-row
    * expressions, no shuffle; output is n·dim narrow rows. */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val amax = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    // two-step projection: the Θ(dim) scale → attribute, THEN the explode —
    // a generator in the same select is hoisted below the other expressions
    // (ExtractGenerator), which would re-run the array_max scan once per
    // EXPLODED element, Θ(dim²)/vector (the [[pqTrain]] no-CSE trap)
    df.select(col(idCol), (amax / 127.0).as("scale"), col(vecCol).as("qi_v"))
      .select(col(idCol), col("scale"),
        posexplode(col("qi_v")).as(Seq("pos", "x")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        when(col("scale") === 0.0, lit(0L))
          .otherwise(floor(col("x").cast("double") / col("scale") + 0.5).cast("long"))
          .as("q"),
        round(col("scale"), 6).as("scale"))
  }

  /** ANN top-k searching within the query's SRP bucket, optionally unioned
    * with every bucket within Hamming distance `probeHamming` of it
    * (multi-probe LSH: a near-miss on one hyperplane sign flips one bucket
    * bit, so the nearest misses live in Hamming-1 buckets). Trades recall
    * for a corpus-partitioned equi-join — the 100 TB-scale path; the recall
    * knob replicates only the SMALL query side (×Σ C(nbits,j), j≤probeHamming),
    * never the corpus. */
  def srpBucketTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                    nbits: Int = 8, probeHamming: Int = 0,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(nbits >= 1 && nbits <= 62, s"nbits must be in [1, 62], got $nbits")
    require(probeHamming >= 0 && probeHamming <= nbits,
      s"probeHamming must be in [0, $nbits], got $probeHamming")
    // all bit masks with popcount <= probeHamming; mask 0 = the own bucket.
    // Built combinatorially (Σ_j C(nbits, j) masks) — never by scanning the
    // full 2^nbits space, which at the wide keys a 100 TB corpus wants
    // (nbits 24-32) would be a multi-second-to-hung driver loop.
    val masks: Seq[Long] = (0 to probeHamming).flatMap(j =>
      (0 until nbits).combinations(j)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      srpBucket(col(vecCol), dim, nbits).as("b0"))
    val q =
      if (probeHamming == 0) q0.withColumnRenamed("b0", "bucket")
      else q0.select(col("query_id"), col("qv"),
        explode(array(masks.map(m => col("b0").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      srpBucket(col(vecCol), dim, nbits).as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("nv")), 6))
      // NaN ranks above every number in Spark — a zero-norm vector (no
      // angle) must not outrank real neighbors ([[bruteForceTopK]]'s cut)
      .where(!isnan(col("cosine")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk").cast("long").as("rk"))
  }
}
