package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * All functions are pure `Column` expressions built from codegen'd Catalyst
  * builtins (no UDFs), so they stay inside whole-stage codegen and distribute
  * trivially: each is a narrow map over the document table — no shuffle, and
  * at 100 TB the work is embarrassingly parallel per parquet row-group.
  *
  * Reference behavior being generalized: the cashback pipeline's only text
  * handling is merchant `description` cleanup (reference `api.py:122-132`,
  * `rewards.csv` `clean_description`); here we provide the full text-quality
  * toolkit a pretraining pipeline needs.
  */
object TextAnalysis {

  /** Whitespace tokenizer (reference documents are space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** The token array a null text or token column stands for: the gram
    * builders `coalesce` to it so a null doc takes the short-doc branch
    * under every ANSI setting (`size(null)` is NULL with ANSI on, −1 off). */
  private val EmptyTokens: Column = typedLit(Array.empty[String])

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stopwords: _*))).cast("long")

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordCount(text, stopwords).cast("double") / tokenCount(text)

  /** Ratio of non-alphanumeric, non-space chars — a classic quality signal. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", "")))
      .cast("double") / greatest(length(text).cast("double"), lit(1.0))

  /** Composite quality score in [0,1]: penalizes very short docs, low token
    * diversity, and punctuation soup. Deterministic, tune-able weights. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / 200.0, lit(1.0))
    val diversity = distinctTokenCount(text).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))
    val punct = lit(1.0) - punctRatio(text)
    round(lenScore * 0.4 + diversity * 0.3 + punct * 0.3, 6)
  }

  /** Multi-category term tagger — the Dolma/DataTrove "tagger" stage:
    * each category is a term list (blocklist, domain lexicon, boilerplate
    * markers…) and every document gets, per category, its occurrence
    * count and token-ratio, plus an any-category `flagged` bit a
    * downstream mixer or filter keys on. Counts are OCCURRENCES (a term
    * repeated 5× counts 5), the shape policy thresholds want.
    *
    * Scale shape: tokenize once, then one codegen'd `filter` + `size` per
    * category over literal term arrays — pure per-row expressions, zero
    * shuffles, zero UDFs; category lists ride the plan like the bloom
    * gate's keys. A lexicon too large to fold into the plan (≫10⁴ terms)
    * belongs in [[bloomDecontaminate]]'s broadcast shape instead. */
  def termTagger(df: org.apache.spark.sql.DataFrame, id: String,
                 textCol: String,
                 categories: Seq[(String, Seq[String])]): org.apache.spark.sql.DataFrame = {
    require(categories.nonEmpty, "need at least one tag category")
    require(categories.map(_._1).distinct.size == categories.size,
      s"duplicate category names in ${categories.map(_._1)}")
    val base = df.select(col(id), tokens(col(textCol)).as("tt_tok"))
    val tagged = categories.foldLeft(base) { case (acc, (name, terms)) =>
      acc.withColumn(s"${name}_hits",
        size(filter(col("tt_tok"),
          t => t.isInCollection(terms.distinct))).cast("long"))
        .withColumn(s"${name}_ratio",
          round(col(s"${name}_hits").cast("double") /
            greatest(size(col("tt_tok")).cast("double"), lit(1.0)), 6))
    }
    tagged.withColumn("flagged",
      categories.map(c => col(s"${c._1}_hits") > 0).reduce(_ || _))
      .drop("tt_tok")
  }

  /** n-gram-heuristic language ID (stub of a fasttext-style model): scores a
    * doc by stopword evidence per language and falls back to 'und'. The shape
    * (per-language evidence columns → greatest → CASE) is what matters; real
    * deployments swap in bigger stopword tables via a broadcast join. */
  def langGuess(text: Column): Column = {
    val en = stopwordRatio(text, Seq("the", "a", "of", "and", "is"))
    when(en >= 0.05, lit("en")).otherwise(lit("und"))
  }

  /** n-token shingles (distinct), the canonical MinHash input: with any
    * realistic vocabulary the shingle universe is huge, so shingle-set
    * Jaccard measures ordered-content overlap rather than vocabulary
    * overlap — this is what makes LSH buckets selective. */
  def shingles(tokens: Column, n: Int = 3): Column =
    when(size(tokens) >= n,
      array_distinct(transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(tokens, i + j + 1)): _*))))
      .otherwise(array(concat_ws(" ", tokens)))

  /** n-gram arrays WITH duplicates (unlike [[shingles]]) — repetition
    * signals need occurrence counts, not set membership. */
  def ngrams(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(tokens, i + j + 1)): _*)))
      .otherwise(array(concat_ws(" ", tokens)))

  /** Gopher-style repetition fraction: share of n-gram OCCURRENCES that are
    * repeats of an earlier occurrence (1 − distinct/total). High values mean
    * loops/boilerplate — a standard pretraining quality gate (Rae et al.,
    * arXiv:2112.11446 §A1.1). Pure per-row expression, no shuffle. */
  def dupNgramFraction(tokens: Column, n: Int): Column = {
    val g = ngrams(tokens, n)
    round(lit(1.0) - size(array_distinct(g)).cast("double")
      / greatest(size(g), lit(1)).cast("double"), 6)
  }

  /** Test-set decontamination (the GPT-3-style n-gram contamination gate):
    * for every corpus doc, count the distinct n-grams it shares with ANY
    * benchmark doc. Docs with hits are contaminated and dropped before
    * training; returns (id, n_hits) for hit docs only.
    *
    * Scale shape: the benchmark gram set is tiny (eval suites are thousands
    * of docs), so Catalyst broadcasts it and the corpus side is one linear
    * explode + semi-style join + per-doc count — the corpus never shuffles
    * on anything bigger than its own doc ids. With `hashGrams` (the
    * default) every gram is reduced to its [[md5Long]] before the join, so
    * the broadcast set, the join keys, and the per-doc distinct count all
    * carry 8-byte longs instead of n-token strings — the 100 TB shape.
    * Containment is preserved; a false hit needs a 60-bit collision between
    * a corpus gram and a benchmark gram (P ≈ gram-pairs / 2⁶⁰ — and [[md5Long]]
    * is cross-engine, so an oracle reproduces the hashed path exactly).
    * `hashGrams = false` keeps the raw-string join for debugging — the hit
    * sets are identical (spec-asserted).
    *
    * The token array is projected to an attribute BEFORE the n-gram lambda:
    * an inline `split` gets duplicated into every `element_at` of the
    * (interpreted) higher-order function, re-splitting the text n times per
    * gram — measured 5× slower at sf0.1. */
  def contaminationHits(corpus: org.apache.spark.sql.DataFrame,
                        benchmark: org.apache.spark.sql.DataFrame,
                        id: String, textCol: String, n: Int = 8,
                        hashGrams: Boolean = true)
  : org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame) =
      df.select(col(id), tokens(col(textCol)).as("cg_tok"))
        .select(col(id), explode(ngrams(col("cg_tok"), n)).as("gs"))
        .select(col(id), (if (hashGrams) md5Long(col("gs")) else col("gs")).as("g"))
    val bench = grams(benchmark).select(col("g")).distinct()
    grams(corpus).join(bench, Seq("g"))
      .groupBy(col(id)).agg(countDistinct(col("g")).as("n_hits"))
  }

  /** Bloom-prefiltered decontamination: the CLEAN side of the n-gram
    * contamination gate — corpus docs sharing NO n-gram with the benchmark
    * suite, i.e. what [[contaminationHits]] drops, this keeps (together they
    * partition the corpus; spec-asserted). Returns (id, n_grams) with each
    * survivor's distinct-gram count.
    *
    * Scale shape: the benchmark gram set compiles to a [[Bloom]] bit-array
    * literal (~1.5 bytes/key instead of an 8-byte-long broadcast hash
    * relation), and the corpus gram stream is pruned by the codegen'd
    * probe BEFORE any join — at a typical ≪1% true-hit rate the exact
    * confirm join (which makes the output exact regardless of FPs) sees a
    * few per-mille of the grams, not all of them. The clean count rides the
    * same single corpus gram pass as the hit detection. */
  def bloomDecontaminate(corpus: org.apache.spark.sql.DataFrame,
                         benchmark: org.apache.spark.sql.DataFrame,
                         id: String, textCol: String, n: Int = 4)
  : org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame) =
      df.select(col(id), tokens(col(textCol)).as("bd_tok"))
        .select(col(id), explode(ngrams(col("bd_tok"), n)).as("gs"))
        .select(col(id), md5Long(col("gs")).as("g"))
    // reference side is small by construction (eval suites); driver build
    val keys = grams(benchmark).select(col("g")).distinct()
      .collect().map(_.getLong(0))
    val bloom = Bloom.build(keys)
    val cg = grams(corpus).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val benchSet = corpus.sparkSession.createDataFrame(
      corpus.sparkSession.sparkContext.parallelize(keys.toSeq.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g", org.apache.spark.sql.types.LongType))))
    val confirmed = cg.where(Bloom.mightContain(bloom, col("g")))
      .join(broadcast(benchSet), Seq("g"))
      .select(col(id)).distinct()
    cg.groupBy(col(id)).agg(countDistinct(col("g")).as("n_grams"))
      .join(confirmed, Seq(id), "left_anti")
  }

  /** Frequency-ranked corpus vocabulary — the statistic tokenizer training
    * (BPE/unigram) starts from. Returns (token, freq, rank) for the topK
    * most frequent tokens; rank is deterministic (freq desc, token asc).
    *
    * Scale shape: explode + ONE map-side-combinable groupBy on the token;
    * the cut is a distributed TakeOrdered (sort-limit) over the vocabulary
    * relation — the single-partition window that assigns ranks only ever
    * sees the topK surviving rows, never the corpus or the full vocab. */
  def tokenVocabulary(df: org.apache.spark.sql.DataFrame, textCol: String,
                      topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val top = freq.orderBy(col("freq").desc, col("token")).limit(topK)
    val w = Window.orderBy(col("freq").desc, col("token"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Okapi BM25 top-k retrieval over a tokenized corpus for a fixed query
    * term set — the lexical-retrieval baseline every RAG / data-curation
    * stack keeps next to its ANN index (Robertson & Zaragoza, FnTIR'09).
    *
    * Scale shape: one explode + ONE map-side-combinable groupBy(id)
    * producing doc length and one tf column per query term (terms are a
    * handful — this is a query, not a matrix); corpus stats (N, Σdl, per-
    * term df) reduce to a single metadata row; the final cut is a
    * distributed TakeOrdered (sort-limit) — the rank window only ever sees
    * the topK survivors. The corpus never shuffles on anything except its
    * own doc ids.
    *
    * Determinism: tf/dl/df/N are exact integers; avgdl = Σdl/N is one IEEE
    * division; the per-term score sum is a FIXED-ORDER expression (term 0
    * first), not an aggregate — so an oracle replaying the same arithmetic
    * order matches bit-for-bit, with round(…,6) squashing only ln() ulp
    * noise. Ties at the cut break on doc id. The saturation and length
    * parameters are the standard k1 = 1.2, b = 0.75. */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, id: String, textCol: String,
               terms: Seq[String],
               topK: Int = 20): org.apache.spark.sql.DataFrame = {
    val k1 = 1.2
    val b = 0.75
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val toks = df.select(col(id).as("bm_id"), explode(tokens(col(textCol))).as("tok"))
    val perDoc = toks.groupBy("bm_id").agg(
      count(lit(1)).as("dl"),
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf$i") }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = perDoc.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sdl") +: terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
      .head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val score = terms.indices.map { i =>
      val dfi = stats.getLong(2 + i)
      val idf = math.log(1.0 + (n - dfi + 0.5) / (dfi + 0.5))
      lit(idf) * (col(s"tf$i") * lit(k1 + 1)) /
        (col(s"tf$i") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))
    }.reduce(_ + _)
    val scored = perDoc.withColumn("score", round(score, 6))
      .where(col("score") > 0)
      .select(col("bm_id").as(id), col("dl"), col("score"))
      .orderBy(col("score").desc, col(id))
      .limit(topK)
    scored.withColumn("rk",
      row_number().over(Window.orderBy(col("score").desc, col(id))).cast("long"))
  }

  /** Per-document unigram negative log-likelihood under the corpus's own
    * unigram distribution — the cheap perplexity proxy quality filters use
    * when a real LM is too expensive (high NLL ≈ rare-token soup, low NLL ≈
    * repetitive boilerplate; both tails get reviewed).
    *
    * Scale shape: explode + one map-side-combinable groupBy(token) builds
    * the frequency relation (vocabulary-sized, persisted); the corpus side
    * then joins it — Catalyst broadcasts a small vocab, and even a shuffled
    * join keys on the token with AQE skew-split handling the stopword
    * heads — and reduces per doc. p(tok) = freq/total is an exact-integer
    * division; round(…,6) on the averaged NLL squashes fold-order and ln()
    * ulp noise per the repo's vector-math convention. */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, id: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(id).as("ul_id"), explode(tokens(col(textCol))).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = freq.agg(sum(col("freq"))).head().getLong(0)
    toks.join(freq, Seq("tok"))
      .groupBy(col("ul_id").as(id))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(avg(-log(col("freq").cast("double") / lit(total))), 6).as("nll"))
  }

  /** Per-document bigram negative log-likelihood under the corpus's own
    * bigram distribution with add-one smoothing — the KenLM-style order-2
    * quality signal (a doc whose transitions are rare under the corpus LM
    * reads as noise/boilerplate): p(w2|w1) = (c(w1,w2)+1)/(c(w1,·)+V),
    * V = corpus unigram vocabulary, c(w1,·) = bigram-context count.
    * Docs with < 2 tokens have no bigram and are absent from the output.
    *
    * Scale shape: the bigram relation shuffles once on (w1,w2); the context
    * counts reduce from the ALREADY-AGGREGATED bigram counts (a second
    * groupBy over ≤|V|² rows, not a second corpus pass), both joins key on
    * tokens with AQE handling stopword-head skew, and V is one
    * count-distinct action whose scan doubles as the persist-materializer.
    * round(…,6) on the averaged NLL squashes fold-order ulp noise per the
    * repo's vector-math convention. */
  def bigramLogProb(df: org.apache.spark.sql.DataFrame, id: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(id).as("bl_id"), tokens(col(textCol)).as("tk"))
    // bigram build on the codegen'd posexplode + get(tk, pos+1) path: the
    // transform(sequence…) higher-order build this replaces is
    // CodegenFallback — an interpreted per-row struct-array construction
    // in the hot corpus pass (guide §4; A/B'd in OPTIMIZATION_r20.md)
    val bg = tok.where(size(col("tk")) >= 2)
      .select(col("bl_id"), col("tk"), posexplode(col("tk")).as(Seq("pos", "w1")))
      .where(col("pos") <= size(col("tk")) - 2)
      .select(col("bl_id"), col("w1"), get(col("tk"), col("pos") + 1).as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cw1 = cbg.groupBy("w1").agg(sum(col("c")).as("ctx"))
    val vocab = tok.select(explode(col("tk")).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    bg.join(cbg, Seq("w1", "w2")).join(cw1, Seq("w1"))
      .groupBy(col("bl_id").as(id))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(-log((col("c") + lit(1.0)) / (col("ctx") + lit(vocab.toDouble)))), 6)
          .as("nll"))
  }

  /** Per-document bigram NLL under interpolated Kneser–Ney smoothing — the
    * KenLM default (Kneser & Ney 1995; Chen & Goodman 1998), the LM behind
    * CCNet-style perplexity filtering. Unlike [[bigramLogProb]]'s add-one
    * smoothing (which over-penalizes frequent contexts), KN discounts each
    * seen bigram by a fixed D and backs off to the CONTINUATION probability —
    * how many distinct contexts a word follows, not how often it occurs
    * ("Francisco" is frequent but only ever follows "San", so its
    * continuation probability is tiny):
    *
    *   p(w2|w1) = (c(w1,w2) − D)/c(w1,·)
    *            + D·N1+(w1,·)/c(w1,·) · N1+(·,w2)/N1+(·,·)
    *
    * with D = 0.75 (the textbook default). Every scored bigram comes from
    * the corpus itself, so c ≥ 1 > D and the max(·,0) clamp is vacuous here.
    * Docs with < 2 tokens have no bigram and are absent from the output.
    *
    * Scale shape: identical to [[bigramLogProb]] — the corpus shuffles once
    * into the (w1,w2) count relation; the four KN statistics (context
    * totals, forward type counts N1+(w1,·), backward type counts N1+(·,w2),
    * and the grand type count) ALL reduce from that already-aggregated
    * relation (≤ bigram-type rows). The scoring attaches them to the
    * corpus-scale stream as one (w1,w2) shuffle join plus two BROADCASTS
    * (ctx/back are ≤ |vocab| rows) — per-row hash probes, not exchanges.
    * A score-per-TYPE-then-one-join rewrite was A/B-measured
    * (SCALE.md §Round 19b: 6.87 vs 8.86 s at sf10) and REJECTED — the
    * broadcasts were never the cost; an initial ladder read of 62.7 s at
    * sf10 was a first-touch artifact of the corpus-build session, not a
    * plan defect (the same shape re-measures 6.9 s clean). round(…,6) on
    * the averaged NLL squashes fold-order ulp noise per the repo
    * convention. */
  def kneserNeyLogProb(df: org.apache.spark.sql.DataFrame, id: String,
                       textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(id).as("kn_id"), tokens(col(textCol)).as("tk"))
    // codegen'd posexplode + get(tk, pos+1) bigram build — same rewrite
    // (and rationale) as [[bigramLogProb]]'s
    val bg = tok.where(size(col("tk")) >= 2)
      .select(col("kn_id"), col("tk"), posexplode(col("tk")).as(Seq("pos", "w1")))
      .where(col("pos") <= size(col("tk")) - 2)
      .select(col("kn_id"), col("w1"), get(col("tk"), col("pos") + 1).as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // context totals and forward type counts reduce together from cbg
    val ctx = cbg.groupBy("w1")
      .agg(sum(col("c")).as("ctx"), count(lit(1)).as("n1f"))
    val back = cbg.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val types = cbg.count() // total distinct bigram types, one scalar action
    val d = lit(0.75)
    val p = (col("c").cast("double") - d) / col("ctx") +
      d * col("n1f").cast("double") / col("ctx") *
        (col("n1b").cast("double") / lit(types.toDouble))
    bg.join(cbg, Seq("w1", "w2")).join(ctx, Seq("w1")).join(back, Seq("w2"))
      .groupBy(col("kn_id").as(id))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(-log(p)), 6).as("nll"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., arXiv:1911.00359):
    * score every document by its corpus-LM NLL ([[unigramLogProb]]), then
    * label head / middle / tail by corpus-level NLL tertiles — the classic
    * "keep the head, mine the middle, drop the tail" pretraining triage.
    *
    * The tertile thresholds come from a FIXED-GRID HISTOGRAM, not a global
    * sort: per-doc NLL quantizes to a 1e-3 grid cell (`floor(nll·1000)`),
    * the corpus reduces to (cell → count) — bounded by the NLL range, a few
    * thousand rows regardless of corpus size — and the cut cells are the
    * smallest cells whose cumulative count reaches ⅓ and ⅔ of the corpus
    * (integer arithmetic: `3·cum ≥ total`). A document's bucket then
    * compares its own cell to the two cut cells. At 100 TB this is one
    * map-side-combinable aggregation plus a window over the tiny histogram;
    * a global ntile would be a single-partition sort of the corpus.
    *
    * Cross-engine determinism: the cell id derives from the ROUNDED nll
    * (round(…,6) first — the value both engines agree on), and
    * `round → ×1000 → floor` is pure IEEE double arithmetic, identical in
    * any engine. Quantization shifts the cut by at most one grid cell vs
    * exact tertiles — deterministically, on both sides. */
  def perplexityBuckets(df: org.apache.spark.sql.DataFrame, id: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nll = unigramLogProb(df, id, textCol)
      .select(col(id), col("nll"),
        floor(col("nll") * 1000).cast("long").as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hist = nll.groupBy("cell").agg(count(lit(1)).as("n"))
    // bounded relation (NLL-range ·1000 cells): the single-partition window
    // is over the histogram, never the corpus
    val w = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val cuts = cum.agg(
      min(when(col("cum") * 3 >= col("total"), col("cell"))).as("t1"),
      min(when(col("cum") * 3 >= col("total") * 2, col("cell"))).as("t2"))
    nll.crossJoin(broadcast(cuts))
      .select(col(id), col("nll"),
        when(col("cell") <= col("t1"), lit("head"))
          .when(col("cell") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** All-pairs document similarity by TF–IDF cosine ≥ τ within a blocking
    * key — the sparse-vector near-duplicate detector (Bayardo et al.,
    * WWW'07 problem setting; the lexical complement of q30's dense
    * embedding cosine). `termsCol` is an array column — the vector's term
    * space. Callers choose it to keep the inverted index selective: over a
    * closed vocabulary use n-gram shingles (the q60 rationale — raw tokens
    * would make every doc pair a candidate), over an open vocabulary raw
    * tokens are fine. Weights are tf·ln(N/df); terms present in EVERY
    * document get idf = ln(1) = 0 and drop out of the vector entirely.
    *
    * Scale shape: candidate pairs come from an inverted-index self-join —
    * never a cartesian. The join keys on (block, term) AFTER dropping
    * zero-weight terms, which is exactly the df-head prune: the most
    * ubiquitous terms (the skew heads that would dominate an inverted-index
    * join) contribute nothing to any dot product and never enter the join.
    * Per-doc norms reduce from the same (doc, term, weight) relation. The
    * threshold applies to the ROUNDED cosine (round(…,6) ≥ τ) so the kept
    * set is identical in any engine despite fold-order ulp noise in the
    * dot-product sum. Docs whose every term is corpus-ubiquitous have a
    * zero vector — cosine is undefined — and are excluded from pairing.
    * The harder sharpening (Bayardo prefix filtering) lives in the PPJoin
    * family ([[graft.operators.Dedup.jaccardPairs]]); this operator keeps
    * the exact-cosine semantics those bounds cannot express. */
  def tfidfCosinePairs(df: org.apache.spark.sql.DataFrame, id: String,
                       termsCol: String, blockCol: String,
                       minCosine: Double): org.apache.spark.sql.DataFrame =
    tfidfPairsFromTerms(
      df.select(col(id).as("tc_id"), col(blockCol).as("blk"),
        explode(col(termsCol)).as("t")),
      minCosine)

  /** [[tfidfCosinePairs]] with the term stream built as HASHED n-gram
    * shingles on the codegen'd posexplode + window-lead path — the q76
    * production gram builder. The higher-order `transform`+`element_at`
    * array build is CodegenFallback and re-interprets n element_at calls
    * per gram, and the gram STRING then rides every exchange; here the
    * gram reduces to its [[md5Long]] inside the build expression, so the
    * shuffles, joins, and group keys downstream carry 8-byte longs.
    * Measured at sf0.1 (BenchOne, warm, same session): 11.0 → 2.7 s vs
    * the array path at n = 5. Hash-grouping is exact for the gate: the
    * oracle replays the same md5 arithmetic, and a 60-bit collision would
    * merge two grams in BOTH engines identically. A null token array is
    * an empty one (the short side) under every ANSI setting. */
  def tfidfCosinePairsTokens(df: org.apache.spark.sql.DataFrame, id: String,
                             tokensCol: String, n: Int, blockCol: String,
                             minCosine: Double): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"gram order must be positive, got $n")
    val tok = df.select(col(id).as("tc_id"), col(blockCol).as("blk"),
      coalesce(col(tokensCol), EmptyTokens).as("tk"))
    // gram build on the codegen'd posexplode + get(tk, pos+j) path: the
    // window-lead build this replaces paid a full exchange + per-doc sort
    // of the exploded token stream just to read tk[pos+j] — values the
    // retained array already holds. Generate keeps the array reference
    // inside one whole-stage-codegen span (no per-token array copy, and
    // the array is projected away before the tf reduce's exchange), so
    // the gram stream now costs zero shuffles (guide §2.4/§4; A/B'd in
    // OPTIMIZATION_r20.md).
    val th = tok.where(size(col("tk")) >= n)
      .select(col("tc_id"), col("blk"), col("tk"),
        posexplode(col("tk")).as(Seq("pos", "tok")))
    val longSide = (if (n > 1) th.where(col("pos") <= size(col("tk")) - n) else th)
      .select(col("tc_id"), col("blk"), md5Long(concat_ws(" ",
        col("tok") +: (1 until n).map(j => get(col("tk"), col("pos") + j)): _*)).as("t"))
    val shortSide = tok.where(size(col("tk")) < n)
      .select(col("tc_id"), col("blk"), md5Long(concat_ws(" ", col("tk"))).as("t"))
    tfidfPairsFromTerms(longSide.union(shortSide), minCosine,
      nDocsHint = Some(tok.select(col("tc_id")).distinct().count()))
  }

  /** The shared TF–IDF scoring tail: consumes a (tc_id, blk, t) term
    * OCCURRENCE stream (duplicates = tf), reduces to per-doc tf vectors,
    * prunes the idf = 0 head, and scores candidate pairs off the inverted
    * index. The tf reduce's exchange carries 8-byte hashed terms (the
    * tokens build) with map-side combine — the long/short union above it
    * discards the window's tc_id partitioning, so the exchange is paid
    * once, at the narrow post-combine width. */
  private def tfidfPairsFromTerms(terms: org.apache.spark.sql.DataFrame,
                                  minCosine: Double,
                                  nDocsHint: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    require(minCosine > 0 && minCosine <= 1,
      s"minCosine must be in (0,1], got $minCosine")
    val tf = terms
      .groupBy("tc_id", "blk", "t").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `nDocsHint` lets a caller that KNOWS every input doc contributes a
    // term (the tokens builder — even an empty or null doc yields its
    // short-side whole-array term) count docs on the column-pruned
    // DOC-grain scan instead of a distinct over the corpus-scale tf
    // relation (guide §1; A/B'd in OPTIMIZATION_r20.md). The value is
    // identical by construction; the generic terms-stream entry keeps the
    // exact distinct (docs with empty term arrays must not count there).
    val nDocs = nDocsHint.getOrElse(
      tf.select(col("tc_id")).distinct().count()) // one scalar action
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val weighted = tf.join(dfreq, Seq("t"))
      .where(col("df") < nDocs) // idf=0 terms vanish from every vector
      .select(col("tc_id"), col("blk"), col("t"),
        (col("tf").cast("double") * log(lit(nDocs.toDouble) / col("df")))
          .as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = weighted.groupBy("tc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val pairs = weighted.as("a")
      .join(weighted.as("b"),
        col("a.blk") === col("b.blk") && col("a.t") === col("b.t") &&
          col("a.tc_id") < col("b.tc_id"))
      .groupBy(col("a.tc_id").as("left_id"), col("b.tc_id").as("right_id"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    pairs
      .join(norms.withColumnRenamed("tc_id", "left_id")
        .withColumnRenamed("nrm", "na"), Seq("left_id"))
      .join(norms.withColumnRenamed("tc_id", "right_id")
        .withColumnRenamed("nrm", "nb"), Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Per-slice distribution drift: KL(P_slice ‖ P_corpus) over unigram
    * distributions — the corpus-QA monitor that flags a source/shard whose
    * token mix diverges from the blend (scraper drift, encoding breakage,
    * language contamination) before it trains. Every slice token is by
    * construction in the corpus, so no zero-probability guard is needed.
    *
    * Scale shape: ONE corpus pass builds (slice, token) counts; slice
    * totals, corpus token counts, and the grand total all reduce from that
    * already-aggregated relation (≤ |slices|·|vocab| rows, not the corpus);
    * the grand total rides a single-row broadcast cross join — no driver
    * action anywhere. round(…,6) squashes fold-order ulp noise. */
  def unigramDrift(df: org.apache.spark.sql.DataFrame, sliceCol: String,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    val gc = df.select(col(sliceCol).as("g"), explode(tokens(col(textCol))).as("t"))
      .groupBy("g", "t").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gTot = gc.groupBy("g").agg(sum(col("c")).as("gn"))
    val cTok = gc.groupBy("t").agg(sum(col("c")).as("cc"))
    val tot = gc.agg(sum(col("c")).as("tot"))
    val pS = col("c").cast("double") / col("gn")
    val pC = col("cc").cast("double") / col("tot")
    gc.join(gTot, "g").join(cTok, "t").crossJoin(broadcast(tot))
      .groupBy(col("g").as(sliceCol))
      .agg(max(col("gn")).cast("long").as("n_tokens"),
        round(sum(pS * log(pS / pC)), 6).as("kl"))
  }

  /** Top-k DISTINCTIVE terms per slice, ranked by frequency lift
    * p_slice(t) / p_corpus(t) — the salient-keyword extractor behind
    * per-domain corpus cards. Lift, not tf-idf: its score is a quotient of
    * integer-valued counts, and IEEE division is correctly rounded, so both
    * engines (and every executor) compute bit-identical doubles — an
    * ln()-based idf could flip near-tie rankings by one ulp. Ties break on
    * the term itself.
    *
    * Scale shape: identical to [[unigramDrift]] — one corpus pass to
    * (slice, token) counts, everything else reduces from that aggregate;
    * the rank window partitions by slice over ≤ |slices|·|vocab| rows. */
  def distinctiveTerms(df: org.apache.spark.sql.DataFrame, sliceCol: String,
                       textCol: String, topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    val gc = df.select(col(sliceCol).as("g"), explode(tokens(col(textCol))).as("t"))
      .groupBy("g", "t").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gTot = gc.groupBy("g").agg(sum(col("c")).as("gn"))
    val cTok = gc.groupBy("t").agg(sum(col("c")).as("cc"))
    val tot = gc.agg(sum(col("c")).as("tot"))
    val lift = (col("c").cast("double") / col("gn")) /
      (col("cc").cast("double") / col("tot"))
    val w = Window.partitionBy(col("g")).orderBy(lift.desc, col("t").asc)
    gc.join(gTot, "g").join(cTok, "t").crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("g").as(sliceCol), col("t").as("term"),
        col("rank").cast("long").as("rank"), round(lift, 6).as("lift"))
  }

  /** Per-document token (Shannon) entropy in nats: H = ln(n) − Σc·ln(c)/n
    * over the doc's own token counts — the complement of q49's repetition
    * fraction (low entropy = a few tokens dominate = boilerplate/spam;
    * Gopher-class pipelines gate on both). Also returns the raw counts the
    * entropy reduces from.
    *
    * Scale shape: two shuffles over ALREADY-SHRINKING relations — (id,
    * token) counts (≤ tokens), then per-id reduce (≤ distinct tokens per
    * doc) — no corpus-wide state, no driver action. round(…,6) squashes
    * fold-order ulp noise in the Σc·ln(c) double sum per the repo's
    * convention (the counts themselves are exact integers). */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, id: String,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = df
      .select(col(id).as("te_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("te_id", "tok").agg(count(lit(1)).as("c"))
    val n = sum(col("c")).cast("double")
    counts.groupBy(col("te_id").as(id))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        round(log(n) - sum(col("c").cast("double") * log(col("c").cast("double"))) / n, 6)
          .as("entropy"))
  }

  /** Cross-document n-gram novelty: for each doc, the fraction of its
    * DISTINCT n-gram shingles that appear in no other document — the
    * ExactSubstr-lite signal (Lee et al., arXiv:2107.06499 measure the
    * same thing with a suffix array; at n=8 a shared gram is a verbatim
    * 8-token passage, far beyond chance). novelty 1.0 = fully original,
    * → 0 = assembled from passages that exist elsewhere.
    *
    * Scale shape: grams are built on the codegen'd posexplode + window-lead
    * path (the [[winnowedFingerprints]] shape — the higher-order
    * `transform`+`element_at` [[shingles]] builder is CodegenFallback and
    * measured ~3× slower per gram; rebuilt here round 9, 9.3 → ~2 s at
    * sf0.1) and reduce to [[md5Long]] longs inside the hash call, so the
    * gram string never outlives its expression. The window costs one
    * exchange on the doc id; the per-doc distinct that follows reuses that
    * partitioning (HashPartitioning(id) satisfies the (id, gram) clustered
    * distribution — no second exchange, plan-asserted in
    * TextAnalysisSpec). Cross-doc frequency never joins back to the gram
    * relation: a df=1 gram belongs to exactly ONE doc, so the per-gram
    * reduce carries that owner out (`first` over a single row —
    * deterministic) and the unique-gram rows flow straight into the
    * per-doc reduce alongside the raw gram rows via a union. The round-12
    * shape — groupBy(g) then gram⋈docFreq then groupBy(doc) — shuffled the
    * gram relation three times and built a near-gram-cardinality join hash
    * table; this shape shuffles grams once by g and once,
    * map-side-combined to doc-scale, by doc, and is join-free
    * (plan-asserted). Measured same-session vs the join shape
    * (SCALE.md §Measured scale curve, min over runs): 1.48→1.20 s at
    * sf0.01, 1.70→1.42 s at sf0.1, 8.50→6.76 s at the synthetic 10× corpus
    * — ~20% at every decade, growing at scale with the retired hash table;
    * at sf0.1 in isolation the two are within session noise, so the shape
    * argument, not the bench line, is the reason this wins at 100 TB.
    * Per-doc novelty is an exact quotient of counts
    * (bit-identical everywhere, no rounding needed). Short docs (< n
    * tokens) contribute their whole text as one gram, mirroring
    * [[shingles]] — so the gram-string set, and hence every hash, is
    * identical to the HOF build and the SQL oracle is untouched.
    *
    * Precondition: `id` must identify one physical row. The window build
    * interleaves token streams if an id recurs (the pre-round-9 row-local
    * HOF build kept such rows independent), and the per-doc
    * `dropDuplicates(id, gram)` merges gram counts across same-id rows
    * either way. Feed `dropDuplicates(id)` — or a synthetic unique key —
    * if the input may carry repeated ids.
    *
    * The per-gram reduce's exchange SELF-SIZES from the leaf scan bytes
    * ([[ExchangeWidth]] at [[GramReduceTargetBytesPerPartition]], ~3 MB
    * compressed per partition ≈ 1 M gram rows; never narrower than the
    * session conf, so it is a no-op at bench scale and on a cluster
    * session already sized wider). Round 14
    * A/B'd the widening and called it a WASH — but its "zero agg spill
    * either way" evidence came from the vacuous probe that read a
    * never-executed plan (ADVICE r14). The round-15 re-run with the
    * fixed probe (interleaved,
    * calm-bracketed, SCALE.md §Round 15) reversed it: at the fourth
    * synthetic decade the static session width spills 105-107 GB in the
    * per-gram hash maps vs 44.5 GB widened, and the widened shape runs
    * 1.17-1.65× faster — so the width is now WIRED as the default, not
    * left as opt-in surface.
    *
    * A null text is an empty token array: it lands on the short side as
    * the one empty-string gram under every ANSI setting. */
  def ngramNovelty(df: org.apache.spark.sql.DataFrame, id: String,
                   textCol: String, n: Int = 8): org.apache.spark.sql.DataFrame =
    ngramNoveltyAt(df, id, textCol, n,
      ExchangeWidth.forScan(df, GramReduceTargetBytesPerPartition))

  /** [[ngramNovelty]] with the per-gram reduce at an explicit `width`
    * (test seam: a widened plan at spec scale). */
  private[operators] def ngramNoveltyAt(df: org.apache.spark.sql.DataFrame,
      id: String, textCol: String, n: Int,
      width: Int): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"gram order must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(id).as("nv_id"),
      coalesce(tokens(col(textCol)), EmptyTokens).as("tk"))
    // window-lead build KEPT here (round-20 A/B, 2 sessions,
    // OPTIMIZATION_r20.md §Second measurement pass): the posexplode+get
    // rewrite that won everywhere else LOSES on this operator (q76 read
    // old-minus-new −0.19/−0.29 s) —
    // the per-doc dedup below rides the window's hash exchange for free,
    // where the rewrite made it pay its own aggregate exchange over a
    // gram stream its map-side partial barely shrinks.
    val w = Window.partitionBy("nv_id").orderBy("pos")
    var th = tok.where(size(col("tk")) >= n)
      .select(col("nv_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
    (1 until n).foreach { j => th = th.withColumn(s"t$j", lead(col("tok"), j).over(w)) }
    val longSide = (if (n > 1) th.where(col(s"t${n - 1}").isNotNull) else th)
      .select(col("nv_id"), md5Long(concat_ws(" ",
        col("tok") +: (1 until n).map(j => col(s"t$j")): _*)).as("g"))
      .dropDuplicates("nv_id", "g") // exchange-free: window partitioning reused
    val shortSide = tok.where(size(col("tk")) < n)
      .select(col("nv_id"), md5Long(concat_ws(" ", col("tk"))).as("g"))
    // the per-gram reduce's exchange carries the FULL gram stream into
    // per-task hash maps — width self-sized from the scan bytes (a no-op
    // at bench scale, 105→44 GB less spill and 1.2-1.7× at the fourth
    // decade). Applied before the persist, so the cache stores at that
    // width and the groupBy("g") below reuses the partitioning instead of
    // adding a second exchange.
    val grams = ExchangeWidth.widenForJoin(longSide.union(shortSide), width, col("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // grams is persisted because it feeds BOTH the per-gram reduce and the
    // per-doc reduce (Catalyst never reuses the exchange — measured, see
    // DedupSpec); lifecycle owner: GraftSession.releaseCaches.
    // df=1 ⟹ the group holds one row, so first() IS that gram's one owner
    val uniqueOwners = grams.groupBy("g")
      .agg(count(lit(1)).as("df"), first(col("nv_id")).as("owner"))
      .where(col("df") === 1)
      .select(col("owner").as("nv_id"), lit(1L).as("u"))
    grams.select(col("nv_id"), lit(0L).as("u"))
      .union(uniqueOwners)
      .groupBy(col("nv_id").as(id))
      .agg(count(when(col("u") === 0L, 1)).cast("long").as("n_grams"),
        sum(col("u")).cast("long").as("n_unique"))
      .withColumn("novelty", col("n_unique").cast("double") / col("n_grams"))
  }

  /** ExactSubstr duplicated-span REMOVAL (Lee et al., arXiv:2107.06499 —
    * the deduplication that paper actually ships, where [[ngramNovelty]]
    * is only its per-doc score): every n-token window that occurs at two
    * or more (doc, position) sites corpus-wide marks its span duplicated;
    * overlapping/adjacent spans merge into maximal spans; the cleaned text
    * is the doc with those spans cut out. The paper finds the same spans
    * with a single-machine suffix array; an n-gram window finds exactly
    * the duplicated substrings of length ≥ n (any such substring contains
    * a duplicated n-gram, and every duplicated n-gram is such a
    * substring), which distributes: no suffix array, no global structure —
    * just a gram reduce and a doc reduce.
    *
    * Returns (id, n_tokens, n_removed, n_spans, clean_text).
    * Docs shorter than n tokens carry no window and are never cut
    * (matching the paper: substrings below the match length are ignored).
    * Unlike [[ngramNovelty]] the per-doc gram set is NOT deduped — a gram
    * twice in ONE doc is a duplicated substring too (self-repetition),
    * exactly as the suffix array sees it.
    *
    * Scale shape: grams ride the same posexplode + window-lead build as
    * [[ngramNovelty]] (one exchange on the doc id), then ONE exchange on
    * the gram hash — self-sized like [[ngramNovelty]]'s, persisted at that
    * width because it feeds both the occurrence reduce and the dup-site
    * semi-join; the reduce output stays partitioned on `g`, so the
    * semi-join back (the step q76 avoids but removal fundamentally needs:
    * WHICH sites are duplicated, not how many) adds NO exchange
    * (plan-asserted in TextAnalysisSpec). Dup sites then reduce to
    * doc-grain start-position arrays (bounded by doc length), and the
    * rebuild is a row-local higher-order filter over (tokens, starts) —
    * token q survives iff no duplicated window starts in (q−n, q] — with
    * span count read off the sorted starts (a new span wherever the gap
    * to the previous start exceeds n). No driver action, no
    * corpus-scale sort; the only window is the lead build's per-doc one.
    *
    * Reference scope note: the cashback reference has no corpus dedup at
    * all (its text surface is `api.py:122-132` description cleanup); this
    * generalizes the repo's dedup family to span grain.
    *
    * COLLISION TRADEOFF (destructive, so stated precisely): duplication is
    * keyed on the 60-bit [[graft.functions.Md5LongFunction.md5Long]] gram
    * hash, and here — unlike [[ngramNovelty]]/q76, where a collision only
    * perturbs a score — a false-positive "duplicated" gram CUTS ≥ n tokens
    * of innocent text. Expected colliding gram pairs among G distinct
    * grams ≈ G²/2⁶¹: negligible below ~10⁹ grams (< 1 collision), and at a
    * 100 TB corpus (~10¹³ gram sites) ≈ 4×10⁷ pairs — a few PPM of grams
    * spuriously removed. That is in-noise for training-data curation (the
    * paper's own span finding is heuristic at the boundaries) but NOT
    * lossless. When lossless removal is required, pass
    * `hashGrams = false`: grams are then keyed by their VALUE (the n-token
    * string itself) — zero false positives, at the cost of the gram
    * exchange carrying ~n tokens per site instead of 8 bytes (the
    * self-sized width scales accordingly; equivalence on collision-free
    * data is spec-asserted). */
  def exactSubstrRemove(df: org.apache.spark.sql.DataFrame, id: String,
                        textCol: String, n: Int = 8,
                        hashGrams: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"window length must be positive, got $n")
    val tok = df.select(col(id).as("es_id"), tokens(col(textCol)).as("tk"))
    // one exchange on g serves both consumers: the occurrence reduce
    // preserves HashPartitioning(g), so the semi-join back is
    // exchange-free on both sides (the persisted cache holds the
    // partitioning; Catalyst never reuses the exchange otherwise).
    val sites = ExchangeWidth.widenForJoin(esGramSites(tok, n, hashGrams),
        ExchangeWidth.forScan(df, GramReduceTargetBytesPerPartition), col("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lifecycle owner: GraftSession.releaseCaches
    val dupGrams = sites.groupBy("g").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= 2).select("g")
    val starts = sites.join(dupGrams, Seq("g"), "left_semi")
      .groupBy("es_id").agg(sort_array(collect_list(col("pos"))).as("st"))
    esRebuild(tok, starts, n, id)
  }

  /** Cross-corpus ExactSubstr removal — the incremental-ingest variant of
    * [[exactSubstrRemove]], shaped like q62 is to q24: clean a NEW batch
    * against a FROZEN corpus, cutting every batch span of ≥ n tokens that
    * appears anywhere in the corpus. Frozen-corpus semantics: only
    * corpus-side occurrences make a batch gram duplicated — batch-internal
    * repeats are deliberately NOT counted here (that is
    * [[exactSubstrRemove]]'s job on the batch, and the two compose);
    * corpus docs themselves are never touched or emitted.
    *
    * Passing a BENCHMARK suite as `corpus` makes this span-level test-set
    * DECONTAMINATION — the removal counterpart of [[contaminationHits]]'s
    * flagging (cut the leaked passage, keep the document), with the same
    * machinery and oracle story. The frozen corpus makes each doc's result
    * batch-invariant: cleaning two halves of a batch ≡ cleaning the whole
    * batch (TextAnalysisSpec).
    *
    * The 60-bit gram-hash collision tradeoff documented on
    * [[exactSubstrRemove]] applies identically (a colliding batch gram is
    * spuriously cut); `hashGrams = false` keys on gram values for
    * lossless removal, on both sides symmetrically.
    *
    * Scale shape: the corpus contributes only its DISTINCT gram hashes —
    * one window build plus one self-sized map-side-combined reduce
    * (boilerplate grams collapse early), no positions carried; the batch's
    * gram sites then attach by an INNER join with NO forced hint: when the
    * batch is genuinely small (the nightly case) AQE converts the join to
    * a broadcast of the batch side at runtime — the corpus gram stream is
    * probed in place, zero extra corpus exchange (executed-plan-asserted
    * in TextAnalysisSpec) — while a corpus-sized "batch" degrades to a
    * widened shuffle join instead of an impossible forced broadcast.
    * Rebuild identical to [[exactSubstrRemove]]'s. Output rows are the
    * batch docs only, same schema. */
  def exactSubstrRemoveAgainst(batch: org.apache.spark.sql.DataFrame,
                               corpus: org.apache.spark.sql.DataFrame,
                               id: String, textCol: String, n: Int = 8,
                               hashGrams: Boolean = true): org.apache.spark.sql.DataFrame = {
    val corpusGrams = corpusGramHashes(corpus, id, textCol, n, hashGrams)
    val tok = batch.select(col(id).as("es_id"), tokens(col(textCol)).as("tk"))
    val batchSites = esGramSites(tok, n, hashGrams)
    val starts = batchSites.join(corpusGrams, Seq("g"))
      .groupBy("es_id").agg(sort_array(collect_list(col("pos"))).as("st"))
    esRebuild(tok, starts, n, id)
  }

  /** The frozen corpus's DISTINCT gram keys (single column `g`) — the
    * corpus side of [[exactSubstrRemoveAgainst]] and
    * [[contaminationReport]]: one window build plus one self-sized gram
    * reduce. */
  private def corpusGramHashes(corpus: org.apache.spark.sql.DataFrame,
                               id: String, textCol: String, n: Int,
                               hashGrams: Boolean): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"window length must be positive, got $n")
    val corpusTok = corpus.select(col(id).as("es_id"), tokens(col(textCol)).as("tk"))
    ExchangeWidth.widenForJoin(esGramSites(corpusTok, n, hashGrams).select("g"),
        ExchangeWidth.forScan(corpus, GramReduceTargetBytesPerPartition), col("g"))
      .distinct()
  }

  /** Contamination REPORT — the audit twin of [[exactSubstrRemoveAgainst]]
    * with the roles flipped: for every HELD-OUT doc (eval/benchmark item),
    * quantify how much of it leaks into the training corpus at span grain.
    * [[contaminationHits]] answers "which corpus docs are tainted" (drop
    * grain) and q94 cuts leaked spans out of a batch; this answers the
    * eval owner's question — "how badly is MY test set leaked, and where"
    * — per held-out doc:
    *
    *   - `n_tokens`: the doc's token count;
    *   - `leaked_sites`: its n-gram windows that occur anywhere in the
    *     corpus (each a (pos, gram) site);
    *   - `leaked_tokens`: tokens covered by the union of leaked windows —
    *     exactly what [[exactSubstrRemoveAgainst]] would cut;
    *   - `leaked_spans`: maximal contiguous leaked spans (windows merge
    *     iff the gap between consecutive starts is ≤ n, as in the removal
    *     family's span count);
    *   - `max_span_tokens`: the longest single leaked span — the headline
    *     stat (a 200-token verbatim leak is a different problem from 20
    *     scattered 8-gram brushes with boilerplate).
    *
    * Every held-out doc appears (zeros when clean) — a report with absent
    * rows is ambiguous. Docs shorter than n carry no window and report
    * clean. The gram-hash collision tradeoff documented on
    * [[exactSubstrRemove]] applies in its BENIGN form here (a collision
    * only inflates a count — nothing is cut); `hashGrams = false` keys by
    * value for exact counts.
    *
    * Scale shape: identical to [[exactSubstrRemoveAgainst]] with the
    * sides swapped — the corpus (the big side) contributes only its
    * DISTINCT gram keys; the held-out suite is eval-sized, so its site
    * build, the attach join (AQE broadcasts the suite side), and the
    * per-doc stats are all answer-scale. All five
    * stats are row-local reads of the sorted start array — the
    * interval-merge scan runs inside one higher-order `aggregate`, no
    * second shuffle, no driver action. */
  def contaminationReport(heldOut: org.apache.spark.sql.DataFrame,
                          corpus: org.apache.spark.sql.DataFrame,
                          id: String, textCol: String, n: Int = 8,
                          hashGrams: Boolean = true): org.apache.spark.sql.DataFrame = {
    val corpusGrams = corpusGramHashes(corpus, id, textCol, n, hashGrams)
    val tok = heldOut.select(col(id).as("es_id"), tokens(col(textCol)).as("tk"))
    val sites = esGramSites(tok, n, hashGrams)
    val starts = sites.join(corpusGrams, Seq("g"))
      .groupBy("es_id").agg(sort_array(collect_list(col("pos"))).as("st"))
    val joined = tok.join(starts, Seq("es_id"), "left")
      .withColumn("st", coalesce(col("st"), array().cast("array<int>")))
    // covered tokens / span count: the same row-local reads as esRebuild
    val leaked = filter(col("tk"), (t, q) =>
      exists(col("st"), p => p <= q && q < p + n))
    val spans = when(size(col("st")) <= 1, size(col("st")).cast("long"))
      .otherwise(lit(1L) + size(filter(sequence(lit(2), size(col("st"))), i =>
        element_at(col("st"), i) > element_at(col("st"), i - lit(1)) + n)).cast("long"))
    // longest merged interval: one left-to-right scan of the sorted starts
    // carrying (first start of the current run, last start seen, best
    // closed run); a run closes when the next start opens a gap > n
    val maxSpan = when(size(col("st")) === 0, lit(0L)).otherwise(aggregate(
      slice(col("st"), lit(2), greatest(size(col("st")) - 1, lit(0))),
      struct(element_at(col("st"), 1).as("first"),
        element_at(col("st"), 1).as("last"), lit(0).as("best")),
      (acc, p) => struct(
        when(p > acc("last") + n, p).otherwise(acc("first")).as("first"),
        p.as("last"),
        when(p > acc("last") + n,
          greatest(acc("best"), acc("last") + n - acc("first")))
          .otherwise(acc("best")).as("best")),
      acc => greatest(acc("best"), acc("last") + n - acc("first")).cast("long")))
    joined.select(col("es_id").as(id),
      size(col("tk")).cast("long").as("n_tokens"),
      size(col("st")).cast("long").as("leaked_sites"),
      size(leaked).cast("long").as("leaked_tokens"),
      spans.as("leaked_spans"),
      maxSpan.as("max_span_tokens"))
  }

  /** Shared gram-site build for the ExactSubstr family: (es_id, pos, g)
    * for every n-token window, on the codegen'd posexplode + window-lead
    * path (see [[ngramNovelty]]'s scaladoc for why this beats the
    * higher-order builder). Docs shorter than n yield no row. `hash`
    * picks the gram key: the 60-bit md5Long (8 bytes/site, PPM-level
    * birthday collisions at 10¹³ grams — see [[exactSubstrRemove]]) or
    * the raw n-token string (collision-free, ~n tokens/site). */
  private def esGramSites(tok: org.apache.spark.sql.DataFrame,
                          n: Int, hash: Boolean = true): org.apache.spark.sql.DataFrame = {
    // codegen'd posexplode + get(tk, pos+j) build — the window-lead shape
    // this replaces paid an exchange + per-doc sort of the token stream to
    // read values the retained array already holds (see
    // [[tfidfCosinePairsTokens]]; A/B'd in OPTIMIZATION_r20.md). The gram
    // projection drops `tk` before any exchange, so only (es_id, pos, g)
    // ever shuffles.
    val th = tok.where(size(col("tk")) >= n)
      .select(col("es_id"), col("tk"), posexplode(col("tk")).as(Seq("pos", "tok")))
    val gram = concat_ws(" ",
      col("tok") +: (1 until n).map(j => get(col("tk"), col("pos") + j)): _*)
    (if (n > 1) th.where(col("pos") <= size(col("tk")) - n) else th)
      .select(col("es_id"), col("pos"),
        (if (hash) md5Long(gram) else gram).as("g"))
  }

  /** Shared rebuild for the ExactSubstr family: left-join the duplicated
    * start arrays back at doc grain and cut covered tokens row-locally
    * (token q survives iff no duplicated window starts in (q−n, q]);
    * span count is the gaps-and-islands read of the sorted starts. */
  private def esRebuild(tok: org.apache.spark.sql.DataFrame,
                        starts: org.apache.spark.sql.DataFrame,
                        n: Int, id: String): org.apache.spark.sql.DataFrame = {
    val joined = tok.join(starts, Seq("es_id"), "left")
      .withColumn("st", coalesce(col("st"), array().cast("array<int>")))
    val kept = filter(col("tk"), (t, q) =>
      !exists(col("st"), p => p <= q && q < p + n))
    // spans merge iff the next start begins inside-or-adjacent-to the
    // previous window: a gap opens only when st(i) > st(i-1) + n.
    val spans = when(size(col("st")) <= 1, size(col("st")).cast("long"))
      .otherwise(lit(1L) + size(filter(sequence(lit(2), size(col("st"))), i =>
        element_at(col("st"), i) > element_at(col("st"), i - lit(1)) + n)).cast("long"))
    joined.select(col("es_id").as(id),
      size(col("tk")).cast("long").as("n_tokens"),
      (size(col("tk")) - size(kept)).cast("long").as("n_removed"),
      spans.as("n_spans"),
      array_join(kept, " ").as("clean_text"))
  }

  /** DSIR-style importance score (Xie et al., arXiv:2302.03169): per doc,
    * the mean token log-ratio ln(p_target/p_corpus) between a target
    * slice's unigram LM (add-one smoothed — target misses tokens) and the
    * corpus LM — rank by it and keep the top mass to tilt a generic corpus
    * toward a target domain. Positive = reads like the target.
    *
    * Scale shape: ONE corpus pass builds (token, corpus-count,
    * target-count); totals and vocabulary reduce from that vocab-sized
    * relation (its scan doubles as the persist materializer); the corpus
    * side then joins the tiny frequency table (broadcast) and reduces per
    * doc. round(…,6) on the averaged log-ratio per the repo convention. */
  def dsirScore(df: org.apache.spark.sql.DataFrame, id: String,
                textCol: String, isTarget: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(id).as("ds_id"), isTarget.as("is_t"),
      explode(tokens(col(textCol))).as("tok"))
    val freq = toks.groupBy("tok")
      .agg(count(lit(1)).as("cf"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = freq.agg(sum(col("cf")), sum(col("tf")), count(lit(1))).head()
    val (cTot, tTot, vocab) = (t.getLong(0), t.getLong(1), t.getLong(2))
    toks.join(freq, Seq("tok"))
      .groupBy(col("ds_id").as(id))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(avg(
          log((col("tf") + lit(1.0)) / lit((tTot + vocab).toDouble))
            - log(col("cf").cast("double") / lit(cTot.toDouble))), 6)
          .as("dsir_score"))
  }

  /** Collapse immediate token repetitions ("the the the" → "the") — the
    * OCR/scrape de-stutter cleaner. Position-wise, not sequential: token i
    * survives iff it differs from token i−1, which collapses ANY run to its
    * first element in one pass (a kept token's predecessor in the original
    * equals it only inside a run). Pure per-row lambda over an array
    * attribute — no shuffle, and the caller must pass an attribute, not an
    * inline split (the no-CSE-in-lambdas rule). */
  def collapseRepeats(tokens: Column): Column =
    filter(tokens, (t, i) => i === 0 || t =!= element_at(tokens, i))

  /** ~32 MB of compressed scan bytes per partition for exchanges that
    * carry the full token stream — the arithmetic spill boundary, NOT a
    * measured optimum. The measured result is a NEGATIVE one, re-confirmed
    * in round 15 with the FIXED spill probe (the round-14 "zero spill"
    * reads came from a never-executed plan — ADVICE r14): at the fourth
    * synthetic decade (817 MB parquet, 270 M tokens) the q40 plan spills
    * ~8.7 GB in the per-doc window sort IN BOTH SHAPES — the spill is
    * width-invariant at the widths A/B'd (the per-DOC sort is bounded by
    * doc length × window, not by partition count alone) — and the widened
    * vs unwidened wall clocks stay a wash under interleaved
    * calm-bracketed A/B (round 15: 32.1 vs 33.6 s, ratio 1.05; round 14:
    * ratios 0.62-1.32 in host noise). So the width deliberately does NOT
    * engage in any regime measured so far; it exists for the regime the
    * arithmetic says the sort volume itself explodes — exploded bytes ≈
    * 13× compressed (snappy ~3× × UnsafeRow ~4×), so 32 MB compressed ≈
    * 420 MB in the sort per task. The [[ExchangeWidth]] target for
    * [[winnowedFingerprints]] and the tiled cosine self-join. */
  private[operators] val ScanStreamTargetBytesPerPartition: Long = 32L << 20

  /** ~3 MB of compressed scan bytes per partition for the PER-GRAM REDUCE
    * exchange (≈ 1 M gram rows at the corpus's measured ~3 B/token
    * compressed) — [[ngramNovelty]]'s width driver, the fitted twin of
    * [[Dedup.PairJoinTargetOccPerPartition]]'s 0.75 M-rows target. Unlike
    * [[ScanStreamTargetBytesPerPartition]] (an arithmetic insurance
    * bound), this one is MEASURED: at the fourth synthetic decade the
    * static session width packs ~8 M gram rows per task hash map and
    * spills 105-107 GB; ~1 M rows/partition spills 44.5 GB and runs
    * 1.17-1.65× faster (measured with the fixed spill probe, SCALE.md
    * §Round 15). */
  private[operators] val GramReduceTargetBytesPerPartition: Long = 3L << 20

  /** Content fingerprint for exact dedup: md5 of the normalized body. */
  def fingerprintMd5(text: Column): Column = md5(lower(trim(text)))

  def fingerprintSha256(text: Column): Column = sha2(lower(trim(text)), 256)

  /** Cross-engine 60-bit content hash: the first 15 hex digits of md5 as a
    * non-negative long. md5 is md5 in every engine, and 15 hex digits always
    * fit a signed 64-bit int, so any SQL engine computes the identical value
    * (DuckDB: `('0x' || substr(md5(x), 1, 15))::BIGINT`) — which makes every
    * operator built on it hard-oracle-able, unlike xxhash64.
    *
    * Computed by the native [[graft.functions.Md5Long]] expression (60 bits
    * straight off the digest bytes, codegen'd) — bit-identical to the
    * built-in `conv(substring(md5(c),1,15),16,10)::long` route it replaces
    * (spec-asserted), minus the per-row hex-string round trip and base-16
    * string parse. */
  def md5Long(c: Column): Column = graft.functions.Md5LongFunction.md5Long(c)

  /** Rolling polynomial hash (Rabin-Karp style) over the token stream —
    * basis for winnowing-style fingerprints. A left fold over md5-hashed
    * tokens mod p = 2^31−1: acc·base + h stays under 2^52, so the arithmetic
    * is exact (no wrapping) and any engine reproduces it bit-for-bit. */
  def rollingHash(text: Column): Column = {
    val base = 1000003L
    val p = lit(2147483647L) // 2^31 - 1
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * base + pmod(md5Long(t), p), p))
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03
    * variant, k = 3, w = 4): k-gram hashes via posexplode + window-lead
    * (codegen'd, the k-gram string exists only inside the hash call), then
    * keep each hash that is the minimum of the w-window ending at its
    * position — a deterministic cover of every w-window's minimum, so any
    * match of ≥ w+k-1 consecutive tokens between two docs shares a
    * fingerprint. Returns (id, fp) rows, distinct per doc. Gram hash is the
    * cross-engine [[md5Long]], so a SQL oracle reproduces the fingerprints
    * exactly.
    *
    * Scale shape: one exchange on the doc id + a per-doc sort (the window);
    * output is O(n/w) of the k-gram stream — the standard plagiarism/near-
    * dup index build. The exchange carries the FULL token stream; its
    * width comes from the scan bytes
    * ([[ScanStreamTargetBytesPerPartition]] — insurance against the
    * regime where the sort volume itself explodes,
    * deliberately a no-op at every scale measured so far; the per-doc
    * sort DOES spill ~8.7 GB at the fourth decade but identically in
    * both A/B shapes and at a wall-time wash — see its scaladoc for the
    * round-15 re-measurement and the round-14 A/B that REJECTED an eager
    * 4 MB/partition target). When it widens, the widening exchange IS
    * the window's own hash exchange and the final distinct reuses it —
    * one exchange total, spec-asserted, never narrower than the session
    * conf. */
  def winnowedFingerprints(df: org.apache.spark.sql.DataFrame, id: String,
                           tokensCol: String): org.apache.spark.sql.DataFrame =
    winnowedFingerprintsAt(df, id, tokensCol,
      ExchangeWidth.forScan(df, ScanStreamTargetBytesPerPartition))

  /** [[winnowedFingerprints]] with the doc-grain exchange at an explicit
    * `width` (test seam: a widened plan at spec scale). */
  private[operators] def winnowedFingerprintsAt(df: org.apache.spark.sql.DataFrame,
      id: String, tokensCol: String,
      width: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 3 // gram length
    val w = 4 // window length
    // gram build on the codegen'd posexplode + get(tk, pos+j) path (see
    // [[tfidfCosinePairsTokens]]): drops the k−1 lead window functions the
    // old shape computed over the sorted stream, and moves the widening
    // exchange to DOC grain — each token array crosses once instead of one
    // row per token, and the rolling-min window's own exchange/sort sees
    // only slim (wf_id, pos, gh) rows (A/B'd in OPTIMIZATION_r20.md).
    val grams = ExchangeWidth.widenForJoin(
        df.select(col(id).as("wf_id"), col(tokensCol).as("tk")),
        width, col("wf_id"))
      .select(col("wf_id"), col("tk"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .where(col("pos") <= size(col("tk")) - k)
      .select(col("wf_id"), col("pos"),
        md5Long(concat_ws(" ", col("tok") +: (1 until k).map(j =>
          get(col("tk"), col("pos") + j)): _*)).as("gh"))
    val win = Window.partitionBy("wf_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    grams.withColumn("wmin", min(col("gh")).over(win))
      .where(col("gh") === col("wmin"))
      .select(col("wf_id").as(id), col("gh").as("fp"))
      .distinct()
  }
}
