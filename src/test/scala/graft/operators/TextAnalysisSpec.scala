package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("winnowed fingerprints: deterministic, compressive, and shared by near-dup docs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tok")).cache()
    val fp = TextAnalysis.winnowedFingerprints(docs, "doc_id", "tok").cache()
    val nGrams = docs.select(col("doc_id"), explode(col("tok"))).count()
    assert(fp.count() > 0 && fp.count() < nGrams / 2, "winnowing must compress the gram stream")
    // identical token streams produce identical fingerprint sets
    val a = fp.where(col("doc_id") === 0).select("fp").as[Long].collect().toSet
    val again = TextAnalysis.winnowedFingerprints(docs, "doc_id", "tok")
      .where(col("doc_id") === 0).select("fp").as[Long].collect().toSet
    assert(a === again && a.nonEmpty)
  }
  import spark.implicits._

  test("bm25 top-k matches the hand-computed Okapi formula on a fixture") {
    val docs = Seq(
      (1L, "dup spark spark x"),
      (2L, "spark join join join"),
      (3L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      terms = Seq("dup", "spark", "join"), topK = 10)
      .select("doc_id", "dl", "score", "rk")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    // N=3, Σdl=11, df(dup)=1, df(spark)=2, df(join)=1
    val (n, avgdl, k1, b) = (3L, 11.0 / 3, 1.2, 0.75)
    def idf(dfT: Long) = math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
    def ts(tf: Long, dfT: Long, dl: Long) =
      idf(dfT) * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl))
    def score(tfs: Seq[(Long, Long)], dl: Long) =
      BigDecimal(tfs.map { case (tf, d) => ts(tf, d, dl) }.reduce(_ + _))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp1 = score(Seq((1L, 1L), (2L, 2L), (0L, 1L)), 4L)
    val exp2 = score(Seq((0L, 1L), (1L, 2L), (3L, 1L)), 4L)
    assert(out.map(_._1).toSeq === Seq(1L, 2L), "doc 3 has no term and no score")
    assert(out(0)._3 === exp1 && out(1)._3 === exp2)
    // doc 2's tf=3 on rare 'join' beats doc 1's single rare 'dup' hit
    assert(out(0)._4 === 2L && out(1)._4 === 1L && exp2 > exp1)
  }

  test("bigram NLL: add-one-smoothed order-2 LM on a fixture; <2-token docs absent") {
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "z")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // bigrams: doc1 (a,b),(b,a); doc2 (b,a) → c(a,b)=1 c(b,a)=2; ctx a=1 b=2
    // vocab = {a, b, z} → V=3 (the lone-token doc still counts toward V)
    val p_ab = (1.0 + 1) / (1 + 3); val p_ba = (2.0 + 1) / (2 + 3)
    val exp1 = r6((-math.log(p_ab) - math.log(p_ba)) / 2)
    val exp2 = r6(-math.log(p_ba))
    assert(out.toSeq === Seq((1L, 2L, exp1), (2L, 1L, exp2)),
      "doc 3 has no bigram and must be absent")
    // the doc containing the rarer transition scores higher NLL
    assert(exp1 > exp2)
  }

  test("unigram drift: per-slice KL vs corpus distribution on a fixture; zero for a lone slice") {
    val docs = Seq((1L, "s1", "a a b"), (2L, "s2", "b b b c"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.unigramDrift(docs, "source", "text")
      .as[(String, Long, Double)].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // corpus: a=2 b=4 c=1, tot=7; s1: a=2 b=1 gn=3; s2: b=3 c=1 gn=4
    val kl1 = r6(2.0 / 3 * math.log((2.0 / 3) / (2.0 / 7)) +
                 1.0 / 3 * math.log((1.0 / 3) / (4.0 / 7)))
    val kl2 = r6(3.0 / 4 * math.log((3.0 / 4) / (4.0 / 7)) +
                 1.0 / 4 * math.log((1.0 / 4) / (1.0 / 7)))
    assert(out.toSeq === Seq(("s1", 3L, kl1), ("s2", 4L, kl2)))
    assert(kl1 > 0 && kl2 > 0, "diverging slices have strictly positive KL")
    // a single slice IS the corpus distribution → KL exactly 0
    val lone = TextAnalysis.unigramDrift(
      Seq((1L, "s1", "a b b")).toDF("doc_id", "source", "text"), "source", "text")
      .as[(String, Long, Double)].collect()
    assert(lone.toSeq === Seq(("s1", 3L, 0.0)))
  }

  test("distinctive terms: lift ranking with term-asc tie-break") {
    val docs = Seq((1L, "s1", "a a b"), (2L, "s2", "b c"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.distinctiveTerms(docs, "source", "text", topK = 1)
      .as[(String, String, Long, Double)].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // corpus: a=2 b=2 c=1 tot=5; lift(s1,a)=(2/3)/(2/5)=5/3; lift(s2,c)=(1/2)/(1/5)=5/2
    assert(out.toSeq === Seq(("s1", "a", 1L, r6(5.0 / 3)), ("s2", "c", 1L, 2.5)))
    // equal lifts (every token once, one slice) break ties on the term
    val tie = TextAnalysis.distinctiveTerms(
      Seq((1L, "s1", "b a")).toDF("doc_id", "source", "text"), "source", "text", 1)
      .as[(String, String, Long, Double)].collect()
    assert(tie.toSeq === Seq(("s1", "a", 1L, 1.0)))
  }

  test("drift/distinctive-terms plans: stats reduce from ONE corpus token pass") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Seq(
      TextAnalysis.unigramDrift(docs, "source", "text"),
      TextAnalysis.distinctiveTerms(docs, "source", "text", 3)
    ).foreach { q =>
      val plan = q.queryExecution.executedPlan.toString
      // the (slice, token) aggregate is persisted and every downstream
      // stat (slice totals, corpus counts, grand total) reads the CACHE —
      // the corpus token explode materializes once, not per stat
      val cacheReads = plan.split("\n").count(_.contains("InMemoryTableScan"))
      assert(cacheReads >= 3,
        s"expected ≥3 reads of the cached token aggregate, got $cacheReads:\n$plan")
      assert(!plan.replaceAll("(?s)InMemoryRelation.*", "").contains("Generate explode"),
        s"no token explode may run outside the cached aggregate:\n$plan")
    }
  }

  test("de-stutter collapses every run to its first token and is idempotent") {
    val rows = Seq("a a a b b c", "x", "", "y y", "a b a b")
      .toDF("t").select(split(col("t"), " ").as("tok"))
    val out = rows.select(
      array_join(TextAnalysis.collapseRepeats(col("tok")), " ").as("once"),
      array_join(TextAnalysis.collapseRepeats(
        TextAnalysis.collapseRepeats(col("tok"))), " ").as("twice"))
      .as[(String, String)].collect()
    assert(out.map(_._1).toSeq === Seq("a b c", "x", "", "y", "a b a b"),
      "runs collapse, non-adjacent repeats survive")
    assert(out.forall(r => r._1 === r._2), "collapsing is idempotent")
  }

  test("unigram NLL: corpus-frequency language-model proxy on a fixture") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // freq: a=2 b=2 c=1, total=5
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp1 = r6((-math.log(2.0 / 5) * 3) / 3)
    val exp2 = r6((-math.log(2.0 / 5) - math.log(1.0 / 5)) / 2)
    assert(out.toSeq === Seq((1L, 3L, exp1), (2L, 2L, exp2)))
    // the rare-token doc reads as less likely under the corpus LM
    assert(exp2 > exp1)
  }

  test("token counts agree with n_chars bookkeeping on the documents table") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bad = docs.where(length(col("text")) =!= col("n_chars")).count()
    assert(bad === 0)
    val stats = docs.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.distinctTokenCount(col("text")).as("d")).collect()
    assert(stats.forall(r => r.getLong(1) <= r.getLong(0)))
  }

  test("repetition fraction: hand-computed bigram/trigram dup shares") {
    val out = Seq("a b a b c", "x x x x", "solo").toDF("t")
      .select(col("t"),
        TextAnalysis.dupNgramFraction(TextAnalysis.tokens(col("t")), 2).as("d2"),
        TextAnalysis.dupNgramFraction(TextAnalysis.tokens(col("t")), 3).as("d3"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // "a b a b c": bigrams [a b, b a, a b, b c] -> 1 - 3/4; trigrams all distinct
    assert(out("a b a b c") === (0.25, 0.0))
    // "x x x x": bigrams [x x, x x, x x] -> 1 - 1/3; trigrams [x x x]×2 -> 1/2
    assert(out("x x x x") === (0.666667, 0.5))
    // below n tokens: single whole-text gram, never a repeat
    assert(out("solo") === (0.0, 0.0))
  }

  test("decontamination: only docs sharing an n-gram with the benchmark are flagged") {
    val corpus = Seq(
      (10L, "one two three four five six"),  // shares "two three four" run
      (11L, "totally different words here"),
      (12L, "three four five and more")      // shares only a 3-token run
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "zero one two three four five")).toDF("doc_id", "text")
    val hits = TextAnalysis.contaminationHits(corpus, bench, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    // doc 10 shares 4-grams "one two three four" + "two three four five"
    assert(hits === Map(10L -> 2L), s"got $hits")
    // a stricter gram kills the partial overlap too
    val strict = TextAnalysis.contaminationHits(corpus, bench, "doc_id", "text", n = 6)
      .as[(Long, Long)].collect().toMap
    assert(strict === Map.empty[Long, Long])
  }

  test("decontamination: hashed-gram path flags the identical hit sets") {
    // the default joins on md5Long(gram) (8-byte keys — the 100 TB shape);
    // the raw-string path must agree doc-for-doc and count-for-count
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.where(col("doc_id") >= 10)
    val bench = docs.where(col("doc_id") < 10)
    val hashed = TextAnalysis.contaminationHits(corpus, bench, "doc_id", "text", n = 4)
      .as[(Long, Long)].collect().toMap
    val strings = TextAnalysis.contaminationHits(corpus, bench, "doc_id", "text",
        n = 4, hashGrams = false)
      .as[(Long, Long)].collect().toMap
    assert(hashed.nonEmpty, "fixture corpus must produce contamination hits")
    assert(hashed === strings)
  }

  test("token vocabulary: ranked by freq desc with deterministic tie-break, corpus-complete counts") {
    val docs = Seq("a b a", "b a c").toDF("text")
    val v = TextAnalysis.tokenVocabulary(docs, "text", topK = 2)
      .as[(String, Long, Long)].collect().toSeq
    // a appears 3x, b 2x; c is cut at topK=2
    assert(v === Seq(("a", 3L, 1L), ("b", 2L, 2L)))
    // tie-break: equal freq ranks by token ascending
    val tie = TextAnalysis.tokenVocabulary(Seq("z y").toDF("text"), "text", 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(tie === Seq(("y", 1L, 1L), ("z", 1L, 2L)))
  }

  test("plan shape: decontamination broadcasts the benchmark gram set") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.contaminationHits(
      docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
      "doc_id", "text", n = 4)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the small benchmark side must broadcast — the corpus may not shuffle on grams:\n$plan")
  }

  test("ngrams keeps duplicate occurrences that shingles collapses") {
    val tok = Seq(Seq("a", "b", "a", "b")).toDF("tok")
    val g = tok.select(TextAnalysis.ngrams(col("tok"), 2).as("g"),
      TextAnalysis.shingles(col("tok"), 2).as("s"))
      .as[(Seq[String], Seq[String])].collect().head
    assert(g._1 === Seq("a b", "b a", "a b"))
    assert(g._2 === Seq("a b", "b a"))
  }

  test("subword tokenizer splits punctuation and digits off words") {
    val out = Seq("Hello, world! abc123").toDF("t")
      .select(TextAnalysis.subwordTokens(col("t")).as("tok"))
      .as[Seq[String]].collect().head
    assert(out === Seq("hello", ",", "world", "!", "abc", "123"))
  }

  test("quality score is in [0,1] and penalizes degenerate docs") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and keeps running for a while longer today",
      "a a a a a a a a",
      "!!!! ???? ####").toDF("t")
      .select(TextAnalysis.qualityScore(col("t"), Seq("the", "a")).as("q"))
    val qs = df.as[Double].collect()
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
    assert(qs(0) > qs(1), "repetitive doc should score below diverse doc")
    assert(qs(0) > qs(2), "punctuation soup should score below prose")
  }

  test("rolling hash is order-sensitive and deterministic") {
    val h = Seq("a b c", "c b a", "a b c").toDF("t")
      .select(TextAnalysis.rollingHash(col("t")).as("h")).as[Long].collect()
    assert(h(0) === h(2))
    assert(h(0) !== h(1))
  }

  test("fingerprints normalize case/whitespace") {
    val fps = Seq("Hello World", "  hello world  ").toDF("t")
      .select(TextAnalysis.fingerprintMd5(lower(col("t"))).as("f")).as[String].collect()
    assert(fps(0) === fps(1))
  }

  test("token entropy: ln(k) for uniform docs, 0 for constant docs, between otherwise") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, "a a a b"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 4L, 4L, math.rint(math.log(4) * 1e6) / 1e6)))
    assert(out(2L)._4 === 0.0 && out(2L)._3 === 1L)
    assert(out(3L)._4 > 0.0 && out(3L)._4 < math.log(2) + 1e-9,
      "3+1 split entropy must sit strictly between constant and uniform-over-2")
  }

  test("ngram novelty: clones score 0, originals 1, overlap in between") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h i j"), // cloned twice → every gram shared
      (2L, "a b c d e f g h i j"),
      (3L, "q r s t u v w x y z"), // fully original
      (4L, "a b c d e f g h zz qq")) // shares a prefix of grams with 1/2
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(df, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 === 0.0 && out(2L)._4 === 0.0)
    assert(out(3L)._4 === 1.0)
    assert(out(4L)._4 > 0.0 && out(4L)._4 < 1.0)
    // doc of 10 tokens has 3 8-grams
    assert(out(1L)._2 === 3L)
    graft.GraftSession.releaseCaches(spark)
  }

  test("ngram novelty: docs shorter than n survive as one whole-text gram") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(df, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.size === 3 && out(1L)._4 === 0.0 && out(3L)._4 === 1.0)
    intercept[IllegalArgumentException] {
      TextAnalysis.ngramNovelty(df, "doc_id", "text", n = 0)
    }
    graft.GraftSession.releaseCaches(spark)
  }

  test("null token arrays: novelty and tfidf token pairs agree under ANSI on and off") {
    import spark.implicits._
    // under ANSI on, size(null) is NULL: a null doc used to fall on neither
    // side of the long/short gram split while nDocsHint still counted it
    val docs = Seq[(Long, String, String)](
      (1L, "en", "a b c d e f g h i j"),
      (2L, "en", "a b c d e f g h i j"),
      (3L, "en", null),
      (4L, "en", ""),
      (5L, "en", "q r s")).toDF("doc_id", "lang", "text")
    def run(ansi: Boolean) = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try {
        val nv = TextAnalysis.ngramNovelty(docs, "doc_id", "text", n = 8)
          .as[(Long, Long, Long, Double)].collect().toSet
        val tf = TextAnalysis.tfidfCosinePairsTokens(
            docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("tok")),
            "doc_id", "tok", 5, "lang", 0.5)
          .as[(Long, Long, Double)].collect().toSet
        (nv, tf)
      } finally {
        spark.conf.set("spark.sql.ansi.enabled", prev)
        // the gram caches are keyed by plan: drop them so the other
        // setting recomputes instead of reading this one's rows
        graft.GraftSession.releaseCaches(spark, blocking = true)
      }
    }
    val (nvOff, tfOff) = run(ansi = false)
    val (nvOn, tfOn) = run(ansi = true)
    // the null doc reports as one gram, shared with the blank doc
    assert(nvOff.map(_._1) === Set(1L, 2L, 3L, 4L, 5L))
    assert(nvOff.find(_._1 == 3L).map(r => (r._2, r._4)) === Some((1L, 0.0)))
    assert(tfOff.exists(p => p._1 == 3L && p._2 == 4L && p._3 == 1.0), tfOff)
    assert(nvOn === nvOff)
    assert(tfOn === tfOff)
  }

  test("ngram novelty plan: exactly 3 shuffles and no join — window, per-gram, per-doc") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => JoinExec}
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.ngramNovelty(df, "doc_id", "text", n = 8)
    out.count()
    val nodes = out.queryExecution.executedPlan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = nodes.flatMap(_.collect { case s: ShuffleExchangeExec => s })
    // window on doc id + per-gram reduce on gram + per-doc reduce on doc
    // (the last map-side-combines to doc scale before moving). The per-doc
    // distinct must REUSE the window's partitioning: a 4th exchange means
    // the HashPartitioning(id) ⊨ (id, g) reuse regressed.
    assert(shuffles.length <= 3,
      s"expected ≤3 shuffle exchanges (window, per-gram, per-doc), got ${shuffles.length}")
    // the round-12 shape joined the gram relation against its own
    // doc-frequencies — a near-gram-cardinality hash table, measured ~20%
    // slower at every decade (see ngramNovelty scaladoc); unique grams now
    // carry their owner out of the per-gram reduce, so ANY join here is a
    // regression
    val joins = nodes.flatMap(_.collect { case j: JoinExec => j })
    assert(joins.isEmpty,
      s"novelty must reduce, never join back to the gram relation: $joins")
    // a widened gram reduce (what the data-sized width computes past the
    // session conf at corpus scale): same exchange count (the widening IS
    // the per-gram reduce's exchange, at the requested width) and
    // identical output
    val wideOut = TextAnalysis.ngramNoveltyAt(df, "doc_id", "text", 8, width = 64)
    wideOut.count()
    // materialized AQE stages are leaves in the final plan — recurse into
    // them, or widened exchanges executed in earlier stages are invisible
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffleExchangeExec] = {
      val here = p match { case s: ShuffleExchangeExec => Seq(s); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        // the gram relation is persisted — the widened exchange lives
        // INSIDE the InMemoryRelation's cached plan, behind the cache
        // boundary; both scans share one relation, so count it once
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCaches.add(c.relation.cacheBuilder)) Seq(c.relation.cachedPlan) else Nil
        case other => other.children
      }
      here ++ kids.flatMap(exchanges)
    }
    val wideShuffles = exchanges(wideOut.queryExecution.executedPlan)
      .filter(_.outputPartitioning.numPartitions > 1) // count()'s own final agg excluded
    assert(wideShuffles.length <= 3,
      s"the widened gram reduce must ride its own exchange, got ${wideShuffles.length}: " +
        wideShuffles.map(s => s.outputPartitioning.numPartitions + "@" +
          s.outputPartitioning.getClass.getSimpleName).mkString(","))
    assert(wideShuffles.exists(_.outputPartitioning.numPartitions === 64),
      "one exchange must carry the requested width 64: " +
        wideShuffles.map(_.outputPartitioning.numPartitions).mkString(","))
    assert(wideOut.collect().toSet ===
      TextAnalysis.ngramNovelty(df, "doc_id", "text", n = 8).collect().toSet)
    graft.GraftSession.releaseCaches(spark)
  }

  test("dsir score: target-like docs rank above off-target docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "ml ml training data", true),
      (2L, "ml training corpus data", true),
      (3L, "cooking recipe pasta sauce cooking pasta", false),
      (4L, "ml ml training data corpus", false)) // target-like but NOT in target
      .toDF("doc_id", "text", "is_t")
    val out = TextAnalysis.dsirScore(df, "doc_id", "text", col("is_t"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(4L) > out(3L),
      "a doc written in the target's vocabulary must outscore an off-target doc")
    assert(out(1L) > out(3L))
    graft.GraftSession.releaseCaches(spark)
  }

  test("term tagger: occurrence counts per category, ratios, any-hit flag, zero shuffles") {
    val df = Seq(
      (1L, "slow join slow scan"),   // perf 2, sql 2
      (2L, "the a value"),           // clean
      (3L, "fast")).toDF("doc_id", "text")
    val out = TextAnalysis.termTagger(df, "doc_id", "text",
        Seq("perf" -> Seq("slow", "fast"), "sql" -> Seq("join", "scan", "sort")))
      .as[(Long, Long, Double, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 2L, 0.5, 2L, 0.5, true)), "occurrences count repeats")
    assert(out(2L) === ((2L, 0L, 0.0, 0L, 0.0, false)))
    assert(out(3L) === ((3L, 1L, 1.0, 0L, 0.0, true)))
    // pure per-row tagging: no exchange anywhere in the plan
    val plan = TextAnalysis.termTagger(df, "doc_id", "text", Seq("p" -> Seq("x")))
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    assert(plan.collect { case e: Exchange => e }.isEmpty, "tagger must not shuffle")
    intercept[IllegalArgumentException] {
      TextAnalysis.termTagger(df, "doc_id", "text", Seq("a" -> Nil, "a" -> Nil))
    }
  }

  test("scan-stream width: session floor through the measured no-spill regime, engages at the arithmetic spill boundary, clamped") {
    // the token-stream exchanges' width is the shared rule at the scan target
    def scanWidth(bytes: BigInt, session: Int) =
      ExchangeWidth.width(bytes, TextAnalysis.ScanStreamTargetBytesPerPartition, session)
    // every regime measured so far keeps the session width — including the
    // 817 MB fourth-decade corpus, where the interleaved A/B measured the
    // widened shape indistinguishable and the sort spill-free (the
    // round-14 negative result; see ScanStreamTargetBytesPerPartition)
    assert(scanWidth(BigInt(0), 32) === 32)
    assert(scanWidth(BigInt(60L << 20), 32) === 32)
    assert(scanWidth(BigInt(817L << 20), 32) === 32)
    // past the arithmetic boundary (~32 MB compressed ≈ 420 MB in-sort per
    // partition) the width scales with the data
    assert(scanWidth(BigInt(2L) << 31, 32) === 128)
    // a cluster session sized for its executors is never narrowed
    assert(scanWidth(BigInt(2L) << 31, 2000) === 2000)
    // runaway corpora clamp at the cap
    assert(scanWidth(BigInt(Long.MaxValue / 4), 32) === 1024)
  }

  test("leafScanBytes reads the file index's exact parquet byte sum through a projection") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scanbytes").toString
    try {
      spark.read.parquet(s"$sf/documents.parquet").write.mode("overwrite").parquet(dir)
      val onDisk = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val est = ExchangeWidth.leafScanBytes(spark.read.parquet(dir)
        .select(col("doc_id"), split(col("text"), " ").as("tok")))
      assert(est === BigInt(onDisk),
        s"leaf bytes must be the FILE bytes ($onDisk), not a projection estimate, got $est")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("winnow plan: one exchange at bench width; widened plans keep exactly one, at the computed width") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def shufflesOf(out: org.apache.spark.sql.DataFrame) = {
      out.count()
      out.queryExecution.executedPlan.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }.flatMap(_.collect { case s: ShuffleExchangeExec => s })
    }
    // bench scale: the window's exchange at the session width, and the
    // final distinct REUSES it (HashPartitioning(id) ⊨ (id, fp))
    val bench = shufflesOf(TextAnalysis.winnowedFingerprints(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), split(col("text"), " ").as("tok")),
      "doc_id", "tok"))
    assert(bench.length === 1,
      s"winnow is a one-exchange plan (distinct reuses the window width), got ${bench.length}")
    assert(bench.head.outputPartitioning.numPartitions ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)

    // a widened plan (a data-sized width past the session width): the
    // widening exchange IS the window's own hash exchange — still exactly
    // one, at the requested width, and the same fingerprint set
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tok"))
    val wideDf = TextAnalysis.winnowedFingerprintsAt(docs, "doc_id", "tok", 3, 4,
      width = 64)
    val wide = shufflesOf(wideDf)
    assert(wide.length === 1,
      s"widening must ride the window's own exchange, got ${wide.length}")
    assert(wide.head.outputPartitioning.numPartitions === 64,
      s"widened exchange must keep the requested width 64, got " +
        wide.head.outputPartitioning.numPartitions)
    // width below the session conf is never narrowed: identical plan shape
    val narrow = shufflesOf(TextAnalysis.winnowedFingerprintsAt(docs, "doc_id", "tok", 3, 4,
      width = 2))
    assert(narrow.head.outputPartitioning.numPartitions ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "a width below the session width must not narrow the exchange")
    // partitioning never changes the fingerprint set
    assert(wideDf.collect().toSet ===
      TextAnalysis.winnowedFingerprints(docs, "doc_id", "tok").collect().toSet)
  }

  test("exact-substr removal: shared, self-repeated, and merged spans cut exactly") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),                // shares its pos-0 8-gram with doc 2
      (2L, "x y a b c d e f g h w z"),            // ... at pos 2
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),     // fully original
      (4L, "p q r s t u v w k1 p q r s t u v w"), // self-repeat: two disjoint spans
      (5L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 tail5"),   // 9-token run shared with doc 6:
      (6L, "head6 m1 m2 m3 m4 m5 m6 m7 m8 m9"),   //   two overlapping grams, ONE span
      (7L, "s1 s2 s3"),                           // short and identical to doc 8 —
      (8L, "s1 s2 s3")                            //   below the match length, never cut
    ).toDF("doc_id", "text")
    val out = TextAnalysis.exactSubstrRemove(docs, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 10L, 8L, 1L, "i j"),
      (2L, 12L, 8L, 1L, "x y w z"),
      (3L, 10L, 0L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (4L, 17L, 16L, 2L, "k1"),
      (5L, 10L, 9L, 1L, "tail5"),
      (6L, 10L, 9L, 1L, "head6"),
      (7L, 3L, 0L, 0L, "s1 s2 s3"),
      (8L, 3L, 0L, 0L, "s1 s2 s3")))
    graft.GraftSession.releaseCaches(spark)
  }

  test("exact-substr removal: corpus invariants and consistency with novelty") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val rm = TextAnalysis.exactSubstrRemove(df, "doc_id", "text", n = 8).cache()
    // conservation + the spans⟺removal biconditional (a span covers ≥ n
    // tokens; any removal implies a duplicated start)
    val bad = rm.where(col("n_removed") > col("n_tokens") ||
      (col("n_spans") === 0) =!= (col("n_removed") === 0) ||
      (col("n_spans") > 0 && col("n_removed") < 8)).count()
    assert(bad === 0)
    // kept token count reconciles with the cleaned text (split("") is [""]
    // — a fully-cut doc is the one shape where size(split) can't be 0)
    val recon = rm.where(
      when(col("n_removed") === col("n_tokens"), col("clean_text") =!= "")
        .otherwise(size(split(col("clean_text"), " ")) =!=
          col("n_tokens") - col("n_removed"))).count()
    assert(recon === 0)
    // the corpus plants edit-duplicates: something must actually be cut
    assert(rm.where(col("n_removed") > 0).count() > 0,
      "dup-planted corpus must yield duplicated spans")
    // tie to q76 on docs long enough to carry windows: novelty 1 means no
    // gram is shared ANYWHERE, so nothing may be cut; novelty 0 means
    // every distinct gram is cross-doc shared, so EVERY site is covered
    val nv = TextAnalysis.ngramNovelty(df, "doc_id", "text", n = 8)
    val joined = rm.join(nv.select(col("doc_id"), col("novelty")), Seq("doc_id"))
      .where(col("n_tokens") >= 8)
    assert(joined.where(col("novelty") === 1.0 && col("n_removed") > 0).count() === 0,
      "fully-novel docs must survive whole")
    assert(joined.where(col("novelty") === 0.0 &&
      col("n_removed") =!= col("n_tokens")).count() === 0,
      "zero-novelty docs must be cut entirely")
    rm.unpersist()
    graft.GraftSession.releaseCaches(spark)
  }

  test("exact-substr removal: window-length edges (n=1 token grain; n beyond every doc cuts nothing)") {
    val docs = Seq(
      (1L, "a b a c"),   // token 'a' repeats (within doc): both sites cut at n=1
      (2L, "b d"),       // 'b' also in doc 1: cross-doc duplicated at n=1
      (3L, "e f g")      // all tokens unique corpus-wide
    ).toDF("doc_id", "text")
    val n1 = TextAnalysis.exactSubstrRemove(docs, "doc_id", "text", n = 1)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    // duplicated tokens at n=1: a (doc1 ×2), b (doc1, doc2)
    assert(n1 === Array(
      (1L, 4L, 3L, 1L, "c"),     // a, b, a cut — adjacent, ONE maximal span
      (2L, 2L, 1L, 1L, "d"),
      (3L, 3L, 0L, 0L, "e f g")))
    // n longer than every doc: no window exists anywhere, nothing is cut,
    // even for docs that are exact clones of each other
    val clones = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val big = TextAnalysis.exactSubstrRemove(clones, "doc_id", "text", n = 10)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(big === Array((1L, 3L, 0L, 0L, "x y z"), (2L, 3L, 0L, 0L, "x y z")))
    // parameter guard
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.exactSubstrRemove(docs, "doc_id", "text", n = 0)
    }.getMessage.contains("window"))
    graft.GraftSession.releaseCaches(spark)
  }

  test("cross-corpus exact-substr: corpus hits cut, batch-internal repeats survive, composes with the self variant") {
    val batch = Seq(
      (1L, "a b c d e f g h i j"),                 // pos-0 8-gram lives in the corpus → cut
      (2L, "p q r s t u v w k1 p q r s t u v w"),  // batch-INTERNAL repeat only → survives whole
      (3L, "n1 n2 n3 n4 n5 n6 n7 n8 n9"),          // nothing shared → untouched
      (4L, "s1 s2 s3")                             // short: immune even though the corpus holds it
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "z1 z2 a b c d e f g h z3"),
      (101L, "s1 s2 s3 filler w1 w2 w3 w4 w5")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.exactSubstrRemoveAgainst(batch, corpus, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 10L, 8L, 1L, "i j"),
      (2L, 17L, 0L, 0L, "p q r s t u v w k1 p q r s t u v w"),
      (3L, 9L, 0L, 0L, "n1 n2 n3 n4 n5 n6 n7 n8 n9"),
      (4L, 3L, 0L, 0L, "s1 s2 s3")),
      "frozen-corpus semantics: only corpus-side occurrences duplicate a batch gram")
    // corpus docs are never emitted
    assert(out.map(_._1).toSet === Set(1L, 2L, 3L, 4L))
    // on the real corpus with a split whose dups are cross-side, the
    // composition identity holds: against(batch, corpus) = self(batch ∪
    // corpus) restricted to batch — for docs whose duplicated grams all
    // live on the other side
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val b = docs.where(col("doc_id") % 7 === 0)
    val c = docs.where(col("doc_id") % 7 =!= 0)
    val against = TextAnalysis.exactSubstrRemoveAgainst(b, c, "doc_id", "text", n = 8)
    // weaker (always-true) identity on the real corpus: the self variant
    // over the union counts batch-internal + corpus-internal dups TOO, so
    // it can only cut MORE from each batch doc, never less
    val selfUnion = TextAnalysis.exactSubstrRemove(docs, "doc_id", "text", n = 8)
      .where(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("n_removed").as("self_removed"))
    val fewer = against.join(selfUnion, Seq("doc_id"))
      .where(col("n_removed") > col("self_removed")).count()
    assert(fewer === 0,
      "the frozen-corpus variant may never cut more than the self variant over the union")
    assert(against.where(col("n_removed") > 0).count() > 0,
      "the 1-in-7 split must produce cross-side hits on the dup-planted corpus")
    graft.GraftSession.releaseCaches(spark)
  }

  test("exact-substr: value-keyed grams (hashGrams=false) ≡ hashed on collision-free data") {
    // the lossless escape hatch the collision scaladoc offers: keying on
    // the gram STRING must produce identical removals wherever no 60-bit
    // collision exists (i.e. any corpus this side of ~10^9 grams)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hashed = TextAnalysis.exactSubstrRemove(docs, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val byValue = TextAnalysis.exactSubstrRemove(docs, "doc_id", "text", n = 8,
        hashGrams = false)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(byValue === hashed)
    val b = docs.where(col("doc_id") % 7 === 0)
    val c = docs.where(col("doc_id") % 7 =!= 0)
    val againstHashed = TextAnalysis
      .exactSubstrRemoveAgainst(b, c, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val againstByValue = TextAnalysis
      .exactSubstrRemoveAgainst(b, c, "doc_id", "text", n = 8, hashGrams = false)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(againstByValue === againstHashed)
    graft.GraftSession.releaseCaches(spark)
  }

  test("corpusGramHashes + exactSubstrRemoveAgainstGrams: the split API ≡ the fused call") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val b = docs.where(col("doc_id") % 7 === 0)
    val c = docs.where(col("doc_id") % 7 =!= 0)
    val fused = TextAnalysis.exactSubstrRemoveAgainst(b, c, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    // the streaming pattern: build the corpus reduce once, persist, reuse
    val grams = TextAnalysis.corpusGramHashes(c, "doc_id", "text", n = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(grams.columns.toSeq === Seq("g"))
      val split = TextAnalysis
        .exactSubstrRemoveAgainstGrams(b, grams, "doc_id", "text", n = 8)
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(split === fused)
      // two "micro-batches" against the same persisted grams compose to
      // the same union (the foreachBatch contract, here without a stream)
      val split1 = TextAnalysis.exactSubstrRemoveAgainstGrams(
        b.where(col("doc_id") % 2 === 0), grams, "doc_id", "text", n = 8)
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val split2 = TextAnalysis.exactSubstrRemoveAgainstGrams(
        b.where(col("doc_id") % 2 =!= 0), grams, "doc_id", "text", n = 8)
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert((split1 ++ split2) === fused)
    } finally grams.unpersist()
    // the guard: a relation that is not the (g) contract is refused
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.exactSubstrRemoveAgainstGrams(b,
        c.select(col("doc_id"), col("text")), "doc_id", "text", n = 8)
    }.getMessage.contains("corpusGramHashes"))
    graft.GraftSession.releaseCaches(spark)
  }

  test("cross-corpus exact-substr plan: the batch side broadcasts into the corpus gram stream") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.exactSubstrRemoveAgainst(
      docs.where(col("doc_id") % 7 === 0),
      docs.where(col("doc_id") % 7 =!= 0), "doc_id", "text", n = 8)
    out.count()
    val nodes = out.queryExecution.executedPlan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bhj = nodes.flatMap(_.collect { case j: BroadcastHashJoinExec => j })
    assert(bhj.nonEmpty,
      "the batch gram sites must broadcast — the corpus gram stream is probed in place")
    val smjOnG = nodes.flatMap(_.collect {
      case j: SortMergeJoinExec if j.leftKeys.exists(_.toString.contains("g#")) => j
    })
    assert(smjOnG.isEmpty,
      s"no sort-merge join may appear on the gram attach: $smjOnG")
    graft.GraftSession.releaseCaches(spark)
  }

  test("exact-substr plan: the dup semi-join rides the persisted gram exchange — ≤4 shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.exactSubstrRemove(df, "doc_id", "text", n = 8)
    assert(out.count() > 0)
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffleExchangeExec] = {
      val here = p match { case s: ShuffleExchangeExec => Seq(s); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCaches.add(c.relation.cacheBuilder)) Seq(c.relation.cachedPlan) else Nil
        case other => other.children
      }
      here ++ kids.flatMap(exchanges)
    }
    val shuffles = exchanges(out.queryExecution.executedPlan)
      .filter(_.outputPartitioning.numPartitions > 1) // count()'s final agg excluded
    // budget: the lead window (doc id), the gram widen (inside the cache),
    // the starts reduce (doc id), and the rebuild join's token side. The
    // occurrence reduce and the dup semi-join must REUSE the cached gram
    // partitioning — a 5th exchange means that reuse regressed.
    assert(shuffles.length <= 4,
      s"expected ≤4 shuffles (window, gram widen, starts reduce, join-left), got " +
        s"${shuffles.length}: " + shuffles.map(s =>
          s.outputPartitioning.numPartitions + "@" + s.child.nodeName).mkString(", "))
    graft.GraftSession.releaseCaches(spark)
  }

  test("contaminationReport: per held-out doc leak stats — sites, covered " +
      "tokens, merged spans, longest span; zeros for clean docs") {
    val held = Seq(
      (1L, "a b c d e f g h i j"),          // one leaked window at pos 0
      (2L, "a b c d e f g h x1 x2 m1 m2 m3 m4 m5 m6 m7 m8"), // two leaks, gap > n
      (3L, (1 to 16).map("c" + _).mkString(" ")), // fully leaked 16-token run
      (4L, "n1 n2 n3 n4 n5 n6 n7 n8 n9"),   // clean
      (5L, "s1 s2 s3")                      // short: no window, clean by definition
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "z1 z2 a b c d e f g h z3"),
      (101L, "s1 s2 s3 filler w1 w2 w3 w4 w5"),
      (102L, "m1 m2 m3 m4 m5 m6 m7 m8"),
      (103L, (1 to 16).map("c" + _).mkString(" "))
    ).toDF("doc_id", "text")
    val rep = TextAnalysis.contaminationReport(held, corpus, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rep === Array(
      (1L, 10L, 1L, 8L, 1L, 8L),
      (2L, 18L, 2L, 16L, 2L, 8L),   // the two leaks never merge (gap 10 > 8)
      (3L, 16L, 9L, 16L, 1L, 16L),  // 9 overlapping windows merge into ONE 16-token span
      (4L, 9L, 0L, 0L, 0L, 0L),
      (5L, 3L, 0L, 0L, 0L, 0L)),
      "every held-out doc reports; stats read off the merged leak intervals")
    // cross-operator identity on the real corpus: the report's covered
    // tokens and span count must equal what exactSubstrRemoveAgainst would
    // CUT under the same split — same machinery, audit vs removal grain
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val h = docs.where(col("doc_id") % 7 === 0)
    val c = docs.where(col("doc_id") % 7 =!= 0)
    val report = TextAnalysis.contaminationReport(h, c, "doc_id", "text", n = 8)
    val removal = TextAnalysis.exactSubstrRemoveAgainst(h, c, "doc_id", "text", n = 8)
      .select(col("doc_id"), col("n_tokens").as("rm_n"),
        col("n_removed"), col("n_spans"))
    val j = report.join(removal, Seq("doc_id")).cache()
    assert(j.count() === h.count(), "report and removal cover the same docs")
    assert(j.where(col("n_tokens") =!= col("rm_n") ||
      col("leaked_tokens") =!= col("n_removed") ||
      col("leaked_spans") =!= col("n_spans")).count() === 0,
      "leaked_tokens/leaked_spans ≡ the removal's n_removed/n_spans")
    // the longest span is bounded by the covered mass and reaches ≥ n
    // wherever anything leaked at all
    assert(j.where(col("max_span_tokens") > col("leaked_tokens")).count() === 0)
    assert(j.where(col("leaked_sites") > 0 && col("max_span_tokens") < 8).count() === 0)
    j.unpersist()
    // split API ≡ fused, and the corpusGrams contract is guarded
    val grams = TextAnalysis.corpusGramHashes(c, "doc_id", "text", n = 8)
      .persist()
    assert(TextAnalysis.contaminationReportAgainstGrams(h, grams, "doc_id", "text", n = 8)
      .collect().map(_.toString).sorted.toSeq ===
      report.collect().map(_.toString).sorted.toSeq)
    grams.unpersist()
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.contaminationReportAgainstGrams(h, c, "doc_id", "text", n = 8)
    }.getMessage.contains("corpusGrams"))
    graft.GraftSession.releaseCaches(spark)
  }
}
