package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The round-19 LM-quality additions: interpolated Kneser–Ney NLL
  * (hand-computed fixture), CCNet perplexity bucketing (local replay of the
  * histogram-tertile rule), and TF–IDF cosine pairs (identity / disjoint /
  * block / ubiquitous-term cases). */
class LmQualitySpec extends SparkSpec {
  import spark.implicits._

  test("kneserNeyLogProb matches the hand-computed KN probabilities") {
    // corpus: d1 = "a b a b", d2 = "a c"
    // bigram counts: (a,b)=2 (b,a)=1 (a,c)=1; T=3 types
    // ctx(a)=3 n1f(a)=2; ctx(b)=1 n1f(b)=1; n1b(a)=n1b(b)=n1b(c)=1
    // p(b|a) = 1.25/3 + .75·(2/3)·(1/3) = 0.5833333…
    // p(a|b) = .25 + .75·(1/3)          = 0.5
    // p(c|a) = .25/3 + .75·(2/3)·(1/3)  = 0.25
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.kneserNeyLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2)).toSeq === Seq((1L, 3L), (2L, 1L)))
    val nll1 = -(2 * math.log(1.25 / 3 + 0.75 * (2.0 / 3) * (1.0 / 3)) +
      math.log(0.5)) / 3
    val nll2 = -math.log(0.25)
    assert(math.abs(got(0)._3 - nll1) < 1e-6, s"d1: ${got(0)._3} vs $nll1")
    assert(math.abs(got(1)._3 - nll2) < 1e-6, s"d2: ${got(1)._3} vs $nll2")
  }

  test("kneserNeyLogProb: corpus sanity — positive NLLs, short docs absent") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .union(Seq((99999L, "solo", "en", "srcx", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = TextAnalysis.kneserNeyLogProb(docs, "doc_id", "text")
    assert(out.where(col("nll") <= 0).count() === 0)
    assert(out.where(col("doc_id") === 99999L).count() === 0,
      "a 1-token doc has no bigram and must be absent")
  }

  test("perplexityBuckets replays the histogram-tertile rule exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .as[(Long, Double, String)].collect()
    assert(got.map(_._3).toSet === Set("head", "middle", "tail"))
    // local replay: same cells, same integer cut rule
    val cells = got.map { case (id, nll, b) => (id, math.floor(nll * 1000).toLong, b) }
    val hist = cells.groupBy(_._2).map { case (c, xs) => (c, xs.size.toLong) }
      .toSeq.sortBy(_._1)
    val total = hist.map(_._2).sum
    val cums = hist.scanLeft(0L)(_ + _._2).tail
    val t1 = hist.zip(cums).find { case (_, cum) => cum * 3 >= total }.get._1._1
    val t2 = hist.zip(cums).find { case (_, cum) => cum * 3 >= total * 2 }.get._1._1
    cells.foreach { case (id, cell, b) =>
      val want = if (cell <= t1) "head" else if (cell <= t2) "middle" else "tail"
      assert(b === want, s"doc $id cell $cell")
    }
    // tertile balance: each bucket within one grid cell's mass of N/3
    val counts = got.groupBy(_._3).map { case (k, v) => (k, v.size) }
    val maxCell = hist.map(_._2).max
    counts.foreach { case (b, n) =>
      assert(math.abs(n - total / 3.0) <= maxCell + 1,
        s"bucket $b count $n vs ${total / 3.0} (grid slack $maxCell)")
    }
  }

  test("tfidfCosinePairs: identity pairs, disjoint docs, block isolation, ubiquitous-term drop") {
    val common = "c c c c c" // every shingle of this suffix is corpus-ubiquitous
    val docs = Seq(
      (1L, s"a b q $common", "B1"),
      (2L, s"a b q $common", "B1"), // identical to d1 → cosine 1
      (3L, s"p q r $common", "B1"), // shares only ubiquitous shingles with d1/d2
      (4L, s"a b q $common", "B2"), // identical text, other block → no pair
      (5L, common, "B1"))           // zero vector → absent entirely
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("lang"),
        TextAnalysis.ngrams(col("tok"), 3).as("grams"))
    val got = TextAnalysis.tfidfCosinePairs(docs, "doc_id", "grams", "lang", 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L)),
      s"expected exactly the identical pair, got $got")
    assert(math.abs(got.head._3 - 1.0) < 1e-9)
    intercept[IllegalArgumentException] {
      TextAnalysis.tfidfCosinePairs(docs, "doc_id", "grams", "lang", 0.0)
    }
  }

  test("curriculum order (q125): easy phase first, deterministic within-phase key walk") {
    import spark.implicits._
    val got = graft.queries.Queries.q125_curriculum_order(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    assert(got.length === 100)
    // the head tertile at sf0.001 is ≥ 100 docs, so the whole first page is phase 0
    assert(got.forall(r => r._2 == "head" && r._3 == 0L),
      s"first page must be all-head: ${got.count(_._3 != 0L)} strays")
    // schedule is the (phase, key, id) walk — keys non-decreasing on the page
    val keys = got.map(_._4)
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
      "within-phase keys must arrive in draw order")
    // same schedule on a different layout (determinism under repartition)
    val again = graft.queries.Queries.q125_curriculum_order(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    assert(got.toSeq === again.toSeq)
  }

  test("tfidfCosinePairsTokens (hashed window-lead build) ≡ the array path, short docs included") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
      .union(Seq((90001L, "en", "tiny doc"), (90002L, "en", "tiny doc"))
        .toDF("doc_id", "lang", "text"))
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tok"))
    val viaArrays = TextAnalysis.tfidfCosinePairs(
      docs.select(col("doc_id"), col("lang"),
        TextAnalysis.ngrams(col("tok"), 5).as("grams")),
      "doc_id", "grams", "lang", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val viaTokens = TextAnalysis.tfidfCosinePairsTokens(
      docs, "doc_id", "tok", 5, "lang", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaTokens === viaArrays)
    assert(viaTokens.exists(p => p._1 == 90001L && p._2 == 90002L),
      "the short-doc (< n tokens) path must flow through both builds")
  }

  test("tfidfCosinePairs sees REPEATED passages that set-Jaccard flattens") {
    // d2 repeats d1's text 3× — the tf vectors are parallel (cosine 1)
    // while the shingle SETS are also equal; d3 shares the vocabulary but
    // in a different arrangement → low cosine. The tf weighting is what
    // ranks d2 above d3 for near-dup review.
    val docs = Seq(
      (1L, "u v w x y z", "B"),
      (2L, "u v w x y z u v w x y z u v w x y z", "B"),
      (3L, "z y x w v u", "B"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("lang"),
        TextAnalysis.ngrams(col("tok"), 3).as("grams"))
    val got = TextAnalysis.tfidfCosinePairs(docs, "doc_id", "grams", "lang", 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    val pair12 = got.find(p => p._1 == 1L && p._2 == 2L)
    assert(pair12.isDefined, s"repeated-passage pair must surface: $got")
    // hand computation: 4 shared shingles (idf ln 1.5, tf 1 vs 3) + d2's two
    // seam shingles (idf ln 3, tf 2) → cosine ≈ 0.616
    assert(math.abs(pair12.get._3 - 0.616) < 0.01, s"cosine ${pair12.get._3}")
    assert(!got.exists(p => p._2 == 3L || p._1 == 3L),
      "rearranged vocabulary must not pair at τ=0.5 under 3-gram vectors")
  }
}
