package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Degenerate-input behavior: a library operator must not throw on empty or
  * trivial inputs — these are the shapes that appear at the edges of real
  * partitioned data (empty date partitions, single-row groups, keys with no
  * match). */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyDocs = Seq.empty[(Long, String, Seq[String])]
    .toDF("doc_id", "lang", "tok")

  test("dedup operators accept empty input") {
    assert(Dedup.jaccardPairs(emptyDocs, "doc_id", "tok", "lang", 0.9).count() === 0)
    assert(Dedup.minHashDedupPortable(emptyDocs, "doc_id", "tok", 3, 0.8).count() === 0)
    assert(Dedup.simHashPairs(emptyDocs, "doc_id", "tok").count() === 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("left_id", "right_id")).count() === 0)
  }

  test("a single document yields no pairs but a canonical id") {
    val one = Seq((1L, "en", Seq("a", "b", "c"))).toDF("doc_id", "lang", "tok")
    assert(Dedup.jaccardPairs(one, "doc_id", "tok", "lang", 0.5).count() === 0)
    val canon = Dedup.canonicalIds(one.select("doc_id"), "doc_id",
      Seq.empty[(Long, Long)].toDF("left_id", "right_id"))
      .as[(Long, Long)].collect()
    assert(canon.toSeq === Seq((1L, 1L)))
  }

  test("docs with empty token arrays don't break hashing paths") {
    val docs = Seq((1L, "en", Seq.empty[String]), (2L, "en", Seq("a", "b")))
      .toDF("doc_id", "lang", "tok")
    assert(Dedup.jaccardPairs(docs, "doc_id", "tok", "lang", 0.5).count() === 0)
    assert(Dedup.simHashPairs(docs, "doc_id", "tok").count() === 0)
  }

  test("as-of join with an empty right side returns all-null matches") {
    val left = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 5.0))
      .toDF("k", "ts", "v")
    val right = Seq.empty[(Long, Timestamp, Double)].toDF("k", "ts", "bid")
    val out = AsOf.joinAsOf(left, right, Seq("k"), "ts", "ts")
    assert(out.count() === 1)
    assert(out.select("bid").collect().head.isNullAt(0))
  }

  test("similarity search with empty query set returns nothing") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val none = e.where(col("vec_id") < 0)
    assert(Similarity.bruteForceTopK(none, e, 3).count() === 0)
    assert(Similarity.srpBucketTopK(none, e, 3, dim = 64).count() === 0)
  }

  test("sampling split covers fraction rounding (fractions summing to 1)") {
    val d = (0L until 100L).toDF("id")
    val out = Sampling.deterministicSplit(d, col("id"),
      Seq("a" -> 0.33, "b" -> 0.33, "c" -> 0.34))
    assert(out.where(col("split").isNull).count() === 0)
  }

  test("packing: a document longer than the budget spans packs without corrupting successors") {
    val d = Seq(("s", 1L, 700L), ("s", 2L, 10L)).toDF("shard", "id", "n")
    val out = Packing.packByBudget(d, col("shard"), col("id"), col("n"), 256L)
      .select("id", "pack_id", "pack_offset")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === (0L, 0L))
    // next doc starts at token 700: pack 700/256 = 2, offset 700 % 256 = 188
    assert(out(2L) === (2L, 188L))
  }

  test("stratified sample with no per-stratum overrides applies the default everywhere") {
    val d = (0L until 500L).toDF("id").withColumn("s", lit("x"))
    val kept = Sampling.stratifiedSample(d, col("id"), col("s"), Nil,
      defaultFraction = 0.3).count()
    assert(math.abs(kept / 500.0 - 0.3) < 0.07, s"got $kept/500")
    assert(Sampling.stratifiedSample(d, col("id"), col("s"), Nil,
      defaultFraction = 0.0).count() === 0)
  }

  test("repetition fraction handles empty and single-token text") {
    val out = Seq("", "word").toDF("t")
      .select(TextAnalysis.dupNgramFraction(TextAnalysis.tokens(col("t")), 2).as("d"))
      .as[Double].collect()
    assert(out.toSeq === Seq(0.0, 0.0))
  }

  test("bloom gate with an EMPTY benchmark keeps every doc (all-zero bit array)") {
    val corpus = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val bench = corpus.where(lit(false))
    val clean = TextAnalysis.bloomDecontaminate(corpus, bench, "doc_id", "text", n = 2)
    assert(clean.count() === 2, "nothing can be contaminated by an empty suite")
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("cross-corpus dedup with an empty batch side yields no pairs") {
    val corpus = Seq((1L, "g", Seq("a", "b"))).toDF("id", "blk", "tok")
    val empty = corpus.where(lit(false))
    assert(Dedup.crossJaccardPairs(empty, corpus, "id", "tok", "blk", 0.5).count() === 0)
    assert(Dedup.crossJaccardPairs(corpus, empty, "id", "tok", "blk", 0.5).count() === 0)
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("bigram NLL on a corpus with no 2-token doc is empty, not an error") {
    val docs = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramLogProb(docs, "doc_id", "text").count() === 0)
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("centroid cohesion on a single-member group returns exactly 1.0") {
    val e = Seq((1L, Seq(0.5f, 0.25f), 9)).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidCohesion(e, "label")
      .select("cos_centroid").as[Double].collect()
    assert(out.toSeq === Seq(1.0))
  }

  test("round-10 operators accept degenerate input") {
    // empty corpus through the shuffle
    val empty = spark.emptyDataset[Long].toDF("id")
    assert(Sampling.deterministicShuffle(empty, col("id"), "s", 4).count() === 0)
    // single row: shard assigned, pos = 1
    val one = Sampling.deterministicShuffle(Seq(7L).toDF("id"), col("id"), "s", 4)
      .select("shard", "pos").as[(Int, Long)].collect()
    assert(one.length === 1 && one.head._2 === 1L && (0 until 4).contains(one.head._1))
    // portable minhash on empty input yields no pairs
    val noDocs = spark.emptyDataset[(Long, Seq[String])].toDF("doc_id", "tok")
    assert(Dedup.minHashDedupPortable(noDocs, "doc_id", "tok", 3, 0.8).count() === 0)
    // audio/video description of an empty payload falls back cleanly
    val blank = graft.operators.Multimodal.toMedia(
      Seq((1L, Array.empty[Byte])).toDF("id", "blob"), "id", "blob", "application/octet-stream")
    assert(graft.operators.Multimodal.describeAudio(blank)
      .select("sample_rate").as[Option[Int]].collect().toSeq === Seq(None))
    assert(graft.operators.Multimodal.describeVideo(blank)
      .select("width").as[Option[Int]].collect().toSeq === Seq(None))
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }
}
