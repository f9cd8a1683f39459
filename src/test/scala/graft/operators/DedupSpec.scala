package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Validates the LSH front-ends against exact Jaccard ground truth on the
  * real documents table (these two operators have no SQL oracle).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("lang"), col("text"), lit(1).as("all"),
      array_distinct(split(col("text"), " ")).as("tok"),
      TextAnalysis.shingles(split(col("text"), " "), 3).as("sh")).cache()

  test("minhash LSH over shingles: recall ≥90% of exact Jaccard ≥0.8 pairs") {
    // ground truth: brute-force shingle Jaccard over ALL pairs (unblocked —
    // the planted near-dups cross language labels)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "sh", "all", 0.8)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashDedup(docs, "doc_id", "sh", threshold = 0.8)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${exact.size} truth pairs, ${lsh.size} lsh)")
    // verification step guarantees precision: every LSH pair is a truth pair
    assert(lsh.subsetOf(exact), s"${lsh.diff(exact).size} false positives")
  }

  test("minhash verified jaccard values match the exact operator") {
    val lsh = Dedup.minHashDedup(docs, "doc_id", "sh", threshold = 0.8)
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    val byPair = Dedup.jaccardPairs(docs, "doc_id", "sh", "all", 0.8)
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    lsh.foreach { case (l, r, j) =>
      byPair.get((l, r)).foreach(ex => assert(math.abs(ex - j) < 1e-12)) }
  }

  test("string-free shingle path (minHashDedupTokens) matches exact Jaccard like the string path") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "sh", "all", 0.8)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashDedupTokens(
        docs.select(col("doc_id"), split(col("text"), " ").as("tok")),
        "doc_id", "tok", shingleN = 3, threshold = 0.8)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${exact.size} truth pairs, ${lsh.size} lsh)")
    assert(lsh.subsetOf(exact), s"${lsh.diff(exact).size} false positives")
  }

  test("simhash pairs are far more similar than the population baseline") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "tok", maxHamming = 3)
    val joined = pairs
      .join(docs.select(col("doc_id").as("left_id"), col("tok").as("lt")), Seq("left_id"))
      .join(docs.select(col("doc_id").as("right_id"), col("tok").as("rt")), Seq("right_id"))
      .withColumn("j", Dedup.jaccard(col("lt"), col("rt")))
    val simStats = joined.agg(avg("j"), count(lit(1))).collect().head
    assert(simStats.getLong(1) > 0, "simhash found no candidate pairs")
    // population baseline: average jaccard over ALL same-lang pairs
    val baseline = Dedup.jaccardPairs(docs, "doc_id", "tok", "lang", 0.0)
      .agg(avg("jaccard")).collect().head.getDouble(0)
    assert(simStats.getDouble(0) > baseline + 0.15,
      s"simhash avg ${simStats.getDouble(0)} vs baseline $baseline — no signal")
  }

  test("simhash Manku tables: wider keys bound candidates, same pairs (completeness)") {
    // plant an adversarial corpus for the 16-bit-chunk scheme: EVERY
    // signature shares low chunk 0x1234, so blocks=4 makes all C(40,2)
    // pairs candidates; upper 48 bits are random, so with blocks=6
    // (3-block ≈32-bit keys) only genuinely close pairs collide
    val rnd = new scala.util.Random(7)
    val sigs = (0 until 20).flatMap { i =>
      val a = (rnd.nextLong() & ~0xFFFFL) | 0x1234L
      val b = a ^ (1L << (16 + (i % 48))) // hamming-1 partner, chunk 0 intact
      Seq((2L * i, a), (2L * i + 1, b))
    }
    val df = sigs.toDF("sh_id", "sh")
    // ground truth by brute force on the driver (40 sigs)
    val truth = (for {
      (il, sl) <- sigs; (ir, sr) <- sigs
      if il < ir && java.lang.Long.bitCount(sl ^ sr) <= 3
    } yield (il, ir)).toSet
    assert(truth.size >= 20, "planted partners must be in the truth set")
    def pairsFor(blocks: Int) = Dedup.simHashCandidates(df, 3, blocks)
      .withColumn("hamming", bit_count(col("lsh").bitwiseXOR(col("rsh"))))
      .where(col("hamming") <= 3)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    // pigeonhole completeness holds for both parameterizations
    assert(pairsFor(4) === truth)
    assert(pairsFor(6) === truth)
    // ...but the wider keys collapse the candidate volume
    val c4 = Dedup.simHashCandidates(df, 3, 4).count()
    val c6 = Dedup.simHashCandidates(df, 3, 6).count()
    assert(c4 === 40L * 39 / 2, "shared chunk makes every pair a blocks=4 candidate")
    assert(c6 * 10 < c4, s"blocks=6 candidates ($c6) not ≪ blocks=4 ($c4)")
    // the pigeonhole bound is structural, not a silent recall loss
    intercept[IllegalArgumentException] { Dedup.simHashCandidates(df, 4, 4) }
  }

  test("connected components never mutates the caller session's shuffle width") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // a long chain forces several label-propagation rounds
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val fut = Future {
      // force the distributed loop — the driver fast path never narrows conf
      Dedup.connectedComponents(pairs, maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
    }
    // poll the CALLER session's conf while the loop runs on its child session
    val seen = collection.mutable.Set.empty[String]
    while (!fut.isCompleted) {
      seen += spark.conf.get("spark.sql.shuffle.partitions")
      Thread.sleep(1)
    }
    val comps = Await.result(fut, scala.concurrent.duration.Duration.Inf)
    assert(seen.subsetOf(Set(before)),
      s"caller conf drifted during the CC loop: saw $seen, expected only $before")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    assert(comps === (1L to 60L).map(_ -> 1L).toMap)
  }

  test("distributed CC labels come back bound to the CALLER's session") {
    val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val labels = Dedup.connectedComponents(pairs, maxDriverEdges = 0L)
    // if the hidden child session leaked, temp views / SQL-conf-sensitive
    // ops downstream would silently target the wrong catalog
    assert(labels.sparkSession eq spark,
      "connectedComponents must rebind its result to the caller's session")
    labels.createOrReplaceTempView("cc_rebind_check")
    assert(spark.sql("SELECT count(*) FROM cc_rebind_check").head().getLong(0) === 20L)
    spark.catalog.dropTempView("cc_rebind_check")
  }

  test("minhash with a single band (bands=1) is legal and exact-verified") {
    // regression: the first-match filter was an empty reduce at bands=1
    val pairs = Dedup.minHashDedup(docs, "doc_id", "sh", threshold = 0.8,
        k = 16, bands = 1)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "sh", "all", 0.8)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    // one 16-row band is maximally precise, minimally sensitive: whatever it
    // returns must still be verified truth pairs
    assert(pairs.subsetOf(exact))
    intercept[IllegalArgumentException] {
      Dedup.minHashDedup(docs, "doc_id", "sh", threshold = 0.8, k = 16, bands = 5)
    }
  }

  test("τ=0 emits zero-overlap pairs even when the vocab is bitmap-eligible") {
    // regression: the bitmap path's explode dropped empty-token docs, so a
    // small vocab at τ=0 silently lost their pairs; τ=0 must route to the
    // full self-join
    val d = Seq(
      (1L, Seq("a", "b"), "en"),
      (2L, Seq("c"), "en"),
      (3L, Seq.empty[String], "en"), // empty-token doc must not vanish
    ).toDF("doc_id", "tok", "lang")
    val pairs = Dedup.jaccardPairs(d, "doc_id", "tok", "lang", 0.0)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("passage dedup keeps the globally first occurrence only") {
    val segs = Seq(
      (1L, 0L, "the same boilerplate"),
      (1L, 1L, "unique passage one"),
      (2L, 0L, "the same boilerplate"), // cross-doc repeat → dropped
      (2L, 1L, "unique passage two"),
      (3L, 0L, "fresh text"),
      (3L, 1L, "fresh text"),           // within-doc repeat → dropped
    ).toDF("doc_id", "pos", "passage")
    val kept = Dedup.dropDuplicatePassages(segs, "doc_id", "pos", "passage")
      .as[(Long, Long, String)].collect().toSet
    assert(kept === Set(
      (1L, 0L, "the same boilerplate"),
      (1L, 1L, "unique passage one"),
      (2L, 1L, "unique passage two"),
      (3L, 0L, "fresh text")))
  }

  test("bitmap and prefix jaccard representations are interchangeable (vocabHint)") {
    // fixture vocab is tiny → the sampled estimate picks the bitmap path; a
    // large vocabHint forces PPJoin prefixes. Both are exact: identical pairs
    val bitmap = Dedup.jaccardPairs(docs, "doc_id", "tok", "lang", 0.95)
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (l, r, j) => (l, r, math.rint(j * 1e9)) }.toSet
    val prefix = Dedup.jaccardPairs(docs, "doc_id", "tok", "lang", 0.95,
        vocabHint = Some(1L << 20))
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (l, r, j) => (l, r, math.rint(j * 1e9)) }.toSet
    assert(bitmap.nonEmpty)
    assert(bitmap === prefix)
  }

  test("prefix cache trims to ord-only, releases the input cache, and stays MEMORY_AND_DISK") {
    // the round-15 cache-fit work (SCALE.md §Round 14: at sf100 the pair
    // family's persisted bytes cross the local cache-fit boundary): the
    // corpus-scale cache must hold each token hash ONCE (ord only — the
    // prefix column is a slice computed on cache read), and the hashed-set
    // INPUT cache must be released the moment the prefix cache
    // materializes. It persists at the one storage level every other
    // operator cache uses.
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tok"))
    def build() = Dedup.jaccardPairs(d, "doc_id", "tok", "lang", 0.95,
      vocabHint = Some(1L << 20)) // force the PPJoin prefix path
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("left_id", "right_id", "jaccard").as[(Long, Long, Double)]
        .collect().map { case (l, r, j) => (l, r, math.rint(j * 1e9)) }.toSet
    def cachedSchemas(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.queryExecution.optimizedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          m.output.map(_.name).toSeq
      }
    def release() = graft.GraftSession.releaseCaches(spark, blocking = true)
    release()
    val expected = try {
      val pairs = build()
      // eager construction materialized the prefix cache and RELEASED the
      // consumer-less input cache: exactly one corpus-scale RDD stays
      val cached = spark.sparkContext.getRDDStorageInfo
      assert(cached.length === 1, cached.map(_.name).mkString(" | "))
      assert(cached.head.storageLevel ===
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val schemas = cachedSchemas(pairs)
      assert(schemas.exists(_.contains("ord")), schemas.toString)
      assert(!schemas.exists(_.contains("prefix")),
        s"prefix must not be materialized into the cache by default: $schemas")
      collectPairs(pairs)
    } finally release()
    assert(expected.nonEmpty)
  }

  test("ordered-arrays df attach is hash-joined and sort-free on the real corpus") {
    // the round-15 ordered-arrays rewrite (SCALE.md §Round 15 spill map):
    // the df attach joins only df≥2 tokens as a shuffled-hash build side
    // with coalesce(df, 1) — provably order-identical to the full-df
    // sort-merge shape it replaced (a df=1 token's sort struct is (1, h)
    // either way; the legacy seam asserted the identity pair-for-pair on
    // this corpus until its A/B was banked and the seam retired). What
    // must HOLD structurally: the attach inside the cached ord build is a
    // hash join, never a sort-merge — those two corpus-scale input sorts
    // were the ~17 GB spill term the rewrite removed.
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tok"))
    def jac() = Dedup.jaccardPairs(d, "doc_id", "tok", "lang", 0.95,
        vocabHint = Some(1L << 20)) // force the PPJoin prefix path
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (l, r, j) => (l, r, math.rint(j * 1e9)) }.toSet
    def cont() = Dedup.containmentPairs(d, "doc_id", "tok", "lang", 0.9)
      .select("left_id", "right_id", "containment").as[(Long, Long, Double)]
      .collect().map { case (l, r, c) => (l, r, math.rint(c * 1e9)) }.toSet
    def release() = graft.GraftSession.releaseCaches(spark, blocking = true)
    release()
    // default shape: the df attach inside the cached ord build must be a
    // hash join (shuffled-hash or AQE-promoted broadcast), never a
    // sort-merge join — the two corpus-scale input sorts are the ~17 GB
    // spill term the rewrite removes
    val probe = Dedup.containmentPairs(d, "doc_id", "tok", "lang", 0.9)
    probe.count()
    // recurse through AQE stages to reach the cache interiors — a plain
    // collect on executedPlan sees only the final stage's surface
    def cachedPlans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val here = p match {
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(c.relation.cachedPlan.toString)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(cachedPlans)
    }
    val cachedBuilds = cachedPlans(probe.queryExecution.executedPlan)
    val ordBuild = cachedBuilds.filter(_.contains("collect_list"))
    assert(ordBuild.nonEmpty, s"expected the cached ord build: $cachedBuilds")
    assert(ordBuild.forall(p => !p.contains("SortMergeJoin")),
      s"default df attach must not sort-merge:\n${ordBuild.mkString}")
    assert(ordBuild.exists(p =>
      p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin")),
      s"default df attach must hash-join:\n${ordBuild.mkString}")
    // both consumers of the shared ord build produce pairs on this corpus
    assert(jac().nonEmpty && cont().nonEmpty)
    release()
  }

  test("delete-1 neighborhood path ≡ bitmap ≡ prefix on the real corpus") {
    // τ=0.95 over ≤31 distinct word tokens per doc → any qualifying pair
    // differs by ≤1 token (⌊31·0.05/0.95⌋ = 1), so the deletion path is
    // exact here; it must agree pair-for-pair and value-for-value with
    // both default representations
    val del1 = Dedup.jaccardPairsDelete1Path(docs, "doc_id", "tok", "lang", 0.95)
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (l, r, j) => (l, r, math.rint(j * 1e9)) }.toSet
    val bitmap = Dedup.jaccardPairs(docs, "doc_id", "tok", "lang", 0.95)
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)]
      .collect().map { case (l, r, j) => (l, r, math.rint(j * 1e9)) }.toSet
    assert(del1.nonEmpty)
    assert(del1 === bitmap)
  }

  test("delete-1 path: equal cliques, one-token subsets, and the radius guard") {
    val d = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
        "k", "l", "m", "n", "o", "p", "q", "r", "s", "t"), "en"),
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
        "k", "l", "m", "n", "o", "p", "q", "r", "s", "t"), "en"), // = 1
      (3L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
        "k", "l", "m", "n", "o", "p", "q", "r", "s"), "en"), // 1 minus "t"
      (4L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
        "k", "l", "m", "n", "o", "p", "q", "r"), "en"), // J vs 3 = 18/19 < .95
      (5L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j",
        "k", "l", "m", "n", "o", "p", "q", "r", "s"), "de"), // other block
      // empty token sets all share (fp=0, n=0); they are filtered before
      // the equal-fingerprint join (Θ(empties²) candidates otherwise) and
      // with τ > 0 can never form a qualifying pair — not with each other,
      // not with anything else
      (6L, Seq.empty[String], "en"),
      (7L, Seq.empty[String], "en"),
    ).toDF("doc_id", "tok", "lang")
    val got = Dedup.jaccardPairsDelete1Path(d, "doc_id", "tok", "lang", 0.95)
      .select("left_id", "right_id", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    // 1≡2 (J=1); 3⊂1 and 3⊂2 (J=19/20=0.95); 4 misses (18/19≈0.947); 5
    // blocked; 6/7 (empty) pair with nothing
    assert(got === Set((1L, 2L, 1.0), (1L, 3L, 0.95), (2L, 3L, 0.95)))
    // the seam refuses parameters where a qualifying pair could differ by
    // ≥2 tokens (the path would be lossy there)
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairsDelete1Path(d, "doc_id", "tok", "lang", 0.8)
    }
    // candidate generation is equi-joins on (block, fingerprint): the plan
    // must never fall back to an all-pairs nested loop
    val q = Dedup.jaccardPairsDelete1Path(d, "doc_id", "tok", "lang", 0.95)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "delete-1 path must stay on keyed equi-joins")
  }

  test("bitmap path reroutes to prefix when the vocab estimate under-shot") {
    // 295 distinct 20-token dictionaries (5,901 tokens — over the bitmap
    // hard cap); docs 295-299 duplicate docs 0-4. A tiny vocabHint forces
    // the bitmap attempt, whose exact dictionary count must hand off to the
    // PPJoin path — results identical to forcing prefix directly, so a bad
    // estimate can never corrupt output
    val big = (0 until 300).map { i =>
      (i.toLong, (0 until 20).map(j => s"tok_${i % 295}_$j") :+ "shared", "en")
    }.toDF("doc_id", "tok", "lang")
    val viaFallback = Dedup.jaccardPairs(big, "doc_id", "tok", "lang", 0.9,
        vocabHint = Some(10L))
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val direct = Dedup.jaccardPairs(big, "doc_id", "tok", "lang", 0.9,
        vocabHint = Some(1L << 20))
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(viaFallback === (0 until 5).map(i => (i.toLong, (i + 295).toLong)).toSet)
    assert(viaFallback === direct)
  }

  test("containment pairs: lossless vs brute force, and asymmetric on subsets") {
    // quote detection: A fully inside a larger B → A→B hits, B→A misses
    val fix = Seq(
      (1L, "x", "al bo ci do el"),
      (2L, "x", "al bo ci do el fa go hu io ju"),
      (3L, "x", "zz yy"),
      (4L, "y", "al bo ci do el")).toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"), array_distinct(split(col("text"), " ")).as("tok"))
    val got = Dedup.containmentPairs(fix, "doc_id", "tok", "lang", 0.9)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    // doc 4 shares tokens but sits in another block; 2→1 is only 5/10
    assert(got === Set((1L, 2L)))
    // lossless vs the O(n²) truth on the small corpus
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), array_distinct(split(col("text"), " ")).as("tok"))
    val fast = Dedup.containmentPairs(docs, "doc_id", "tok", "lang", 0.9)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val a = docs.select(col("lang"), col("doc_id").as("aid"), col("tok").as("at"))
    val b = docs.select(col("lang"), col("doc_id").as("bid"), col("tok").as("bt"))
    val brute = a.join(b, Seq("lang")).where(col("aid") =!= col("bid"))
      .where(size(array_intersect(col("at"), col("bt"))).cast("double")
        / size(col("at")) >= 0.9)
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(fast === brute, s"prefix filter must be lossless: ${brute.diff(fast)} missed")
    assert(brute.nonEmpty, "planted near-dups should produce containment pairs")
    // candidate generation is an equi-join on (block, prefix-token): the
    // plan must never fall back to an all-pairs nested loop
    val q = Dedup.containmentPairs(docs, "doc_id", "tok", "lang", 0.9)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"containment must stay an equi-join:\n$plan")
  }

  test("exact dedup representative is deterministic (min id)") {
    val d = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "t")
    val out = Dedup.exact(d, md5(col("t")), col("id"))
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (3L, 1L)))
  }

  test("connected components labels chains and cliques with the min id") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),           // chain {1,2,3}
      (10L, 11L), (10L, 12L), (11L, 12L), // clique {10,11,12}
      (20L, 21L),                   // pair {20,21}
    ).toDF("left_id", "right_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // driver union-find fast path (the measured-small default)...
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps === expected)
    // ...and the distributed min-label loop agree bit-for-bit
    val dist = Dedup.connectedComponents(pairs, maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist === expected)
  }

  test("driver union-find and the distributed loop agree on a larger random graph") {
    val rnd = new scala.util.Random(11)
    // 400 vertices, ~300 random edges → a mix of chains, merges, singleton-
    // free clusters; plus a long chain to stress pointer jumping
    val randomPairs = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val chain = (500L until 560L).map(i => (i, i + 1))
    val pairs = (randomPairs ++ chain).toDF("left_id", "right_id")
    val fast = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast === dist)
    assert(fast.nonEmpty && (500L to 560L).forall(fast(_) == 500L))
  }

  test("connected components with reliable checkpointing matches localCheckpoint") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("left_id", "right_id")
    // flag without a checkpoint dir must fail loudly, not die mid-loop
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      intercept[IllegalArgumentException] {
        Dedup.connectedComponents(pairs, reliable = true)
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      // maxDriverEdges = 0 forces the distributed loop — the path reliable
      // checkpointing exists for
      val durable = Dedup.connectedComponents(pairs, reliable = true,
          maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(durable === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("canonicalIds covers singletons and real near-dup clusters") {
    val pairs = Dedup.minHashDedup(docs, "doc_id", "sh", threshold = 0.8)
    val canon = Dedup.canonicalIds(docs.select("doc_id"), "doc_id", pairs)
    assert(canon.count() === docs.count())
    // canonical ids are always ≤ the doc id (min-of-cluster convention)
    assert(canon.where(col("canonical_id") > col("doc_id")).count() === 0)
    // every paired doc shares its canonical id with its partner's
    val viol = pairs.join(canon.withColumnRenamed("doc_id", "left_id")
        .withColumnRenamed("canonical_id", "lc"), Seq("left_id"))
      .join(canon.withColumnRenamed("doc_id", "right_id")
        .withColumnRenamed("canonical_id", "rc"), Seq("right_id"))
      .where(col("lc") =!= col("rc")).count()
    assert(viol === 0)
  }

  test("exact-first cascade labels ≡ full-pair-graph labels") {
    // the cascade (collapse identical sets → pair representatives → star
    // edges → CC) must produce byte-identical canonical labels to pairing
    // the whole corpus — on the real corpus (93-doc identical cliques,
    // organic near-dups) and on a fixture with an empty-set group (which
    // must NOT merge: empty-empty is never a pair)
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tok"))
    val plain = Dedup.canonicalIds(toks.select("doc_id"), "doc_id",
        Dedup.jaccardPairs(toks, "doc_id", "tok", "lang", 0.95))
      .as[(Long, Long)].collect().toSet
    // occGate = 0 forces the collapse branch (the public entry would take
    // the plain branch at spec scale); both must match the full-pair labels
    val cascade = Dedup.canonicalIdsCascadeAt(toks, "doc_id", "tok", "lang",
        0.95, reliable = false, occGate = 0)
      .as[(Long, Long)].collect().toSet
    assert(cascade === plain)
    val public = Dedup.canonicalIdsCascade(toks, "doc_id", "tok", "lang", 0.95)
      .as[(Long, Long)].collect().toSet
    assert(public === plain)
    val fix = Seq(
      (1L, Seq("a", "b"), "en"), (2L, Seq("a", "b"), "en"), // exact clique
      (3L, Seq.empty[String], "en"), (4L, Seq.empty[String], "en"), // no merge
      (5L, Seq("x"), "en")).toDF("doc_id", "tok", "lang")
    val got = Dedup.canonicalIdsCascadeAt(fix, "doc_id", "tok", "lang",
        0.9, reliable = false, occGate = 0)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 5L)))
  }

  test("anti-join load is idempotent (property: J2)") {
    val existing = Seq(1L, 2L).toDF("k")
    val incoming = Seq(1L, 2L, 3L).toDF("k")
    val fresh = Dedup.antiJoin(incoming, existing, "k")
    assert(fresh.as[Long].collect().toSet === Set(3L))
    assert(Dedup.antiJoin(fresh, existing.union(fresh), "k").count() === 0)
  }

  test("withCaches bracket structurally releases operator persists, even on failure") {
    val n = graft.GraftSession.withCaches(spark, blocking = true) {
      Dedup.minHashDedup(docs, "doc_id", "sh", threshold = 0.8).count()
    }
    assert(n >= 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "bracket must leave a clean block manager")
    intercept[RuntimeException] {
      graft.GraftSession.withCaches(spark, blocking = true) {
        Dedup.simHashPairs(docs.select(col("doc_id"), col("tok")), "doc_id", "tok")
          .count()
        throw new RuntimeException("job failed mid-composition")
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "bracket must release persists on the failure path too")
  }

  test("cluster-size histogram: exact counts, docs conserved, redundancy = docs - families") {
    val assign = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"),      // family of 3
      (4L, "b"), (5L, "b"),                 // family of 2
      (6L, "c"), (7L, "d")                  // two singletons
    ).toDF("id", "cluster")
    val h = Dedup.clusterSizeHistogram(assign, "cluster")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(h.toSeq === Seq((1L, 2L, 2L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
    // conservation: Σ n_docs = corpus size; Σ n_redundant = docs − families
    assert(h.map(_._3).sum === 7L && h.map(_._4).sum === 7L - 4L)
  }

  test("crossJaccardPairs: batch-vs-corpus pairs only, both prefixes lossless") {
    val batch = Seq(
      (1L, "g", Seq("a", "b", "c")),
      (2L, "g", Seq("a", "b", "c"))).toDF("id", "blk", "toks")
    val corpus = Seq(
      (10L, "g", Seq("a", "b", "c")),  // J=1 with both batch docs
      (11L, "g", Seq("a", "b", "d")),  // J=0.5
      (12L, "g", Seq("x", "y", "z")),  // J=0
      (13L, "h", Seq("a", "b", "c"))   // identical but different block
    ).toDF("id", "blk", "toks")
    val out = Dedup.crossJaccardPairs(batch, corpus, "id", "toks", "blk", 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 10L, 1.0), (2L, 10L, 1.0)),
      "within-batch pair (1,2) and cross-block (·,13) must not surface")
    // threshold low enough to admit the 0.5 pair — prefix filter is lossless
    val loose = Dedup.crossJaccardPairs(batch, corpus, "id", "toks", "blk", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(loose === Set((1L, 10L, 1.0), (2L, 10L, 1.0),
      (1L, 11L, 0.5), (2L, 11L, 0.5)))
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("Tokens variants ≡ string-shingle variants: identical pairs and values on the real corpus") {
    // the window-lead hashed-shingle path must reproduce the string-shingle
    // path exactly — same pair set, bit-identical containment/jaccard (both
    // are quotients of identical set cardinalities)
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), " ").as("tok"))
    val strSh = toks.select(col("doc_id"), col("lang"), col("source"),
      TextAnalysis.shingles(col("tok"), 3).as("sh"))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val cTok = sorted(Dedup.containmentPairsTokens(toks, "doc_id", "tok", "lang", 0.8))
    val cStr = sorted(Dedup.containmentPairs(strSh, "doc_id", "sh", "lang", 0.8))
    assert(cTok.nonEmpty && cTok === cStr,
      s"containment: ${cTok.size} tokens-path vs ${cStr.size} string-path pairs")
    val batch = col("source").isin("src1", "src2", "src3")
    val xTok = sorted(Dedup.crossJaccardPairsTokens(
      toks.where(batch), toks.where(!batch), "doc_id", "tok", "lang", 0.8))
    val xStr = sorted(Dedup.crossJaccardPairs(
      strSh.where(batch), strSh.where(!batch), "doc_id", "sh", "lang", 0.8))
    assert(xTok === xStr,
      s"cross-jaccard: ${xTok.size} tokens-path vs ${xStr.size} string-path pairs")
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("portable MinHash: candidates verified exactly, subset of the exact pair set, layout-stable") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tok"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.minHashDedupPortable(df, "doc_id", "tok", shingleN = 3, threshold = 0.8)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val got = run(docs)
    // verification is exact: every surviving pair's jaccard is correct and
    // the pair exists in the brute-force exact set with the same value
    val strSh = docs.select(col("doc_id"), TextAnalysis.shingles(col("tok"), 3).as("sh"))
    val exact = strSh.as("a").join(strSh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("l"), col("b.doc_id").as("r"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          (size(col("a.sh")) + size(col("b.sh")) -
            size(array_intersect(col("a.sh"), col("b.sh"))))).as("j"))
      .where(col("j") >= 0.8)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.nonEmpty, "fixture should contain near-dups")
    got.foreach { case (l, r, j) =>
      assert(exact.get((l, r)).contains(j), s"pair ($l,$r) must carry its exact jaccard") }
    // the candidate stage is hash-deterministic: any partition layout
    // yields the identical pair set (this is what lets a SQL oracle replay
    // the recall misses bit-for-bit)
    assert(run(docs.repartition(17)).toSeq === got.toSeq)
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("cross cascade experiment: collapsed-representative branch emits exactly the direct branch's pairs") {
    // the equivalence that makes the SCALE.md §Round 13 A/B valid (the
    // cascade is deliberately NOT wired into crossJaccardPairs — measured
    // a net loss on both corpus shapes, see the seam's scaladoc).
    // Exact duplicates planted on BOTH sides (the mass the cascade
    // collapses), near-dups across reps, a cross-side identical pair, an
    // in-block empty set, and a second block — every cascade edge case
    val batch = Seq(
      (1L, "g", Seq("a", "b", "c")),
      (2L, "g", Seq("a", "b", "c")),   // exact dup of 1 (left side)
      (3L, "g", Seq("a", "b", "d")),
      (4L, "g", Seq.empty[String]),    // empty: never a pair
      (5L, "h", Seq("p", "q"))).toDF("id", "blk", "toks")
    val corpus = Seq(
      (10L, "g", Seq("a", "b", "c")),  // identical to 1/2 across sides
      (11L, "g", Seq("a", "b", "c")),  // exact dup of 10 (right side)
      (12L, "g", Seq("a", "b", "e")),
      (13L, "g", Seq.empty[String]),
      (14L, "h", Seq("p", "q", "r"))).toDF("id", "blk", "toks")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    Seq(0.5, 0.65, 1.0).foreach { tau =>
      val direct = sorted(Dedup.crossJaccardPairs(
        batch, corpus, "id", "toks", "blk", tau))
      val cascade = sorted(Dedup.crossJaccardPairsCascadePath(
        batch, corpus, "id", "toks", "blk", tau))
      assert(cascade === direct, s"cascade must be invisible at tau=$tau")
    }
    // sanity: the fixture actually exercises expansion (dup×dup fan-out)
    val atHalf = sorted(Dedup.crossJaccardPairsCascadePath(
      batch, corpus, "id", "toks", "blk", 0.5))
    assert(atHalf.count { case (l, r, j) => j == 1.0 && Set(1L, 2L)(l) && Set(10L, 11L)(r) } === 4,
      "both left dups must pair with both right dups through their reps")
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("crossJaccardPairsTokens: an id present on BOTH sides keeps its token streams separate") {
    // the re-ingest case: doc 42 appears in the batch AND the corpus with
    // different text. The shingle window partitions by (id, block, side),
    // so the two rows must shingle independently — before the round-10 fix
    // (partition by id only) their exploded tokens tied on (id, pos) and
    // lead() interleaved them nondeterministically
    val batch = Seq((42L, "en", Seq("a", "b", "c", "d", "e")),
                    (1L,  "en", Seq("a", "b", "c", "d", "x")))
      .toDF("id", "blk", "tok")
    val corpus = Seq((42L, "en", Seq("p", "q", "r", "s", "t")),
                     (2L,  "en", Seq("a", "b", "c", "d", "e")))
      .toDF("id", "blk", "tok")
    def run() = Dedup.crossJaccardPairsTokens(batch, corpus, "id", "tok", "blk", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val strSh = (df: org.apache.spark.sql.DataFrame) => df.select(col("id"), col("blk"),
      TextAnalysis.shingles(col("tok"), 3).as("sh"))
    val expected = Dedup.crossJaccardPairs(strSh(batch), strSh(corpus), "id", "sh", "blk", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // ground truth from the row-local string path: batch 42 ≡ corpus 2
    // (J=1.0) and batch 1 ~ corpus 2 (shingles abc,bcd ∩ of 4 ⇒ J=0.5);
    // batch 42 ≁ corpus 42 (disjoint). Corrupted id-42 streams would lose
    // the 1.0 pair or fabricate spurious ones
    assert(expected.map(p => (p._1, p._2)) === Set((42L, 2L), (1L, 2L)))
    (1 to 3).foreach { _ => assert(run() === expected, "tokens path diverged from row-local string path") }
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("crossJaccardPairs plan: a small batch's exploded prefix broadcasts against a large corpus") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // tiny batch (3 docs) vs the whole documents table: the scaladoc claims
    // AQE broadcasts the batch side's exploded prefix when it fits — assert
    // the candidate join actually ends up broadcast, not shuffled
    val batch = docs.where(col("doc_id") < 3)
      .select(col("doc_id") + 100000, col("lang"), col("tok"))
      .toDF("doc_id", "lang", "tok")
    val corpus = docs.select(col("doc_id"), col("lang"), col("tok"))
    val out = Dedup.crossJaccardPairs(batch, corpus, "doc_id", "tok", "lang", 0.8)
    out.count() // materialize so AQE finalizes the plan
    val finalPlans = out.queryExecution.executedPlan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bhj = finalPlans.flatMap(_.collect { case b: BroadcastHashJoinExec => b })
    assert(bhj.nonEmpty,
      "the batch-vs-corpus candidate join must be a BroadcastHashJoin under AQE")
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("pair shuffle width: data-driven above the session default, clamped, never narrower") {
    // the pair family's width is the shared rule at its posting target
    def pairWidth(occ: Long, session: Int) =
      ExchangeWidth.width(occ, Dedup.PairJoinTargetOccPerPartition, session)
    // bench-scale corpora (≤ target×session occurrences) keep the session
    // width — plans there must stay byte-identical to the unwidened shape
    assert(pairWidth(0L, 32) === 32)
    assert(pairWidth(1L << 20, 32) === 32)
    assert(pairWidth(24L << 20, 32) === 32)
    // the sf10 knob-replay regime: ~1e8 occurrences land near the
    // measured-best 128, far from the over-split 512
    val sf10 = pairWidth(100L * 1000 * 1000, 32)
    assert(sf10 >= 96 && sf10 <= 160, s"~1e8 occ should widen to ~128, got $sf10")
    // a cluster session sized for its executors is never narrowed
    assert(pairWidth(100L * 1000 * 1000, 2000) === 2000)
    // runaway corpora clamp at the measured regime's cap
    assert(pairWidth(Long.MaxValue / 4, 32) === 1024)
  }

  test("widened posting join: one exchange per side at the custom width, none added by the join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val l = ExchangeWidth.widenForJoin(
      docs.select(col("doc_id").as("left_id"), col("lang").as("blk"),
        explode(col("tok")).as("h")), 7, col("blk"), col("h"))
    val r = ExchangeWidth.widenForJoin(
      docs.select(col("doc_id").as("right_id"), col("lang").as("blk"),
        explode(col("tok")).as("h")), 7, col("blk"), col("h"))
    val joined = l.join(r, Seq("blk", "h")).where(col("left_id") < col("right_id"))
    joined.count()
    val shuffles = joined.queryExecution.executedPlan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }.flatMap(_.collect { case s: ShuffleExchangeExec => s })
    // the widening exchange IS the join's required exchange: same keys, so
    // exactly one per side and both at the requested width
    assert(shuffles.length === 2,
      s"expected the two widening exchanges only, got ${shuffles.length}")
    assert(shuffles.forall(_.outputPartitioning.numPartitions === 7),
      s"widened exchanges must keep the requested width: " +
        shuffles.map(_.outputPartitioning.numPartitions).mkString(","))
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("releaseCaches drops every operator-internal persist (session lifecycle)") {
    Dedup.simHashPairs(docs.select(col("doc_id"), col("tok")), "doc_id", "tok").count()
    Dedup.minHashDedupTokens(
      docs.select(col("doc_id"), split(col("text"), " ").as("t")),
      "doc_id", "t", 3, 0.8).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the dedup operators are expected to persist intermediates")
    graft.GraftSession.releaseCaches(spark, blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseCaches must leave a clean block manager")
  }

  test("qualityKeep: the cleanest cluster member survives, ties to the smallest id, singletons kept") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 8L), (9L, 8L))
      .toDF("doc_id", "canonical_id")
    val scores = Seq((1L, 0.4), (2L, 0.9), (3L, 0.9), (7L, 0.1), (8L, 0.5), (9L, 0.5))
      .toDF("doc_id", "quality")
    val got = Dedup.qualityKeep(labels, scores, "doc_id")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    val kept = got.filter(_._4).map(_._1).toSet
    // cluster 1: 2 and 3 tie at 0.9 -> 2 (smaller id); 7 is a singleton;
    // cluster 8: 8 and 9 tie at 0.5 -> 8
    assert(kept === Set(2L, 7L, 8L))
    assert(got.length === 6, "every member reports, not only the keepers")
    // the arg-max is per CLUSTER, not global: doc 7 keeps at quality 0.1
    assert(got.find(_._1 == 7L).get._4)
  }

  test("removeFrequentPassages: df-threshold drop (ALL copies, unlike " +
    "dropDuplicatePassages), distinct-doc frequency, ordered rebuild, " +
    "all-boilerplate docs come back empty") {
    import spark.implicits._
    val segs = Seq(
      (1L, 0L, "cookie banner"),  // df = 3 → dropped everywhere
      (1L, 1L, "real prose one"),
      (1L, 2L, "real prose two"),
      (2L, 0L, "cookie banner"),
      (2L, 1L, "chorus line"),    // repeats WITHIN doc 2 only: df = 1 → kept
      (2L, 2L, "chorus line"),
      (3L, 0L, "cookie banner"),  // doc 3 is pure boilerplate
    ).toDF("doc_id", "pos", "passage")
    val got = Dedup.removeFrequentPassages(segs, "doc_id", "pos", "passage",
        maxDf = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, "real prose one real prose two", 2L, 1L),
      (2L, "chorus line chorus line", 2L, 1L),
      (3L, "", 0L, 1L)))
    // rebuild honors POSITION order, not insertion order
    val shuffled = Dedup.removeFrequentPassages(
        segs.orderBy(rand(7)).repartition(5), "doc_id", "pos", "passage", 3)
      .where(col("doc_id") === 1).select("clean_text").as[String].head()
    assert(shuffled === "real prose one real prose two")
    intercept[IllegalArgumentException] {
      Dedup.removeFrequentPassages(segs, "doc_id", "pos", "passage", maxDf = 1)
    }
    val clash = segs.withColumn("bp_df", lit(1))
    val e = intercept[IllegalArgumentException] {
      Dedup.removeFrequentPassages(clash, "doc_id", "pos", "passage", 2)
    }
    assert(e.getMessage.contains("bp_df"))
  }
}
