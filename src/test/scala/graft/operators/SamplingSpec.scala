package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ids = (0L until 2000L).toDF("id").cache()

  test("deterministic split: exhaustive, disjoint, stable under repartitioning") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Sampling.deterministicSplit(ids, col("id"), splits)
      .as[(Long, String)].collect().toMap
    assert(a.size === 2000 && a.values.forall(Set("train", "val", "test")))
    val b = Sampling.deterministicSplit(ids.repartition(17), col("id"), splits)
      .as[(Long, String)].collect().toMap
    assert(a === b, "split assignment must not depend on partition layout")
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, s"train frac ${frac("train")}")
    assert(math.abs(frac("val") - 0.1) < 0.04 && math.abs(frac("test") - 0.1) < 0.04)
  }

  test("growing the dataset never moves existing rows between splits") {
    val splits = Seq("train" -> 0.9, "test" -> 0.1)
    val small = Sampling.deterministicSplit(ids.limit(500), col("id"), splits)
      .as[(Long, String)].collect().toMap
    val big = Sampling.deterministicSplit(ids, col("id"), splits)
      .as[(Long, String)].collect().toMap
    small.foreach { case (id, s) => assert(big(id) === s) }
  }

  test("corpus mixing hits target weights from the binding stratum, drops unnamed strata") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val weights = Seq("en" -> 0.5, "fr" -> 0.2, "de" -> 0.3)
    val mixed = Sampling.mixToWeights(docs, col("doc_id"), col("lang"), weights)
      .as[(Long, String)].collect()
    val byLang = mixed.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    assert(byLang.keySet === Set("en", "fr", "de"), "unnamed strata must be dropped")
    val total = mixed.length.toDouble
    weights.foreach { case (lang, w) =>
      val share = byLang(lang) / total
      // bucket quantization (1%) + hash granularity: generous ±6pp window
      assert(math.abs(share - w) < 0.06, s"$lang share $share vs weight $w")
    }
    // the binding stratum (largest count/weight ratio deficit) keeps ~all rows
    val counts = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val binding = weights.minBy { case (l, w) => counts(l) / w }._1
    assert(byLang(binding) / counts(binding) > 0.9,
      s"binding stratum $binding should keep nearly everything")
    // deterministic: the identical keep set on a second evaluation
    val again = Sampling.mixToWeights(docs, col("doc_id"), col("lang"), weights)
      .as[(Long, String)].collect()
    assert(again.map(_._1).sorted.toSeq === mixed.map(_._1).sorted.toSeq)
    intercept[IllegalArgumentException] {
      Sampling.mixToWeights(docs, col("doc_id"), col("lang"), Seq("en" -> -1.0))
    }
  }

  test("mixing fails fast on duplicate stratum names and on all-absent strata") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    // a duplicate would silently last-win; reject at the door
    intercept[IllegalArgumentException] {
      Sampling.mixToWeights(docs, col("doc_id"), col("lang"),
        Seq("en" -> 0.5, "en" -> 0.5))
    }
    // none of the named strata in the corpus = a config error, not an
    // empty mixture
    intercept[IllegalArgumentException] {
      Sampling.mixToWeights(docs, col("doc_id"), col("lang"),
        Seq("klingon" -> 0.5, "elvish" -> 0.5))
    }
  }

  test("plan shape: the mixing keep-predicate is a pure per-row filter (no join, no exchange)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val out = Sampling.mixToWeights(docs, col("doc_id"), col("lang"),
      Seq("en" -> 0.5, "fr" -> 0.5))
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    // the cuts are collected from the metadata-scale counts relation and
    // folded into a literal predicate: the corpus plan has no join at all
    assert(!plan.contains("Join"), s"the corpus side must not join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"a per-row keep predicate must not shuffle the corpus:\n$plan")
  }

  test("stratified sample with no strata keeps the default fraction") {
    val n = Sampling.stratifiedSample(ids, col("id"), lit("x"), Seq.empty,
      defaultFraction = 0.25).count()
    assert(math.abs(n / 2000.0 - 0.25) < 0.05, s"got $n/2000")
  }

  test("plan shape: stratified sample is a pure per-row filter (zero exchanges)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val kept = Sampling.stratifiedSample(docs.select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), Seq("en" -> 0.5), defaultFraction = 0.2)
    kept.count()
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"a per-row sample must not shuffle:\n$plan")
  }

  test("stratified sample: per-stratum fractions, default for absent strata, stable keep set") {
    val rows = ids.withColumn("stratum",
      when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b").otherwise("c"))
    val fractions = Seq("a" -> 0.5, "b" -> 1.0)
    val kept = Sampling.stratifiedSample(rows, col("id"), col("stratum"),
      fractions, defaultFraction = 0.1)
    val byStratum = kept.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    val totals = rows.groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(math.abs(byStratum("a").toDouble / totals("a") - 0.5) < 0.06)
    assert(byStratum("b") === totals("b"), "fraction 1.0 keeps every row")
    assert(math.abs(byStratum("c").toDouble / totals("c") - 0.1) < 0.05)
    // keep decision is per-row content hash: a row kept under one stratum
    // labeling stays kept when other rows change strata (mixture re-tuning
    // never resamples untouched strata)
    val keptA = kept.where(col("stratum") === "a").select("id").as[Long].collect().toSet
    val retuned = Sampling.stratifiedSample(rows, col("id"), col("stratum"),
      Seq("a" -> 0.5, "b" -> 0.3), defaultFraction = 0.9)
      .where(col("stratum") === "a").select("id").as[Long].collect().toSet
    assert(keptA === retuned)
  }

  test("fixed-size sample: exactly k per stratum, layout-stable, pre-cut composable") {
    import spark.implicits._
    val rows = spark.range(0, 300).toDF("id").withColumn("stratum",
      when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b").otherwise("c"))
    val kept = Sampling.fixedSizeSample(rows, col("id"), col("stratum"), k = 7)
    val byStratum = kept.groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(byStratum === Map("a" -> 7L, "b" -> 7L, "c" -> 7L))
    // a stratum smaller than k is kept whole
    val tiny = Sampling.fixedSizeSample(rows.where(col("id") < 4),
      col("id"), col("stratum"), k = 7)
    assert(tiny.count() === 4)
    // partition-layout independence: same set under a different layout
    val ids = kept.select("id").as[Long].collect().toSet
    val reshuffled = Sampling.fixedSizeSample(rows.repartition(13),
      col("id"), col("stratum"), k = 7).select("id").as[Long].collect().toSet
    assert(ids === reshuffled)
    // a rank-prefix pre-cut that keeps >= k rows per stratum yields the
    // SAME sample (it keeps a prefix of the md5Long order) — the
    // huge-stratum scale path from the scaladoc
    val cut = (0.5 * (1L << 60)).toLong
    val precut = rows.where(
      graft.functions.Md5LongFunction.md5Long(col("id").cast("string")) < cut)
    assert(precut.groupBy("stratum").count().as[(String, Long)].collect()
      .forall(_._2 >= 7), "pre-cut fraction must retain at least k per stratum")
    val composed = Sampling.fixedSizeSample(precut, col("id"), col("stratum"), k = 7)
      .select("id").as[Long].collect().toSet
    assert(composed === ids)
  }

  test("deterministic shuffle: layout-stable permutation, contiguous per-shard positions, seed reshuffles") {
    val rows = (0L until 400L).toDF("id")
    def run(df: org.apache.spark.sql.DataFrame, seed: String) =
      Sampling.deterministicShuffle(df, col("id"), seed, shards = 8)
        .select("id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    val base = run(rows, "s1")
    // the permutation is a function of (seed, key) only: any partition
    // layout yields the identical (shard, pos) assignment
    assert(run(rows.repartition(13), "s1") === base)
    // every row appears once; shards partition the keyspace; positions are
    // exactly 1..count within each shard (a loader can stream shard files
    // in pos order with no gaps)
    assert(base.map(_._1) === (0L until 400L).toSet)
    base.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3) === (1L to rs.size).toSet, s"shard $shard positions must tile 1..n")
    }
    assert(base.groupBy(_._2).size === 8, "400 keys over 8 hash shards should hit every shard")
    // a different seed is a fresh permutation (overwhelmingly)
    assert(run(rows, "s2") !== base)
    // scale contract: no single-partition global window — every Window in
    // the plan partitions by the shard column
    val plan = Sampling.deterministicShuffle(rows, col("id"), "s1", 8)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "the in-shard rank must never be a global (single-partition) window")
  }

  test("deterministic shuffle: duplicate keys pair in one shard; reserved columns rejected") {
    // the documented precondition: keys must be row-unique. Pinned
    // behavior for violations — duplicates still land deterministically
    // in the SAME shard (hash of the same key) holding an adjacent pair
    // of positions; only which duplicate takes which of the two is
    // layout-dependent, so the contract degrades pairwise, never globally
    val dup = (0L until 100L).flatMap(i => Seq(i, i)).toDF("id")
    val out = Sampling.deterministicShuffle(dup, col("id"), "s1", shards = 4)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    out.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(_._2).distinct.length === 1, s"duplicates of $id must share a shard")
      val ps = rs.map(_._3).sorted
      assert(ps(1) === ps(0) + 1, s"duplicates of $id must hold adjacent positions")
    }
    out.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3).toSet === (1L to rs.length).toSet,
        s"shard $shard positions must still tile 1..n")
    }
    // inputs already carrying an output/scratch column fail fast instead
    // of being silently overwritten
    val clash = intercept[IllegalArgumentException] {
      Sampling.deterministicShuffle(
        (0L until 10L).toDF("id").withColumn("pos", col("id")),
        col("id"), "s1", 4)
    }
    assert(clash.getMessage.contains("pos"))
  }

  test("topKByScore: exactly k, boundary ties md5-broken, equals the naive sort-limit") {
    // three score groups with the budget landing INSIDE the middle group,
    // plus null/NaN rows that must never be selected
    val rows = (0L until 40L).map(n => (n, 0.9)) ++
      (40L until 100L).map(n => (n, 0.5)) ++
      (100L until 160L).map(n => (n, 0.1)) ++
      Seq((200L, Double.NaN))
    val df = rows.toDF("doc_id", "score")
      .unionByName(Seq(201L).toDF("doc_id").withColumn("score", lit(null).cast("double")))
    val k = 70
    val kept = Sampling.topKByScore(df, col("doc_id"), col("score"), k)
    assert(kept.count() === k)
    assert(kept.columns.toSeq === Seq("doc_id", "score"))
    // equivalence to the naive global sort-limit under the same total order
    val naive = df.where(col("score").isNotNull && !isnan(col("score")))
      .orderBy(col("score").desc,
        graft.functions.Md5LongFunction.md5Long(col("doc_id").cast("string")).asc,
        col("doc_id").cast("string").asc)
      .limit(k)
    assert(kept.collect().toSet === naive.collect().toSet)
    // all of the 0.9 group survives; exactly 30 of the 0.5 tie group does,
    // and WHICH 30 is the md5 prefix of that group (content-deterministic)
    val keptSet = kept.as[(Long, Double)].collect().toSet
    assert((0L until 40L).forall(n => keptSet.contains((n, 0.9))))
    assert(keptSet.count(_._2 === 0.5) === 30)
    assert(keptSet.forall { case (n, _) => n < 100L })
    // layout-invariant: the kept set is a function of content only
    val reKept = Sampling.topKByScore(df.repartition(7), col("doc_id"),
      col("score"), k).collect().toSet
    assert(reKept === kept.collect().toSet)
  }

  test("topKByScore: k past the scored population keeps exactly the scored rows; guards fire") {
    val df = Seq((1L, 0.3), (2L, 0.7), (3L, Double.NaN)).toDF("doc_id", "score")
    val all = Sampling.topKByScore(df, col("doc_id"), col("score"), k = 10)
    assert(all.as[(Long, Double)].collect().toSet === Set((1L, 0.3), (2L, 0.7)))
    val collide = df.withColumnRenamed("score", "tk_score")
    val ex = intercept[IllegalArgumentException] {
      Sampling.topKByScore(collide, col("doc_id"), col("tk_score"), k = 1)
    }
    assert(ex.getMessage.contains("tk_score"))
    assert(intercept[IllegalArgumentException] {
      Sampling.topKByScore(df, col("doc_id"), col("score"), k = 0)
    }.getMessage.contains("budget"))
  }

  test("keepByTokenBudget: maximal prefix by token mass, boundary running sum, equals the naive window") {
    // scores force the order: the 0.9 group (300 tokens) fits whole, the
    // 0.5 tie group (100 tokens/doc) takes the boundary running sum, the
    // 0.1 group must vanish entirely
    val rows = (0L until 3L).map(n => (n, 0.9, 100L)) ++
      (10L until 20L).map(n => (n, 0.5, 100L)) ++
      (30L until 35L).map(n => (n, 0.1, 10L))
    val df = rows.toDF("doc_id", "score", "n_tok")
    val budget = 650L // 300 above + 350 into the tie group → 3 boundary docs (300), not 4
    val kept = Sampling.keepByTokenBudget(df, col("doc_id"), col("score"),
      col("n_tok"), budget).as[(Long, Double, Long)].collect().toSet
    assert(kept.count(_._2 == 0.9) === 3, "the above-τ group is kept whole")
    assert(kept.count(_._2 == 0.5) === 3, "the boundary keeps the maximal md5 prefix that fits")
    assert(kept.count(_._2 == 0.1) === 0, "past the boundary nothing survives (prefix property)")
    // exact equality with the naive global running-sum definition
    val naive = df.withColumn("cum", sum(col("n_tok")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc,
            graft.functions.Md5LongFunction.md5Long(col("doc_id").cast("string")).asc,
            col("doc_id").cast("string").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .where(col("cum") <= budget).drop("cum")
      .as[(Long, Double, Long)].collect().toSet
    assert(kept === naive)
    // a budget covering everything keeps every scored row; layout-invariance
    val all = Sampling.keepByTokenBudget(df.repartition(5), col("doc_id"),
      col("score"), col("n_tok"), budget = 100000L)
    assert(all.count() === df.count())
    assert(Sampling.keepByTokenBudget(df.repartition(7), col("doc_id"),
      col("score"), col("n_tok"), budget).as[(Long, Double, Long)].collect().toSet === kept)
    // non-positive token counts are never selected (they would void the
    // "above-τ rows ≤ budget" bound the scaladoc states): a zero-token
    // top-scorer and a negative-count row both vanish, budget untouched
    val withDegenerate = df.union(
      Seq((90L, 99.0, 0L), (91L, 99.0, -5L)).toDF("doc_id", "score", "n_tok"))
    val kept2 = Sampling.keepByTokenBudget(withDegenerate, col("doc_id"),
      col("score"), col("n_tok"), budget).as[(Long, Double, Long)].collect().toSet
    assert(kept2 === kept)
    // guards
    assert(intercept[IllegalArgumentException] {
      Sampling.keepByTokenBudget(df, col("doc_id"), col("score"), col("n_tok"), 0L)
    }.getMessage.contains("budget"))
    assert(intercept[IllegalArgumentException] {
      Sampling.keepByTokenBudget(df.withColumnRenamed("n_tok", "tk_n"),
        col("doc_id"), col("score"), col("tk_n"), 10L)
    }.getMessage.contains("tk_n"))
  }

  test("epochExpand: ⌊w⌋ copies plus a deterministic hash-bucket extra, " +
      "0-based epoch index, coherent with stratifiedSample's cut") {
    val df = (0L until 600L).map(n =>
      (n, if (n < 200) "A" else if (n < 400) "B" else "C")).toDF("doc_id", "grp")
    val out = Sampling.epochExpand(df, col("doc_id"), col("grp"),
      Seq("A" -> 2.5, "B" -> 0.25), defaultEpochs = 1.0)
      .as[(Long, String, Int)].collect()
    val copies = out.groupBy(_._1).view.mapValues(_.length).toMap
    val buckets = df.withColumn("b", Sampling.hashBucket(col("doc_id")))
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    // A (2.5): 2 copies, 3 iff bucket < 50; B (0.25): 1 copy iff bucket
    // < 25, else dropped; C (default 1.0): exactly once
    (0L until 200L).foreach { n =>
      assert(copies.getOrElse(n, 0) === (if (buckets(n) < 50) 3 else 2)) }
    (200L until 400L).foreach { n =>
      assert(copies.getOrElse(n, 0) === (if (buckets(n) < 25) 1 else 0)) }
    (400L until 600L).foreach { n => assert(copies.getOrElse(n, 0) === 1) }
    // epoch is exactly 0..copies-1 per doc
    out.groupBy(_._1).foreach { case (n, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (0 until copies(n)).toSeq) }
    // the fractional-copy decision IS stratifiedSample's cut: B's kept set
    // equals the 0.25-fraction stratified sample of the B slice
    val bKept = out.filter(_._2 == "B").map(_._1).toSet
    val strat = Sampling.stratifiedSample(df.where(col("grp") === "B"),
      col("doc_id"), col("grp"), Seq("B" -> 0.25))
      .as[(Long, String)].collect().map(_._1).toSet
    assert(bKept === strat)
    // weight 0 drops a stratum outright; all-1.0 ≡ input + epoch 0
    assert(Sampling.epochExpand(df, col("doc_id"), col("grp"),
      Seq("C" -> 0.0)).where(col("grp") === "C").count() === 0)
    val id = Sampling.epochExpand(df, col("doc_id"), col("grp"), Seq())
      .as[(Long, String, Int)].collect()
    assert(id.length === 600 && id.forall(_._3 == 0))
    // layout invariance
    assert(Sampling.epochExpand(df.repartition(7), col("doc_id"), col("grp"),
      Seq("A" -> 2.5, "B" -> 0.25)).as[(Long, String, Int)].collect().toSet
      === out.toSet)
    // HALF-UP fraction quantization: w = 0.3 must keep 30% of buckets
    // even though IEEE 0.3·100 = 29.999…96 (a bare floor kept 29%) — the
    // kept set is exactly the bucket-< 30 cut
    val frac03 = Sampling.epochExpand(df, col("doc_id"), col("grp"),
      Seq("A" -> 0.3, "B" -> 0.0, "C" -> 0.0))
      .as[(Long, String, Int)].collect().map(_._1).toSet
    assert(frac03 === (0L until 200L).filter(n => buckets(n) < 30).toSet,
      "0.3 must quantize to the 30-bucket cut, not IEEE-floor to 29")
    // guards
    assert(intercept[IllegalArgumentException] {
      Sampling.epochExpand(df, col("doc_id"), col("grp"), Seq("A" -> -1.0))
    }.getMessage.contains("non-negative"))
    assert(intercept[IllegalArgumentException] {
      Sampling.epochExpand(df, col("doc_id"), col("grp"),
        Seq("A" -> 1.0, "A" -> 2.0))
    }.getMessage.contains("duplicate"))
    assert(intercept[IllegalArgumentException] {
      Sampling.epochExpand(df.withColumn("epoch", lit(0)), col("doc_id"),
        col("grp"), Seq("A" -> 1.0))
    }.getMessage.contains("epoch"))
  }

  test("keepByGroupTokenBudget: per-group maximal prefix, equals the naive " +
      "per-group window and the global operator applied per group") {
    // group A: 0.9 level (300) fits whole, 0.5 level takes the boundary
    //   running sum, 0.1 level vanishes — q95's fixture, now labelled A
    // group B: a different shape — every doc at one score level, so B is
    //   ALL boundary; 7×150 tokens against the 650 budget keeps 4 docs
    // group C: total mass (400) under budget — kept whole, no boundary
    val rows = ((0L until 3L).map(n => (n, "A", 0.9, 100L)) ++
      (10L until 20L).map(n => (n, "A", 0.5, 100L)) ++
      (30L until 35L).map(n => (n, "A", 0.1, 10L)) ++
      (40L until 47L).map(n => (n, "B", 0.7, 150L)) ++
      (50L until 54L).map(n => (n, "C", 0.2, 100L))).toSeq
    val df = rows.toDF("doc_id", "grp", "score", "n_tok")
    val budget = 650L
    val kept = Sampling.keepByGroupTokenBudget(df, col("grp"), col("doc_id"),
      col("score"), col("n_tok"), budget)
      .as[(Long, String, Double, Long)].collect().toSet
    assert(kept.count(r => r._2 == "A" && r._3 == 0.9) === 3)
    assert(kept.count(r => r._2 == "A" && r._3 == 0.5) === 3)
    assert(kept.count(r => r._2 == "A" && r._3 == 0.1) === 0)
    assert(kept.count(_._2 == "B") === 4, "all-boundary group takes ⌊650/150⌋")
    assert(kept.count(_._2 == "C") === 4, "under-budget group is kept whole")
    // per-group token bound holds everywhere
    kept.groupBy(_._2).foreach { case (g, rs) =>
      assert(rs.map(_._4).sum <= budget, s"group $g exceeds its budget") }
    // ≡ the naive per-group running-sum window
    val naive = df.withColumn("cum", sum(col("n_tok")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp"))
          .orderBy(col("score").desc,
            graft.functions.Md5LongFunction.md5Long(col("doc_id").cast("string")).asc,
            col("doc_id").cast("string").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .where(col("cum") <= budget).drop("cum")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(kept === naive)
    // ≡ the GLOBAL operator applied to each group slice independently
    val perGroup = Seq("A", "B", "C").flatMap { g =>
      Sampling.keepByTokenBudget(df.where(col("grp") === g), col("doc_id"),
        col("score"), col("n_tok"), budget)
        .as[(Long, String, Double, Long)].collect()
    }.toSet
    assert(kept === perGroup)
    // layout invariance + degenerate exclusions (null group joins null
    // score / non-positive tokens as never-selected)
    assert(Sampling.keepByGroupTokenBudget(df.repartition(7), col("grp"),
      col("doc_id"), col("score"), col("n_tok"), budget)
      .as[(Long, String, Double, Long)].collect().toSet === kept)
    val withDegenerate = df.union(Seq(
      (90L, null.asInstanceOf[String], 99.0, 100L),
      (91L, "A", 99.0, 0L),
      (92L, "B", Double.NaN, 100L)).toDF("doc_id", "grp", "score", "n_tok"))
    assert(Sampling.keepByGroupTokenBudget(withDegenerate, col("grp"),
      col("doc_id"), col("score"), col("n_tok"), budget)
      .as[(Long, String, Double, Long)].collect().toSet === kept)
    // budget covering everything keeps every selectable row
    assert(Sampling.keepByGroupTokenBudget(df, col("grp"), col("doc_id"),
      col("score"), col("n_tok"), 100000L).count() === df.count())
    // the doc-count cap identity: tokenCount = lit(1), budget = k IS
    // per-group top-k by score (the scaladoc's claim, pinned)
    val top2 = Sampling.keepByGroupTokenBudget(df, col("grp"), col("doc_id"),
      col("score"), lit(1L), budgetPerGroup = 2L)
      .as[(Long, String, Double, Long)].collect().toSet
    val rn = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(col("score").desc,
            graft.functions.Md5LongFunction.md5Long(col("doc_id").cast("string")).asc,
            col("doc_id").cast("string").asc)))
      .where(col("rn") <= 2).drop("rn")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(top2 === rn, "unit token counts make the budget a doc-count cap")
    // guards
    assert(intercept[IllegalArgumentException] {
      Sampling.keepByGroupTokenBudget(df, col("grp"), col("doc_id"),
        col("score"), col("n_tok"), 0L)
    }.getMessage.contains("budget"))
    assert(intercept[IllegalArgumentException] {
      Sampling.keepByGroupTokenBudget(df.withColumnRenamed("n_tok", "tk_lvl"),
        col("grp"), col("doc_id"), col("score"), col("tk_lvl"), 10L)
    }.getMessage.contains("tk_lvl"))
  }

  test("keepByGroupTokenBudget plan: no corpus sort, no driver threshold — " +
      "level aggregate + boundary-only ranking") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text"), Seq("the", "a")).as("q"),
        TextAnalysis.tokenCount(col("text")).as("n"))
    val kept = Sampling.keepByGroupTokenBudget(docs, col("source"),
      col("doc_id"), col("q"), col("n"), budgetPerGroup = 800L)
    assert(kept.count() > 0)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(nodes)
    }
    val plan = nodes(kept.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
    val sorts = plan.collect { case s: SortExec if s.global => s }
    assert(sorts.isEmpty, s"no global sort may appear, got: $sorts")
  }

  test("topKByScore plan: no corpus sort — histogram threshold + boundary-only ranking") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text"), Seq("the", "a")).as("q"))
    val kept = Sampling.topKByScore(docs, col("doc_id"), col("q"), k = 200)
    assert(kept.count() === 200)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(nodes)
    }
    val plan = nodes(kept.queryExecution.executedPlan)
    // the whole point vs orderBy().limit(): no TakeOrdered single-task
    // merge, no global corpus sort — the only sort allowed is the boundary
    // tie group's window sort (its input is one score value's rows)
    assert(!plan.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "budget selection must not funnel partition top-ks into one task")
    val sorts = plan.collect { case s: SortExec if s.global => s }
    assert(sorts.isEmpty, s"no global sort may appear, got: $sorts")
    // two exchanges: the boundary window's hash exchange; the above-τ
    // branch is a pure filter (the histogram pass is a separate job)
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      .filter(_.outputPartitioning.numPartitions > 1)
    assert(shuffles.length <= 1,
      s"only the boundary tie-group window may shuffle, got ${shuffles.length}")
  }

  test("weightedSample replays a driver-side Efraimidis–Spirakis reference exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val got = Sampling.weightedSample(docs, col("doc_id"), col("n_chars"),
      col("lang"), k = 4, seed = "s1")
      .select(col("lang"), col("doc_id")).as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // independent reference: collect, compute u and u^(1/w) in plain Scala
    val rows = docs.as[(Long, String, Long)].collect()
    val expected = rows.groupBy(_._2).view.mapValues { g =>
      g.filter(_._3 > 0).map { case (id, _, w) =>
        val h = graft.functions.Md5LongKernel.hash(("s1" + id).getBytes("UTF-8"))
        val u = (h.toDouble + 0.5) / math.pow(2.0, 60)
        (id, math.pow(u, 1.0 / w), h)
      }.sortBy { case (id, esk, h) => (-esk, h, id.toString) }
        .take(4).map(_._1).toSet
    }.toMap
    assert(got === expected)
  }

  test("weightedSample: deterministic per seed, fresh draw per seed, k per stratum") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def draw(seed: String) = Sampling.weightedSample(docs, col("doc_id"),
      col("n_chars"), col("lang"), k = 5, seed = seed)
      .select(col("doc_id")).as[Long].collect().toSet
    val a = draw("x")
    assert(a === draw("x"), "same seed must reproduce the draw")
    assert(a !== draw("y"), "a fresh seed must give a fresh draw")
    val perLang = Sampling.weightedSample(docs, col("doc_id"), col("n_chars"),
      col("lang"), k = 5, seed = "x")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(perLang.values.forall(_ === 5L), s"k per stratum: $perLang")
    // columns come back unchanged (scratch columns dropped)
    assert(Sampling.weightedSample(docs, col("doc_id"), col("n_chars"),
      col("lang"), k = 1).columns === docs.columns)
  }

  test("weightedSample: heavier rows win proportionally more often across seeds") {
    val two = Seq((1L, 9.0), (2L, 1.0)).toDF("id", "w")
    val wins = (0 until 300).count { s =>
      Sampling.weightedSample(two, col("id"), col("w"), lit(0), k = 1,
        seed = s"seed$s").select(col("id")).as[Long].collect()(0) == 1L
    }
    // P(heavy) = 0.9; binomial sd over 300 trials ≈ 0.017 — ±5σ band
    assert(wins >= 245 && wins <= 295, s"heavy row won $wins/300, expected ~270")
  }

  test("weightedSample plan: one stratum exchange feeding the per-stratum window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Sampling.weightedSample(docs, col("doc_id"), col("n_chars"),
      col("lang"), k = 5)
    out.count()
    val plan = out.queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val nodes = plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = nodes.flatMap(_.collect { case s: ShuffleExchangeExec => s })
    assert(shuffles.length <= 1,
      s"only the stratum window may shuffle, got ${shuffles.length}")
    assert(!plan.toString.contains("Join"), "the draw must not join")
  }

  test("weightedSampleGlobal ≡ a single-stratum draw, planned as TakeOrderedAndProject") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val global = Sampling.weightedSampleGlobal(docs, col("doc_id"),
      col("n_chars"), k = 12, seed = "g")
    val viaWindow = Sampling.weightedSample(docs, col("doc_id"),
      col("n_chars"), lit(0), k = 12, seed = "g")
    assert(global.select("doc_id").as[Long].collect().toSet ===
      viaWindow.select("doc_id").as[Long].collect().toSet)
    global.count()
    val plan = global.queryExecution.executedPlan
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val nodes = plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(nodes.exists(_.collect {
      case t: TakeOrderedAndProjectExec => t }.nonEmpty),
      s"global draw must plan per-partition top-k heaps:\n$plan")
    assert(!plan.toString.contains("Window"),
      "the global draw must not pay a single-partition window")
  }

  test("temperatureWeights: alpha=1 reproduces the natural mix, alpha=0 equalizes, guards fire") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val natural = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    // alpha = 1: weights ∝ n -> every stratum's cut is the full bucket
    // range -> the mixture keeps the corpus verbatim
    val w1 = Sampling.temperatureWeights(docs, col("lang"), alpha = 1.0)
    val kept1 = Sampling.mixToWeights(docs, col("doc_id"), col("lang"), w1).count()
    assert(kept1 === docs.count(), "alpha=1 must keep the natural mix")
    // alpha = 0: weights uniform -> stratum of size n keeps ~ n_min/n
    val w0 = Sampling.temperatureWeights(docs, col("lang"), alpha = 0.0)
    assert(w0.map(_._2).distinct === Seq(1.0), "alpha=0 weights are uniform")
    val kept0 = Sampling.mixToWeights(docs, col("doc_id"), col("lang"), w0)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val nMin = natural.values.min
    natural.foreach { case (lang, n) =>
      val target = nMin.toDouble / n
      val got = kept0(lang).toDouble / n
      // bucket quantization (1%) + per-stratum hash realization noise
      // (sd ≈ √(t(1−t)/n), n as small as 71 here) — a ±4σ band plus the
      // floor'd bucket keeps the check tight where n is large and honest
      // where it is not
      val band = 0.01 + 4.0 * math.sqrt(target * (1 - target) / n)
      assert(got <= target + band && got >= target - band,
        s"$lang kept $got of target $target (band $band)")
    }
    // intermediate alpha lands between the two regimes for the big stratum
    val wh = Sampling.temperatureWeights(docs, col("lang"), alpha = 0.5)
    val biggest = natural.maxBy(_._2)._1
    val keptH = Sampling.mixToWeights(docs, col("doc_id"), col("lang"), wh)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(keptH(biggest) > kept0(biggest) && keptH(biggest) < natural(biggest))
    // weights are 6-decimal quantized and deterministically ordered
    assert(wh === wh.sortBy(_._1))
    wh.foreach { case (_, v) =>
      assert(BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble === v)
    }
    val tooMany = spark.range(Sampling.MaxStrata + 1L)
      .select(col("id").cast("string").as("lang"))
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(tooMany, col("lang"), alpha = 0.5)
    }
    assert(e.getMessage.contains("cardinality"))
    intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(docs, col("lang"), alpha = 1.5)
    }
  }

  test("unimaxWeights: hand-computed waterfill — caps bind ascending, " +
    "leftover splits equally, regimes degrade correctly") {
    // capacities a=10, b=20, c=70 (total 100); cap 2 epochs, budget 1.2×100:
    //   a: 20 ≤ 120/3      → capped at 2.0 epochs
    //   b: 40 ≤ (120−20)/2 → capped at 2.0 epochs
    //   c: 140 > (120−60)/1 → uncapped, leftover 60 → 60/70 epochs
    val df = Seq(("a", 4L), ("a", 6L), ("b", 20L), ("c", 70L)).toDF("s", "n")
    val w = Sampling.unimaxWeights(df, col("s"), col("n"),
      budgetFactor = 1.2, epochCap = 2.0)
    assert(w === Seq("a" -> 2.0, "b" -> 2.0, "c" -> 0.857143))
    // ample budget: every stratum capped exactly at epochCap
    val ample = Sampling.unimaxWeights(df, col("s"), col("n"),
      budgetFactor = 3.0, epochCap = 2.0)
    assert(ample.map(_._2) === Seq(2.0, 2.0, 2.0))
    // tiny budget: no stratum caps (k = 0), all split B/L equally
    val tiny = Sampling.unimaxWeights(df, col("s"), col("n"),
      budgetFactor = 0.1, epochCap = 2.0)
    assert(tiny === Seq("a" -> 0.333333, "b" -> 0.166667, "c" -> 0.047619))
    // budget conservation whenever a stratum is uncapped: Σ wᵢ·cᵢ ≈ B
    Seq(w -> 120.0, tiny -> 10.0).foreach { case (ws, b) =>
      val spent = ws.map { case (s, v) =>
        v * Map("a" -> 10L, "b" -> 20L, "c" -> 70L)(s) }.sum
      assert(math.abs(spent - b) < 1e-3, s"spent $spent of budget $b")
    }
  }

  test("unimaxWeights: zero-capacity and null strata, guards fire") {
    val df = Seq(Some("a") -> 4L, Some("a") -> 6L, Some("b") -> 20L,
        Some("c") -> 70L, Some("z") -> 0L, Option.empty[String] -> 99L)
      .map { case (s, n) => (s, n) }.toDF("s", "n")
    // the zero-capacity stratum reports 0 epochs and never enters the
    // fill (no division by zero, no budget consumed); null strata are
    // excluded entirely — the waterfill over a/b/c is byte-identical to
    // the fixture without them
    val w = Sampling.unimaxWeights(df, col("s"), col("n"),
      budgetFactor = 1.2, epochCap = 2.0)
    assert(w === Seq("a" -> 2.0, "b" -> 2.0, "c" -> 0.857143, "z" -> 0.0))
    intercept[IllegalArgumentException] {
      Sampling.unimaxWeights(df, col("s"), col("n"), budgetFactor = 0.0,
        epochCap = 2.0)
    }
    intercept[IllegalArgumentException] {
      Sampling.unimaxWeights(df, col("s"), col("n"), budgetFactor = 1.0,
        epochCap = -1.0)
    }
    val tooMany = spark.range(Sampling.MaxStrata + 1L)
      .select(col("id").cast("string").as("s"), lit(1L).as("n"))
    val e = intercept[IllegalArgumentException] {
      Sampling.unimaxWeights(tooMany, col("s"), col("n"), budgetFactor = 1.0,
        epochCap = 2.0)
    }
    assert(e.getMessage.contains("cardinality"))
    val neg = intercept[IllegalArgumentException] {
      Sampling.unimaxWeights(Seq(("a", -5L)).toDF("s", "n"), col("s"),
        col("n"), budgetFactor = 1.0, epochCap = 2.0)
    }
    assert(neg.getMessage.contains("negative"))
  }

  test("unimaxWeights ∘ epochExpand realizes the budget: per-stratum " +
    "epochs track the waterfill and total mass lands on budgetFactor×corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val w = Sampling.unimaxWeights(docs, col("lang"), col("n_chars"),
      budgetFactor = 1.5, epochCap = 2.0).toMap
    assert(w.values.max === 2.0, "some language must hit the epoch cap")
    assert(w.values.min < 1.0, "the head language must downsample below 1 epoch")
    val out = Sampling.epochExpand(docs, col("doc_id"), col("lang"),
      w.toSeq.sortBy(_._1))
    // (key, epoch) unique; no copy index past ⌈cap⌉
    val n = out.count()
    assert(out.select("doc_id", "epoch").distinct().count() === n)
    assert(out.agg(max("epoch")).as[Int].collect()(0) <= 1,
      "cap 2.0 epochs ⇒ copy indices 0 and 1 only")
    // realized char mass per language ≈ wᵢ·cᵢ; total ≈ 1.5× the corpus.
    // Band: 1% bucket quantization + 5σ of the fractional copy's
    // hash-realization noise over nᵢ docs (the draw is deterministic but
    // fixed — a small stratum's realization legitimately sits 2–3σ out,
    // and char-weighting inflates the doc-count σ)
    val corpus = docs.groupBy("lang").agg(sum("n_chars").as("c"))
      .as[(String, Long)].collect().toMap
    val nDocs = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val got = out.groupBy("lang").agg(sum("n_chars").as("c"))
      .as[(String, Long)].collect().toMap
    corpus.foreach { case (lang, c) =>
      val ratio = got.getOrElse(lang, 0L).toDouble / c
      val f = w(lang) - math.floor(w(lang))
      val band = 0.01 + 5.0 * math.sqrt(f * (1 - f) / nDocs(lang))
      assert(math.abs(ratio - w(lang)) < band,
        s"$lang realized $ratio epochs of weight ${w(lang)} (band $band)")
    }
    val total = got.values.sum.toDouble / corpus.values.sum
    assert(math.abs(total - 1.5) < 0.05, s"realized $total of the 1.5× budget")
  }

  test("doremiWeights: softmax over the drift KL — hand fixture replays, " +
    "monotone in KL, uniform at eta→0, guards fire") {
    // two-slice fixture with hand-computable KLs: A = {x,x,x}, B = {y};
    // corpus P(x)=3/4, P(y)=1/4 ⇒ KL_A = ln(4/3), KL_B = ln(4)
    val df = Seq(("A", "x x x"), ("B", "y")).toDF("src", "text")
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Sampling.doremiWeights(df, "src", "text", eta = 1.0)
      .as[(String, Double, Double)].collect().sortBy(_._1)
    val klA = r6(math.log(4.0 / 3.0))
    val klB = r6(math.log(4.0))
    val muA = math.round(math.exp(1.0 * klA) * 1e6)
    val muB = math.round(math.exp(1.0 * klB) * 1e6)
    assert(got.toSeq === Seq(
      ("A", klA, r6(muA.toDouble / (muA + muB))),
      ("B", klB, r6(muB.toDouble / (muA + muB)))))
    assert(got(1)._3 > got(0)._3, "the higher-excess domain must upweight")
    // on real data: weights are a distribution and track the KL order
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = Sampling.doremiWeights(docs, "source", "text", eta = 50.0)
      .as[(String, Double, Double)].collect()
    assert(w.length === 20 && w.forall(_._3 > 0))
    assert(math.abs(w.map(_._3).sum - 1.0) < 2e-5, "weights must sum to ~1")
    assert(w.maxBy(_._2)._1 === w.maxBy(_._3)._1,
      "the max-KL source must carry the max weight")
    // eta → 0: every factor quantizes to the same micro-unit ⇒ exactly uniform
    val u = Sampling.doremiWeights(docs, "source", "text", eta = 1e-12)
      .as[(String, Double, Double)].collect()
    assert(u.forall(_._3 === 0.05), "vanishing eta must return the uniform mix")
    intercept[IllegalArgumentException] {
      Sampling.doremiWeights(docs, "source", "text", eta = 0.0)
    }
    // an eta mis-sized for the corpus's KLs fails fast instead of
    // silently saturating the micro-unit long (non-ANSI cast would
    // collapse every high-drift domain to the same weight)
    val boom = intercept[Exception] {
      Sampling.doremiWeights(df, "src", "text", eta = 100.0).collect()
    }
    assert(boom.getMessage.contains("micro-unit") ||
      Option(boom.getCause).exists(_.getMessage.contains("micro-unit")),
      s"expected the overflow fail-fast, got: ${boom.getMessage}")
  }

  test("weightedSample: non-competing rows excluded, guards fire") {
    val df = Seq(
      (1L, Option(2.0)), (2L, Option(0.0)), (3L, Option(-1.0)),
      (4L, Option.empty[Double]), (5L, Option(Double.NaN)),
      (6L, Option(Double.PositiveInfinity))).toDF("id", "w")
    val kept = Sampling.weightedSample(df, col("id"), col("w"), lit(0), k = 10)
      .select(col("id")).as[Long].collect().toSet
    assert(kept === Set(1L),
      "only the positive-FINITE-weight row can be drawn (+∞ would collapse " +
        "its ES key to exactly 1.0 and win on the hash lottery)")
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(df, col("id"), col("w"), lit(0), k = 0)
    }
    val clash = Seq((1L, 1.0, 2.0)).toDF("id", "w", "ws_esk")
    val e = intercept[IllegalArgumentException] {
      Sampling.weightedSample(clash, col("id"), col("w"), lit(0), k = 1)
    }
    assert(e.getMessage.contains("ws_esk"))
  }

  /** Independent reference for [[Sampling.systematicResample]] over
    * (doc_id, n_chars): one flat BigInt cumsum on the driver. Returns the
    * draws per id and the competing rows in line order. */
  private def flatResample(docs: org.apache.spark.sql.DataFrame, n: Long,
                           seed: String): (Map[Long, Long], Seq[(Long, BigInt)]) = {
    val rows = docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
      .filter(_._2 > 0)
      .map { case (id, w) =>
        val h = graft.functions.Md5LongKernel.hash((seed + id).getBytes("UTF-8"))
        (id, BigInt(w), h)
      }.sortBy { case (id, _, h) => (h, id.toString) }
    val W = rows.map(_._2).sum
    def g(x: BigInt) = (x + W) / (W * 2)
    var cum = BigInt(0)
    val draws = rows.flatMap { case (id, w, _) =>
      val prev = cum; cum += w
      val d = g(cum * 2 * n) - g(prev * 2 * n)
      if (d >= 1) Some(id -> d.toLong) else None
    }.toMap
    (draws, rows.map(r => r._1 -> r._2).toSeq)
  }

  test("systematicResample replays a driver-side flat reference exactly; " +
    "Σdraws = n and every count within 1 of expectation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    val n = 500L
    val got = Sampling.systematicResample(docs, col("doc_id"), col("n_chars"),
      n = n, seed = "sr1")
      .select(col("doc_id"), col("draws")).as[(Long, Long)].collect().toMap
    val (expected, rows) = flatResample(docs, n, "sr1")
    val W = rows.map(_._2).sum
    assert(got === expected)
    assert(got.values.sum === n, "systematic resampling must emit exactly n draws")
    // minimum-variance property: draws_i ∈ {⌊n·w/W⌋, ⌈n·w/W⌉}
    val byId = rows.toMap
    got.foreach { case (id, d) =>
      val exp = BigDecimal(n) * BigDecimal(byId(id)) / BigDecimal(W)
      assert(BigDecimal(d) > exp - 1 && BigDecimal(d) < exp + 1,
        s"doc $id drew $d vs expectation $exp — outside the ±1 guarantee")
    }
  }

  test("systematicResample: bucketed prefix sum ≡ flat, layout-stable, " +
    "seed freshens the draw") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def run(parts: Int, seed: String = "sA") =
      Sampling.systematicResample(docs.repartition(parts), col("doc_id"),
        col("n_chars"), n = 300L, seed = seed)
        .select(col("doc_id"), col("draws")).as[(Long, Long)].collect().toMap
    val a = run(4)
    assert(a === flatResample(docs, 300L, "sA")._1,
      "the 256-bucket split must equal the flat prefix sum")
    assert(a === run(23), "the draw must not depend on partition layout")
    assert(a !== run(4, "sB"), "a fresh seed must give a fresh draw")
    // output schema: input columns + draws, scratch dropped
    val out = Sampling.systematicResample(docs, col("doc_id"), col("n_chars"), 10L)
    assert(out.columns === (docs.columns :+ "draws"))
  }

  test("systematicResample plan: one bucket exchange into the per-bucket " +
    "window, offsets broadcast — no global sort, no single-partition window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Sampling.systematicResample(docs, col("doc_id"), col("n_chars"),
      n = 100L, seed = "p")
    out.count()
    val plan = out.queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val nodes = plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = nodes.flatMap(_.collect { case s: ShuffleExchangeExec => s })
    assert(shuffles.length <= 1,
      s"only the bucket window may shuffle the corpus, got ${shuffles.length}")
    assert(shuffles.forall(_.outputPartitioning.toString.contains("sr_b")),
      s"the one shuffle must hash on the bucket, got $shuffles")
    assert(nodes.exists(_.collect {
      case b: BroadcastExchangeExec => b }.nonEmpty),
      "the 2^bits offset relation must broadcast, never shuffle the corpus")
  }

  test("DSIR ∘ systematicResample: exp-weights dominate the draw when the " +
    "target vocabulary actually separates; q132's Σdraws exactly n") {
    // the corpus gate's tilt is real but smaller than count granularity
    // (shared vocab → exp spread ~1%; every doc draws 2 of n=1000), so
    // the DOMINANCE property is pinned on a fixture with disjoint
    // vocabularies — the regime DSIR exists for
    val docs = ((1L to 10L).map(i => (i, "en", "aa bb cc dd")) ++
      (11L to 20L).map(i => (i, "zz", "xx yy ww vv"))).toDF("doc_id", "lang", "text")
    val scored = graft.operators.TextAnalysis.dsirScore(
      docs, "doc_id", "text", col("lang") === "en")
    val drawn = Sampling.systematicResample(scored, col("doc_id"),
        floor(exp(col("dsir_score")) * 1e6 + 0.5), n = 100L, seed = "t")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(sum(col("draws")).as("d"))
      .as[(String, Long)].collect().toMap
    assert(drawn.values.sum === 100L)
    assert(drawn.getOrElse("en", 0L) > 80L,
      s"target docs carry e^positive likelihood ratios and must dominate " +
        s"the importance draw: $drawn")
    // the corpus gate conserves the draw count exactly
    val out = graft.queries.Queries.all("q132_dsir_resample")(spark, sf)
    assert(out.agg(sum(col("draws"))).as[Long].head() === 1000L)
  }

  test("systematicResample: non-competing rows excluded, guards fire") {
    val df = Seq((1L, Option(5L)), (2L, Option(0L)), (3L, Option(-4L)),
      (4L, Option.empty[Long])).toDF("id", "w")
    val got = Sampling.systematicResample(df, col("id"), col("w"), n = 7L)
      .select(col("id"), col("draws")).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 7L),
      "only the positive-weight row competes and it takes all n draws")
    intercept[IllegalArgumentException] {
      Sampling.systematicResample(df, col("id"), col("w"), n = 0L)
    }
    intercept[IllegalArgumentException] {
      Sampling.systematicResample(df, col("id"), col("w"), n = 2000000000L)
    }
    intercept[IllegalArgumentException] { // nothing to draw from
      Sampling.systematicResample(df.where(col("id") > 1), col("id"), col("w"), 5L)
    }
    val clash = Seq((1L, 1L, 2L)).toDF("id", "w", "draws")
    val e = intercept[IllegalArgumentException] {
      Sampling.systematicResample(clash, col("id"), col("w"), n = 1L)
    }
    assert(e.getMessage.contains("draws"))
  }
}
