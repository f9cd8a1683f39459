package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("PQ: codebook shape, layout-stable codes, argmin encoding, Lloyd never increases error") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val (m, ksub) = (4, 16)
    val books = Similarity.pqTrain(e, m, ksub, iters = 1)
    assert(books.length === m && books.forall(_.length === ksub) &&
      books.forall(_.forall(_.length === 64 / m)))
    val codes = Similarity.pqEncode(e, books)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(codes.forall(c => Seq(c._2, c._3, c._4, c._5).forall(x => x >= 0 && x < ksub)))
    val again = Similarity.pqEncode(e.repartition(7), books)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(codes.toSeq === again.toSeq, "codes are row-local — layout cannot matter")
    // driver-side checks on the raw vectors
    val vecs = e.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def sqErr(v: Array[Double], c: Array[Double]) =
      v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def totalErr(bks: Array[Array[Array[Double]]]) = vecs.values.map { v =>
      (0 until m).map { s =>
        val sub = v.slice(s * 16, (s + 1) * 16)
        bks(s).map(sqErr(sub, _)).min
      }.sum
    }.sum
    // every emitted code IS the argmin for its subspace
    codes.take(50).foreach { case (id, c0, c1, c2, c3) =>
      val v = vecs(id)
      Seq(c0, c1, c2, c3).zipWithIndex.foreach { case (code, s) =>
        val sub = v.slice(s * 16, (s + 1) * 16)
        val errs = books(s).map(sqErr(sub, _))
        assert(math.abs(errs(code.toInt) - errs.min) < 1e-9, s"vec $id subspace $s")
      }
    }
    // k-means monotonicity: the refined codebook can't be worse than the seeds
    val seedBooks = Similarity.pqTrain(e, m, ksub, iters = 0)
    assert(totalErr(books) <= totalErr(seedBooks) + 1e-6,
      "one Lloyd step must not increase total quantization error")
  }

  test("PQ ADC search: exactly the top-k by distance-to-reconstruction, tie-stable") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val (m, dsub, k) = (4, 16, 5)
    val books = Similarity.pqTrain(e, m, 16, iters = 1)
    val codes = Similarity.pqEncode(e, books)
    val got = Similarity.pqTopK(e.where(col("vec_id") < 5), codes, books, k)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3))).toMap
    // driver-side replay: same subspace-ascending fold, same rounding,
    // same (rounded dist, neighbor id) tie rules
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = e.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    val codeMap = codes.as[(Long, Long, Long, Long, Long)].collect()
      .map(c => c._1 -> Array(c._2, c._3, c._4, c._5).map(_.toInt)).toMap
    def adc(q: Array[Float], cs: Array[Int]): Double = r6(
      (0 until m).map { s =>
        val qs = q.slice(s * dsub, (s + 1) * dsub).map(_.toDouble)
        val c = books(s)(cs(s))
        (qs.map(x => x * x).sum + c.map(x => x * x).sum) -
          2.0 * qs.zip(c).map { case (a, b) => a * b }.sum
      }.reduce(_ + _))
    (0L until 5L).foreach { qid =>
      val expect = vecs.keys.filter(_ != qid).toSeq
        .map(n => (n, adc(vecs(qid), codeMap(n))))
        .sortBy { case (n, d) => (d, n) }.take(k)
      assert(got(qid).toSeq === expect, s"query $qid")
    }
  }

  test("IVF+PQ: probing all clusters reproduces whole-corpus ADC exactly; probes prune") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val q = e.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    // nprobe = k clusters → every pair scored → identical to the flat ADC search
    val full = rows(Similarity.ivfPqTopK(q, e, 5, coarse, books, nprobe = 4))
    val flat = rows(Similarity.pqTopK(q, Similarity.pqEncode(e, books), books, 5))
    assert(full.toSeq === flat.toSeq,
      "full-probe IVF+PQ must equal the whole-corpus ADC search")
    // nprobe = 1 returns a subset of clusters' members, still k rows per query
    val pruned = Similarity.ivfPqTopK(q, e, 5, coarse, books, nprobe = 1)
      .groupBy("query_id").count().as[(Long, Long)].collect()
    assert(pruned.forall(_._2 <= 5) && pruned.nonEmpty)
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("materialized IVF+PQ index: probe scan prunes to the probed partitions; full probe matches in-memory") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_index").toString
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      // the stored layout IS one directory per coarse cluster
      val clusterDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cluster=")).map(_.getName).sorted
      assert(clusterDirs.nonEmpty && clusterDirs.forall(_.matches("cluster=\\d+")))
      val index = spark.read.parquet(dir)
      val q = e.where(col("vec_id") < 5)
      // ONE query, nprobe = 1 → exactly one probed cluster: the scan must
      // read only that cluster's directory
      val out1 = Similarity.ivfPqTopKIndexed(
        e.where(col("vec_id") === 0), index, 5, coarse, books, nprobe = 1)
      out1.count()
      val scans = out1.queryExecution.executedPlan.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }.flatMap(_.collect { case s: FileSourceScanExec => s })
      val idxScan = scans.find(_.relation.location.rootPaths.exists(_.toString.contains("ivfpq_index")))
      assert(idxScan.isDefined, "the index scan must appear in the executed plan")
      assert(idxScan.get.partitionFilters.nonEmpty,
        "the probed-cluster predicate must land as a partition filter, not a post-scan filter")
      val selected = idxScan.get.selectedPartitions.partitionCount
      assert(selected === 1,
        s"one query at nprobe=1 must read exactly one of ${clusterDirs.length} cluster partitions, read $selected")
      // the index stores the raw vectors, but the ADC probe must never
      // read them: column pruning on top of partition pruning
      assert(index.columns.contains("embedding"),
        "the index must carry the embedding column")
      assert(!idxScan.get.requiredSchema.fieldNames.contains("embedding"),
        s"the ADC probe must column-prune the stored vectors, read ${idxScan.get.requiredSchema.fieldNames.mkString(",")}")
      // full probe over the loaded index ≡ the in-memory IVF+PQ path
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
      val full = rows(Similarity.ivfPqTopKIndexed(q, index, 5, coarse, books, nprobe = 4))
      val mem = rows(Similarity.ivfPqTopK(q, e, 5, coarse, books, nprobe = 4))
      assert(full.toSeq === mem.toSeq,
        "the materialized index must answer identically to the in-memory path")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("ivfPqTopKIndexedFiltered: pre-filter ≡ probing an allowed-only index; beats post-filter; broadcast semi-join under the pruned scan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_filter").toString
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      val index = spark.read.parquet(dir)
      val q = e.where(col("vec_id") < 5)
      val even = e.where(col("vec_id") % 2 === 0).select("vec_id")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
      val filtered = Similarity.ivfPqTopKIndexedFiltered(
        q, index, 5, coarse, books, allow = even, nprobe = 2)
      // the semantics contract: identical to running the UNfiltered probe
      // over an index that only ever held the allowed rows (frozen
      // quantizers — the filter changes candidates, never geometry)
      val allowedOnly = Similarity.ivfPqTopKIndexed(
        q, index.where(col("neighbor_id") % 2 === 0), 5, coarse, books, nprobe = 2)
      assert(rows(filtered) === rows(allowedOnly),
        "pre-filter must equal probing an allowed-only index")
      // every answer is allowed, and pre-filter strictly beats filtering
      // the finished top-k: the slots disallowed rows held are refilled
      val got = rows(filtered)
      assert(got.nonEmpty && got.forall(_._2 % 2 == 0))
      val unfiltered = rows(Similarity.ivfPqTopKIndexed(q, index, 5, coarse, books, nprobe = 2))
      val postFilter = unfiltered.filter(_._2 % 2 == 0)
      assert(got.length >= postFilter.length)
      assert(got.length > postFilter.length,
        "the fixture must exercise slot refill (pre-filter > post-filter)")
      // allow-everything is exactly the unfiltered probe
      val all = Similarity.ivfPqTopKIndexedFiltered(
        q, index, 5, coarse, books, allow = e.select("vec_id"), nprobe = 2)
      assert(rows(all) === unfiltered)
      // plan: the allow list rides a broadcast LEFT SEMI beneath the ADC
      // window, and the scan keeps q81's partition pruning + column pruning
      filtered.count()
      val nodes = filtered.queryExecution.executedPlan.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val semi = nodes.flatMap(_.collect {
        case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
      })
      assert(semi.nonEmpty, "the allow semi-join must plan as a broadcast left semi")
      val idxScan = nodes.flatMap(_.collect { case s: FileSourceScanExec => s })
        .find(_.relation.location.rootPaths.exists(_.toString.contains("ivfpq_filter")))
      assert(idxScan.isDefined && idxScan.get.partitionFilters.nonEmpty,
        "filtering must not cost the probed-cluster partition pruning")
      assert(!idxScan.get.requiredSchema.fieldNames.contains("embedding"),
        "filtering must not cost the ADC column pruning")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("ivfPqTopKRefinedFiltered: filter beneath the shortlist, exact rerank on top; covering knobs ≡ filtered brute force") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_filtref").toString
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      val index = spark.read.parquet(dir)
      val q = e.where(col("vec_id") < 5)
      val even = e.where(col("vec_id") % 2 === 0).select("vec_id")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
      val rf = Similarity.ivfPqTopKRefinedFiltered(
        q, index, 5, coarse, books, allow = even, nprobe = 2, rerank = 2)
      val got = rows(rf)
      // every answer is allowed
      assert(got.nonEmpty && got.forall(_._2 % 2 == 0))
      // frozen-quantizer identity (q92's contract, one tier up): identical
      // to the unfiltered REFINED probe over an allowed-only index
      val allowedOnly = Similarity.ivfPqTopKRefined(
        q, index.where(col("neighbor_id") % 2 === 0), 5, coarse, books,
        nprobe = 2, rerank = 2)
      assert(got === rows(allowedOnly),
        "filtered refine must equal refining an allowed-only index")
      // allow-everything is exactly the unfiltered refined probe
      val all = Similarity.ivfPqTopKRefinedFiltered(
        q, index, 5, coarse, books, allow = e.select("vec_id"),
        nprobe = 2, rerank = 2)
      assert(rows(all) === rows(Similarity.ivfPqTopKRefined(
        q, index, 5, coarse, books, nprobe = 2, rerank = 2)))
      // covering knobs collapse to the exact filtered answer: all clusters
      // probed + a shortlist holding every allowed candidate ⇒ the output
      // IS brute-force top-k over the allowed slice (same cosine spelling,
      // same tie rules) — the identity that pins the whole composition
      val covering = Similarity.ivfPqTopKRefinedFiltered(
        q, index, 5, coarse, books, allow = even, nprobe = 4, rerank = 200)
      val truth = Similarity.bruteForceTopK(
        q, e.join(even, Seq("vec_id"), "left_semi"), 5)
      assert(rows(covering) === rows(truth),
        "covering rerank + full probe must equal filtered brute force")
      // and the refined tier can only improve on filtered ADC at the same
      // knobs (exact reorder of a superset shortlist)
      val truthPairs = rows(truth).map(r => (r._1, r._2)).toSet
      val adcPairs = rows(Similarity.ivfPqTopKIndexedFiltered(
        q, index, 5, coarse, books, allow = even, nprobe = 2))
        .map(r => (r._1, r._2)).toSet
      val rfPairs = got.map(r => (r._1, r._2)).toSet
      assert(rfPairs.intersect(truthPairs).size >= adcPairs.intersect(truthPairs).size,
        "exact rerank must not lose filtered-truth recall vs filtered ADC")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("ivfTopKIndexed: exact-cosine probe over the stored index ≡ ivfTopK; prunes partitions and PQ-code columns") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfflat_index").toString
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      val index = spark.read.parquet(dir)
      val q = e.where(col("vec_id") < 5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
      // same nprobe both sides: stored clusters ARE ivfTopK's clusters
      // (deterministic assignment), so the indexed path must match even on
      // a partial probe — and on the full probe too
      Seq(2, 4).foreach { nprobe =>
        val viaIndex = rows(Similarity.ivfTopKIndexed(q, index, 3, coarse, nprobe))
        val inMemory = rows(Similarity.ivfTopK(q, e, 3, coarse, nprobe))
        assert(viaIndex.toSeq === inMemory.toSeq, s"nprobe=$nprobe diverged")
      }
      // one query at nprobe=1 reads one partition, and never the code columns
      val out1 = Similarity.ivfTopKIndexed(e.where(col("vec_id") === 0), index, 3, coarse, nprobe = 1)
      out1.count()
      val scans = out1.queryExecution.executedPlan.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }.flatMap(_.collect { case s: FileSourceScanExec => s })
      val idxScan = scans.find(_.relation.location.rootPaths.exists(_.toString.contains("ivfflat_index")))
      assert(idxScan.isDefined && idxScan.get.partitionFilters.nonEmpty)
      assert(idxScan.get.selectedPartitions.partitionCount === 1)
      assert(!idxScan.get.requiredSchema.fieldNames.exists(_.startsWith("code_")),
        s"the exact-cosine probe must column-prune the PQ codes, read ${idxScan.get.requiredSchema.fieldNames.mkString(",")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("ivfPqTopKRefined: covering rerank ≡ exact probe; recall ≥ ADC; id-sorted files + pushed-id fetch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("refine_index").toString
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      val index = spark.read.parquet(dir)
      val q = e.where(col("vec_id") < 5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
      def assertIdSortedFiles(): Unit =
        new java.io.File(dir).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
          .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
          .foreach { f =>
            val ids = spark.read.parquet(f.getPath).select("neighbor_id").as[Long].collect()
            assert(ids.sameElements(ids.sorted),
              s"${f.getParentFile.getName}/${f.getName} must be id-sorted " +
                "(row-group min/max stats are what the pushed-id fetch skips on)")
          }
      // the layout contract the refine fetch depends on: every data file
      // holds its cluster's rows in id order
      assertIdSortedFiles()
      // a covering shortlist reranks EVERY probed candidate, so the result
      // IS the exact-cosine probe — on partial and full probes alike
      val n = e.count().toInt
      Seq(2, 4).foreach { nprobe =>
        val refined = rows(Similarity.ivfPqTopKRefined(q, index, 3, coarse, books, nprobe, rerank = n))
        val exact = rows(Similarity.ivfTopKIndexed(q, index, 3, coarse, nprobe))
        assert(refined.toSeq === exact.toSeq,
          s"covering rerank at nprobe=$nprobe must equal the exact probe")
      }
      // refinement reorders the ADC shortlist by TRUE cosine, so recall vs
      // the exact truth set can only rise (deterministic on this corpus)
      val truth = Similarity.bruteForceTopK(q, e, 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      def recall(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
          .intersect(truth).size.toDouble / truth.size
      val adcR = recall(Similarity.ivfPqTopKIndexed(q, index, 3, coarse, books, nprobe = 2))
      val refR = recall(Similarity.ivfPqTopKRefined(q, index, 3, coarse, books, nprobe = 2, rerank = 4))
      assert(refR >= adcR, f"refined recall $refR%.3f fell below ADC recall $adcR%.3f")
      // plan contract: the fetch scan reads the vectors WITH the shortlist
      // ids pushed into the parquet scan (the row-group-skipping filter);
      // the ADC pass keeps its codes-only ReadSchema (asserted for
      // ivfPqTopKIndexed above — same plan)
      val out = Similarity.ivfPqTopKRefined(
        e.where(col("vec_id") === 0), index, 3, coarse, books, nprobe = 1, rerank = 2)
      out.count()
      val scans = out.queryExecution.executedPlan.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }.flatMap(_.collect { case s: FileSourceScanExec => s })
        .filter(_.relation.location.rootPaths.exists(_.toString.contains("refine_index")))
      val fetchScan = scans.find(_.requiredSchema.fieldNames.contains("embedding"))
      assert(fetchScan.isDefined, "the vector-fetch scan must appear in the executed plan")
      assert(fetchScan.get.metadata("PushedFilters").contains("neighbor_id"),
        s"the shortlist ids must be pushed into the fetch scan, got " +
          fetchScan.get.metadata("PushedFilters"))
      assert(fetchScan.get.partitionFilters.nonEmpty,
        "the fetch scan must keep the probed-cluster partition filter")
      // codes-only index: the refine tier needs the stored vectors
      intercept[IllegalArgumentException] {
        Similarity.ivfPqTopKRefined(q, spark.read.parquet(dir).drop("embedding"),
          3, coarse, books)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("semanticDedupIndexed: stored-index SemDeDup ≡ in-memory semanticDedup, codes column-pruned") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("semdedup_index").toString
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      val viaIndex = Similarity.semanticDedupIndexed(spark.read.parquet(dir), 0.35)
        .as[(Long, Int)].collect().sortBy(_._1)
      val inMemory = Similarity.semanticDedup(e, coarse, 0.35)
        .as[(Long, Int)].collect().sortBy(_._1)
      assert(viaIndex.toSeq === inMemory.toSeq,
        "stored-index SemDeDup must keep exactly the in-memory survivors")
      // an index without its vectors is rejected with a clear error
      val ex = intercept[IllegalArgumentException] {
        Similarity.semanticDedupIndexed(spark.read.parquet(dir).drop("embedding"), 0.35)
      }
      assert(ex.getMessage.contains("embedding column"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("indexed probes survive partition-type-inference OFF (cluster arrives as string)") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("strcluster_index").toString
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      // a child session with inference disabled reads the partition column
      // as STRING — the pruning literals must be typed from the index's
      // actual schema or the isin would cast the partition column instead
      val iso = spark.newSession()
      iso.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      val strIndex = iso.read.parquet(dir)
      assert(strIndex.schema("cluster").dataType ===
        org.apache.spark.sql.types.StringType, "fixture must exercise the string path")
      // queries come from the SAME session as the index relation (mixing
      // plans across sessions is its own hazard, not under test here)
      val qIso = iso.read.parquet(s"$sf/embeddings.parquet").where(col("vec_id") < 5)
      def top(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
      val viaStr = top(Similarity.ivfPqTopKIndexed(qIso, strIndex, 5, coarse, books, nprobe = 4))
      val mem = top(Similarity.ivfPqTopK(e.where(col("vec_id") < 5), e, 5, coarse, books, nprobe = 4))
      assert(viaStr.toSeq === mem.toSeq,
        "a string-typed cluster column must neither error nor silently drop candidates")
      val exact = top(Similarity.ivfTopKIndexed(qIso, strIndex, 3, coarse, nprobe = 4))
      assert(exact.toSeq === top(Similarity.ivfTopK(
        e.where(col("vec_id") < 5), e, 3, coarse, nprobe = 4)).toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("index transfer manifest: stamped, byte-exact, re-stamp identical") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("manifest_idx").toString + "/idx"
    val Line = """\{"cluster":"([^"]+)","file":"([^"]+)","rows":(\d+),"bytes":(\d+),"md5":"([0-9a-f]{32})"\}""".r
    def manifest = new java.io.File(dir, "_manifest.jsonl")
    def manifestLines =
      java.nio.file.Files.readAllLines(manifest.toPath).toArray.toSeq.map(_.toString)
    def md5Of(f: java.io.File): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString
    // the receiver's transfer check, written out: every data file appears
    // exactly once; bytes and md5 match the exact file bytes; footer row
    // counts sum to the readable index
    def validate(): Unit = {
      val actual = new java.io.File(dir).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cluster="))
        .flatMap(d => d.listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .map(f => s"${d.getName}/${f.getName}")).toSet
      val lines = manifestLines
      assert(lines.map { case Line(_, f, _, _, _) => f }.toSet === actual,
        "manifest must cover exactly the live data files")
      var rowSum = 0L
      lines.foreach { case Line(_, file, rows, bytes, digest) =>
        val f = new java.io.File(dir, file)
        assert(f.length() === bytes.toLong, s"$file bytes")
        assert(md5Of(f) === digest, s"$file md5")
        rowSum += rows.toLong
      }
      assert(rowSum === spark.read.parquet(dir).count(), "footer row counts must sum to the index")
    }
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      Similarity.ivfPqIndexManifest(spark, dir)
      validate()
      // stamping identical bytes twice is byte-identical (sorted lines)
      val stamped = java.nio.file.Files.readAllBytes(manifest.toPath).toSeq
      Similarity.ivfPqIndexManifest(spark, dir)
      assert(java.nio.file.Files.readAllBytes(manifest.toPath).toSeq === stamped)
      // the stamped index still answers exactly as the in-memory search
      val q = e.where(col("vec_id") < 5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
      assert(rows(Similarity.ivfPqTopKIndexed(
        q, spark.read.parquet(dir), 5, coarse, books, nprobe = 4)).toSeq ===
        rows(Similarity.ivfPqTopK(q, e, 5, coarse, books, nprobe = 4)).toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir).getParentFile)
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("ivfPqIndexVerify: clean copy passes; truncation, bit flip, missing and extra files are named exactly") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val base = java.nio.file.Files.createTempDirectory("verify_idx").toString
    val dir = base + "/idx"
    val copy = base + "/received"
    try {
      // an unstamped index cannot be verified — the finding says what to do
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      val unstamped = Similarity.ivfPqIndexVerify(spark, dir)
      assert(unstamped.size === 1 && unstamped.head.contains("NO MANIFEST"), unstamped)
      Similarity.ivfPqIndexManifest(spark, dir)
      assert(Similarity.ivfPqIndexVerify(spark, dir).isEmpty, "sender must verify clean")
      // the transfer: a faithful copy verifies clean on the receiver
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(dir), new java.io.File(copy))
      assert(Similarity.ivfPqIndexVerify(spark, copy).isEmpty, "faithful copy must verify clean")
      // plant one fault of each transport-failure class in the COPY
      // every cluster's file shares one part-00000-<job-uuid> base name, so
      // victims are identified by their cluster-relative path — exactly the
      // name the findings carry
      val files = new java.io.File(copy).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cluster=")).sortBy(_.getName)
        .flatMap(d => d.listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .sortBy(_.getName))
      assert(files.length >= 3, "fixture needs three victim files")
      def rel(f: java.io.File) = s"${f.getParentFile.getName}/${f.getName}"
      def dropCrc(f: java.io.File): Unit =
        new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
      val truncated = files(0)
      val bytes0 = java.nio.file.Files.readAllBytes(truncated.toPath)
      java.nio.file.Files.write(truncated.toPath, bytes0.take(bytes0.length / 2))
      dropCrc(truncated)
      val flipped = files(1)
      val bytes1 = java.nio.file.Files.readAllBytes(flipped.toPath)
      bytes1(bytes1.length / 2) = (bytes1(bytes1.length / 2) ^ 0x1).toByte
      java.nio.file.Files.write(flipped.toPath, bytes1)
      dropCrc(flipped)
      val missing = files(2)
      assert(missing.delete()); dropCrc(missing)
      val extra = new java.io.File(files(0).getParentFile, "zz_extra.parquet")
      java.nio.file.Files.write(extra.toPath, Array[Byte](1, 2, 3))
      val findings = Similarity.ivfPqIndexVerify(spark, copy)
      def named(prefix: String, f: String) =
        findings.count(m => m.startsWith(prefix) && m.contains(f))
      assert(named("CORRUPT", rel(truncated)) === 1 &&
        findings.exists(m => m.contains(rel(truncated)) && m.contains("truncated")),
        findings.mkString("\n"))
      assert(named("CORRUPT", rel(flipped)) === 1 &&
        findings.exists(m => m.contains(rel(flipped)) && m.contains("md5")),
        findings.mkString("\n"))
      assert(named("MISSING", rel(missing)) === 1, findings.mkString("\n"))
      assert(named("EXTRA", "zz_extra.parquet") === 1, findings.mkString("\n"))
      assert(findings.size === 4,
        "exactly the planted faults, nothing else:\n" + findings.mkString("\n"))
      // the sender's tree is untouched and still clean
      assert(Similarity.ivfPqIndexVerify(spark, dir).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("centroid cohesion: exact cosine to the group mean; lone vector scores 1") {
    import spark.implicits._
    val e = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(3.0f, 4.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidCohesion(e, "label")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // label 0 centroid = [0.5, 0.5]; cos([1,0],[.5,.5]) = 1/sqrt(2)
    val c = r6(0.5 / (1.0 * math.sqrt(0.5)))
    assert(out.toSeq === Seq((1L, 0, c), (2L, 0, c), (3L, 1, 1.0)),
      "a group's lone vector IS its centroid and must score exactly 1")
  }

  test("centroid cohesion plan: centroids broadcast back, corpus side never reshuffles") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = Similarity.centroidCohesion(e, "label")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the |groups|-row centroid relation must broadcast:\n$plan")
    // only the centroid build shuffles: one exchange for the (group, dim)
    // aggregate + one for the per-group assembly — never one on the corpus
    val exchanges = plan.split("\n").count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
    assert(exchanges <= 2, s"corpus side must not reshuffle ($exchanges exchanges):\n$plan")
  }

  test("IVF: clusters partition the corpus; probing more clusters raises recall to 1") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.ivfCentroids(e, k = 4, iters = 1)
    assert(cents.length === 4)
    val q = e.where(org.apache.spark.sql.functions.col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, e, k = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing ALL clusters must reproduce brute force exactly
    val full = Similarity.ivfTopK(q, e, k = 3, cents, nprobe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact)
    // probing 2/4 clusters is a subset with nonzero recall
    val probed = Similarity.ivfTopK(q, e, k = 3, cents, nprobe = 2)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(probed).size.toDouble / exact.size
    assert(recall > 0.3, s"ivf recall=$recall")
  }
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("tiled cosine self-join: equi-join plan, output identical to the naive θ-join") {
    val tiled = Similarity.cosineSelfJoin(emb, threshold = 0.3)
    // the scale contract: no nested-loop/cartesian anywhere in the plan
    val plan = tiled.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"tiled join must not plan a nested loop:\n$plan")
    // the tile exchange is PINNED (REPARTITION_BY_NUM, not
    // ENSURE_REQUIREMENTS): the join is compute-dense per byte, and AQE's
    // byte-based coalescing otherwise folds the kernel work into a handful
    // of tasks (OPTIMIZATION_r19.md Finding 2). Same keys, same width
    // arithmetic — only the coalescibility changes.
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"tile exchange must be a pinned repartition:\n$plan")
    // bit-identical to the naive all-pairs join condition
    val a = emb.select(col("vec_id").as("left_id"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("right_id"), col("embedding").as("vb"))
    val cos = round(Similarity.cosine(col("va"), col("vb")), 6)
    val naive = a.join(b, col("left_id") < col("right_id") && cos >= 0.3)
      .select(col("left_id"), col("right_id"), cos.as("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    val got = tiled.as[(Long, Long, Double)].collect().toSet
    assert(got === naive)
    assert(got.nonEmpty)
  }

  test("cosine of a vector with itself is 1") {
    val one = emb.limit(5)
      .withColumn("c", Similarity.cosine(col("embedding"), col("embedding")))
      .select("c").as[Double].collect()
    one.foreach(c => assert(math.abs(c - 1.0) < 1e-9))
  }

  test("knnLabel: majority vote with smaller-label ties, null labels never vote, matches hand count") {
    import spark.implicits._
    // geometry: queries near (1, 0); n5 points away and never enters top-4
    val corpus = Seq(
      (10L, Seq(1.0f, 0.1f), 2),
      (11L, Seq(1.0f, -0.1f), 2),
      (12L, Seq(0.9f, 0.0f), 1),
      (13L, Seq(1.1f, 0.05f), 1),
      (14L, Seq(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("label", lit(null).cast("int"))
    val out = Similarity.knnLabel(q, corpus, k = 4)
      .as[(Long, Long, Long, Double)].collect()
    // top-4 = {10,11,12,13}: labels 2×2 vs 1×2 — the 2-2 tie breaks to 1
    assert(out === Array((0L, 1L, 2L, 0.5)))
    // null corpus labels are excluded from the vote, not ranked
    val nulled = corpus.withColumn("label",
      when(col("vec_id") === 12L || col("vec_id") === 13L,
        lit(null).cast("int")).otherwise(col("label")))
    val out2 = Similarity.knnLabel(q, nulled, k = 4)
      .as[(Long, Long, Long, Double)].collect()
    assert(out2 === Array((0L, 2L, 2L, 0.5)))
    // real corpus: winner matches a hand count over bruteForceTopK + labels
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = e.where(col("vec_id") < 10)
    val got = Similarity.knnLabel(probes, e, k = 5)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val labels = e.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val expected = Similarity.bruteForceTopK(probes, e, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).toSeq.map { case (qid, nns) =>
        val counts = nns.map(n => labels(n._2).toLong)
          .groupBy(identity).map { case (l, v) => (l, v.size.toLong) }
        val (wl, wv) = counts.toSeq.minBy { case (l, v) => (-v, l) }
        (qid, wl, wv, wv.toDouble / 5)
      }.sortBy(_._1)
    assert(got.toSeq === expected)
    graft.GraftSession.releaseCaches(spark)
  }

  test("knnLabel: string label classes win as themselves in their original type (no cast-to-null)") {
    import spark.implicits._
    val corpus = Seq(
      (10L, Seq(1.0f, 0.1f), "news"),
      (11L, Seq(1.0f, -0.1f), "news"),
      (12L, Seq(0.9f, 0.0f), "blog"),
      (13L, Seq(1.1f, 0.05f), "blog"),
      (14L, Seq(0.0f, 1.0f), "spam")
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("label", lit(null).cast("string"))
    val out = Similarity.knnLabel(q, corpus, k = 4)
    assert(out.schema("label").dataType === org.apache.spark.sql.types.StringType)
    // 2-2 tie between "news" and "blog" breaks lexicographically to "blog"
    assert(out.as[(Long, String, Long, Double)].collect() ===
      Array((0L, "blog", 2L, 0.5)))
  }

  test("voteLabels composes over the stored index: refined probes at " +
      "covering knobs vote identically to knnLabel; the vote stage is " +
      "the same machinery over ANY neighbor relation") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val coarse = Similarity.ivfCentroids(e, k = 4, iters = 1)
    val books = Similarity.pqTrain(e, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("vote_idx").toString
    try {
      Similarity.ivfPqIndexWrite(e, dir, coarse, books)
      val index = spark.read.parquet(dir)
      val q = e.where(col("vec_id") < 10)
      val n = e.count().toInt
      // covering knobs: all clusters probed + a shortlist that covers every
      // candidate makes the refined tier EXACT, so its votes must equal
      // knnLabel's (the brute-force path) row for row
      val nn = Similarity.ivfPqTopKRefined(q, index, k = 5, coarse, books,
        nprobe = 4, rerank = (n / 5) + 1)
      // labels live in a metadata relation keyed by the id — the index
      // itself stores only (id, cluster, codes, vectors)
      val viaIndex = Similarity.voteLabels(nn, e, k = 5)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
      val brute = Similarity.knnLabel(q, e, k = 5)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
      assert(viaIndex.toSeq === brute.toSeq,
        "labeling against the stored index at covering knobs must equal knnLabel")
      // the vote stage itself is neighbor-agnostic: over the APPROXIMATE
      // ADC tier (nprobe=2) it must equal a hand count of that tier's own
      // pairs — same majority/tie/confidence semantics, different neighbors
      val adc = Similarity.ivfPqTopKIndexed(q, index, k = 5, coarse, books,
        nprobe = 2)
      val got = Similarity.voteLabels(adc, e, k = 5)
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
      val labels = e.select(col("vec_id"), col("label"))
        .as[(Long, Int)].collect().toMap
      val hand = adc.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).toSeq.map { case (qid, nns) =>
          val counts = nns.map(p => labels(p._2).toLong)
            .groupBy(identity).map { case (l, v) => (l, v.size.toLong) }
          val (wl, wv) = counts.toSeq.minBy { case (l, v) => (-v, l) }
          (qid, wl, wv, wv.toDouble / 5)
        }.sortBy(_._1)
      assert(got.toSeq === hand)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("semanticDecontaminateIndexed: covering knobs ≡ the exact gate; " +
      "hits are provably real (precision 1.0) and low-nprobe recall is " +
      "the measured coverage trade") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = e.where(col("vec_id") % 9 =!= 0)
    val suite = e.where(col("vec_id") % 9 === 0)
    val coarse = Similarity.ivfCentroids(corpus, k = 4, iters = 1)
    val books = Similarity.pqTrain(corpus, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("sdc_idx").toString
    try {
      Similarity.ivfPqIndexWrite(corpus, dir, coarse, books)
      val index = spark.read.parquet(dir)
      val all = corpus.select("vec_id").as[Long].collect().toSet
      val exactKept = Similarity.semanticDecontaminate(corpus, suite, tau = 0.40)
        .select("vec_id").as[Long].collect().toSet
      val exactDropped = all -- exactKept
      assert(exactDropped.nonEmpty, "τ=0.40 must bite (q102's fixture fact)")
      val n = corpus.count().toInt
      // covering knobs: every cluster probed, shortlist covers the corpus
      // → the refined cosine judges EVERY (suite, corpus) pair exactly, so
      // the indexed gate must equal the exact one
      val coveringKept = Similarity.semanticDecontaminateIndexed(corpus,
          suite, index, coarse, books, tau = 0.40, nprobe = 4, rerank = 1,
          hitsPerSuiteRow = n)
        .as[Long].collect().toSet
      assert(coveringKept === exactKept,
        "full probes + covering shortlist must reproduce the exact gate")
      // production knobs: nprobe=1. Hits score by EXACT cosine, so a drop
      // is always justified (precision 1.0 by construction)…
      val lowKept = Similarity.semanticDecontaminateIndexed(corpus, suite,
          index, coarse, books, tau = 0.40, nprobe = 1, rerank = 4,
          hitsPerSuiteRow = 16)
        .as[Long].collect().toSet
      val lowDropped = all -- lowKept
      assert(lowDropped.subsetOf(exactDropped),
        "an indexed drop must be a real ≥ τ pair — exact cosine cannot overfire")
      // …while recall is the coverage trade: leaks in unprobed clusters
      // are missed. Measured here and banked in SCALE.md; the floor holds
      // because a near-dup's cluster is usually its query's nearest too.
      val recall = lowDropped.size.toDouble / exactDropped.size
      info(f"nprobe=1 decontamination recall vs exact gate: $recall%.3f " +
        s"(${lowDropped.size}/${exactDropped.size})")
      assert(recall >= 0.5 && recall <= 1.0,
        s"nprobe=1 recall $recall outside the plausible coverage band")
      // id soundness, the exact gate's guard mirrored (a null corpus id
      // never equates in the anti join-back — the row survives at any
      // similarity; a null suite id nulls the self-exclusion and judges
      // nothing): both indexed variants fail fast on either side
      val nullId = corpus.unionByName(corpus.limit(1)
        .withColumn("vec_id", lit(null).cast("long")))
      for (side <- Seq((nullId, suite), (corpus, nullId))) {
        assert(intercept[IllegalArgumentException] {
          Similarity.semanticDecontaminateIndexed(side._1, side._2, index,
            coarse, books, tau = 0.40)
        }.getMessage.contains("non-null"))
        assert(intercept[IllegalArgumentException] {
          Similarity.semanticDecontaminateIndexedRadius(side._1, side._2,
            spark.read.parquet(dir), coarse, tau = 0.40)
        }.getMessage.contains("non-null"))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("semanticDecontaminateIndexedRadius: full probes ≡ the exact gate " +
      "with NO shortlist knobs; low-nprobe drops cover the shortlist " +
      "variant's; zero-norm vectors never poison either indexed gate") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = e.where(col("vec_id") % 9 =!= 0)
    val suite = e.where(col("vec_id") % 9 === 0)
    val coarse = Similarity.ivfCentroids(corpus, k = 4, iters = 1)
    val books = Similarity.pqTrain(corpus, 4, 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("sdr_idx").toString
    try {
      Similarity.ivfPqIndexWrite(corpus, dir, coarse, books)
      val index = spark.read.parquet(dir)
      val all = corpus.select("vec_id").as[Long].collect().toSet
      val exactKept = Similarity.semanticDecontaminate(corpus, suite, tau = 0.40)
        .select("vec_id").as[Long].collect().toSet
      // full probes: the radius gate IS the exact gate — no shortlist cap
      // to cover, no rerank to size
      val radiusFull = Similarity.semanticDecontaminateIndexedRadius(corpus,
          suite, index, coarse, tau = 0.40, nprobe = 4)
        .as[Long].collect().toSet
      assert(radiusFull === exactKept,
        "radius gate at full probes must equal the exact gate outright")
      // at equal nprobe the radius gate judges a SUPERSET of the shortlist
      // variant's pairs (same probed clusters, no shortlist cut), so its
      // drop set must cover the shortlist variant's — and still never
      // overfire (exact cosine)
      val radius1 = Similarity.semanticDecontaminateIndexedRadius(corpus,
          suite, index, coarse, tau = 0.40, nprobe = 1)
        .as[Long].collect().toSet
      val short1 = Similarity.semanticDecontaminateIndexed(corpus, suite,
          index, coarse, books, tau = 0.40, nprobe = 1, rerank = 1,
          hitsPerSuiteRow = 2)
        .as[Long].collect().toSet
      assert((all -- short1).subsetOf(all -- radius1),
        "the radius gate must catch everything the shortlist variant catches")
      assert((all -- radius1).subsetOf(all -- exactKept),
        "radius drops must be real ≥ τ pairs")
      // plan contract: a single-suite-row probe at nprobe=1 must read
      // exactly ONE of the four cluster partitions (partition pruning)
      // and never the PQ code columns (column pruning) — the
      // ivfTopKIndexed I/O shape the scaladoc claims
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val oneProbe = Similarity.semanticDecontaminateIndexedRadius(corpus,
        suite.limit(1), index, coarse, tau = 0.40, nprobe = 1)
      oneProbe.count()
      val scans = oneProbe.queryExecution.executedPlan.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }.flatMap(_.collect { case s: FileSourceScanExec => s })
      val idxScan = scans.find(_.relation.location.rootPaths
        .exists(_.toString.contains("sdr_idx")))
      assert(idxScan.isDefined, "the index scan must appear in the plan")
      assert(idxScan.get.partitionFilters.nonEmpty &&
        idxScan.get.selectedPartitions.partitionCount === 1,
        "one suite row at nprobe=1 must read exactly one cluster partition")
      assert(!idxScan.get.requiredSchema.fieldNames.exists(_.startsWith("code_")),
        "the radius gate must column-prune the PQ codes away")
      // NaN regression (the Spark NaN-orders-above-everything trap): a
      // zero-norm corpus row pairs at NaN cosine with every suite probe,
      // and NaN >= τ is TRUE under Spark ordering — without the explicit
      // isnan exclusion both indexed gates would falsely drop it; a
      // zero-norm SUITE row likewise judges nothing
      def v(parts: (Int, Float)*): Seq[Float] =
        (0 until 4).map(i => parts.toMap.getOrElse(i, 0.0f))
      val c2 = Seq((1L, v(0 -> 1.0f)), (2L, v(1 -> 1.0f)), (5L, v()))
        .toDF("vec_id", "embedding")
      val s2 = Seq((900L, v(1 -> 1.0f, 2 -> 0.1f)), (902L, v()))
        .toDF("vec_id", "embedding")
      val coarse2 = Similarity.ivfCentroids(c2.where(col("vec_id") =!= 5L), k = 1, iters = 1)
      val books2 = Similarity.pqTrain(c2, 2, 2, iters = 1)
      val dir2 = java.nio.file.Files.createTempDirectory("sdr_nan_idx").toString
      try {
        Similarity.ivfPqIndexWrite(c2, dir2, coarse2, books2)
        val idx2 = spark.read.parquet(dir2)
        val expect = Set(1L, 5L) // 2 is the real near-dup; 1 orthogonal; 5 zero-norm
        val gotRadius = Similarity.semanticDecontaminateIndexedRadius(c2, s2,
          idx2, coarse2, tau = 0.7, nprobe = 1).as[Long].collect().toSet
        assert(gotRadius === expect,
          "zero-norm rows must survive the radius gate (NaN judges nothing)")
        val gotShort = Similarity.semanticDecontaminateIndexed(c2, s2, idx2,
          coarse2, books2, tau = 0.7, nprobe = 1, rerank = 4,
          hitsPerSuiteRow = 8).as[Long].collect().toSet
        assert(gotShort === expect,
          "zero-norm rows must survive the shortlist gate (NaN judges nothing)")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      graft.GraftSession.releaseCaches(spark, blocking = true)
    }
  }

  test("brute-force top-k: k rows per query, ranks contiguous, scores descending") {
    val out = Similarity.bruteForceTopK(emb.where(col("vec_id") < 5), emb, k = 4)
      .select("query_id", "rk", "cosine").as[(Long, Long, Double)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.size === 5)
    byQ.foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
      val scores = rows.sortBy(_._2).map(_._3)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("SRP-bucketed ANN returns a subset of brute-force candidates with matching scores") {
    val queries = emb.where(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 50)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val bucketed = Similarity.srpBucketTopK(queries, emb, k = 5, dim = 64, nbits = 4)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
    assert(bucketed.nonEmpty, "no same-bucket candidates at nbits=4")
    bucketed.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(bc => assert(math.abs(bc - c) < 1e-9)) }
  }

  test("multi-probe SRP: recall vs brute force never below single-probe, still exact scores") {
    val queries = emb.where(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def hits(probeHamming: Int): Set[(Long, Long)] =
      Similarity.srpBucketTopK(queries, emb, k = 5, dim = 64, nbits = 4,
          probeHamming = probeHamming)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
        .intersect(brute)
    val single = hits(0)
    val multi = hits(1)
    assert(multi.size >= single.size,
      s"multi-probe recall ${multi.size} < single-probe ${single.size}")
    // full-radius probing searches every bucket == brute force exactly
    val full = Similarity.srpBucketTopK(queries, emb, k = 5, dim = 64, nbits = 4,
        probeHamming = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full === brute, "probing all 2^nbits buckets must equal brute force")
  }

  test("multi-probe masks generate combinatorially — wide bucket keys stay cheap") {
    // regression: masks came from filtering the full 0..2^nbits range on the
    // driver — a ~10⁹-iteration loop at nbits=30; the combinatorial path
    // builds Σ C(nbits,j) = 31 masks. Scores stay exact (same kernel).
    val queries = emb.where(col("vec_id") < 3)
    val out = Similarity.srpBucketTopK(queries, emb, k = 3, dim = 64,
      nbits = 30, probeHamming = 1)
    val rows = out.select("query_id", "rk").as[(Long, Long)].collect()
    assert(rows.forall(_._2 <= 3) && rows.map(_._1).distinct.length <= 3)
    intercept[IllegalArgumentException] {
      Similarity.srpBucketTopK(queries, emb, k = 3, dim = 64, nbits = 63)
    }
  }

  test("int8 quantization: bounded range, bounded reconstruction error, zero-vector safe") {
    val q = Similarity.quantizeInt8(emb)
      .select("vec_id", "pos", "q", "scale")
      .as[(Long, Long, Long, Double)].collect()
    assert(q.nonEmpty && q.forall(r => r._3 >= -127 && r._3 <= 127))
    // reconstruction x̂ = q·scale is within half a quantization step of x
    // (scale itself is rounded to 6dp in the output, hence the epsilon)
    val xs = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long"), col("x").cast("double"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    q.foreach { case (id, pos, qv, scale) =>
      assert(math.abs(qv * scale - xs((id, pos))) <= scale / 2 + 1e-4) }
    // handcrafted extremes: the max-|x| component maps to ±127; all-zero
    // vectors quantize to all-zero
    val hand = Seq((1L, Array(0.5f, -1.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val hq = Similarity.quantizeInt8(hand)
      .select("vec_id", "pos", "q").as[(Long, Long, Long)].collect().toSet
    assert(hq === Set((1L, 0L, 64L), (1L, 1L, -127L), (2L, 0L, 0L), (2L, 1L, 0L)))
  }

  test("plan shape: quantization is a pure per-row explode (zero exchanges)") {
    val plan = Similarity.quantizeInt8(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"quantization must not shuffle — it is a per-row map at any scale:\n$plan")
  }

  test("semantic dedup: survivors have no within-cluster near-dup; cluster minima survive") {
    val cents = Similarity.ivfCentroids(emb, k = 4, iters = 1)
    val t = 0.30
    val out = Similarity.semanticDedup(emb, cents, threshold = t).cache()
    val total = emb.count()
    assert(out.count() > 0 && out.count() <= total)
    // the drop rule's invariant: among survivors, no same-cluster pair ≥ t
    val joined = emb.select(col("vec_id"), col("embedding"))
    val sv = out.join(joined, "vec_id")
    val a = sv.select(col("cluster"), col("vec_id").as("la"), col("embedding").as("va"))
    val b = sv.select(col("cluster"), col("vec_id").as("lb"), col("embedding").as("vb"))
    val offenders = a.join(b, Seq("cluster"))
      .where(col("la") < col("lb") &&
        round(Similarity.cosine(col("va"), col("vb")), 6) >= t)
      .count()
    assert(offenders === 0, "two surviving cluster-mates sit above the dedup threshold")
    // the lowest id of every cluster can never have a LOWER-id mate → survives
    val minIds = emb.select(col("vec_id"),
        Similarity.nearestCentroid(col("embedding"), cents).as("cluster"))
      .groupBy("cluster").agg(min("vec_id").as("vec_id"))
    assert(minIds.join(out, Seq("vec_id"), "left_anti").count() === 0)
    out.unpersist()
    graft.GraftSession.releaseCaches(spark)
  }

  test("srp bucket ids are stable and bounded") {
    val b = emb.withColumn("bucket", Similarity.srpBucket(col("embedding"), 64, 6))
      .select("bucket").as[Long].collect()
    assert(b.forall(x => x >= 0 && x < 64))
    val b2 = emb.withColumn("bucket", Similarity.srpBucket(col("embedding"), 64, 6))
      .select("bucket").as[Long].collect()
    assert(b.toSeq === b2.toSeq)
  }

  test("semanticDecontaminate: the embedding-grain gate — threshold " +
      "boundary, null handling, and partition of the corpus") {
    import spark.implicits._
    // orthogonal unit vectors + one exact suite copy + one 45° neighbor
    def v(parts: (Int, Float)*): Seq[Float] =
      (0 until 4).map(i => parts.toMap.getOrElse(i, 0.0f))
    val suite = Seq((900L, v(0 -> 1.0f)), (901L, null.asInstanceOf[Seq[Float]]),
      (902L, v()))  // zero-norm: NaN cosine vs everything — must judge NOTHING
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, v(0 -> 1.0f)),                 // identical → cos 1.0 → dropped
      (2L, v(0 -> 1.0f, 1 -> 1.0f)),      // 45° → cos ≈ 0.707107 → dropped at τ=0.7
      (3L, v(1 -> 1.0f)),                 // orthogonal → cos 0 → survives
      (4L, null.asInstanceOf[Seq[Float]]),// unjudgeable → survives, null max
      (5L, v())                           // zero-norm corpus vec: all-NaN → survives, null max
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontaminate(corpus, suite, tau = 0.7)
      .as[(Long, Option[Double])].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(3L, 4L, 5L),
      "a zero-norm suite row must not poison max_sim to NaN (which would " +
        "fail both < tau and isNull and silently drop the whole corpus)")
    assert(out(0)._2 === Some(0.0) && out(1)._2.isEmpty && out(2)._2.isEmpty)
    // the 45° doc survives a τ just ABOVE its rounded cosine (boundary is
    // on the rounded value, ≥ drops)
    assert(Similarity.semanticDecontaminate(corpus, suite, tau = 0.707108)
      .as[(Long, Option[Double])].collect().map(_._1).toSet === Set(2L, 3L, 4L, 5L))
    // real corpus: survivors ∪ dropped partition it, and every survivor's
    // reported max_sim is below τ while brute recomputation confirms no
    // dropped row was clean
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val c = e.where(col("vec_id") % 9 =!= 0)
    val su = e.where(col("vec_id") % 9 === 0)
    val kept = Similarity.semanticDecontaminate(c, su, tau = 0.40).cache()
    assert(kept.where(col("max_sim") >= 0.40).count() === 0)
    val keptIds = kept.select("vec_id").as[Long].collect().toSet
    val allIds = c.select("vec_id").as[Long].collect().toSet
    val dropped = allIds -- keptIds
    assert(dropped.nonEmpty, "τ=0.40 must bite on the real corpus")
    // recompute the dropped side independently
    val confirm = broadcast(su.select(col("embedding").as("sv")))
      .crossJoin(c.where(col("vec_id").isin(dropped.toSeq: _*)))
      .where(round(Similarity.cosine(col("embedding"), col("sv")), 6) >= 0.40)
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(confirm === dropped, "every dropped row is provably ≥ τ to the suite")
    kept.unpersist()
    assert(intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(corpus, suite, tau = 0.0)
    }.getMessage.contains("tau"))
    assert(intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(corpus.withColumn("max_sim", lit(1.0)),
        suite, tau = 0.5)
    }.getMessage.contains("max_sim"))
    // id soundness is ENFORCED, not documented away: a null id would dodge
    // the gate's join-back (row survives at any similarity), duplicate ids
    // would collapse to one shared max — both fail fast
    val nullId = Seq((Some(1L), v(0 -> 1.0f)), (None, v(0 -> 1.0f)))
      .toDF("vec_id", "embedding")
    assert(intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(nullId, suite, tau = 0.5)
    }.getMessage.contains("non-null"))
    val dupId = Seq((1L, v(0 -> 1.0f)), (1L, v(1 -> 1.0f)))
      .toDF("vec_id", "embedding")
    assert(intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(dupId, suite, tau = 0.5)
    }.getMessage.contains("unique"))
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("the no-angle convention family-wide: a zero-norm vector never " +
      "ranks, pairs, votes, or dedup-kills (Spark orders NaN above every " +
      "number, so each site needs its explicit isnan cut)") {
    import spark.implicits._
    def v(parts: (Int, Float)*): Seq[Float] =
      (0 until 4).map(i => parts.toMap.getOrElse(i, 0.0f))
    val corpus = Seq(
      (1L, v(0 -> 1.0f), 0),
      (2L, v(0 -> 1.0f, 1 -> 0.05f), 0), // near-dup of 1 (cos ≈ 0.9988)
      (3L, v(1 -> 1.0f), 1),             // orthogonal to 1/2
      (9L, v(), 7)                        // zero-norm: NaN vs everything
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((0L, v(0 -> 1.0f))).toDF("vec_id", "embedding")
      .withColumn("label", lit(null).cast("int"))
    // every cosine ranker: the zero-norm row must not occupy a slot even
    // with k covering the whole corpus (pre-fix it ranked FIRST — NaN
    // sorts ahead of every real cosine in a descending window)
    val brute = Similarity.bruteForceTopK(q, corpus, k = 4)
      .as[(Long, Long, Double, Long)].collect()
    assert(brute.map(_._2).toSet === Set(1L, 2L, 3L) && brute.forall(!_._3.isNaN))
    val srp = Similarity.srpBucketTopK(q, corpus, k = 4, dim = 4,
        nbits = 2, probeHamming = 2)
      .as[(Long, Long, Double, Long)].collect()
    assert(!srp.map(_._2).contains(9L) && srp.forall(!_._3.isNaN))
    val cents = Similarity.ivfCentroids(corpus.where(col("vec_id") =!= 9L),
      k = 1, iters = 1)
    val ivf = Similarity.ivfTopK(q, corpus, k = 4, cents, nprobe = 1)
      .as[(Long, Long, Double, Long)].collect()
    assert(!ivf.map(_._2).contains(9L) && ivf.forall(!_._3.isNaN))
    // the vote inherits the cut: neighbors are {1,2,3} → labels {0,0,1}
    assert(Similarity.knnLabel(q, corpus, k = 4)
      .as[(Long, Int, Long, Double)].collect() === Array((0L, 0, 2L, 0.5)))
    // SemDeDup both tiers: the zero-norm row survives AND kills no
    // cluster-mate (pre-fix its NaN pairs marked every higher id a dup)
    val kept = Similarity.semanticDedup(corpus, cents, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 9L),
      "2 is a real near-dup of 1; 3 orthogonal; 9 has no angle to anything")
    val books = Similarity.pqTrain(corpus, 2, 2, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("noangle_idx").toString
    try {
      Similarity.ivfPqIndexWrite(corpus, dir, cents, books)
      val keptIdx = Similarity.semanticDedupIndexed(
          spark.read.parquet(dir), threshold = 0.9)
        .select("vec_id").as[Long].collect().toSet
      assert(keptIdx === Set(1L, 3L, 9L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    // the exact pair join: only the real pair, never a NaN pair
    val pairs = Similarity.cosineSelfJoin(corpus, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) === Set((1L, 2L)))
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("SQ8: per-dim affine training, grid codes, and near-exact L2 ranking") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val (mins, maxs) = Similarity.sqTrain(e)
    // training is exact per-dim min/max — replay it driver-side
    val vecs = e.select(col("embedding")).as[Seq[Float]].collect()
    val dim = vecs.head.length
    assert(mins.length === dim && maxs.length === dim)
    (0 until dim).foreach { i =>
      assert(mins(i) === vecs.map(_(i).toDouble).min)
      assert(maxs(i) === vecs.map(_(i).toDouble).max)
    }
    // codes live on the 0…255 grid; the per-dim extremes hit the rails;
    // layout cannot matter (row-local expressions)
    val codes = Similarity.sqEncode(e, mins, maxs)
    val codeRows = codes.as[(Long, Seq[Int])].collect()
    assert(codeRows.forall(_._2.forall(c => c >= 0 && c <= 255)))
    (0 until dim).foreach { i =>
      if (maxs(i) > mins(i)) {
        assert(codeRows.map(_._2(i)).min === 0, s"dim $i min must code 0")
        assert(codeRows.map(_._2(i)).max === 255, s"dim $i max must code 255")
      }
    }
    assert(Similarity.sqEncode(e.repartition(7), mins, maxs)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
      === codeRows.sortBy(_._1).toSeq)
    // constant dims code 0 and decode to the constant
    val const = Seq((1L, Seq(2.0f, 5.0f)), (2L, Seq(3.0f, 5.0f))).toDF("vec_id", "embedding")
    val (cm, cx) = Similarity.sqTrain(const)
    assert(cx(1) === cm(1))
    assert(Similarity.sqEncode(const, cm, cx).as[(Long, Seq[Int])]
      .collect().forall(_._2(1) === 0))
    // ranking: at 8-bit fidelity over this corpus the top-5 should be the
    // exact L2 top-5 for nearly every query — compare against exact L2
    // computed inline (same tie-break)
    val qs = e.where(col("vec_id") < 10)
    val sq = Similarity.sqTopK(qs, Similarity.sqEncode(e, mins, maxs),
      mins, maxs, k = 5)
    assert(sq.groupBy("query_id").count().collect().forall(_.getLong(1) === 5L))
    val exact = {
      val q = qs.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
        .orderBy(col("d").asc, col("neighbor_id").asc)
      broadcast(q).crossJoin(c).where(col("query_id") =!= col("neighbor_id"))
        .withColumn("d",
          graft.functions.VectorFunctions.vectorDot(col("nv"), col("nv"))
            - lit(2.0) * graft.functions.VectorFunctions.vectorDot(col("qv"), col("nv")))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select(col("query_id"), col("neighbor_id"))
    }
    val sqSet = sq.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val exSet = exact.as[(Long, Long)].collect().toSet
    val recall = (sqSet intersect exSet).size.toDouble / exSet.size
    assert(recall >= 0.9, s"SQ8 recall@5 vs exact L2 fell to $recall")
    // a null corpus vector (null code array) must never occupy a top-k
    // slot — the ascending distance sort would otherwise rank it FIRST
    val withNull = Similarity.sqEncode(e, mins, maxs).unionByName(
      Seq((9999L, null.asInstanceOf[Seq[Int]])).toDF("vec_id", "sq_code"))
    assert(Similarity.sqTopK(qs, withNull, mins, maxs, k = 5)
      .where(col("neighbor_id") === 9999L).count() === 0)
    // guards
    assert(intercept[IllegalArgumentException] {
      Similarity.sqTopK(qs, e, mins, maxs, k = 5)
    }.getMessage.contains("sq_code"))
    assert(intercept[IllegalArgumentException] {
      Similarity.sqTopK(qs, codes, mins, maxs.dropRight(1), k = 5)
    }.getMessage.contains("equal-length"))
    assert(intercept[IllegalArgumentException] {
      Similarity.sqTopK(qs, codes, mins, maxs, k = 0)
    }.getMessage.contains("k"))
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("hardNegatives keeps exactly the band, ranks hardest first, NaN and self excluded") {
    import spark.implicits._
    // 2-d unit vectors at known angles to q=(1,0):
    // n1 dup (cos 1.0, above band), n2 45deg (0.707107, in), n3 60deg (0.5, in),
    // n4 orthogonal (0.0, below), n5 zero vector (NaN, judged nothing)
    val q = Seq((100L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (1L, Seq(1f, 0f)),
      (2L, Seq(0.7071068f, 0.7071068f)),
      (3L, Seq(0.5f, 0.8660254f)),
      (4L, Seq(0f, 1f)),
      (5L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(q, c, lo = 0.25, hi = 0.8, k = 5)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(got.map(_._2).toSeq === Seq(2L, 3L), s"band must keep exactly 45/60 deg: ${got.toSeq}")
    assert(got(0)._3 > got(1)._3, "hardest (most similar) negative ranks first")
    // k truncates the band walk
    val k1 = Similarity.hardNegatives(q, c, lo = 0.25, hi = 0.8, k = 1)
      .as[(Long, Long, Double, Long)].collect()
    assert(k1.map(_._2).toSeq === Seq(2L))
    // self-pairs never mine themselves even when in-band impossible (cos 1)
    val self = Similarity.hardNegatives(c.where(col("vec_id") === 2L), c,
      lo = 0.25, hi = 1.0, k = 10).as[(Long, Long, Double, Long)].collect()
    assert(!self.exists(r => r._1 == r._2))
    intercept[IllegalArgumentException] { Similarity.hardNegatives(q, c, 0.8, 0.25, 5) }
    intercept[IllegalArgumentException] { Similarity.hardNegatives(q, c, 0.25, 0.8, 0) }
    intercept[IllegalArgumentException] { Similarity.hardNegatives(q, c, -2.0, 0.8, 5) }
  }

  test("bandFilter composes over any scored relation: equivalent to hardNegatives on an exact tier") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.where(col("vec_id") < 10)
    val direct = Similarity.hardNegatives(qs, e, lo = 0.25, hi = 0.8, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    // widened exact tier -> band post-filter: same rows (the stored-index
    // composition pattern, proven over the tier whose scores are exact)
    val wide = Similarity.bruteForceTopK(qs, e, k = e.count().toInt)
      .drop("rk")
    val composed = Similarity.bandFilter(wide, lo = 0.25, hi = 0.8, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(direct === composed)
  }
}
