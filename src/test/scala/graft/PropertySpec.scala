package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{AsOf, Dedup, Packing, TextAnalysis}
import graft.pipeline.IncrementalLoad

/** Property-based checks (SURVEY §5.2): scalacheck generators drive the
  * inputs; each property evaluates one batched Spark job against a
  * driver-side reference implementation. Seeds are fixed — failures
  * reproduce deterministically. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("property: anti-join load ≡ set difference, and re-loading is a no-op (J2)") {
    (1L to 5L).foreach { seed =>
      val existing = sample(Gen.listOf(Gen.chooseNum(0L, 50L)), seed).distinct
      val incoming = sample(Gen.listOf(Gen.chooseNum(0L, 50L)), seed + 100).distinct
      val e = existing.toDF("k"); val i = incoming.toDF("k")
      val table = s"j2_property_load_$seed"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      try {
        e.write.saveAsTable(table)
        IncrementalLoad.appendNew(spark, i, table, "k")
        val fresh = spark.table(table).except(e).as[Long].collect().toSet
        assert(fresh === incoming.toSet.diff(existing.toSet), s"seed=$seed")
        assert(IncrementalLoad.appendNew(spark, fresh.toSeq.toDF("k"), table, "k") === 0,
          s"seed=$seed")
      } finally spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("property: distributed CC fixpoint (maxDriverEdges=0) ≡ union-find on adversarial graph shapes") {
    // the 100 TB path: maxDriverEdges = 0 forces the min-label +
    // pointer-jumping loop on generated chains (worst diameter — the shape
    // pointer jumping exists for), stars, cliques, and disconnected
    // mixtures; the oracle is a plain driver union-find over the same edges
    def ufLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // resolve every root to the component-minimum vertex id
      val minOf = verts.groupBy(find).map { case (r, vs) => r -> vs.min }
      verts.map(v => v -> minOf(find(v))).toMap
    }
    def chain(ids: Seq[Long]) = ids.zip(ids.drop(1))
    def star(hub: Long, leaves: Seq[Long]) = leaves.map(hub -> _)
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    (1L to 3L).foreach { seed =>
      val n = 6 + sample(Gen.chooseNum(0, 10), seed)
      val base = sample(Gen.pick(n, 0L until 200L), seed + 7).toSeq.sorted
      val (c1, rest) = base.splitAt(n / 3)
      val (s1, k1) = rest.splitAt(n / 3)
      val edges = (chain(c1) ++ // long chain (diameter stress)
        (if (s1.nonEmpty) star(s1.head, s1.tail) else Nil) ++
        clique(k1) ++
        Seq((500L, 500L))).distinct // degenerate self-edge, disconnected
      val got = Dedup.connectedComponents(
          edges.toDF("left_id", "right_id"), maxDriverEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got === ufLabels(edges), s"seed=$seed edges=$edges")
    }
  }

  test("property: WAV and MP4 wrap→parse round-trips are exact for arbitrary payloads and params") {
    import graft.operators.Multimodal.HeaderCodec
    (1L to 8L).foreach { seed =>
      val payload = sample(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)), seed)
        .toArray
      val sr = sample(Gen.oneOf(8000, 16000, 22050, 44100, 48000), seed + 20)
      val ch = sample(Gen.chooseNum(1, 8), seed + 40)
      val bits = sample(Gen.oneOf(8, 16, 24, 32), seed + 60)
      val byteRate = sr * ch * bits / 8
      assert(HeaderCodec.wavInfo(HeaderCodec.wavWrap(payload, sr, ch, bits)) ===
        Some((sr, ch, payload.length.toLong * 1000L / byteRate)),
        s"wav seed=$seed sr=$sr ch=$ch bits=$bits n=${payload.length}")
      val w = sample(Gen.chooseNum(1, 7680), seed + 80)
      val h = sample(Gen.chooseNum(1, 4320), seed + 100)
      val ms = sample(Gen.chooseNum(0L, 86400000L), seed + 120)
      assert(HeaderCodec.mp4Info(HeaderCodec.mp4Wrap(payload, w, h, ms)) ===
        Some((w, h, ms)), s"mp4 seed=$seed w=$w h=$h ms=$ms n=${payload.length}")
    }
  }

  test("property: pence→pounds scaling is sign-insensitive and exact at 2 d.p. (E1)") {
    val amounts = sample(Gen.listOfN(500, Gen.chooseNum(-10000000L, 10000000L)), 7L)
    val out = amounts.toDF("amount")
      .select(col("amount"), (abs(col("amount")) / 100).as("major"))
      .as[(Long, Double)].collect()
    out.foreach { case (pence, major) =>
      assert(major === math.abs(pence) / 100.0)
      assert(major >= 0.0)
    }
  }

  test("property: non-ANSI casts are total — arbitrary strings coerce to null, never throw (E4)") {
    val strs = sample(Gen.listOfN(300, Gen.oneOf(
      Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.chooseNum(-1e9, 1e9).map(_.toString))), 11L)
    val out = strs.toDF("s").select(
      col("s").cast("int").as("i"),
      col("s").cast("double").as("d"),
      col("s").cast("timestamp").as("t"),
      col("s").cast("boolean").as("b"))
    // totality: the job completes; coercions agree with Scala's parsers where defined
    val rows = out.collect()
    assert(rows.length === strs.length)
    strs.zip(rows).foreach { case (s, r) =>
      val expected = scala.util.Try(s.trim.toDouble).toOption
      val got = Option(r.get(1)).map(_.asInstanceOf[Double])
      (expected, got) match {
        case (Some(e), Some(g)) if !e.isInfinite => assert(g === e, s"input '$s'")
        case _ => // null/special-form disagreements are out of contract
      }
    }
  }

  test("property: strict as-of join matches a reference implementation (random events)") {
    (1L to 3L).foreach { seed =>
      val n = 60
      val ts = sample(Gen.listOfN(n, Gen.chooseNum(0L, 30L)), seed)
      val keys = sample(Gen.listOfN(n, Gen.chooseNum(1L, 4L)), seed + 50)
      val rows = keys.zip(ts).zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val (leftRows, rightRows0) = rows.splitAt(n / 2)
      // right side deduped per (key, ts) with max id — the operator's contract
      val rightRows = rightRows0.groupBy(r => (r._2, r._3))
        .map { case (_, g) => g.maxBy(_._1) }.toSeq
      val left = leftRows.toDF("id", "k", "t")
      val right = rightRows.toDF("rid", "k", "t")
      val got = AsOf.joinAsOf(left, right, Seq("k"), "t", "t", strict = true)
        .select("id", "rid").as[(Long, Option[Long])].collect().toMap
      leftRows.foreach { case (id, k, t) =>
        val expect = rightRows.filter(r => r._2 == k && r._3 < t)
          .sortBy(r => (r._3, r._1)).lastOption.map(_._1)
        assert(got(id) === expect, s"seed=$seed id=$id")
      }
    }
  }

  test("property: jaccardPairs at τ=0 equals the brute-force driver computation") {
    val docs = (0L until 20L).map { i =>
      val toks = sample(Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")), i + 1)
      (i, toks.distinct)
    }
    val df = docs.toDF("id", "tok").withColumn("blk", lit(1))
    val got = Dedup.jaccardPairs(df, "id", "tok", "blk", 0.0)
      .select("left_id", "right_id", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    for ((i, a) <- docs; (j, b) <- docs if i < j) {
      val inter = a.toSet.intersect(b.toSet).size
      val expect = inter.toDouble / (a.toSet.size + b.toSet.size - inter)
      assert(math.abs(got((i, j)) - expect) < 1e-12, s"pair ($i,$j)")
    }
  }

  test("property: crossJaccardPairs equals the brute-force L×R computation at several thresholds") {
    val left = (0L until 12L).map { i =>
      (i, sample(Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")), i + 1).distinct)
    }
    val right = (100L until 118L).map { i =>
      (i, sample(Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")), i + 1).distinct)
    }
    val ldf = left.toDF("id", "tok").withColumn("blk", lit(1))
    val rdf = right.toDF("id", "tok").withColumn("blk", lit(1))
    Seq(0.3, 0.5, 0.8).foreach { tau =>
      val got = Dedup.crossJaccardPairs(ldf, rdf, "id", "tok", "blk", tau)
        .select("left_id", "right_id", "jaccard")
        .as[(Long, Long, Double)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      val expect = (for {
        (i, a) <- left; (j, b) <- right
        inter = a.toSet.intersect(b.toSet).size
        jac = inter.toDouble / (a.toSet.size + b.toSet.size - inter)
        if jac >= tau
      } yield (i, j) -> jac).toMap
      assert(got.keySet === expect.keySet, s"tau=$tau")
      expect.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-12, s"tau=$tau pair $k")
      }
    }
    graft.GraftSession.releaseCaches(spark, blocking = true)
  }

  test("property: packing conserves tokens — offset+pack arithmetic reconstructs the running sum") {
    (1L to 3L).foreach { seed =>
      val docs = sample(Gen.listOfN(40, Gen.chooseNum(1L, 300L)), seed)
        .zipWithIndex.map { case (n, i) => (i.toLong, n, s"s${i % 3}") }
      val out = Packing.packByBudget(docs.toDF("id", "n", "shard"),
          col("shard"), col("id"), col("n"), 128L)
        .select("shard", "id", "n", "pack_id", "pack_offset")
        .as[(String, Long, Long, Long, Long)].collect()
      out.groupBy(_._1).foreach { case (_, rows) =>
        var running = 0L
        rows.sortBy(_._2).foreach { case (_, _, n, packId, off) =>
          // pack_id * budget + pack_offset IS the running token sum — no
          // token is lost or double-assigned anywhere in the shard
          assert(packId * 128L + off === running, s"seed=$seed")
          running += n
        }
      }
    }
  }

  test("property: every token index lands in ≥1 chunk and chunk slices tile the doc") {
    (1L to 3L).foreach { seed =>
      val nTok = sample(Gen.chooseNum(1, 50), seed)
      val toks = (0 until nTok).map(i => s"w$i")
      val out = Packing.chunkByTokens(Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"),
          col("doc_id"), split(col("text"), " "), chunkTokens = 7, stride = 5)
        .select("chunk_id", "chunk_text").as[(Long, String)].collect()
      val covered = out.flatMap(_._2.split(" ")).toSet
      assert(covered === toks.toSet, s"seed=$seed nTok=$nTok: every token appears in some chunk")
      out.foreach { case (c, text) =>
        val words = text.split(" ")
        assert(words.toSeq === toks.slice((c * 5).toInt, (c * 5).toInt + 7), s"seed=$seed chunk=$c")
      }
    }
  }

  test("property: vocabulary frequencies equal driver-side token counts") {
    val texts = (1L to 3L).flatMap { seed =>
      sample(Gen.listOfN(30, Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e"))), seed)
        .map(_.mkString(" "))
    }
    val expect = texts.flatMap(_.split(" ")).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = TextAnalysis.tokenVocabulary(texts.toDF("text"), "text", topK = 5)
      .as[(String, Long, Long)].collect()
    got.foreach { case (tok, freq, _) => assert(freq === expect(tok), s"token $tok") }
    // ranks are 1..k and frequencies non-increasing
    assert(got.map(_._3).sorted.toSeq === (1L to got.length))
    val byRank = got.sortBy(_._3).map(_._2)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }
}
