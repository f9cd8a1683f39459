package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  /** Independent single-threaded BPE reference: the greedy left-to-right
    * merge application, replayed per word over a fixed table. The engine's
    * kernels must match it exactly. */
  private def referenceApply(syms: Vector[String], l: String,
                             r: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
      else acc :+ s
    }

  private def referenceEncode(text: String,
                              merges: Seq[(String, String)]): Vector[String] =
    text.split(" ").filter(_.nonEmpty).toVector.flatMap { w =>
      merges.foldLeft(w.map(_.toString).toVector) {
        case (syms, (l, r)) => referenceApply(syms, l, r)
      }
    }

  test("greedy left-to-right merge: 'aaa' under (a,a) becomes [aa, a]") {
    val df = Seq("aaa").toDF("text")
    val enc = BpeTrain.bpeEncode(df, "text", Seq(("a", "a")))
      .select($"bpe_tokens", $"bpe_len").as[(Seq[String], Long)].collect()(0)
    assert(enc === ((Seq("aa", "a"), 2L)))
    // pair counting overlaps: "aaa" contributes (a,a) twice
    val pc = BpeTrain.pairCounts(BpeTrain.initVocab(BpeTrain.wordCounts(df, "text")))
      .as[(String, String, Long)].collect()
    assert(pc === Array(("a", "a", 2L)))
  }

  test("encode replays the reference fold and shrinks the symbol stream") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    // the first 6 merges a BPE trainer learned from this documents table,
    // frozen as a literal the way fixedMerges is
    val merges = Seq(
      "e" -> "r", "o" -> "r", "i" -> "n", "o" -> "w", "s" -> "t", "l" -> "u")
    val got = BpeTrain.bpeEncode(docs, "text", merges)
      .select($"text", $"bpe_tokens").as[(String, Seq[String])].collect()
    got.foreach { case (text, toks) =>
      assert(toks === referenceEncode(text, merges), s"encode drift on: $text")
      val rawChars = text.split(" ").filter(_.nonEmpty).map(_.length).sum
      assert(toks.size < rawChars, "merges must compress the char stream")
      assert(toks.mkString === text.split(" ").filter(_.nonEmpty).mkString,
        "encoding must preserve the character stream")
    }
  }

  test("bpeEncode rejects output-name collisions and handles empty/multi-space text") {
    val clash = Seq((1L, "ab", 7L)).toDF("id", "text", "bpe_len")
    val e = intercept[IllegalArgumentException] {
      BpeTrain.bpeEncode(clash, "text", Seq(("a", "b")))
    }
    assert(e.getMessage.contains("bpe_len"))
    val weird = Seq(Option("a  b"), Option(""), Option.empty[String]).toDF("text")
    val rows = BpeTrain.bpeEncode(weird, "text", Seq(("a", "b")))
      .select($"bpe_tokens", $"bpe_len").collect()
    val asPairs = rows.map(r =>
      (Option(r.getSeq[String](0)), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(asPairs.contains((Some(Seq("a", "b")), Some(2L))),
      "doubled space must not emit empty symbols")
    assert(asPairs.contains((Some(Seq.empty[String]), Some(0L))),
      "empty text encodes to zero symbols")
    assert(asPairs.contains((None, None)),
      "null text must encode to null tokens AND null length — the legacy " +
        "size(null) = -1 sentinel would silently corrupt a token-budget sum")
  }

  test("merge application is symbol-exact: a left symbol never matches " +
    "another symbol's suffix, and earlier merges feed later ones") {
    // (x,a) first turns [x,a,b] into [xa,b]; the later (a,b) must NOT fire
    // against xa's trailing 'a' — the exact boundary case q110's
    // self-delimited oracle replay exists to preserve
    val enc = BpeTrain.bpeEncode(
        Seq("xab", "ab", "ther").toDF("text"), "text",
        Seq(("x", "a"), ("a", "b"), ("t", "h"), ("th", "e")))
      .select($"text", $"bpe_tokens").as[(String, Seq[String])].collect().toMap
    assert(enc("xab") === Seq("xa", "b"),
      "suffix of a merged symbol must not satisfy a later merge's left side")
    assert(enc("ab") === Seq("ab"))
    assert(enc("ther") === Seq("the", "r"),
      "a merge whose left side is an earlier merge's product must fire")
  }

  test("fixedMerges is a well-formed frozen artifact") {
    val ms = BpeTrain.fixedMerges()
    assert(ms.size === 16)
    // oracle delimiter safety: symbols stay clear of the ()-encoding
    val derived = scala.collection.mutable.Set[String]()
    ms.foreach { case (l, r) =>
      assert(l.matches("[a-z0-9]+") && r.matches("[a-z0-9]+"),
        s"symbols must be ASCII-alnum for the ()-delimited oracle replay: ($l,$r)")
      assert(l.length == 1 || derived(l),
        s"multi-char left '$l' must be an earlier merge's product")
      assert(r.length == 1 || derived(r),
        s"multi-char right '$r' must be an earlier merge's product")
      derived += (l + r)
    }
  }

  test("delimiter-carrying rows dispatch to the fold kernel and still " +
    "encode exactly (the fast kernel's escape hatch is total)") {
    // a text containing the fast kernel's U+0001/U+0002 delimiters must
    // take the per-word fold path; the reference fold is delimiter-free,
    // so the outputs still agree symbol-for-symbol
    val dirty = "a\u0001b ab a\u0002"
    val clean = "ab xab"
    val merges = Seq(("x", "a"), ("a", "b"))
    val got = BpeTrain.bpeEncode(Seq(dirty, clean).toDF("text"), "text", merges)
      .select($"text", $"bpe_tokens").as[(String, Seq[String])].collect().toMap
    assert(got(dirty) === referenceEncode(dirty, merges))
    assert(got(clean) === referenceEncode(clean, merges))
    assert(got(clean) === Seq("ab", "xa", "b"),
      "fast path: (x,a) fires first in 'xab', so (a,b) must not match xa's suffix")
    // a merge table carrying a delimiter or a space is rejected up front
    intercept[IllegalArgumentException] {
      BpeTrain.bpeEncode(Seq("x").toDF("text"), "text", Seq(("a", "\u0001")))
    }
    intercept[IllegalArgumentException] {
      BpeTrain.bpeEncode(Seq("x").toDF("text"), "text", Seq(("a b", "c")))
    }
  }

  test("rank kernel replays the replace-chain kernel token-for-token on " +
    "real corpus data under a trained table") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the first 8 merges a BPE trainer learned from this documents table
    val merges = Seq(
      "e" -> "r", "o" -> "r", "i" -> "n", "o" -> "w", "s" -> "t", "l" -> "u",
      "a" -> "r", "p" -> "ar")
    val chain = BpeTrain.bpeEncode(docs, "text", merges)
      .select($"doc_id", $"bpe_tokens", $"bpe_len")
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1)
    val rank = BpeTrain.bpeEncodeRank(docs, "text", merges)
      .select($"doc_id", $"bpe_tokens", $"bpe_len")
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1)
    assert(rank.length === chain.length)
    rank.zip(chain).foreach { case (a, b) =>
      assert(a === b, s"rank-kernel drift on doc ${a._1}")
    }
  }

  test("rank kernel is SEQUENTIAL-replay exact on hostile tables where " +
    "naive min-rank-present diverges") {
    // (aa,b) ranks BEFORE (a,a), but "aab" has no 'aa' symbol until
    // (a,a) fires — sequential replay yields [aa, b]; an algorithm that
    // re-offers rank 0 after rank 1 creates 'aa' would produce [aab]
    val hostile = Seq(("aa", "b"), ("a", "a"))
    val got = BpeTrain.bpeEncodeRank(Seq("aab").toDF("text"), "text", hostile)
      .select($"bpe_tokens").as[Seq[String]].collect()(0)
    assert(got === Seq("aa", "b"),
      "a rank that already had its sequential turn must never fire late")
    assert(got === referenceEncode("aab", hostile))
    // duplicate table entries stay total: the SECOND (aa,aa) fires after
    // (a,a) creates its sides, exactly as sequential replay
    val dup = Seq(("aa", "aa"), ("a", "a"), ("aa", "aa"))
    val got2 = BpeTrain.bpeEncodeRank(Seq("aaaa").toDF("text"), "text", dup)
      .select($"bpe_tokens").as[Seq[String]].collect()(0)
    assert(got2 === referenceEncode("aaaa", dup))
    assert(got2 === Seq("aaaa"))
    // fuzz the construction against the single-threaded sequential
    // reference: every word over {a,b,c} up to length 6 under two
    // interleaved hostile tables
    val tables = Seq(
      Seq(("a", "b"), ("b", "c"), ("ab", "c"), ("a", "bc"), ("c", "a"),
        ("ca", "b")),
      Seq(("b", "b"), ("a", "bb"), ("bb", "c"), ("a", "a"), ("aa", "b"),
        ("abb", "c"), ("b", "c")))
    val words = (1 to 6).flatMap(n =>
      Iterator.fill(n)(Seq("a", "b", "c")).foldLeft(Seq("")) {
        (acc, cs) => acc.flatMap(p => cs.map(p + _))
      })
    tables.foreach { tab =>
      val df = words.toDF("text")
      val got = BpeTrain.bpeEncodeRank(df, "text", tab)
        .select($"text", $"bpe_tokens").as[(String, Seq[String])]
        .collect().toMap
      words.foreach { w =>
        assert(got(w) === referenceEncode(w, tab),
          s"sequential-replay drift on '$w' under $tab")
      }
    }
  }

  test("rank kernel needs no dirty dispatch: delimiter and astral rows " +
    "agree with the other kernels (all seed Unicode code points)") {
    val astral = "a🦄b ab"
    val dirty = "a\u0001b ab"  // forces bpeEncode's fold path
    val merges = Seq(("a", "b"))
    val viaEnc = BpeTrain.bpeEncode(
        Seq(astral, dirty).toDF("text"), "text", merges)
      .select($"text", $"bpe_tokens").as[(String, Seq[String])].collect().toMap
    val viaRank = BpeTrain.bpeEncodeRank(
        Seq(astral, dirty).toDF("text"), "text", merges)
      .select($"text", $"bpe_tokens").as[(String, Seq[String])].collect().toMap
    Seq(astral, dirty).foreach { t =>
      assert(viaRank(t) === viaEnc(t), s"kernel drift on: $t")
    }
    assert(viaRank(astral) === Seq("a", "🦄", "b", "ab"),
      "an astral codepoint must seed as ONE symbol — Spark's split(w, '') " +
        "segments code points (measured), not java.lang.String code units")
  }

  test("astral-text oracle parity: engine tokens match the q110 ()-replay " +
    "pinned from DuckDB (both sides segment code points)") {
    // pinned output of the q110 oracle expression run in DuckDB on this
    // exact input with merge table [(e,r)]:
    //   'a🦄b er' → ['a 🦄 b', 'er']  — i.e. tokens [a, 🦄, b, er]
    //   (verified against the live replay this session).
    // The engine must produce the same stream through BOTH kernels; this
    // is the spec that retired the round-18 astral dispatch and the
    // "BMP envelope" framing — no divergence exists to fence off.
    val df = Seq("a🦄b er").toDF("text")
    val expect = Seq("a", "🦄", "b", "er")
    val viaEnc = BpeTrain.bpeEncode(df, "text", Seq(("e", "r")))
      .select($"bpe_tokens").as[Seq[String]].collect()(0)
    val viaRank = BpeTrain.bpeEncodeRank(df, "text", Seq(("e", "r")))
      .select($"bpe_tokens").as[Seq[String]].collect()(0)
    assert(viaEnc === expect)
    assert(viaRank === expect)
  }

  test("byte-level seed: train + encode on non-ASCII round-trips exactly") {
    val df = Seq("héllo wörld", "héllo héllo", "a🦄b").toDF("text")
    // byte seeding: every symbol is an uppercase hex pair, and the symbols
    // decode back to the word for any input — bytes are bytes, no BMP
    // envelope
    val vocab = BpeTrain.initVocab(BpeTrain.wordCounts(df, "text"), byteSeed = true)
      .select($"w", $"syms", BpeTrain.decodeByteTokens($"syms").as("rt"))
      .as[(String, Seq[String], String)].collect()
    assert(vocab.map(_._1).toSet === Set("héllo", "wörld", "a🦄b"))
    vocab.foreach { case (w, syms, rt) =>
      assert(syms.forall(_.matches("[0-9A-F]{2}")), s"bad byte seed for $w: $syms")
      assert(syms.size === w.getBytes("UTF-8").length)
      assert(rt === w, s"byte round-trip drift on '$w'")
    }
  }

  test("plan shape: fixed-table encode is a pure per-row expression " +
    "(no join, no exchange) — q110's zero-shuffle contract") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = BpeTrain.bpeEncode(docs, "text", BpeTrain.fixedMerges())
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"encode must not join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"a row-local encoder must not shuffle the corpus:\n$plan")
  }

  test("plan shape: rank-kernel encode is zero-shuffle AND constant plan " +
    "size in the merge count (the 32k-merge production property)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = BpeTrain.bpeEncodeRank(docs, "text", BpeTrain.fixedMerges())
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"rank-kernel encode must be row-local:\n$plan")
    // plan tree size must not grow with the table: a 4096-merge table
    // analyzes to the SAME single-expression plan (the replace chain, by
    // contrast, nests one replace node per merge)
    val big = BpeTrain.fixedMerges() ++
      (0 until 4080).map(i => (s"z$i", s"y$i"))
    val bigPlan = BpeTrain.bpeEncodeRank(docs, "text", big)
      .queryExecution.analyzed.toString
    assert(bigPlan.length < plan.length + 2048,
      s"rank-kernel plan must stay constant-size in merges " +
        s"(got ${bigPlan.length} chars at 4096 merges)")
  }

  test("wordPieceScores ranks by likelihood ratio, not raw count — and the " +
    "two criteria disagree where they should") {
    import spark.implicits._
    // "ab"×10: pair (a,b) cnt 10, count(a)=count(b)=10 → score 0.1;
    // "cd"×3:  pair (c,d) cnt 3,  count(c)=count(d)=3  → score 1/3.
    // BPE picks (a,b); WordPiece must pick (c,d).
    val docs = Seq((1L, (Seq.fill(10)("ab") ++ Seq.fill(3)("cd")).mkString(" ")))
      .toDF("doc_id", "text")
    val vocab = BpeTrain.initVocab(BpeTrain.wordCounts(docs, "text"))
    val wp = BpeTrain.wordPieceScores(vocab)
      .orderBy(col("score").desc, col("l"), col("r"))
      .as[(String, String, Long, Double)].collect()
    assert(wp.head._1 === "c" && wp.head._2 === "d")
    assert(math.abs(wp.head._4 - 3.0 / 9.0) < 1e-15)
    val byCnt = wp.maxBy(_._3)
    assert(byCnt._1 === "a" && byCnt._2 === "b" && byCnt._3 === 10L,
      "raw count must still rank (a,b) first — the criteria genuinely disagree")
    assert(math.abs(byCnt._4 - 0.1) < 1e-15)
    // denominators are the CURRENT segmentation's symbol totals: after
    // merging (c,d) the pair vanishes and (a,b)'s score is unchanged
    val merged = Seq(("ab", 10L, Seq("a", "b")), ("cd", 3L, Seq("cd")))
      .toDF("w", "cnt", "syms")
    val after = BpeTrain.wordPieceScores(merged)
      .as[(String, String, Long, Double)].collect()
    assert(!after.exists(p => p._1 == "c" && p._2 == "d"))
    assert(after.find(p => p._1 == "a" && p._2 == "b").get._4 === byCnt._4)
  }
}
