package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.{Dedup, Packing, Redaction, Sampling, Similarity, TextAnalysis}

/** The engine's declared query surface — one entry per operator family from
  * SURVEY.md §2 plus the LLM-data-pipeline extensions, all expressed over the
  * driver testdata so the DuckDB oracle can hash-check them.
  *
  * Determinism rules (these queries are hash-compared value-for-value against
  * DuckDB):
  *  - money/quantity aggregates are summed in DECIMAL (exact), then cast to
  *    double — identical bits in any engine;
  *  - no `round()` is applied after an order-nondeterministic double sum,
  *    except vector math where a round(…,6) squashes ~1e-15 fold-order noise;
  *  - timestamps are emitted as formatted strings (UTC), counts as BIGINT;
  *  - every sort used for limit/top-k has a unique-key tie-break.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------ relational --

  /** A1/E7/E8 (reference monthly_count, api.py:9-24): null-safe != filter,
    * time-bucket groupBy, multi-aggregate. Daily grain for row coverage. */
  val q01_daily_agg: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    ev.where(coalesce(col("event_type"), lit("")) =!= "error")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .withColumn("avg_value", col("sum_value") / col("n_events"))
  }

  /** The cashback core transform re-expressed (J1+E1+E2+E4+E5+E6+P1+P2,
    * glue_script.py:19-78): left join, abs/scale, conditional price,
    * date-format, cast battery. */
  val q02_enrich_transform: Q = (s, dir) => {
    // unsplittable-scan repartition (Tables.parallel): the decimal/cast
    // battery below otherwise evaluates on the scan's single task
    // (measured 1.55 → 0.76 s at sf0.1, OPTIMIZATION_r19.md). Orders is
    // the BROADCAST build side — repartitioning a relation about to be
    // collected to the driver buys nothing and pays an exchange
    // (VERDICT r19 #3), so it keeps the plain loader.
    val li = Tables.lineitemPar(s, dir)
    val o = Tables.orders(s, dir)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(12,2)")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "left")
      .select(
        li("l_orderkey").as("txn_id"),
        li("l_linenumber").cast("long").as("line_no"),
        o("o_custkey").as("customer_id"),
        o("o_orderstatus").as("status"),
        // E1: abs + rescale (pence→pounds analog), exact in decimal
        (dec(abs(li("l_extendedprice"))) * dec(lit(0.01))).cast("double").as("amount_major"),
        // E2: conditional derived price (when/otherwise)
        when(li("l_discount") === 0, dec(li("l_extendedprice")) * dec(li("l_tax")))
          .otherwise(dec(li("l_extendedprice")) * dec(lit(1) - li("l_discount")))
          .cast("double").as("derived_price"),
        // E6: timestamp → yyyy-MM-dd string (partition-key shape)
        date_format(li("l_shipdate"), "yyyy-MM-dd").as("txn_date"),
        // E4 cast battery: numeric→string, double→int rate, flag→boolean
        li("l_orderkey").cast("string").as("txn_id_str"),
        round(li("l_discount") * 100).cast("int").cast("long").as("rate_pct"),
        (li("l_returnflag") === "R").as("is_return"))
  }

  /** J2/P8 (idempotent load anti-join, load_to_redshift_lambda.py:88-100):
    * customers with no high-value order. The filter keeps the result
    * non-vacuous at every SF (an anti-join against all orders matches zero
    * rows on this data, which would make the check meaningless). */
  val q03_anti_join: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).where(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** P5/P6/O1/O2 (GraphQL pushdown semantics, api.py:195): range + equality
    * filter, sort desc, limit+offset pagination. */
  val q04_filter_sort_page: Q = (s, dir) => {
    Tables.events(s, dir)
      .where(col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00")
        && col("event_type") === "purchase")
      .orderBy(col("event_id").desc)
      .offset(10).limit(50)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("user_id"), col("value"))
  }

  /** A2 (pushed-down count aggregate under predicate). */
  val q05_count_filter: Q = (s, dir) =>
    Tables.events(s, dir)
      .where(col("value") > 100 && col("event_type") === "purchase")
      .agg(count(lit(1)).as("total_count"))

  /** E4/E12 (cast battery with pandas-style coerce-to-null, elt.py:49-65):
    * try-cast strings, JSON field extraction, numeric→string. */
  val q06_cast_battery: Q = (s, dir) =>
    // parallel: per-row JSON extraction + cast battery off the single-task
    // scan (0.44 → 0.28 s, OPTIMIZATION_r19.md)
    Tables.eventsPar(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").cast("long").as("k_int"),
      col("event_type").cast("int").cast("long").as("coerced_null"),
      col("user_id").cast("string").as("user_id_str"),
      round(col("value") * 100).cast("long").as("value_cents"),
      (col("event_type") === "error").as("is_error"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))

  /** §2.8/J3 (window functions; backfill-first semantics, api.py:140-150). */
  val q07_window_funcs: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val wAll = Window.partitionBy("o_custkey")
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      row_number().over(w).cast("long").as("rn"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(wAll).cast("double").as("cust_total"),
      first(col("o_orderkey")).over(w).as("first_order"),
      lag(col("o_orderkey"), 1).over(w).as("prev_order"))
  }

  /** O3 (top-k per group via rank window). */
  val q08_top_per_group: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rk").cast("long").as("rk"))
  }

  /** §2.7 set operations: union / intersect / except, fused into ONE
    * aggregation — tag each side, collect per-key presence flags with a
    * single hash-agg shuffle, then derive all three results from the flags
    * (semantically identical to chaining union/intersect/except, which
    * would cost three separate wide exchanges). */
  val q09_set_ops: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val a = c.where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"), lit(1).as("ina"), lit(0).as("inb"))
    val b = o.where(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("k"), lit(0).as("ina"), lit(1).as("inb"))
    val flags = a.unionByName(b).groupBy("k")
      .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
    flags.select(lit("union").as("op"), col("k"))
      .unionAll(flags.where(col("ina") === 1 && col("inb") === 1)
        .select(lit("intersect").as("op"), col("k")))
      .unionAll(flags.where(col("ina") === 1 && col("inb") === 0)
        .select(lit("except").as("op"), col("k")))
  }

  /** Headline: TPC-H Q1-shaped pricing summary (grouped multi-agg at scale;
    * decimal-exact sums). */
  val q10_pricing_summary: Q = (s, dir) => {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(12,2)")
    // parallel: the decimal partial aggregate is the query's whole cost and
    // otherwise runs on the scan's single task (0.81 → 0.71 s)
    Tables.lineitemPar(s, dir)
      .where(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
          * dec(lit(1) + col("l_tax"))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
  }

  /** Headline: TPC-H Q3-shaped 3-way join + agg + deterministic top-10.
    * The dimension filter is applied before the join so Catalyst can
    * broadcast the reduced build side. */
  val q11_top_revenue: Q = (s, dir) => {
    val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(12,2)")
    broadcast(c).join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(o("o_orderkey").as("okey"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(sum(dec(li("l_extendedprice")) * dec(lit(1) - li("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("okey"))
      .limit(10)
      .select(col("okey").as("o_orderkey"), col("order_date"), col("revenue"))
  }

  /** E9 (coalesce/fillna) over a left-join aggregate. */
  val q12_coalesce_fill: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val agg = Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    c.join(agg, c("c_custkey") === agg("o_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("total"), lit(0.0)).as("total_spend"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
  }

  /** Streaming batch-shape: tumbling 1-hour windowed aggregate (the exact
    * plan Structured Streaming would run incrementally). */
  val q13_hourly_rollup: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Multi-level aggregation: ROLLUP over (returnflag, linestatus) — subtotal
    * and grand-total rows with null group keys, decimal-exact sums. */
  val q14_rollup: Q = (s, dir) => {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(12,2)")
    // parallel: ROLLUP's Expand multiplies every row ×3 BEFORE the partial
    // aggregate — heavy pre-exchange work on a single-task scan otherwise
    // (0.96 → 0.64 s)
    Tables.lineitemPar(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
  }

  /** CUBE with grouping markers: all four aggregation levels plus the
    * grouping() flags that disambiguate data-null from total-null keys. */
  val q44_cube: Q = (s, dir) =>
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_prio"))

  /** Window frames: trailing-3-order moving sum/avg per customer, decimal
    * sums inside the frame so the values are order-independent-exact. */
  val q15_moving_avg: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").as("trail_sum"),
      count(lit(1)).over(w).as("trail_n"))
      .withColumn("trail_avg", col("trail_sum") / col("trail_n"))
  }

  /** Semi-join (EXISTS): customers having at least one urgent open order. */
  val q16_semi_join: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Incremental load with late/duplicate data: two overlapping batches,
    * union, newest-batch-wins dedup by key via row_number (deterministic —
    * never dropDuplicates, whose survivor is partition-order-dependent). */
  val q17_incremental_union: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val batchA = ev.where(pmod(col("event_id"), lit(3)) =!= 0).withColumn("src", lit(1))
    val batchB = ev.where(pmod(col("event_id"), lit(2)) === 0).withColumn("src", lit(2))
    val w = Window.partitionBy("event_id").orderBy(col("src").desc)
    batchA.unionByName(batchB)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("event_id"), col("src").as("winning_src"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
  }

  /** Pivot: per-day event_type value matrix (explicit value list so the plan
    * is one pass, no distinct-collect on the driver). */
  val q18_pivot: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))

  /** As-of join (trades-and-quotes shape): each purchase matched to the same
    * user's most recent strictly-earlier view, via the generic
    * [[graft.operators.AsOf.joinAsOf]] operator (union + keyed window — one
    * shuffle on user_id, no range-join blow-up). Views are first deduped per
    * (user, ts) so the match is deterministic; the oracle is DuckDB's native
    * ASOF LEFT JOIN. */
  val q19_asof_join: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.operators.AsOf.joinAsOf(purchases, views,
        by = Seq("user_id"), leftTs = "ts", rightTs = "ts", strict = true)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("value"),
        col("view_id").as("matched_view"),
        date_format(col("ts_right"), "yyyy-MM-dd HH:mm:ss").as("matched_ts_s"))
  }

  // --------------------------------------------------- text / dedup / ann --

  private val Stopwords = Seq("the", "a")

  /** Token counting + quality scoring (LLM-pipeline text analysis). */
  val q20_text_stats: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
      TextAnalysis.stopwordCount(col("text"), Stopwords).as("n_stopwords"),
      TextAnalysis.stopwordRatio(col("text"), Stopwords).as("stop_ratio"))

  /** Language-ID heuristic + agreement flag against the labeled lang. */
  val q21_lang_guess: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      TextAnalysis.langGuess(col("text")).as("lang_guess"))
      .withColumn("agrees", col("lang_guess") === col("lang"))

  /** Document fingerprinting (md5 + sha256 + utf-8 byte length). */
  val q22_fingerprint: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
      TextAnalysis.fingerprintSha256(col("text")).as("fp_sha256"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  /** Exact dedup by content prefix fingerprint (hash-groupBy; the 5-token
    * prefix induces real duplicate groups in the synthetic corpus). */
  val q23_dedup_exact: Q = (s, dir) => {
    val prefix = concat_ws(" ", slice(split(col("text"), " "), 1, 5))
    Dedup.exact(Tables.documents(s, dir), md5(prefix), col("doc_id"))
  }

  /** Exact n-gram(1) Jaccard near-dup pairs within a language block. */
  val q24_jaccard_pairs: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tok"))
    Dedup.jaccardPairs(docs, "doc_id", "tok", "lang", 0.95)
  }

  /** MinHash+LSH near-dup detection on the CROSS-ENGINE hash family
    * ([[Dedup.minHashDedupPortable]]): the oracle replays signatures,
    * band buckets, the candidate join, and the exact-Jaccard verify — so
    * LSH's probabilistic recall misses are BY CONSTRUCTION identical on
    * both engines at any SF (round 10: the previous exact-pair oracle
    * silently required recall = 1, which held at sf0.01 but lost 2 of
    * 256 pairs at sf0.1 — the standard S-curve trade, now gated
    * faithfully instead of coincidentally). */
  val q25_minhash_dedup: Q = (s, dir) => {
    // parallel: the per-doc shingle + 64-permutation signature build is the
    // operator's heaviest per-row pass (1.75 → 0.83 s)
    val docs = Tables.documentsPar(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tok"))
    Dedup.minHashDedupPortable(docs, "doc_id", "tok", shingleN = 3, threshold = 0.8)
  }

  /** SimHash near-dup detection. Signatures are built on the cross-engine
    * md5Long token hash, so the oracle recomputes them exactly. */
  val q26_simhash_pairs: Q = (s, dir) => {
    // parallel: per-doc 64-bit signature build off the single-task scan
    val docs = Tables.documentsPar(s, dir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tok"))
    Dedup.simHashPairs(docs, "doc_id", "tok", maxHamming = 3)
  }

  /** Brute-force cosine top-5 for a small query set (ANN baseline). */
  val q27_ann_cosine: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb, k = 5)
  }

  /** Per-vector embedding stats (dim, L2 norm, mean component). */
  val q28_embedding_stats: Q = (s, dir) =>
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      round(Similarity.norm(col("embedding")), 6).as("l2_norm"),
      round(Similarity.dot(col("embedding"), col("embedding")), 6).as("sq_norm"))

  /** Multimodal plumbing: opaque binary payload + typed metadata columns
    * (decode itself is stubbed — see graft.operators.Multimodal). */
  val q29_binary_meta: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("payload_bytes"),
      (lit(64) + pmod(col("doc_id"), lit(512))).cast("long").as("fake_width"),
      (lit(64) + pmod(col("doc_id") * 7, lit(512))).cast("long").as("fake_height"))

  /** Embedding-cosine near-dup pairs — EXACT all-pairs via the tiled
    * equi-join ([[Similarity.cosineSelfJoin]]): identical output to a naive
    * cosine-θ join, but the plan is a shuffled equi-join on the tile key
    * instead of a BroadcastNestedLoopJoin, so it survives a corpus that
    * doesn't fit in one executor's broadcast budget. The cosine is the
    * native codegen'd [[graft.functions.VectorCosine]] kernel running as a
    * join filter. (The recall-tunable approximate tier is q31.) */
  val q30_embedding_neardup: Q = (s, dir) =>
    Similarity.cosineSelfJoin(Tables.embeddings(s, dir), threshold = 0.35)

  /** SRP-bucketed ANN top-3 (the 100 TB path: bucket equi-join instead of a
    * cross join). Approximate by construction, yet fully oracled: the SQL
    * replays the same hyperplane constants, so buckets — and therefore the
    * exact result set — match. */
  val q31_ann_srp: Q = (s, dir) => {
    // parallel: the corpus-side 8-hyperplane projection runs pre-exchange
    val e = Tables.embeddingsPar(s, dir)
    Similarity.srpBucketTopK(e.where(col("vec_id") < 50), e, k = 3, dim = 64, nbits = 8)
  }

  /** Multi-probe SRP ANN top-3: q31 with the recall knob on — each query
    * also searches the 8 buckets at Hamming distance 1 (one hyperplane sign
    * away). Only the 50-row query side replicates ×9; the corpus is scanned
    * and bucketed exactly once. Same constant-embedding oracle as q31. */
  val q50_ann_srp_multiprobe: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.srpBucketTopK(e.where(col("vec_id") < 50), e, k = 3, dim = 64,
      nbits = 8, probeHamming = 1)
  }

  /** BPE-ish subword tokenization: run-class regex, count + order-sensitive
    * fingerprint so the oracle checks the exact token stream. */
  val q32_subword_tokens: Q = (s, dir) => {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_subtokens"),
      md5(concat_ws("\u0001", toks)).as("subtoken_fp"))
  }

  /** Composite text-quality score (length / diversity / punctuation soup). */
  val q33_quality_score: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))

  /** Rolling polynomial hash over the token stream (winnowing-style document
    * fingerprint; cross-engine md5Long + mod-p arithmetic — hash-oracled). */
  val q34_rolling_hash: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.rollingHash(col("text")).as("roll_hash"))

  /** Multimodal decode/featurize pass over binary payloads: the mapPartitions
    * batch shape with the stubbed codec (see graft.operators.Multimodal — the
    * plumbing is real, the codec is a deterministic fake whose byte-level
    * arithmetic the oracle replays exactly). */
  val q35_media_features: Q = (s, dir) => {
    import graft.operators.Multimodal
    val media = Multimodal.toMedia(Tables.documents(s, dir), "doc_id", "text", "text/plain")
    Multimodal.decodeAndFeaturize(media, dim = 8)
      .select(col("media_id"), col("meta.width").as("width"),
        col("meta.height").as("height"), col("meta.n_bytes").as("n_bytes"),
        round(aggregate(col("features"), lit(0.0d),
          (acc, x) => acc + x.cast("double")), 4).as("feature_sum"))
  }

  /** Multi-category term tagging (the Dolma-style tagger stage): per doc,
    * occurrence counts and token-ratios for two term categories plus the
    * any-hit flag — pure per-row expressions, the oracle replays the
    * list-filter counts exactly. */
  val q87_term_tags: Q = (s, dir) =>
    graft.operators.TextAnalysis.termTagger(
      Tables.documents(s, dir), "doc_id", "text",
      Seq("perf" -> Seq("slow", "fast"), "sql" -> Seq("join", "scan", "sort")))

  /** Audio container metadata: wrap each document's bytes as canonical PCM
    * WAV (16 kHz mono 16-bit — header written by the engine), then parse
    * the RIFF/WAVE header back with the real chunk-walking parser
    * ([[graft.operators.Multimodal.HeaderCodec.wavInfo]]) — sample rate,
    * channels, and duration from the data-chunk size over the byte rate.
    * The oracle replays the header arithmetic (the fields are
    * deterministic functions of the text's UTF-8 byte length), so the
    * round trip through real container bytes is hash-gated. */
  val q84_wav_metadata: Q = (s, dir) => {
    import graft.operators.Multimodal
    val media = Multimodal.toMedia(Tables.documents(s, dir), "doc_id", "text",
      "application/octet-stream")
    Multimodal.describeAudio(
      Multimodal.wrapPcm(media, sampleRate = 16000, channels = 1, bitsPerSample = 16))
  }

  /** Video container metadata: wrap each document's bytes as a minimal
    * ISO BMFF MP4 (640×360, duration = byte count in ms, bytes as mdat),
    * then parse the box chain back with the real parser
    * ([[graft.operators.Multimodal.HeaderCodec.mp4Info]]) — moov → mvhd
    * duration ÷ timescale, first video trak's tkhd 16.16 presentation
    * size. Deterministic functions of the byte length, so the round trip
    * through real container bytes is hash-gated like q84's WAV twin. */
  val q85_mp4_metadata: Q = (s, dir) => {
    import graft.operators.Multimodal
    val media = Multimodal.toMedia(Tables.documents(s, dir), "doc_id", "text",
      "application/octet-stream")
    Multimodal.describeVideo(Multimodal.wrapMp4(media, width = 640, height = 360))
  }

  /** Multimodal-mix curation (the Dolma multimodal shape, composing q84/q85's
    * describers end-to-end the way q43 composes the text family): route even
    * doc_ids through the WAV wrapper and odd through the MP4 wrapper,
    * deterministically corrupt every 7th payload (truncated to 8 bytes —
    * below either container's minimum header), FILTER the rows whose parse
    * failed (the corrupt-media gate: a failed parse surfaces as a null
    * duration), and join the surviving media metadata back onto the document
    * relation. All surviving fields are the same deterministic functions of
    * the text's UTF-8 byte length that q84/q85 pin, so the composition is
    * hash-gated end-to-end.
    *
    * Scale shape: both wrap+describe legs are narrow mapPartitions passes
    * (no shuffle); the only exchange is the final equi-join on media_id,
    * 1:1 against the document relation. */
  val q88_multimodal_mix: Q = (s, dir) => {
    import graft.operators.Multimodal
    val docs = Tables.documents(s, dir)
    val media = Multimodal.toMedia(docs, "doc_id", "text",
      "application/octet-stream")
    def corrupt(df: DataFrame): DataFrame = df.withColumn("payload",
      when(pmod(col("media_id"), lit(7)) === 0, expr("substring(payload, 1, 8)"))
        .otherwise(col("payload")))
    val audio = Multimodal.describeAudio(corrupt(
        Multimodal.wrapPcm(media.where(pmod(col("media_id"), lit(2)) === 0),
          sampleRate = 16000, channels = 1, bitsPerSample = 16)))
      .select(col("media_id"), col("mime"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        col("duration_ms"))
    val video = Multimodal.describeVideo(corrupt(
        Multimodal.wrapMp4(media.where(pmod(col("media_id"), lit(2)) === 1),
          width = 640, height = 360)))
      .select(col("media_id"), col("mime"), col("width"), col("height"),
        col("duration_ms"))
    audio.unionByName(video)
      .where(col("duration_ms").isNotNull) // the corrupt-media gate
      .join(docs.select(col("doc_id").as("media_id"), col("source"),
        col("lang"), col("n_chars")), Seq("media_id"))
      .select(col("media_id"), col("mime"), col("width"), col("height"),
        col("duration_ms"), col("source"), col("lang"), col("n_chars"))
  }

  /** IVF ANN top-3: deterministic centroid build (lowest-id seeds + one
    * Lloyd step with exact decimal sums), corpus bucketed by nearest
    * centroid, queries probe their 2 closest clusters. The oracle replays
    * the whole centroid build in SQL, so the result hash-matches. */
  val q39_ann_ivf: Q = (s, dir) => {
    // the centroid build runs its actions over a persisted relation scoped
    // to the build (released here, not leaked into the session); the
    // returned lazy plan re-scans the parquet — the normal IVF shape, where
    // index build and search are separate passes over the corpus
    val e = Tables.embeddings(s, dir)
    val cached = e.persist()
    val cents =
      try Similarity.ivfCentroids(cached, k = 8, iters = 1)
      finally cached.unpersist()
    Similarity.ivfTopK(e.where(col("vec_id") < 50), e, k = 3, cents, nprobe = 2)
  }

  /** Exact percentiles (linear interpolation — one sort-based aggregate per
    * group; bit-identical to DuckDB quantile_cont). */
  val q36_percentiles: Q = (s, dir) =>
    Tables.orders(s, dir).groupBy(col("o_orderpriority")).agg(
      percentile(col("o_totalprice"), lit(0.5)).as("med_price"),
      percentile(col("o_totalprice"), lit(0.9)).as("p90_price"),
      count(lit(1)).as("n"))

  /** Scalar string-function battery (trim/case/pad/substr/replace/reverse/
    * levenshtein) — per-row, no shuffle. */
  val q37_string_funcs: Q = (s, dir) =>
    Tables.customer(s, dir).select(
      col("c_custkey"),
      upper(col("c_mktsegment")).as("seg_upper"),
      substring(col("c_name"), 1, 8).as("name_prefix"),
      lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
      reverse(col("c_name")).as("name_rev"),
      regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"),
      levenshtein(col("c_mktsegment"), lit("BUILDING")).cast("long").as("lev_building"),
      length(trim(col("c_name"))).cast("long").as("name_len"))

  /** HLL++ sketch distinct-count per event_type vs the exact count — the
    * approximate-aggregate tier. The exact column hash-matches the oracle;
    * the sketch estimate is implementation-specific, so it is exported as a
    * bounded-error WITNESS: `approx_ok` asserts |approx−exact| ≤ 15%·exact,
    * which DuckDB verifies against its own HLL — a broken sketch on either
    * side flips the bit and fails the gate. */
  val q38_hll_distinct: Q = (s, dir) =>
    Tables.events(s, dir).groupBy(col("event_type")).agg(
      countDistinct(col("user_id")).as("exact_users"),
      (abs(approx_count_distinct(col("user_id")) - countDistinct(col("user_id")))
        <= lit(0.15) * countDistinct(col("user_id"))).as("approx_ok"))

  /** Cluster-level dedup decision through the exact-first cascade
    * ([[graft.operators.Dedup.canonicalIdsCascade]]): identical token sets
    * collapse to a representative, near-dup pairing runs over
    * representatives, star edges reconnect members — labels identical to
    * pairing the full corpus (q24's pairs + CC), but the Θ(clique²)
    * identical-set edge blowup never reaches connected components
    * (SCALE.md §Third decade). Oracle: DuckDB recursive CTE computing
    * reachability minima over the FULL pair graph — same components by
    * construction. */
  val q41_dedup_clusters: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tok"))
    Dedup.canonicalIdsCascade(docs, "doc_id", "tok", "lang", 0.95)
  }

  /** Winnowing fingerprints per document (md5Long grams — hash-oracled). */
  val q40_winnow_fingerprints: Q = (s, dir) =>
    // parallel: per-doc gram-hash + winnow window build off the single task
    TextAnalysis.winnowedFingerprints(
      Tables.documentsPar(s, dir).select(col("doc_id"), split(col("text"), " ").as("tok")),
      "doc_id", "tok")

  /** Reproducible train/val/test split by content-hash bucketing (cross-
    * engine deterministic: md5 is md5 — the oracle computes the identical
    * assignment). */
  val q42_train_split: Q = (s, dir) => {
    Sampling.deterministicSplit(Tables.documents(s, dir).select(col("doc_id")),
      col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
  }

  /** End-to-end corpus curation — the composed LLM-data job this engine
    * exists for: language filter + quality gate + near-dup cluster dedup
    * (keep each cluster's canonical doc), emitting the kept corpus with its
    * quality metadata. */
  val q43_corpus_curation: Q = (s, dir) => {
    // near-dup pairs are blocked by language, so clusters never cross
    // languages — the lang filter pushes BELOW the expensive pair/cluster
    // stage without changing any kept row (the quality gate must stay above
    // dedup: canonical choice is min-id regardless of quality)
    val docs = Tables.documents(s, dir).where(col("lang") === "en")
    val toks = docs.select(col("doc_id"), col("lang"),
      array_distinct(split(col("text"), " ")).as("tok"))
    val canon = Dedup.canonicalIdsCascade(toks, "doc_id", "tok", "lang", 0.95)
    val quality = TextAnalysis.qualityScore(col("text"), Stopwords)
    docs.join(canon, Seq("doc_id"))
      .where(col("doc_id") === col("canonical_id") && quality >= 0.8)
      .select(col("doc_id"), col("lang"),
        round(quality, 6).as("quality"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
  }

  /** Sliding-window aggregate: 1-hour windows every 15 minutes — each event
    * lands in 4 overlapping windows (the same incremental plan Structured
    * Streaming runs; oracle enumerates windows via generate_series). */
  val q46_sliding_window: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("n"), col("sum_value"))

  /** Batch interval join (bucketized range join): views within the hour
    * before each purchase, per user — equi-join on (user, time-bucket) with
    * the exact range as residual, never a per-key nested loop. */
  val q45_interval_join: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    graft.operators.RangeJoin.intervalJoin(p, v, "user_id", "ts", "view_ts", 3600L)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_views"),
        date_format(max(col("view_ts")), "yyyy-MM-dd HH:mm:ss").as("last_view_s"))
  }

  /** Sequence packing for pretraining batches: documents binned into
    * fixed-token-budget packs per language shard by cumulative token offset
    * (oracle: the identical window sum + integer division in SQL). One hash
    * exchange on the shard key — the shard bounds the window, so no global
    * sort exists at any scale. */
  val q47_pack_sequences: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Packing.packByBudget(d, col("lang"), col("doc_id"), col("n_tokens"), 256L)
  }

  /** Stratified deterministic sample: per-language keep fractions (downsample
    * en, keep all fr, 20% of the rest) decided by the cross-engine md5 bucket
    * of q42 — any engine computes the identical kept set. Pure per-row
    * predicate: no shuffle, trivially 100 TB-safe. */
  val q48_stratified_sample: Q = (s, dir) =>
    Sampling.stratifiedSample(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"),
      Seq("en" -> 0.5, "fr" -> 1.0), defaultFraction = 0.2)

  /** Deterministic corpus shuffle + sharding — the training-export stage:
    * reproducible pseudo-random order (seeded cross-engine md5 rank),
    * sharded so the per-shard sort parallelizes and loaders stream one
    * shard directory each. The oracle replays hash, shard, and in-shard
    * rank in SQL. */
  val q86_corpus_shuffle: Q = (s, dir) =>
    Sampling.deterministicShuffle(
      Tables.documents(s, dir).select(col("doc_id")),
      col("doc_id"), seed = "r10seed", shards = 8)

  /** Gopher-style repetition fractions (share of duplicate bigram/trigram
    * occurrences, Rae et al. 2112.11446 §A1.1) — the standard boilerplate
    * gate. Pure per-row list arithmetic; oracle recomputes the same n-gram
    * lists in DuckDB. */
  val q49_repetition_fraction: Q = (s, dir) =>
    // tok is projected to an attribute first: an inline split would be
    // duplicated into every element_at of the interpreted n-gram lambda.
    // parallel: the whole query is that per-row lambda (0.55 → 0.22 s)
    Tables.documentsPar(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tok"))
      .select(col("doc_id"),
        TextAnalysis.dupNgramFraction(col("tok"), 2).as("dup2_frac"),
        TextAnalysis.dupNgramFraction(col("tok"), 3).as("dup3_frac"))

  /** Document chunking: long docs → 64-token context windows with stride 48
    * (16-token overlap) — the pre-packing shaper. Per-row explode, no
    * shuffle; the oracle recomputes the identical slices in SQL. */
  val q51_chunk_documents: Q = (s, dir) =>
    Packing.chunkByTokens(Tables.documents(s, dir), col("doc_id"),
      split(col("text"), " "), chunkTokens = 64, stride = 48)

  /** Test-set decontamination: docs ≥ 10 sharing any 4-gram with the
    * "benchmark" docs < 10 (the eval-set contamination gate; real corpora
    * use 8-13 grams — the synthetic 31-token vocab needs a shorter gram for
    * a non-trivial hit set). The benchmark gram set broadcasts; the corpus
    * side is linear. */
  val q52_decontamination: Q = (s, dir) => {
    // parallel: both sides' gram builds run pre-exchange
    val docs = Tables.documentsPar(s, dir)
    TextAnalysis.contaminationHits(
      docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
      "doc_id", "text", n = 4)
  }

  /** Frequency-ranked vocabulary (top 20 tokens): the tokenizer-training
    * statistic. One combinable groupBy on the token; the rank window sees
    * only the topK cut. */
  val q53_token_vocab: Q = (s, dir) =>
    TextAnalysis.tokenVocabulary(Tables.documents(s, dir), "text", topK = 20)

  /** Corpus mixing to target language weights (the pretraining data-mixture
    * step): the binding stratum keeps ~everything, the rest downsample to
    * weight proportion, decided by the cross-engine md5 bucket. es/zh are
    * unnamed → dropped. */
  val q54_corpus_mix: Q = (s, dir) =>
    Sampling.mixToWeights(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"),
      Seq("en" -> 0.5, "fr" -> 0.2, "de" -> 0.3))

  /** Cross-document passage dedup (C4-style): 16-token windows via
    * chunkByTokens, every repeated window keeps only its globally first
    * (doc, pos) occurrence. The synthetic near-dup docs share long runs, so
    * the planted boilerplate actually dedups. */
  val q55_passage_dedup: Q = (s, dir) => {
    val segs = Packing.chunkByTokens(Tables.documents(s, dir), col("doc_id"),
      split(col("text"), " "), chunkTokens = 16, stride = 16)
    Dedup.dropDuplicatePassages(segs, "doc_id", "chunk_id", "chunk_text")
  }

  /** Symmetric int8 embedding quantization, emitted as the exploded
    * (vec_id, pos, q, scale) stream — rounding is explicit floor(x+0.5) so
    * the oracle replays it bit-for-bit. */
  val q56_quantize_int8: Q = (s, dir) =>
    Similarity.quantizeInt8(Tables.embeddings(s, dir))

  /** PII redaction over a deterministic contact line derived from customer
    * fields (the corpus tables hold no raw PII, so the query composes one
    * from integer keys — every engine builds the identical string, and the
    * patterns are Java-regex/RE2-portable, so DuckDB replays the scrub and
    * the match counts exactly). */
  val q57_pii_redact: Q = (s, dir) => {
    val contact = concat(
      lit("user"), col("c_custkey").cast("string"),
      lit("@"), lower(col("c_mktsegment")), lit(".example.com tel 555-"),
      lpad(pmod(col("c_custkey") * 7919, lit(10000)).cast("string"), 4, "0"),
      lit(" ip 10."), pmod(col("c_custkey"), lit(256)).cast("string"),
      lit("."), pmod(col("c_custkey") * 3, lit(256)).cast("string"), lit(".7"))
    // parallel: the regex redaction battery is the whole query's cost
    Tables.customerPar(s, dir)
      .select(col("c_custkey").as("customer_id"), contact.as("contact"))
      .select(col("customer_id"), col("contact"),
        Redaction.redact(col("contact")).as("redacted"),
        Redaction.matchCount(col("contact"), Redaction.EmailPattern).as("n_email"),
        Redaction.matchCount(col("contact"), Redaction.PhonePattern).as("n_phone"),
        Redaction.matchCount(col("contact"), Redaction.Ipv4Pattern).as("n_ip"))
  }

  /** BM25 top-20 for a fixed query over the documents corpus: 'dup' is the
    * planted rare marker (df ≈ 26 at sf0.01 — high idf), 'spark'/'join'
    * are common terms; the blend exercises the full tf/dl/idf surface. */
  val q58_bm25: Q = (s, dir) =>
    TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      terms = Seq("dup", "spark", "join"), topK = 20)

  /** Per-doc unigram NLL under the corpus's own token distribution — the
    * perplexity-proxy quality signal. */
  val q59_unigram_nll: Q = (s, dir) =>
    TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")

  /** Asymmetric containment pairs (|A∩B|/|A| ≥ 0.8) over 3-token SHINGLE
    * sets within a language block — the quote/subset-duplicate detector
    * symmetric Jaccard misses (A's passages live inside a larger B). On
    * shingles the universe is huge, so containment is selective — over raw
    * tokens of this synthetic 31-word vocabulary it would be vacuous. Both
    * directions of a mutual near-dup surface as two rows. */
  val q60_containment: Q = (s, dir) => {
    // Two-step projection: materialize the token array as an attribute
    // BEFORE the shingle lambda reads it — an inline split() as the HOF's
    // array arg is re-evaluated inside every element_at (no CSE inside
    // lambdas; see the q52/q49 fix), re-splitting text 3× per shingle.
    // MEASURED (round 9, SCALE.md §Dedup family): at n=3 over these short
    // docs the interpreted string-shingle build (~0.4 s warm at sf0.1)
    // BEATS the window-lead hashed build (~0.8 s — its shuffle+sort costs
    // more than the 3-element_at interpretation), so unlike q76 (n=8,
    // where window-lead won 4×) this query keeps the string path.
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("lang"),
        TextAnalysis.shingles(col("tok"), 3).as("sh"))
    Dedup.containmentPairs(docs, "doc_id", "sh", "lang", 0.8)
  }

  /** Per-doc bigram NLL under the corpus's own add-one-smoothed bigram LM —
    * the order-2 extension of q59's unigram perplexity proxy (rare
    * TRANSITIONS, not just rare words, flag noise/shuffled boilerplate). */
  val q61_bigram_nll: Q = (s, dir) =>
    TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")

  /** Incremental-ingest dedup: which docs in the "new batch" (sources
    * src1–src3) near-duplicate the EXISTING corpus (every other source) at
    * shingle Jaccard ≥ 0.8 — the cross-relation PPJoin, the shape every
    * nightly crawl-ingest job runs before appending to the training corpus. */
  val q62_cross_dedup: Q = (s, dir) => {
    val batchSources = Seq("src1", "src2", "src3")
    // string-shingle path kept deliberately: at n=3 it measures ~2× faster
    // than the window-lead build (see q60's note)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("lang"), col("source"),
        TextAnalysis.shingles(col("tok"), 3).as("sh"))
    Dedup.crossJaccardPairs(
      docs.where(col("source").isin(batchSources: _*)),
      docs.where(!col("source").isin(batchSources: _*)),
      "doc_id", "sh", "lang", 0.8)
  }

  /** Per-source KL divergence vs the corpus unigram distribution — the
    * drift monitor that catches a scraper/shard whose token mix has
    * diverged from the blend before it contaminates a training run. */
  val q63_source_drift: Q = (s, dir) =>
    TextAnalysis.unigramDrift(Tables.documents(s, dir), "source", "text")

  /** Top-3 distinctive terms per source by frequency lift — the
    * corpus-card keyword extractor (which tokens over-index in each
    * slice relative to the blend). */
  val q64_distinctive_terms: Q = (s, dir) =>
    TextAnalysis.distinctiveTerms(Tables.documents(s, dir), "source", "text", 3)

  /** Per-vector cosine against its label's centroid — the SemDeDup-style
    * cohesion/outlier signal over the embedding table (low score = semantic
    * stray worth pruning). */
  val q65_centroid_cohesion: Q = (s, dir) =>
    Similarity.centroidCohesion(Tables.embeddings(s, dir), "label")

  /** Exactly-5-docs-per-language deterministic sample — the fixed-budget
    * companion to q48's fixed fractions (eval carving / per-language probe
    * sets), ranked by the cross-engine md5 of the doc id. */
  val q67_fixed_sample: Q = (s, dir) =>
    Sampling.fixedSizeSample(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), k = 5)

  /** Duplicate-family size histogram over 120-char PREFIX fingerprints
    * (the CCNet-style cheap near-dup key — this corpus's planted dups are
    * edits, so full-text md5 sees none of them) — the dedup ROI report:
    * how many families of each size, how many docs dedup would delete.
    * cluster_size 1 = unique docs. */
  val q68_dup_histogram: Q = (s, dir) =>
    Dedup.clusterSizeHistogram(
      Tables.documents(s, dir)
        .select(TextAnalysis.fingerprintMd5(substring(col("text"), 1, 120)).as("fp")),
      "fp")

  /** Bloom-prefiltered decontamination — q52's complement (the CLEAN set),
    * with the benchmark gram set compiled to a codegen'd bit-array probe
    * that prunes the corpus gram stream before the exact confirm join. */
  val q66_bloom_decontam: Q = (s, dir) => {
    // parallel: the bloom build/probe gram passes run pre-exchange
    // (1.06 → 0.77 s)
    val docs = Tables.documentsPar(s, dir)
    TextAnalysis.bloomDecontaminate(
      docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
      "doc_id", "text", n = 4)
  }

  /** Product-quantization codes (FAISS-style m=4 × 16-code codebooks,
    * deterministic seeded k-means, 1 Lloyd step): every 64-dim float vector
    * compresses to 4 small integer codes — the embedding-memory trick that
    * makes 100 TB ANN fit RAM. Integer output; distance ties break to the
    * lowest code in both engines. */
  val q69_pq_codes: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val books = Similarity.pqTrain(e, m = 4, ksub = 16, iters = 1)
    Similarity.pqEncode(e, books)
  }

  /** PQ top-5 search by asymmetric distance computation over q69's codes —
    * queries score the COMPRESSED corpus (m bytes/vector), the point of PQ:
    * the index fits RAM at any corpus size. Approximate by construction;
    * the spec measures recall vs brute force. */
  val q70_pq_adc: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val books = Similarity.pqTrain(e, m = 4, ksub = 16, iters = 1)
    Similarity.pqTopK(e.where(col("vec_id") < 10),
      Similarity.pqEncode(e, books), books, k = 5)
  }

  /** SQ8 top-5 — the scalar-quantizer codec tier (FAISS
    * IndexScalarQuantizer QT_8bit): per-dim affine [min,max] ranges
    * trained in one pass, corpus compressed to 0…255 grid codes, queries
    * scan the reconstructions by the same query-constant-dropped squared
    * L2 the PQ tier ranks with. The middle memory/recall point between
    * q27's exact floats and q70's m-byte PQ. */
  val q101_sq_topk: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (mins, maxs) = Similarity.sqTrain(e)
    Similarity.sqTopK(e.where(col("vec_id") < 10),
      Similarity.sqEncode(e, mins, maxs), mins, maxs, k = 5)
  }

  /** Semantic decontamination: the vec_id % 9 == 0 slice plays the
    * held-out eval suite; corpus embeddings whose max cosine against any
    * suite embedding reaches 0.40 are dropped (the paraphrase leak the
    * n-gram grains q52/q94 cannot see). τ = 0.40 lands inside the
    * cross-slice similarity tail (p99 ≈ 0.43, max ≈ 0.48 at sf0.001), so
    * the gate genuinely cuts without emptying. */
  val q102_semantic_decontam: Q = (s, dir) => {
    // parallel: the corpus is the BNLJ's stream side — single-task
    // otherwise, every suite×corpus cosine on one core (1.14 → 0.65 s)
    val e = Tables.embeddingsPar(s, dir)
    Similarity.semanticDecontaminate(
      e.where(col("vec_id") % 9 =!= 0),
      e.where(col("vec_id") % 9 === 0), tau = 0.40)
  }

  /** q102 through the STORED index — the suite-too-big composition
    * ([[graft.operators.Similarity.semanticDecontaminateIndexed]]): suite
    * rows probe the shared clustered index, hits at exact cosine ≥ τ
    * anti-join away. Run at COVERING knobs (every cluster probed, the
    * shortlist covering every candidate), where the composition is
    * definitionally the exact gate restricted to ids — so the oracle is
    * q102's replayed INDEPENDENTLY of the probe machinery: a shortlist
    * off-by-one, a mis-probed cluster, or a broken radius cut all fail
    * the hash. (Production runs small nprobe; that recall trade is
    * measured in SimilaritySpec + SCALE.md §R18, not oracle-able.) */
  val q103_semantic_decontam_indexed: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (coarse, books, path) = sharedIvfPqIndex(s, dir)
    Similarity.semanticDecontaminateIndexed(
      e.where(col("vec_id") % 9 =!= 0),
      e.where(col("vec_id") % 9 === 0),
      s.read.parquet(path), coarse, books,
      tau = 0.40, nprobe = 8, rerank = 1, hitsPerSuiteRow = 1 << 20)
  }

  /** q93 through the STORED index — retrieval-based labeling composed
    * from [[graft.operators.Similarity.voteLabels]] over the shared
    * index's exact-cosine refine tier at COVERING knobs (every cluster
    * probed, shortlist covering every candidate), where the neighbor
    * relation is definitionally [[graft.operators.Similarity.bruteForceTopK]]'s
    * top-5 — so the oracle IS q93's, and any probe/shortlist/vote drift
    * across the storage round trip fails the hash. (Production labels at
    * small nprobe; that recall trade is the curve SCALE.md §R17
    * measured.) */
  val q104_knn_label_indexed: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (coarse, books, path) = sharedIvfPqIndex(s, dir)
    val nn = Similarity.ivfPqTopKRefined(e.where(col("vec_id") < 10),
      s.read.parquet(path), k = 5, coarse, books, nprobe = 8, rerank = 1 << 18)
    Similarity.voteLabels(nn, e, k = 5)
  }

  /** IVF+PQ top-5 — the production FAISS index shape composed from the
    * engine's own tiers: coarse clusters prune the corpus (equi-join on
    * the probed cluster ids), PQ codes compress what remains to m bytes
    * per vector, ADC scores only the probed slice. */
  val q72_ivfpq: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val coarse = Similarity.ivfCentroids(e, k = 8, iters = 1)
    val books = Similarity.pqTrain(e, m = 4, ksub = 16, iters = 1)
    Similarity.ivfPqTopK(e.where(col("vec_id") < 10), e, k = 5,
      coarse, books, nprobe = 2)
  }

  /** Session-scoped scratch path for a materialized vector index: keyed by
    * (tag, SF dir, application id) so concurrent sessions on the same SF
    * (e.g. the bench and the correctness gate) never race on
    * overwrite-mid-read. Scrubbed on graceful JVM exit (the appId key
    * means no later session can ever reuse the bytes, so every exit —
    * test, bench, gate — would otherwise leave a permanent orphan; ~100
    * of them had accumulated in tmp by round 16). A killed JVM still
    * leaks one dir; the appId prefix makes those safely identifiable. */
  private def indexScratch(s: org.apache.spark.sql.SparkSession, dir: String,
                           tag: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))))
    path
  }

  /** ONE clustered index serves all three indexed tiers (q81 ADC, q82
    * exact-cosine, q83 SemDeDup) — the amortization the stored index
    * exists for: the quantizer training (two Lloyd passes) and the
    * clustered parquet write are paid ONCE per (application, SF dir) and
    * every subsequent indexed query is probe-only. Memoized on the same
    * (applicationId, dir) key as [[indexScratch]], so concurrent sessions
    * never share and a new session never reads a stale layout. The
    * quantizer parameters (k=8/iters=1 coarse, m=4/ksub=16/iters=1 PQ)
    * are exactly the per-query values they replace — the build is
    * deterministic (decimal-sum centroids), so q81/q82/q83's hashes are
    * unchanged by the sharing. */
  /** Memoize a HOLDER whose lazy val runs the build, not the build
    * itself: TrieMap.getOrElseUpdate is putIfAbsent-atomic on the VALUE
    * but may evaluate the by-name expression in two racing threads — two
    * simultaneous quantizer trainings plus two overwrite writes to the
    * same shared_index path. Holders are side-effect-free to construct
    * (the loser's is discarded); both racers receive the winning holder,
    * whose `lazy val` JVM-synchronizes the actual build to exactly one
    * execution per (applicationId, dir). */
  private final class SharedIndexHolder(
      build: () => (Array[Array[Double]], Array[Array[Array[Double]]], String)) {
    lazy val value: (Array[Array[Double]], Array[Array[Array[Double]]], String) = build()
  }

  private val sharedIndexMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), SharedIndexHolder]

  private def sharedIvfPqIndex(s: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], String) =
    sharedIndexMemo.getOrElseUpdate((s.sparkContext.applicationId, dir),
      new SharedIndexHolder(() => {
        val e = Tables.embeddings(s, dir)
        val cached = e.persist()
        val (cents, books) =
          try (Similarity.ivfCentroids(cached, k = 8, iters = 1),
               Similarity.pqTrain(cached, m = 4, ksub = 16, iters = 1))
          finally cached.unpersist()
        val path = indexScratch(s, dir, "shared_index")
        Similarity.ivfPqIndexWrite(e, path, cents, books)
        (cents, books, path)
      })).value

  /** q72 through the MATERIALIZED index: the [[sharedIvfPqIndex]] layout
    * (clustered `partitionBy(cluster)` parquet — one directory per coarse
    * cluster, built once per application) read back and answered from
    * storage with the probed clusters pushed into the scan as a static
    * partition filter. Same parameters as q72 ⇒ definitionally the same
    * rows (the oracle IS q72's), so the gate pins the storage round
    * trip; the pruning itself (scan reads only probed partitions) is
    * spec-asserted in SimilaritySpec. */
  val q81_ivfpq_indexed: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (coarse, books, path) = sharedIvfPqIndex(s, dir)
    Similarity.ivfPqTopKIndexed(e.where(col("vec_id") < 10),
      s.read.parquet(path), k = 5, coarse, books, nprobe = 2)
  }

  /** q39 through the MATERIALIZED index: the cluster assignment q39 pays
    * per run is paid once at [[sharedIvfPqIndex]] build time, and the
    * exact-cosine probe answers from the stored `partitionBy(cluster)`
    * layout — reading only the probed cluster directories (partition
    * pruning) and only the (neighbor_id, embedding) columns (the PQ codes
    * stored alongside are column-pruned away; both spec-asserted in
    * SimilaritySpec). Same parameters as q39 ⇒ definitionally the same
    * rows, so the oracle IS q39's — any drift across the storage round
    * trip fails the gate. */
  val q82_ivf_indexed: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (cents, _, path) = sharedIvfPqIndex(s, dir)
    Similarity.ivfTopKIndexed(e.where(col("vec_id") < 50),
      s.read.parquet(path), k = 3, cents, nprobe = 2)
  }

  /** q80 through the MATERIALIZED index: SemDeDup's coarse clustering —
    * the expensive full-corpus pass — comes from the [[sharedIvfPqIndex]]
    * layout instead of being recomputed per run (the amortization the
    * paper assumes: one clustering per corpus, many consumers — here
    * literally the same stored clustering q81's ADC probe and q82's
    * exact-cosine probe read). Same parameters as q80 ⇒ definitionally
    * the same survivors, so the oracle IS q80's. */
  val q83_semantic_indexed: Q = (s, dir) => {
    val (_, _, path) = sharedIvfPqIndex(s, dir)
    Similarity.semanticDedupIndexed(s.read.parquet(path), threshold = 0.35)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
  }

  /** q81's ADC probe REFINED by exact cosine — the FAISS refine tier
    * (IndexRefineFlat) over the [[sharedIvfPqIndex]] layout: the ADC pass
    * shortlists rerank·k = 10 candidates per query from the CODE columns
    * alone, the stored vectors of JUST the shortlist are fetched back
    * (broadcast semi-join + pushed-id row-group skipping over the
    * id-sorted cluster files), and the final top-5 is re-cut by exact
    * cosine. Sits between q81 (pure ADC: m bytes of I/O per candidate,
    * quantization error kept) and q82 (exact probe: every probed vector
    * read) — shortlist-proportional vector I/O, quantization error gone
    * from the final ordering. Deterministic end-to-end; the oracle
    * replays the shortlist and the rerank in SQL on top of q72's
    * quantizer replay. */
  val q89_ivfpq_refined: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (coarse, books, path) = sharedIvfPqIndex(s, dir)
    Similarity.ivfPqTopKRefined(e.where(col("vec_id") < 10),
      s.read.parquet(path), k = 5, coarse, books, nprobe = 2, rerank = 2)
  }

  /** Filtered REFINED probe — q92's pre-filter semantics composed with
    * q89's exact rerank: the allow semi-join beneath the ADC shortlist,
    * exact cosine over the allowed shortlist's fetched vectors. The
    * production shape for filtered vector search (filtered ADC alone is
    * capped by quantization noise — SCALE.md §R17). */
  val q97_ann_filtered_refined: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (coarse, books, path) = sharedIvfPqIndex(s, dir)
    Similarity.ivfPqTopKRefinedFiltered(e.where(col("vec_id") < 10),
      s.read.parquet(path), k = 5, coarse, books,
      allow = e.where(col("vec_id") % 2 === 0).select("vec_id"),
      nprobe = 2, rerank = 2)
  }

  /** ExactSubstr duplicated-span removal over the dup-planted corpus — the
    * paper's actual dedup output where q76 is only its score: maximal
    * ≥8-token spans that occur at two or more (doc, position) sites
    * corpus-wide are CUT from the text. Planted edit-duplicates lose the
    * shared passages from both members; self-repeated passages inside one
    * doc are cut too (the suffix-array semantics q76's cross-doc distinct
    * deliberately ignores). */
  val q90_exact_substr_rm: Q = (s, dir) =>
    // parallel: the gram-site build ahead of the g-exchange runs pre-exchange
    TextAnalysis.exactSubstrRemove(Tables.documentsPar(s, dir), "doc_id", "text", n = 8)

  /** Token-budget selection: keep the highest-quality docs while the
    * running TOKEN total fits a 20k budget (the unit real dataset cuts
    * use), walking (quality DESC, md5(doc_id)) — prefix-greedy and
    * deterministic. The budget lands mid-corpus at every SF, so the
    * boundary running-sum is exercised. */
  val q95_token_budget: Q = (s, dir) => {
    val scored = Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Sampling.keepByTokenBudget(scored, col("doc_id"), col("quality"),
      col("n_tokens"), budget = 20000L)
  }

  /** Epoch-weighted mixture expansion: the pretraining recipe
    * "src0 × 3.2 epochs, src1 × 0.5, src2 dropped, everything else × 1"
    * materialized — each doc repeats ⌊w⌋ times plus one more iff its
    * content-hash bucket falls under the fractional part, with a 0-based
    * `epoch` copy index. Deterministic, engine-replayable (md5 is md5). */
  val q100_epoch_mixture: Q = (s, dir) =>
    Sampling.epochExpand(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      col("doc_id"), col("source"),
      Seq("src0" -> 3.2, "src1" -> 0.5, "src2" -> 0.0), defaultEpochs = 1.0)

  /** Per-DOMAIN token-budget selection: q95's cut applied independently
    * inside every `source` — the per-domain cap real web curation uses so
    * no one domain dominates the mixture. 800 tokens per source lands
    * mid-group at every SF (each source carries ≥1.1k tokens), so every
    * group exercises its boundary running sum. Fully distributed: the
    * per-group thresholds never visit the driver. */
  val q98_domain_budget: Q = (s, dir) => {
    val scored = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Sampling.keepByGroupTokenBudget(scored, col("source"), col("doc_id"),
      col("quality"), col("n_tokens"), budgetPerGroup = 800L)
  }

  /** Cross-corpus ExactSubstr removal: the doc_id % 7 == 0 slice plays the
    * nightly ingest batch, the rest the frozen corpus — batch spans of ≥8
    * tokens that appear anywhere in the corpus are cut (planted duplicate
    * partners usually straddle the 1-in-7 split, so cross-side hits are
    * dense at every SF); batch-internal repeats survive by the documented
    * frozen-corpus semantics. */
  val q94_cross_substr_rm: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    TextAnalysis.exactSubstrRemoveAgainst(
      docs.where(col("doc_id") % 7 === 0),
      docs.where(col("doc_id") % 7 =!= 0),
      "doc_id", "text", n = 8)
  }

  /** Contamination report over q94's split with the roles flipped: the
    * doc_id % 7 == 0 slice plays the held-out EVAL suite, the rest the
    * training corpus — per eval doc, how many ≥8-token windows leak into
    * the corpus, how many tokens they cover, in how many contiguous
    * spans, and the longest single leak. Every suite doc reports (zeros
    * when clean). */
  val q99_contamination_report: Q = (s, dir) => {
    // parallel: both sides' gram builds run pre-exchange
    val docs = Tables.documentsPar(s, dir)
    TextAnalysis.contaminationReport(
      docs.where(col("doc_id") % 7 === 0),
      docs.where(col("doc_id") % 7 =!= 0),
      "doc_id", "text", n = 8)
  }

  /** Retrieval-based labeling: the 10 probe vectors take the majority
    * label of their 5 nearest neighbors (ties to the smaller label), with
    * vote count and votes/k confidence — the label-the-unlabeled-by-
    * retrieval curation step, deterministic end-to-end. */
  val q93_knn_label: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.knnLabel(e.where(col("vec_id") < 10), e, k = 5)
  }

  /** Filtered ANN probe over the stored index — q81's exact plan with an
    * allow-list (here: even vec_ids, a stand-in for a license/tenant cut)
    * semi-joined BENEATH the ADC ranking, so disallowed candidates never
    * occupy a top-k slot (pre-filter semantics: every query still gets k
    * allowed answers when the probed clusters hold them, where filtering
    * the finished top-k would k-starve). */
  val q92_ann_filtered: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (coarse, books, path) = sharedIvfPqIndex(s, dir)
    Similarity.ivfPqTopKIndexedFiltered(e.where(col("vec_id") < 10),
      s.read.parquet(path), k = 5, coarse, books,
      allow = e.where(col("vec_id") % 2 === 0).select("vec_id"), nprobe = 2)
  }

  /** Budgeted quality selection: the best 200 docs by q33's composite
    * quality score, EXACTLY 200, ties broken by md5(doc_id) — the
    * FineWeb-style keep-the-top-of-the-classifier curation step with a
    * hard budget. No corpus sort: the threshold reads off the
    * metadata-sized score histogram and only the boundary tie group is
    * ranked ([[graft.operators.Sampling.topKByScore]]). */
  val q91_quality_budget: Q = (s, dir) => {
    val scored = Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
    Sampling.topKByScore(scored, col("doc_id"), col("quality"), k = 200)
  }

  /** Composed curation pass — the pipeline SHAPE, not a new operator:
    * ExactSubstr span-dedup cleans the corpus (q90's machinery), quality
    * is scored on the CLEANED text (q33's expression), and the token
    * budget is counted on the cleaned token stream (q95's selection).
    * One declared lineage with no stage materialization between
    * operators — the composition evidence that the engine's curation
    * stages chain without seams: the budget selector's score histogram
    * builds directly on the dedup's rebuilt text, and Catalyst plans the
    * whole pass as one job graph. Budget 15k lands mid-corpus after
    * cleaning at every SF, so the boundary tie window is exercised on a
    * DERIVED (not stored) score column. */
  val q96_curation_pipeline: Q = (s, dir) => {
    val cleaned = TextAnalysis.exactSubstrRemove(Tables.documents(s, dir),
      "doc_id", "text", n = 8)
    val scored = cleaned.select(col("doc_id"),
      TextAnalysis.qualityScore(col("clean_text"), Stopwords).as("quality"),
      TextAnalysis.tokenCount(col("clean_text")).as("n_tokens"))
    Sampling.keepByTokenBudget(scored, col("doc_id"), col("quality"),
      col("n_tokens"), budget = 15000L)
  }

  /** Token de-stutter: collapse immediate repetitions ("the the the" →
    * "the"), the OCR/scrape cleaning pass — per-doc before/after counts
    * plus the cleaned text. Pure per-row array lambda, no shuffle. */
  val q71_destutter: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"),
        size(col("tok")).cast("long").as("n_before"),
        size(TextAnalysis.collapseRepeats(col("tok"))).cast("long").as("n_after"),
        array_join(TextAnalysis.collapseRepeats(col("tok")), " ").as("clean_text"))

  /** GROUPING SETS aggregate — the explicit multi-grain companion to q14's
    * ROLLUP and q44's CUBE: exactly the grains the report asks for
    * ((status, prio), (status), ()) computed in ONE shuffle (Catalyst
    * expands the sets over a single Expand node, not one job per grain),
    * with grouping flags disambiguating real NULL keys from subtotal rows. */
  val q73_grouping_sets: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty[org.apache.spark.sql.Column]),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_prio"))

  /** Customers whose lifetime spend exceeds their nation's per-customer
    * average — the correlated-aggregate shape (TPC-H Q22 family), decided
    * in EXACT arithmetic: c_total > nation_sum/n  ⟺  c_total·n >
    * nation_sum, so the comparison never touches a double and is
    * bit-identical in any engine. One shuffle builds customer totals; the
    * nation aggregate rides a window over the ALREADY-reduced relation
    * (|customers| rows, not |orders|). */
  val q74_above_avg: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val ctot = o.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("cust_total"))
      .join(c, col("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("cust_total"))
    val w = Window.partitionBy("c_nationkey")
    ctot
      .withColumn("nation_total", sum(col("cust_total")).over(w))
      .withColumn("n_cust", count(lit(1)).over(w))
      .where(col("cust_total") * col("n_cust") > col("nation_total"))
      .select(col("c_custkey"), col("c_nationkey"),
        col("cust_total").cast("double").as("cust_total"),
        col("n_cust").cast("long").as("n_cust"))
  }

  /** Per-doc token entropy — the distribution-shape quality gate (q49's
    * repetition fraction catches verbatim loops; entropy catches
    * few-tokens-dominate degeneracy even without exact repeats). */
  val q75_token_entropy: Q = (s, dir) =>
    TextAnalysis.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")

  /** Cross-doc 8-gram novelty — the ExactSubstr-lite passage-originality
    * score over the dup-planted corpus (planted edit-duplicates share most
    * of their 8-token passages, so their novelty collapses toward 0). */
  val q76_ngram_novelty: Q = (s, dir) =>
    TextAnalysis.ngramNovelty(Tables.documents(s, dir), "doc_id", "text", n = 8)

  /** DSIR importance score with the English slice as the target domain —
    * rank-and-keep-top-mass tilts the blend toward the target (here the
    * score separates en docs from the rest by construction, making the
    * check non-vacuous at every SF). */
  val q77_dsir_score: Q = (s, dir) =>
    TextAnalysis.dsirScore(Tables.documents(s, dir), "doc_id", "text",
      col("lang") === "en")

  /** Count-min sketch over the token stream, probed with the full
    * vocabulary next to exact counts — the bounded-memory frequency tier
    * (31 keys into a 4×64 grid forces collisions, so the overcount side
    * of the CMS guarantee is actually exercised; `never_undercounts` is
    * the structural CMS invariant, verified independently by both
    * engines). */
  val q78_cms_heavy_hitters: Q = (s, dir) => {
    import graft.operators.Sketches
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = Sketches.countMinSketch(toks, "tok", depth = 4, width = 64)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_count"))
    Sketches.cmsEstimate(sketch, exact.select("tok"), "tok", depth = 4, width = 64)
      .join(exact, Seq("tok"))
      .select(col("tok"), col("exact_count"), col("cms_count"),
        (col("cms_count") >= col("exact_count")).as("never_undercounts"))
  }

  /** Approximate-quantile sketch next to the exact percentile, q38-style:
    * the exact median hash-matches the oracle, and `approx_ok` is a
    * bounded-error WITNESS (estimate inside the exact p45–p55 band) that
    * each engine checks against its OWN sketch — a broken sketch on
    * either side flips the bit and fails the gate. */
  val q79_approx_quantiles: Q = (s, dir) =>
    // parallel: the exact-percentile partial buffers every group value per
    // task — heavy pre-exchange work (won in 3 of 4 A/B sessions, −0.1..−0.3;
    // the approx witness has a 10-percentile-point band, far above any
    // merge-order drift)
    Tables.ordersPar(s, dir).groupBy(col("o_orderpriority")).agg(
      count(lit(1)).as("n"),
      percentile(col("o_totalprice"), lit(0.5)).as("exact_med"),
      approx_percentile(col("o_totalprice"), lit(0.5), lit(10000))
        .between(percentile(col("o_totalprice"), lit(0.45)),
                 percentile(col("o_totalprice"), lit(0.55))).as("approx_ok"))

  /** SemDeDup over the embedding table: q39's deterministic IVF centroids
    * coarse-cluster the space, pairs are compared within clusters only,
    * and any vector with a lower-id cluster-mate at cosine ≥ 0.35
    * is pruned — the semantic tier of the dedup family (exact tier: q30;
    * the oracle replays the whole centroid build + prune in SQL). */
  val q80_semantic_dedup: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val cached = e.persist()
    val cents =
      try Similarity.ivfCentroids(cached, k = 8, iters = 1)
      finally cached.unpersist()
    Similarity.semanticDedup(e, cents, threshold = 0.35)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
  }

  /** Model-based quality scoring — the fastText-style hashed linear
    * classifier tier ([[graft.operators.QualityModel.hashedLinearScore]])
    * under the PUBLISHED fixed weight vector (the same literal array the
    * oracle embeds): per-token bucket weights summed in token order, a
    * sigmoid, and the keep decision at 0.5 — all row-local, zero
    * shuffles. Training of these weights is gated by QualityModelSpec
    * (float-aggregation order makes trained bits engine-local; the
    * SCORING algebra is the cross-engine contract). */
  val q105_quality_model: Q = (s, dir) =>
    graft.operators.QualityModel.hashedLinearScore(
      Tables.documents(s, dir), "text",
      graft.operators.QualityModel.fixedWeights(), bias = 0.1)
      .select(col("doc_id"), col("model_score"), col("keep"))

  /** Weighted sampling without replacement (Efraimidis–Spirakis) — 5 docs
    * per language, inclusion probability proportional to document length:
    * the "sample big docs more" draw a mixture designer uses. The ES key
    * u^(1/w) is a pure function of (doc_id, seed) through the
    * cross-engine md5 hash, so the oracle replays the identical draw. */
  val q106_weighted_sample: Q = (s, dir) =>
    Sampling.weightedSample(Tables.documents(s, dir),
      col("doc_id"), col("n_chars"), col("lang"), k = 5, seed = "r18")
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** BPE merge round 1's pair relation — the distributed-risk stage of
    * tokenizer training ([[graft.operators.BpeTrain]]): ONE corpus pass
    * to (word, count), then adjacent character-pair counts weighted by
    * word count, top-20 under the deterministic (count DESC, l, r) total
    * order (the same order that picks each round's merge). The
    * vocab-local driver loop on top is pinned by BpeTrainSpec against an
    * independent reference implementation. */
  val q107_bpe_pairs: Q = (s, dir) => {
    import graft.operators.BpeTrain
    BpeTrain.pairCounts(BpeTrain.initVocab(
        BpeTrain.wordCounts(Tables.documents(s, dir), "text")))
      .orderBy(desc("cnt"), asc("l"), asc("r"))
      .limit(20)
      .select(col("l"), col("r"), col("cnt").cast("long").as("cnt"))
  }

  /** The FineWeb/GPT-3 pipeline composition: the q105 classifier scores
    * the corpus, the q91 budget machinery keeps the best 120 docs — a
    * model-scored budget cut in one lineage. model_score is already
    * quantized to 6 decimals, so the histogram fail-fast's contract is
    * satisfied by construction. */
  val q108_model_budget: Q = (s, dir) => {
    val scored = graft.operators.QualityModel.hashedLinearScore(
      Tables.documents(s, dir), "text",
      graft.operators.QualityModel.fixedWeights(), bias = 0.1)
    Sampling.topKByScore(scored, col("doc_id"), col("model_score"), k = 120)
      .select(col("doc_id"), col("model_score"))
  }

  /** Temperature-rebalanced mixture (alpha = 0.5): per-lang weights
    * proportional to sqrt(population) feed q54's binding-stratum keep
    * arithmetic — rare languages keep more, the dominant one downsamples
    * by (n_min/n)^0.5. Weights quantize to 6 decimals in BOTH engines so
    * the oracle's own pow lands on identical doubles (the binding
    * stratum's cut sits exactly on a floor boundary). */
  val q109_temperature_mix: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    Sampling.mixToWeights(d, col("doc_id"), col("lang"),
      Sampling.temperatureWeights(d, col("lang"), alpha = 0.5))
      .select(col("doc_id"), col("lang"))
  }

  /** BPE ENCODE under the published fixed merge table — the other half
    * of the tokenizer story (q107 gates training's distributed stage;
    * this gates application): per document, the full subword stream and
    * its token count, row-local and shuffle-free. The oracle replays the
    * greedy left-to-right merge fold as a chain of non-overlapping
    * string replaces over a self-delimited `(sym)(sym)` encoding — the
    * construction that preserves adjacency across consumed matches and
    * cannot match a merge's left symbol against another symbol's suffix. */
  val q110_bpe_encode: Q = (s, dir) => {
    import graft.operators.BpeTrain
    // parallel: the replace-chain kernel is pure per-row work — single-task
    // otherwise (0.96 → 0.37 s). The encode itself stays zero-shuffle
    // (BpeTrainSpec); the one exchange here is input layout, not operator
    // work.
    BpeTrain.bpeEncode(Tables.documentsPar(s, dir), "text", BpeTrain.fixedMerges())
      .select(col("doc_id"),
        concat_ws(" ", col("bpe_tokens")).as("bpe_text"), col("bpe_len"))
  }

  /** UniMax mixture (Chung et al. 2023) — waterfilled epoch allocation
    * under a 2-epoch cap and a 1.5×-corpus character budget, composed
    * straight into q100's epoch expansion: low-resource languages repeat
    * up to (never past) the cap, the head language downsamples into the
    * leftover share, and the output is the training-ready (doc, epoch)
    * relation. */
  val q111_unimax_mixture: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    // defaultEpochs = 0: a stratum the waterfill never saw (null lang)
    // has no budget — the 1.0 pass-through default would leak it into
    // the mixture uncharged, and the oracle's inner join drops it
    Sampling.epochExpand(d, col("doc_id"), col("lang"),
      Sampling.unimaxWeights(d, col("lang"), col("n_chars"),
        budgetFactor = 1.5, epochCap = 2.0), defaultEpochs = 0.0)
      .select(col("doc_id"), col("lang"), col("epoch"))
  }

  /** Token-budget selection in MODEL-token space — the complete
    * FineWeb-style cut composed from three gated pieces in ONE lineage:
    * the frozen tokenizer artifact counts each document the way the
    * model will see it (q110's bpe_len), the q105 classifier ranks, and
    * q95's prefix-greedy budget machinery keeps the best 40k model
    * tokens. The budget unit matters: whitespace counts (q95) over- or
    * under-charge documents whose words compress differently under the
    * merge table, so a real dataset cut budgets in tokenizer tokens.
    * Scale shape is q95's: one histogram pass + one ≥τ selection pass,
    * corpus never sorted, encode/score computed once under the persist. */
  val q112_bpe_token_budget: Q = (s, dir) => {
    import graft.operators.{BpeTrain, QualityModel}
    // the PRODUCTION encode kernel (rank replay — q114's gated path,
    // measured 6.6× the replace chain at the artifact scale and flat in
    // table size, SCALE.md §R19): the oracle replays the SEMANTICS of
    // the frozen table, which both kernels meet token-for-token
    // (spec-asserted), so the composition takes the fast one
    val scored = QualityModel.hashedLinearScore(
      BpeTrain.bpeEncodeRank(Tables.documents(s, dir), "text",
        BpeTrain.fixedMerges()),
      "text", QualityModel.fixedWeights(), bias = 0.1)
      .select(col("doc_id"), col("model_score"), col("bpe_len"))
    Sampling.keepByTokenBudget(scored, col("doc_id"), col("model_score"),
      col("bpe_len"), budget = 40000L)
  }

  /** DoReMi-style domain reweighting over sources (static unigram
    * proxy): the per-domain excess loss is exactly q63's drift KL, and
    * the multiplicative-weights update collapses to a softmax over it —
    * domains the corpus mixture underserves get upweighted. η = 50
    * spreads this drift-free synthetic corpus's small KLs into a
    * measurable (and hash-gated) weight range; a real scraper-drifted
    * domain would dominate. */
  val q113_doremi_weights: Q = (s, dir) =>
    Sampling.doremiWeights(Tables.documents(s, dir), "source", "text",
      eta = 50.0)

  /** q110's encode through the PRODUCTION kernel — per-word merge-rank
    * replay ([[graft.operators.BpeTrain.bpeEncodeRank]], constant cost in
    * the merge-table size) against the SAME frozen artifact and the SAME
    * oracle verbatim: the kernel-equivalence spec proves the two kernels
    * identical, this gate proves the production one end-to-end at every
    * SF, the q104-for-voteLabels pattern. */
  val q114_bpe_encode_rank: Q = (s, dir) => {
    import graft.operators.BpeTrain
    BpeTrain.bpeEncodeRank(Tables.documents(s, dir), "text",
        BpeTrain.fixedMerges())
      .select(col("doc_id"),
        concat_ws(" ", col("bpe_tokens")).as("bpe_text"), col("bpe_len"))
  }

  /** BYTE-level BPE merge round 1 — q107's distributed-risk stage under
    * the production multilingual seed ([[graft.operators.BpeTrain.initVocab]]
    * `byteSeed = true`): each UTF-8 byte seeds as an uppercase hex pair,
    * so the pair relation is over byte bigrams and the oracle replays the
    * identical segmentation from `hex(encode(w))`. On this ASCII corpus
    * every byte is one char, but the GATE is seed-agnostic — any byte
    * sequence would hash the same way. */
  val q115_bpe_pairs_bytes: Q = (s, dir) => {
    import graft.operators.BpeTrain
    // parallel: the byte-seed hex segmentation is the heavy per-row pass
    BpeTrain.pairCounts(BpeTrain.initVocab(
        BpeTrain.wordCounts(Tables.documentsPar(s, dir), "text"), byteSeed = true))
      .orderBy(desc("cnt"), asc("l"), asc("r"))
      .limit(20)
      .select(col("l"), col("r"), col("cnt").cast("long").as("cnt"))
  }

  /** The RADIUS decontamination gate end-to-end — the batch-job default
    * ([[graft.operators.Similarity.semanticDecontaminateIndexedRadius]]:
    * no shortlist, no rerank — pure coverage, ~2× cheaper than the
    * shortlist gate at every measured decade, SCALE.md §R19) at COVERING
    * probes, where it is definitionally the exact gate restricted to
    * surviving ids: the oracle is q102's with the max_sim column
    * dropped, exactly q103's pattern, so any probe/pruning/NaN defect in
    * the radius path fails the hash at every SF. Production runs small
    * nprobe — that trade is the banked recall curve of
    * SCALE.md §R18. */
  val q116_semantic_decontam_radius: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val (coarse, _, path) = sharedIvfPqIndex(s, dir)
    Similarity.semanticDecontaminateIndexedRadius(
      e.where(col("vec_id") % 9 =!= 0),
      e.where(col("vec_id") % 9 === 0),
      s.read.parquet(path), coarse, tau = 0.40, nprobe = 8)
  }

  /** GLOBAL weighted sampling without replacement — q106's
    * Efraimidis–Spirakis draw with no stratum: the k overall winners
    * under the (key DESC, hash, id) total order. The engine plans
    * TakeOrderedAndProject (bounded per-partition heaps — no
    * single-partition window, plan-asserted in SamplingSpec); the oracle
    * replays the same draw with an unpartitioned row_number. */
  val q117_weighted_sample_global: Q = (s, dir) =>
    Sampling.weightedSampleGlobal(Tables.documents(s, dir),
      col("doc_id"), col("n_chars"), k = 25, seed = "r19")
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Per-doc bigram NLL under interpolated Kneser–Ney (the KenLM default —
    * [[graft.operators.TextAnalysis.kneserNeyLogProb]]): the
    * continuation-probability backoff that CCNet-class perplexity filters
    * actually run, vs q61's add-one strawman. Same relation shapes as q61 —
    * every KN statistic reduces from the aggregated bigram counts. */
  val q118_kneser_ney_nll: Q = (s, dir) =>
    TextAnalysis.kneserNeyLogProb(Tables.documents(s, dir), "doc_id", "text")

  /** CCNet-style perplexity triage ([[graft.operators.TextAnalysis
    * .perplexityBuckets]]): head/middle/tail by corpus NLL tertiles, with
    * the cuts from a bounded fixed-grid histogram — one map-side-combinable
    * aggregation plus a window over ≤ a few thousand histogram cells, never
    * a corpus-wide sort (the scale trap a naive ntile(3) would be). */
  val q119_perplexity_buckets: Q = (s, dir) =>
    TextAnalysis.perplexityBuckets(Tables.documents(s, dir), "doc_id", "text")

  /** Sparse TF–IDF cosine near-dup pairs ([[graft.operators.TextAnalysis
    * .tfidfCosinePairs]]) over 5-token shingle vectors, lang-blocked — the
    * lexical-vector complement of q30's dense-embedding cosine and q24's
    * set Jaccard (tf·idf weights see REPEATED passages and rare-shingle
    * overlap that set semantics flatten). n = 5, not q60's 3: the term
    * space must keep the inverted index selective, and over this 31-word
    * vocabulary the 3-gram universe is only 31³ ≈ 30k — average df ≈ 20
    * at sf0.1 and the candidate join squares it (measured 6.6 s, the worst
    * row in the bench). At n = 5 the universe is 31⁵ ≈ 28.6M, df ≈ 1 off
    * the planted duplicates, and candidates are the near-dups themselves.
    * Real near-dups still share almost every shingle at either n. */
  val q120_tfidf_cosine_pairs: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tok"))
    // hashed window-lead gram build (the production path — grams reduce to
    // md5 longs inside the build; the array-based tfidfCosinePairs is the
    // generic-terms twin, spec-asserted identical output)
    TextAnalysis.tfidfCosinePairsTokens(docs, "doc_id", "tok", 5, "lang", 0.5)
  }

  /** Unicode canonicalization gate ([[graft.functions.NormalizeFunctions]]):
    * derive decomposed text (every 'a' → 'a' + combining acute U+0301),
    * NFC-compose it with the native codegen'd normalizer, strip accents
    * back. Gates the real UAX #15 behavior cross-engine: the raw/NFC code
    * point counts differ by exactly the injected marks, the NFC text
    * hash-matches DuckDB's utf8proc `nfc_normalize`, and the accent-strip
    * round-trips to the original byte-for-byte. */
  val q121_normalize_text: Q = (s, dir) => {
    import graft.functions.NormalizeFunctions
    val derived = regexp_replace(col("text"), "a", "a\u0301")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), derived.as("raw"))
      .select(col("doc_id"),
        NormalizeFunctions.nfc(col("raw")).as("norm_text"),
        length(col("raw")).cast("long").as("raw_len"),
        length(NormalizeFunctions.nfc(col("raw"))).cast("long").as("nfc_len"),
        (NormalizeFunctions.stripAccents(col("raw")) === col("text"))
          .as("roundtrip"))
  }

  /** Z-order layout key ([[graft.operators.Layout.zorderKey]]): the Morton
    * interleave of two lineitem dimensions — the multi-dimension
    * data-skipping sort key behind Delta/Iceberg OPTIMIZE ZORDER. The gate
    * hash-checks the bit arithmetic cross-engine on the top-100 curve walk;
    * the layout WRITE path (range-partition by key, per-file min/max
    * tightness on both dims) is LayoutSpec's measured assertion. */
  val q122_zorder_layout: Q = (s, dir) => {
    import graft.operators.Layout
    val li = Tables.lineitem(s, dir)
    li.select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
        col("l_partkey"), col("l_suppkey"),
        Layout.zorderKey(
          Seq(pmod(col("l_partkey"), lit(256)), pmod(col("l_suppkey"), lit(256))),
          8).as("zkey"))
      .orderBy(col("zkey"), col("l_orderkey"), col("line_no"))
      .limit(100)
  }

  /** WordPiece merge-round-1 scores ([[graft.operators.BpeTrain
    * .wordPieceScores]]): q107's pair relation ranked by the BERT
    * trainer's likelihood ratio cnt/(count(l)·count(r)) instead of raw
    * count — the tokenizer family's second training criterion, sharing
    * the segmentation machinery end-to-end. Top-20 by (score, l, r); the
    * score is a division of exact integer counts, bit-identical in any
    * engine (the q64 lift rationale). */
  val q123_wordpiece_scores: Q = (s, dir) => {
    import graft.operators.BpeTrain
    BpeTrain.wordPieceScores(BpeTrain.initVocab(
        BpeTrain.wordCounts(Tables.documents(s, dir), "text")))
      .orderBy(desc("score"), asc("l"), asc("r"))
      .limit(20)
  }

  /** Hard-negative mining ([[graft.operators.Similarity.hardNegatives]]):
    * per-query top-5 corpus neighbors with cosine in [0.25, 0.8) — the
    * contrastive-pair data op (similar enough to confuse, below the
    * positive band). Brute tier gated here; at index scale the same band
    * ([[graft.operators.Similarity.bandFilter]]) post-filters any scored
    * neighbor tier, spec-asserted equivalent over an exact-scored
    * relation. */
  val q124_hard_negatives: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.hardNegatives(emb.where(col("vec_id") < 20), emb,
      lo = 0.25, hi = 0.8, k = 5)
  }

  /** Curriculum ordering (Bengio et al. 2009, the data-ordering stage of a
    * training run): phase docs easy-first by the q119 perplexity triage
    * (head → middle → tail), deterministically shuffled within each phase
    * by a seeded content hash, and emit the first 100 items of the
    * schedule. Scale shape: the phase/key columns are per-row maps over
    * q119's bucketing; the "first k of a total order" is
    * TakeOrderedAndProject — bounded per-partition heaps, never a global
    * sort or a single-partition window. */
  val q125_curriculum_order: Q = (s, dir) => {
    val b = TextAnalysis.perplexityBuckets(Tables.documents(s, dir), "doc_id", "text")
    val phase = when(col("bucket") === "head", 0L)
      .when(col("bucket") === "middle", 1L).otherwise(2L)
    b.select(col("doc_id"), col("bucket"), phase.as("phase"),
        TextAnalysis.md5Long(concat(lit("cur19:"), col("doc_id"))).as("cur_key"))
      .orderBy(col("phase"), col("cur_key"), col("doc_id"))
      .limit(100)
  }

  /** Hybrid retrieval by Reciprocal Rank Fusion ([[graft.operators
    * .Retrieval.rrfFuse]]): q58's lexical BM25 top-20 fused with a dense
    * cosine top-20 (query = vector 0) — the production RAG retrieval
    * combiner, robust to the incomparable score scales. Per-term scores
    * quantize to exact micro-units, so the fused ranking replays exactly
    * in any engine. */
  val q126_hybrid_rrf: Q = (s, dir) => {
    import graft.operators.Retrieval
    val lexical = TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id",
      "text", terms = Seq("dup", "spark", "join"), topK = 20)
      .select(col("doc_id"), col("rk"))
    val e = Tables.embeddings(s, dir)
    val dense = Similarity.bruteForceTopK(e.where(col("vec_id") === 0), e, k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rk"))
    Retrieval.rrfFuse(Seq(lexical, dense), "doc_id", "rk", k0 = 60, topK = 20)
  }

  /** SQ8 retrieval-quality report ([[graft.operators.Retrieval
    * .recallReport]]): recall@5 of asymmetric search over int8-quantized
    * vectors (exact queries, q56's reconstruction per corpus vector — the
    * SQ8 serving shape) against the exact brute truth — the evaluation
    * loop every quantized tier is tuned by, distributed and hash-oracled
    * instead of driver-side. */
  val q127_sq8_recall: Q = (s, dir) => {
    import graft.operators.Retrieval
    val e = Tables.embeddings(s, dir)
    val qs = e.where(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(qs, e, k = 5)
    // q56's symmetric int8 codec, reconstructed: s0 = amax/127,
    // recon = round-half-up(x/s0)·s0. Scale → attribute BEFORE the lambda
    // reads it (the quantizeInt8 no-CSE rule).
    val amax = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val recon = e.select(col("vec_id"), (amax / 127.0).as("s0"),
        col("embedding").as("v"))
      .select(col("vec_id"),
        transform(col("v"), x =>
          when(col("s0") === 0.0, lit(0.0))
            .otherwise(floor(x.cast("double") / col("s0") + 0.5) * col("s0")))
          .as("embedding"))
    val cand = Similarity.bruteForceTopK(qs, recon, k = 5)
    Retrieval.recallReport(truth, cand, k = 5)
  }

  /** Quality-aware dedup keep-list ([[graft.operators.Dedup.qualityKeep]]):
    * q41's near-dup clusters × q33's quality score — within each cluster
    * the cleanest member survives (the RefinedWeb policy), ties to the
    * smallest id; every row reports its cluster, score, and keep bit. */
  val q128_quality_dedup_keep: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("tok"))
    val labels = Dedup.canonicalIdsCascade(docs, "doc_id", "tok", "lang", 0.95)
    val scores = Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
    Dedup.qualityKeep(labels, scores, "doc_id")
  }

  /** Systematic resampling WITH replacement
    * ([[graft.operators.Sampling.systematicResample]]): 2000 draws over
    * documents proportional to n_chars — the length-proportional
    * (token-uniform) document draw, the with-replacement shape the ES
    * family (q106/q117) cannot express. Counts are exact integer
    * arithmetic end-to-end (decimal(38,0) cumulative mass ↔ DuckDB
    * HUGEINT; draw counts a difference of integral divisions), so the
    * oracle replays the bucketed distributed prefix-sum with one flat
    * window cumsum and must agree bit-for-bit: Σ draws = 2000 and every
    * count within 1 of n·wᵢ/W by construction. */
  val q129_systematic_resample: Q = (s, dir) =>
    Sampling.systematicResample(Tables.documents(s, dir),
      col("doc_id"), col("n_chars"), n = 2000, seed = "r19d")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("draws"))

  /** CCNet-style boilerplate removal
    * ([[graft.operators.Dedup.removeFrequentPassages]]): q55's 16-token
    * windows, but passages repeated across ≥ 3 DISTINCT documents are
    * dropped from every document (q55 keeps the first occurrence — this
    * is the df-threshold filter, the other half of the C4/CCNet line
    * step), and each document is rebuilt from its surviving windows in
    * position order with kept/dropped counts. */
  val q130_boilerplate_removal: Q = (s, dir) => {
    val segs = Packing.chunkByTokens(Tables.documents(s, dir), col("doc_id"),
      split(col("text"), " "), chunkTokens = 16, stride = 16)
    Dedup.removeFrequentPassages(segs, "doc_id", "chunk_id", "chunk_text",
      maxDf = 3)
  }

  /** Length-grouped dynamic batching
    * ([[graft.operators.Packing.lengthGroupedBatches]]): documents
    * sharded by the seeded hash, each shard sorted length-descending and
    * chopped into 32-sequence batches, reported at batch grain with the
    * padding arithmetic (real vs n·max padded tokens) — the
    * GPU-efficiency relation a training planner reads. The oracle
    * replays the shard/sort/chop and the efficiency division. */
  val q131_length_batching: Q = (s, dir) =>
    Packing.lengthGroupedBatches(Tables.documents(s, dir),
      col("doc_id"), col("n_chars"), batchSize = 32, shards = 8,
      seed = "r19e")

  /** DSIR importance resampling end-to-end — the composition
    * [[graft.operators.Sampling.systematicResample]]'s scaladoc names
    * ("pre-quantize fractional importance weights to micro-units"),
    * gated: q77's importance score → the likelihood-ratio weight
    * exp(score) quantized half-up to exact micro-units (score is
    * 6-decimal-rounded upstream, so the 1e6 grain sits ~10 orders above
    * any cross-engine libm exp ulp — the q56 floor-half-up precedent) →
    * 1000 systematic draws. This IS the DSIR selection step
    * (arXiv:2302.03169 resamples ∝ exp(score)); en-target docs carry
    * e^positive weights and dominate the draw, non-target docs keep
    * proportional representation — importance sampling, not a cut. */
  val q132_dsir_resample: Q = (s, dir) => {
    val scored = TextAnalysis.dsirScore(Tables.documents(s, dir),
      "doc_id", "text", col("lang") === "en")
    Sampling.systematicResample(scored, col("doc_id"),
      floor(exp(col("dsir_score")) * 1e6 + 0.5), n = 1000, seed = "r19f")
      .select(col("doc_id"), col("dsir_score"), col("draws"))
  }

  /** Matryoshka prefix-dimension retrieval eval (Kusupati et al.,
    * NeurIPS'22 — MRL embeddings are trained so PREFIXES of the vector
    * are themselves usable embeddings; serving truncates to d′ ≪ d and
    * pays d′/d of the memory and FLOPs): recall@5 of brute cosine search
    * in the FIRST-16-of-64 prefix space against full-dimension truth,
    * via [[graft.operators.Retrieval.recallReport]] — q127's evaluation
    * shape with the candidate tier being dimension truncation instead of
    * scalar quantization (cosine is scale-invariant, so truncation needs
    * no renormalization for ranking). The measured recall IS the
    * truncation trade a deployment reads before flipping to prefix
    * serving. */
  val q133_matryoshka_recall: Q = (s, dir) => {
    import graft.operators.Retrieval
    val e = Tables.embeddings(s, dir)
    val qs = e.where(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(qs, e, k = 5)
    def prefix(df: DataFrame) = df.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val cand = Similarity.bruteForceTopK(prefix(qs), prefix(e), k = 5)
    Retrieval.recallReport(truth, cand, k = 5)
  }

  /** NDCG@5 of the Matryoshka prefix tier
    * ([[graft.operators.Retrieval.ndcgReport]]): q133's truth/candidate
    * walks re-scored with the rank-SENSITIVE metric — recall treats a
    * hit at rank 1 and rank 5 identically, NDCG discounts by
    * 1/log₂(rank+1), separating tiers with equal recall but different
    * orderings (the second number every retrieval eval reports). */
  val q134_prefix_ndcg: Q = (s, dir) => {
    import graft.operators.Retrieval
    val e = Tables.embeddings(s, dir)
    val qs = e.where(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(qs, e, k = 5)
    def prefix(df: DataFrame) = df.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val cand = Similarity.bruteForceTopK(prefix(qs), prefix(e), k = 5)
    Retrieval.ndcgReport(truth, cand, k = 5)
  }

  // -------------------------------------------------------------- registry --

  val all: Map[String, Q] = Map(
    "q01_daily_agg" -> q01_daily_agg,
    "q02_enrich_transform" -> q02_enrich_transform,
    "q03_anti_join" -> q03_anti_join,
    "q04_filter_sort_page" -> q04_filter_sort_page,
    "q05_count_filter" -> q05_count_filter,
    "q06_cast_battery" -> q06_cast_battery,
    "q07_window_funcs" -> q07_window_funcs,
    "q08_top_per_group" -> q08_top_per_group,
    "q09_set_ops" -> q09_set_ops,
    "q10_pricing_summary" -> q10_pricing_summary,
    "q11_top_revenue" -> q11_top_revenue,
    "q12_coalesce_fill" -> q12_coalesce_fill,
    "q13_hourly_rollup" -> q13_hourly_rollup,
    "q14_rollup" -> q14_rollup,
    "q15_moving_avg" -> q15_moving_avg,
    "q16_semi_join" -> q16_semi_join,
    "q17_incremental_union" -> q17_incremental_union,
    "q18_pivot" -> q18_pivot,
    "q19_asof_join" -> q19_asof_join,
    "q20_text_stats" -> q20_text_stats,
    "q21_lang_guess" -> q21_lang_guess,
    "q22_fingerprint" -> q22_fingerprint,
    "q23_dedup_exact" -> q23_dedup_exact,
    "q24_jaccard_pairs" -> q24_jaccard_pairs,
    "q25_minhash_dedup" -> q25_minhash_dedup,
    "q26_simhash_pairs" -> q26_simhash_pairs,
    "q27_ann_cosine" -> q27_ann_cosine,
    "q28_embedding_stats" -> q28_embedding_stats,
    "q29_binary_meta" -> q29_binary_meta,
    "q30_embedding_neardup" -> q30_embedding_neardup,
    "q31_ann_srp" -> q31_ann_srp,
    "q32_subword_tokens" -> q32_subword_tokens,
    "q33_quality_score" -> q33_quality_score,
    "q34_rolling_hash" -> q34_rolling_hash,
    "q35_media_features" -> q35_media_features,
    "q36_percentiles" -> q36_percentiles,
    "q37_string_funcs" -> q37_string_funcs,
    "q38_hll_distinct" -> q38_hll_distinct,
    "q39_ann_ivf" -> q39_ann_ivf,
    "q40_winnow_fingerprints" -> q40_winnow_fingerprints,
    "q41_dedup_clusters" -> q41_dedup_clusters,
    "q42_train_split" -> q42_train_split,
    "q43_corpus_curation" -> q43_corpus_curation,
    "q44_cube" -> q44_cube,
    "q45_interval_join" -> q45_interval_join,
    "q46_sliding_window" -> q46_sliding_window,
    "q47_pack_sequences" -> q47_pack_sequences,
    "q48_stratified_sample" -> q48_stratified_sample,
    "q49_repetition_fraction" -> q49_repetition_fraction,
    "q50_ann_srp_multiprobe" -> q50_ann_srp_multiprobe,
    "q51_chunk_documents" -> q51_chunk_documents,
    "q52_decontamination" -> q52_decontamination,
    "q53_token_vocab" -> q53_token_vocab,
    "q54_corpus_mix" -> q54_corpus_mix,
    "q55_passage_dedup" -> q55_passage_dedup,
    "q56_quantize_int8" -> q56_quantize_int8,
    "q57_pii_redact" -> q57_pii_redact,
    "q58_bm25" -> q58_bm25,
    "q59_unigram_nll" -> q59_unigram_nll,
    "q60_containment" -> q60_containment,
    "q61_bigram_nll" -> q61_bigram_nll,
    "q62_cross_dedup" -> q62_cross_dedup,
    "q63_source_drift" -> q63_source_drift,
    "q64_distinctive_terms" -> q64_distinctive_terms,
    "q65_centroid_cohesion" -> q65_centroid_cohesion,
    "q66_bloom_decontam" -> q66_bloom_decontam,
    "q67_fixed_sample" -> q67_fixed_sample,
    "q68_dup_histogram" -> q68_dup_histogram,
    "q69_pq_codes" -> q69_pq_codes,
    "q70_pq_adc" -> q70_pq_adc,
    "q71_destutter" -> q71_destutter,
    "q72_ivfpq" -> q72_ivfpq,
    "q73_grouping_sets" -> q73_grouping_sets,
    "q74_above_avg" -> q74_above_avg,
    "q75_token_entropy" -> q75_token_entropy,
    "q76_ngram_novelty" -> q76_ngram_novelty,
    "q77_dsir_score" -> q77_dsir_score,
    "q78_cms_heavy_hitters" -> q78_cms_heavy_hitters,
    "q79_approx_quantiles" -> q79_approx_quantiles,
    "q80_semantic_dedup" -> q80_semantic_dedup,
    "q81_ivfpq_indexed" -> q81_ivfpq_indexed,
    "q82_ivf_indexed" -> q82_ivf_indexed,
    "q83_semantic_indexed" -> q83_semantic_indexed,
    "q84_wav_metadata" -> q84_wav_metadata,
    "q85_mp4_metadata" -> q85_mp4_metadata,
    "q86_corpus_shuffle" -> q86_corpus_shuffle,
    "q87_term_tags" -> q87_term_tags,
    "q88_multimodal_mix" -> q88_multimodal_mix,
    "q89_ivfpq_refined" -> q89_ivfpq_refined,
    "q90_exact_substr_rm" -> q90_exact_substr_rm,
    "q91_quality_budget" -> q91_quality_budget,
    "q92_ann_filtered" -> q92_ann_filtered,
    "q93_knn_label" -> q93_knn_label,
    "q94_cross_substr_rm" -> q94_cross_substr_rm,
    "q95_token_budget" -> q95_token_budget,
    "q96_curation_pipeline" -> q96_curation_pipeline,
    "q97_ann_filtered_refined" -> q97_ann_filtered_refined,
    "q98_domain_budget" -> q98_domain_budget,
    "q99_contamination_report" -> q99_contamination_report,
    "q100_epoch_mixture" -> q100_epoch_mixture,
    "q101_sq_topk" -> q101_sq_topk,
    "q102_semantic_decontam" -> q102_semantic_decontam,
    "q103_semantic_decontam_indexed" -> q103_semantic_decontam_indexed,
    "q104_knn_label_indexed" -> q104_knn_label_indexed,
    "q105_quality_model" -> q105_quality_model,
    "q106_weighted_sample" -> q106_weighted_sample,
    "q107_bpe_pairs" -> q107_bpe_pairs,
    "q108_model_budget" -> q108_model_budget,
    "q109_temperature_mix" -> q109_temperature_mix,
    "q110_bpe_encode" -> q110_bpe_encode,
    "q111_unimax_mixture" -> q111_unimax_mixture,
    "q112_bpe_token_budget" -> q112_bpe_token_budget,
    "q113_doremi_weights" -> q113_doremi_weights,
    "q114_bpe_encode_rank" -> q114_bpe_encode_rank,
    "q115_bpe_pairs_bytes" -> q115_bpe_pairs_bytes,
    "q116_semantic_decontam_radius" -> q116_semantic_decontam_radius,
    "q117_weighted_sample_global" -> q117_weighted_sample_global,
    "q118_kneser_ney_nll" -> q118_kneser_ney_nll,
    "q119_perplexity_buckets" -> q119_perplexity_buckets,
    "q120_tfidf_cosine_pairs" -> q120_tfidf_cosine_pairs,
    "q121_normalize_text" -> q121_normalize_text,
    "q122_zorder_layout" -> q122_zorder_layout,
    "q123_wordpiece_scores" -> q123_wordpiece_scores,
    "q124_hard_negatives" -> q124_hard_negatives,
    "q125_curriculum_order" -> q125_curriculum_order,
    "q126_hybrid_rrf" -> q126_hybrid_rrf,
    "q127_sq8_recall" -> q127_sq8_recall,
    "q128_quality_dedup_keep" -> q128_quality_dedup_keep,
    "q129_systematic_resample" -> q129_systematic_resample,
    "q130_boilerplate_removal" -> q130_boilerplate_removal,
    "q131_length_batching" -> q131_length_batching,
    "q132_dsir_resample" -> q132_dsir_resample,
    "q133_matryoshka_recall" -> q133_matryoshka_recall,
    "q134_prefix_ndcg" -> q134_prefix_ndcg,
  )
}
