package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Dedup, Sampling, TextAnalysis}
import graft.storage.StoreProtocol

/** The full training-data curation chain as ONE restartable driver:
  *
  * {{{
  *   ingest → clean (ExactSubstr self-dedup)
  *          → near-dup dedup (MinHash cascade, canonical per cluster)
  *          → decontaminate (ExactSubstr vs a frozen eval suite)
  *          → select (token-budget quality selection)
  *          → shuffle + shard export with a validation manifest
  * }}}
  *
  * Every stage already exists as an operator (q90/q41/q94/q95/q86); this
  * driver is the COMPOSITION evidence — the shape a real 100 TB job runs —
  * with the two properties a per-operator query can't exercise:
  *
  *   - '''Stage materialization + restart.''' Each stage writes parquet
  *     under `stagingRoot` and then a completeness marker
  *     (`_GRAFT_STAGE_OK`, written only AFTER the staged bytes are fully
  *     landed and counted — the [[graft.operators.Similarity.ivfPqIndexAppendOnce]]
  *     commit-marker discipline). A re-invoked `run` (default
  *     `resume = true`) SKIPS every prefix stage whose marker matches its
  *     parameter fingerprint, so a failed stage-4 run resumes at stage 4
  *     instead of re-paying stages 1–3's corpus scans (at 100 TB a stage
  *     is hours; lineage-only recovery would cascade). Fingerprints CHAIN
  *     (each stage's includes its upstream's), so changing any knob
  *     recomputes that stage and everything after it; the input corpora
  *     are fingerprinted by row count only — resume assumes the same
  *     `docs`/`heldOut` under the same `stagingRoot`, which is the crash-
  *     recovery contract, not a cache. A crash BETWEEN the staged write
  *     and the marker re-runs that stage (overwrite is idempotent). The
  *     staging write is also what makes the cache bracket sound:
  *     [[graft.GraftSession.withCaches]] requires the body's result
  *     materialized before the bracket closes.
  *   - '''Cache lifecycle across stage boundaries.''' The dedup/ANN
  *     operators persist intermediates (gram sites, hashed token sets)
  *     that are session-scoped by design. Composing stages WITHOUT
  *     releasing between them accumulates every stage's working set in
  *     the block manager — at corpus scale, exactly the cache-fit
  *     pressure that evicts the stage that actually needs the memory. The
  *     driver brackets each stage with [[graft.GraftSession.withCaches]]
  *     and records the persisted-block census after each boundary in its
  *     [[CurationPipeline.Stage]] report (asserted 0 in
  *     CurationPipelineSpec).
  *
  * Stage semantics (order matters and is deliberate):
  *
  *   1. ''Clean'' before dedup: self-duplicated boilerplate spans
  *      (headers, license blurbs) otherwise inflate Jaccard similarity
  *      between unrelated docs. Lang rides along via one co-partitioned
  *      id join (both sides hash on the id — no broadcast needed, AQE
  *      picks the strategy).
  *   2. ''Dedup'' keeps each near-dup cluster's canonical (min-id) doc,
  *      blocked by `langCol` exactly as q41.
  *   3. ''Decontaminate'' cuts every span of ≥ `n` tokens that appears in
  *      the frozen `heldOut` suite (the eval-leak gate, span grain — the
  *      document survives, the leaked passage does not). The suite's
  *      distinct gram keys are built ONCE via
  *      [[graft.operators.TextAnalysis.corpusGramHashes]] — the
  *      reusable-half split that exists precisely for drivers like this.
  *   4. ''Select'' scores quality on the FINAL text (post-clean,
  *      post-decontaminate — scoring earlier would rank on text that no
  *      longer exists) and keeps the best-scoring prefix whose token
  *      total fits `tokenBudget`. The score is rounded to 6 decimals
  *      first: [[graft.operators.Sampling.keepByTokenBudget]]'s
  *      histogram fail-fast (2²⁰ distinct scores) requires a quantized
  *      score, and a [0,1] score at 1e-6 granularity is ≤ 10⁶+1 bins at
  *      ANY corpus size.
  *   5. ''Export'' shuffles deterministically (seeded md5 rank), shards,
  *      writes JSONL + `_manifest.jsonl`, and VERIFIES the manifest's row
  *      total against the selected count before reporting success — the
  *      loader contract checked at the source.
  *
  * Reference scope note: the cashback reference's whole pipeline is the
  * extract→transform→load DAG ([[Pipeline]], infra/lambda.tf:148-240);
  * this is the same one-driver shape over the repo's LLM-curation
  * operator families.
  */
object CurationPipeline {

  /** One stage boundary: rows in/out, where the output landed, how many
    * persisted RDD blocks remained AFTER the stage's cache bracket closed
    * (the census — 0 unless the caller holds its own caches), and whether
    * the stage was SKIPPED on resume (its completeness marker matched, so
    * its staged output was reused instead of recomputed). */
  final case class Stage(name: String, rowsIn: Long, rowsOut: Long,
                         path: String, cachedBlocksAfter: Int,
                         skipped: Boolean = false)

  /** Full-run report: per-stage boundaries in execution order, the export
    * root, its shard count, and the kept corpus's token total. */
  final case class Report(stages: Seq[Stage], exportPath: String,
                          shards: Int, keptTokens: Long)

  /** Stage-4 quality scorer — SEALED so every variant carries a stable
    * content fingerprint: the restart markers must invalidate stage 4
    * (and everything downstream) when the scorer changes, and an opaque
    * `Column => Column` cannot be fingerprinted. Both variants emit a
    * [0,1] score already quantized to 1e-6, the contract
    * [[graft.operators.Sampling.keepByTokenBudget]]'s histogram
    * fail-fast requires. */
  sealed trait Scorer {
    def score(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column
    /** Content fingerprint folded into the stage-4 restart marker. */
    def fp: String
  }
  object Scorer {
    /** The heuristic gate (q33's length/distinct/punct blend). */
    final case class Heuristic(stopwords: Seq[String] = Seq("the", "a"))
        extends Scorer {
      def score(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        round(TextAnalysis.qualityScore(text, stopwords), 6)
      def fp: String = s"heuristic/${stopwords.mkString(",")}"
    }
    /** The model-based gate: a trained (or published) hashed-linear
      * classifier ([[graft.operators.QualityModel]]) — the FineWeb-style
      * "classifier beats heuristics" upgrade, dropped into the same
      * selection machinery. The fingerprint hashes the full weight
      * vector, so retraining the model invalidates exactly stage 4+. */
    final case class HashedLinear(weights: Seq[Double], bias: Double)
        extends Scorer {
      def score(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        graft.operators.QualityModel.scoreColumn(text, weights.toArray, bias)
      // the stage markers' own digest helper, so the scorer fingerprint
      // can never drift from the stage-fingerprint scheme
      def fp: String =
        "hashedlinear/" + fingerprint(bias, weights.mkString(",")).take(16)
    }
  }

  /** Run the chain. `docs` must carry (`id`, `langCol`, `textCol`);
    * `heldOut` carries (`id`, `textCol`) — the frozen eval/benchmark
    * suite. Returns the per-stage report; the export lands at
    * `stagingRoot/05_export` with its `_manifest.jsonl`.
    *
    * `resume = true` (the default) skips any prefix of stages whose
    * completeness markers match the current parameter fingerprints — the
    * crash-recovery path documented on the object. `resume = false`
    * recomputes everything (a clean rebuild into the same root). */
  def run(spark: SparkSession, docs: DataFrame, heldOut: DataFrame,
          stagingRoot: String,
          id: String = "doc_id", textCol: String = "text",
          langCol: String = "lang",
          n: Int = 8, dedupThreshold: Double = 0.95,
          tokenBudget: Long = 15000L,
          shards: Int = 8, seed: String = "curation-v1",
          stopwords: Seq[String] = Seq("the", "a"),
          resume: Boolean = true,
          scorer: Option[Scorer] = None): Report = {

    // stage-4 scorer: explicit, or the heuristic gate over `stopwords`
    // (the pre-pluggable default — existing call sites keep their exact
    // selection behavior; their stage-4 markers re-fingerprint once under
    // the self-describing scorer fp and recompute stages 4–5 on the next
    // resume, which is the correct reading of "the selection knob
    // changed shape")
    val qualityScorer = scorer.getOrElse(Scorer.Heuristic(stopwords))

    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]

    // Resume is a PREFIX property: the first stage that must recompute
    // (missing/mismatched marker) invalidates everything after it even if
    // a later marker happens to match — a later stage's staged bytes were
    // derived from the PREVIOUS computation of its upstream. Chained
    // fingerprints enforce most of this (a changed knob ripples down),
    // but a crash between a stage's staged write and its marker leaves
    // matching DOWNSTREAM markers from an earlier completed run, so the
    // prefix rule is tracked explicitly.
    var prefixIntact = resume

    /** Run (or skip) one staged stage. `fp` is the stage's chained
      * parameter fingerprint; the marker records it with the staged row
      * count, and is only ever written AFTER the parquet is fully landed
      * and counted — so a marker's existence certifies complete bytes. */
    def stage(name: String, sub: String, rowsIn: Long, fp: String)
             (body: => DataFrame): (String, Long) = {
      val path = s"$stagingRoot/$sub"
      readStageMarker(spark, path).filter(_ => prefixIntact) match {
        case Some((storedFp, rowsOut)) if storedFp == fp =>
          stages += Stage(name, rowsIn, rowsOut, path,
            spark.sparkContext.getPersistentRDDs.size, skipped = true)
          (path, rowsOut)
        case _ =>
          prefixIntact = false
          val out = GraftSession.withCaches(spark, blocking = true) {
            body.write.mode("overwrite").parquet(path)
            spark.read.parquet(path)
          }
          val rowsOut = out.count()
          writeStageMarker(spark, path, fp, rowsOut)
          stages += Stage(name, rowsIn, rowsOut, path,
            spark.sparkContext.getPersistentRDDs.size)
          (path, rowsOut)
      }
    }

    val docsIn = docs.count()
    val fp1 = fingerprint("clean/v1", docsIn, id, textCol, langCol, n)

    // 1. clean — self-dedup at span grain; lang joins back on the id
    // (co-partitioned: both sides shuffle on the id, no driver data).
    val (cleanPath, cleanRows) = stage("clean", "01_clean", docsIn, fp1) {
      TextAnalysis.exactSubstrRemove(docs, id, textCol, n)
        .select(col(id), col("clean_text"))
        .join(docs.select(col(id), col(langCol)), Seq(id))
    }

    // 2. dedup — near-dup clusters over the CLEANED text, keep canonicals.
    val fp2 = fingerprint("dedup/v1", fp1, dedupThreshold)
    val (dedupPath, dedupRows) = stage("dedup", "02_dedup", cleanRows, fp2) {
      val clean = spark.read.parquet(cleanPath)
      val toks = clean.select(col(id), col(langCol),
        array_distinct(split(col("clean_text"), " ")).as("tok"))
      val canon = Dedup.canonicalIdsCascade(toks, id, "tok", langCol, dedupThreshold)
      clean.join(canon, Seq(id))
        .where(col(id) === col("canonical_id"))
        .select(col(id), col(langCol), col("clean_text"))
    }

    // 3. decontaminate — the frozen suite contributes distinct gram keys
    // once; the kept corpus is the "batch" side of the cross remover. The
    // suite is fingerprinted by row count (eval-sized, so the count is
    // cheap) — the same same-inputs contract as `docs`.
    val fp3 = fingerprint("decontam/v1", fp2, heldOut.count(), n)
    val (deconPath, deconRows) = stage("decontaminate", "03_decontam", dedupRows, fp3) {
      val kept = spark.read.parquet(dedupPath)
      val suiteGrams = TextAnalysis.corpusGramHashes(heldOut, id, textCol, n)
      TextAnalysis.exactSubstrRemoveAgainstGrams(
          kept.select(col(id), col("clean_text")), suiteGrams, id, "clean_text", n)
        .select(col(id), col("clean_text"))
        .join(kept.select(col(id), col(langCol)), Seq(id))
    }

    // 4. select — quality on the final text via the pluggable scorer
    // (both variants emit a 1e-6-quantized score, the histogram
    // fail-fast's contract); token budget counted on the same token
    // stream. The scorer's content fingerprint chains into the marker,
    // so swapping Heuristic ↔ HashedLinear (or retraining the model's
    // weights) recomputes exactly stages 4–5.
    val fp4 = fingerprint("select/v1", fp3, tokenBudget, qualityScorer.fp)
    val (selectPath, selectRows) = stage("select", "04_select", deconRows, fp4) {
      val decon = spark.read.parquet(deconPath)
      val scored = decon.select(col(id), col(langCol), col("clean_text"),
        qualityScorer.score(col("clean_text")).as("quality"),
        TextAnalysis.tokenCount(col("clean_text")).as("n_tokens"))
      Sampling.keepByTokenBudget(scored, col(id), col("quality"),
        col("n_tokens"), tokenBudget)
    }

    // 5. export — deterministic shuffle + shards + manifest, then verify
    // the manifest against the selected count BEFORE reporting success.
    // The manifest verification runs on the SKIP path too: it is
    // driver-side cheap (|shards| lines) and is the loader contract this
    // stage exists to certify.
    val exportPath = s"$stagingRoot/05_export"
    val selected = spark.read.parquet(selectPath)
    val fp5 = fingerprint("export/v1", fp4, shards, seed)
    val exportSkipped = prefixIntact &&
      readStageMarker(spark, exportPath).exists(_._1 == fp5)
    if (!exportSkipped) {
      GraftSession.withCaches(spark, blocking = true) {
        Sampling.exportShardsJsonl(selected, col(id), seed, shards, exportPath)
      }
    }
    // `_`-prefixed files are invisible to Spark readers by design; the
    // manifest is |shards| lines — read it driver-side like a loader would.
    val manifestTotal = readManifestRowTotal(spark, exportPath)
    require(manifestTotal == selectRows,
      s"export manifest accounts for $manifestTotal rows but the selected " +
        s"stage holds $selectRows — the transfer contract is broken")
    if (!exportSkipped) writeStageMarker(spark, exportPath, fp5, manifestTotal)
    stages += Stage("export", selectRows, manifestTotal, exportPath,
      spark.sparkContext.getPersistentRDDs.size, skipped = exportSkipped)

    val keptTokens = {
      val r = selected.agg(sum(col("n_tokens"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    Report(stages.toSeq, exportPath, shards, keptTokens)
  }

  /** Chained parameter fingerprint: md5 of the `|`-joined parts, where the
    * first part of every stage after the first is the UPSTREAM stage's
    * fingerprint — a knob change invalidates its stage and everything
    * downstream, never an unrelated prefix. */
  private def fingerprint(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(parts.mkString("|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  private val StageMarkerName = "_GRAFT_STAGE_OK"

  /** The staged dir's completeness marker: `<fingerprint>\nrows:<n>`.
    * Lives INSIDE the stage directory (`_`-prefixed — invisible to Spark
    * readers of the same path), so the overwrite that recomputes a stage
    * atomically retires the stale marker with the stale bytes. */
  private def readStageMarker(spark: SparkSession,
                              stagePath: String): Option[(String, Long)] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(stagePath, StageMarkerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    StoreProtocol.readLines(fs, p) match {
      case fp :: rows :: Nil if rows.startsWith("rows:") =>
        rows.stripPrefix("rows:").toLongOption.map(n => (fp, n))
      case _ => None // malformed marker = no marker: the stage recomputes
    }
  }

  private def writeStageMarker(spark: SparkSession, stagePath: String,
                               fp: String, rows: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(stagePath, StageMarkerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$fp\nrows:$rows\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Incremental ingest — ONE batch through the curation gauntlet against
    * the existing curated state: the shape a nightly crawl append or a
    * `foreachBatch` stream runs, where [[run]] is the from-scratch build.
    * Returns the batch's SURVIVORS (`id`, `langCol`, `clean_text`) for the
    * caller to append to the state; the corpus and suite are never
    * touched. Stages mirror [[run]] 1–3 with incremental semantics:
    *
    *   1. ''Clean'': self-duplicated spans WITHIN the batch are cut
    *      (batch-local; corpus-side span overlap is the decontaminate
    *      stage's job only for the suite — cutting every span the corpus
    *      already holds would empty legitimate near-miss docs that stage
    *      2 is about to judge whole).
    *   2. ''Dedup'', arrival-order-wins: within the batch, each near-dup
    *      cluster keeps its canonical (min-id) doc exactly as [[run]];
    *      then any batch doc with Jaccard ≥ τ against the EXISTING corpus
    *      is dropped whole — the corpus doc arrived first and stays, the
    *      q62 incremental-ingest semantics. (So sequential batches are
    *      NOT order-invariant where duplicates straddle batches: the
    *      earlier arrival survives. That is the contract every
    *      incremental dedup has; batch-internal outcomes match [[run]].)
    *   3. ''Decontaminate'' against `suiteGrams` — a relation from
    *      [[graft.operators.TextAnalysis.corpusGramHashes]]. NOTE the
    *      cross-bracket state rule: each batch runs inside a cache
    *      bracket that releases EVERY session cache, so a `.persist()`ed
    *      gram relation is silently demoted to recompute-per-batch after
    *      the first call. For an eval-sized suite that recompute is
    *      suite-sized and harmless; to make it zero, STAGE the grams to
    *      parquet once and pass the `spark.read.parquet` handle — disk
    *      staging is the cross-bracket state mechanism throughout this
    *      driver, cache persists are bracket-local by design.
    *
    * Selection and export deliberately stay OFFLINE ([[run]] stages 4–5):
    * the token-budget threshold is a global order statistic — feeding it
    * per batch would select against a moving target and un-select nothing
    * retroactively. Curate incrementally, select when you cut a dataset.
    *
    * Scale honesty: stages 1 and 3 are batch-sized (the suite relation is
    * pre-reduced). Stage 2's cross check is the one per-batch pass that
    * touches corpus-scale data — [[graft.operators.Dedup.crossJaccardPairs]]
    * rebuilds the union's token document-frequency order per call (the
    * PPJoin prefix theorem needs a SHARED rarest-first order, and the
    * order shifts as the corpus grows, so it cannot be precomputed the
    * way the suite grams can). That pass is one map-side-combined
    * aggregate + the prefix candidate join with the batch side broadcast
    * by AQE — q62's measured shape, sub-linear per decade (SCALE.md) —
    * but it is NOT batch-sized; a deployment where it dominates should
    * curate on a cadence, not per micro-batch — or shard it:
    * `shardByBatchLangs = true` restricts the corpus side of stage 2b to
    * the batch's own languages before the shared token-frequency pass.
    * This is EXACT, not approximate: cross pairs are lang-blocked (equal
    * `langCol` — a null-lang row never equi-joins and so never pairs
    * regardless), and candidate pruning is verified by exact Jaccard, so
    * a corpus row whose language the batch does not carry can never
    * contribute a pair — only (harmlessly) to the prefix order. The spec
    * asserts survivor identity on a multi-lang corpus; the ladder
    * (SCALE.md §R19) shows the corpus term scaling with the
    * MATCHING-LANG slice instead of the whole state, which is the
    * measured ~1M-doc cadence crossover pushed out by the corpus-to-
    * batch-lang ratio. The right default for a single-language or
    * lang-skewed deployment; a uniform-lang corpus gains nothing.
    *
    * Contract: batch and corpus ids must be disjoint — ENFORCED by a
    * fail-fast semi-join (a collision would silently corrupt the
    * arrival-order-wins dedup, which unions the two sides by id);
    * `corpus` carries (`id`, `langCol`, `clean_text`).
    * Survivors stage to `stagingPath` (parquet, overwrite) INSIDE the
    * batch's cache bracket — the same materialize-then-release discipline
    * as [[run]]'s stages, and the restart boundary a failed batch resumes
    * from; the returned DataFrame reads from there. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, corpus: DataFrame,
                  suiteGrams: DataFrame, stagingPath: String,
                  id: String = "doc_id", textCol: String = "text",
                  langCol: String = "lang",
                  n: Int = 8, dedupThreshold: Double = 0.95,
                  shardByBatchLangs: Boolean = false): DataFrame = {
    // Fail fast on a batch/corpus id collision instead of letting it
    // silently corrupt the arrival-order-wins dedup (crossJaccardPairs
    // unions the two sides by id) and the survivor joins. The check is a
    // semi-join of the BATCH ids against the corpus id column — an
    // id-only corpus scan, cheap next to the corpus-scale token-frequency
    // pass stage 2 runs regardless (and AQE broadcasts the batch side).
    val clashing = batch.select(col(id))
      .join(corpus.select(col(id)), Seq(id), "left_semi")
    require(clashing.isEmpty,
      s"ingestBatch requires batch and corpus $id sets to be disjoint — " +
        s"e.g. ${clashing.limit(3).collect().mkString(", ")} exist on both " +
        "sides; colliding ids would corrupt the arrival-order-wins dedup")
    GraftSession.withCaches(spark, blocking = true) {
      // 1. clean (batch-local spans), lang rides the id join as in run()
      val clean = TextAnalysis.exactSubstrRemove(batch, id, textCol, n)
        .select(col(id), col("clean_text"))
        .join(batch.select(col(id), col(langCol)), Seq(id))
      // 2a. within-batch canonicals — identical machinery to run() stage 2
      val toks = clean.select(col(id), col(langCol),
        array_distinct(split(col("clean_text"), " ")).as("tok"))
      val canon = Dedup.canonicalIdsCascade(toks, id, "tok", langCol, dedupThreshold)
      val selfKept = clean.join(canon, Seq(id))
        .where(col(id) === col("canonical_id"))
        .select(col(id), col(langCol), col("clean_text"))
      // 2b. arrival-order-wins vs the corpus: batch docs matching any
      // corpus doc at ≥ τ drop whole. Optionally shard the corpus side
      // to the batch's own langs first — exact under the lang-blocked
      // pair contract (see scaladoc), and the token-frequency pass then
      // scans the matching-lang slice instead of the whole state
      val corpusSide = {
        // shard BEFORE the tokenize projection: the semi-join needs only
        // the lang column, and a join above the projection would make
        // every corpus row pay array_distinct(split(text)) first —
        // exactly the per-row cost the shard exists to skip
        val base =
          if (!shardByBatchLangs) corpus
          else corpus.join(selfKept.select(col(langCol)).distinct(),
            Seq(langCol), "left_semi")
        base.select(col(id), col(langCol),
          array_distinct(split(col("clean_text"), " ")).as("tok"))
      }
      val crossDup = Dedup.crossJaccardPairs(
          selfKept.select(col(id), col(langCol),
            array_distinct(split(col("clean_text"), " ")).as("tok")),
          corpusSide,
          id, "tok", langCol, dedupThreshold)
        .select(col("left_id").as(id)).distinct()
      val survivors = selfKept.join(crossDup, Seq(id), "left_anti")
      // 3. decontaminate against the caller-persisted suite grams, then
      // stage: the write is the in-bracket materialization (a lazy result
      // escaping the bracket would recompute unpersisted lineage)
      TextAnalysis.exactSubstrRemoveAgainstGrams(
          survivors.select(col(id), col("clean_text")), suiteGrams,
          id, "clean_text", n)
        .select(col(id), col("clean_text"))
        .join(survivors.select(col(id), col(langCol)), Seq(id))
        .select(col(id), col(langCol), col("clean_text"))
        .write.mode("overwrite").parquet(stagingPath)
    }
    spark.read.parquet(stagingPath)
  }

  /** Sum of the manifest's per-shard `rows` fields, read through the
    * export root's own filesystem (works on HDFS/S3A paths, not just
    * local disk) with the shared manifest field parse. */
  private[pipeline] def readManifestRowTotal(spark: SparkSession,
                                             exportPath: String): Long = {
    import org.apache.hadoop.fs.Path
    val p = new Path(exportPath, StoreProtocol.ManifestName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreProtocol.readLines(fs, p).map { line =>
      StoreProtocol.parseManifestLine(line).map(_.rows).getOrElse(
        throw new IllegalStateException(s"malformed manifest line: $line"))
    }.sum
  }
}
