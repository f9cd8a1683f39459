package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source readers replicating the reference's three schema-acquisition modes
  * (SURVEY §1.4) plus the ingest-time renames/drops.
  */
object Ingest {

  /** S1: header-only CSV read — every column lands as string, casts come later
    * (reference glue_script.py:19-20). `escape="` gives RFC-4180 doubled-quote
    * semantics matching pandas `read_csv` defaults; Spark's default `escape=\`
    * would swallow literal backslashes in payload values (`'Afas Live\\Johan'`
    * in rewards.csv) that pandas preserves. */
  def csvAllStrings(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("escape", "\"").csv(path)

  /** P3 ingest rename for transactions, raw API key → warehouse name
    * (reference pull_data_glue_job_lambda.py:57). */
  private val transactionRenames = Map("id" -> "transaction_id")

  /** P2 ingest renames for rewards (reference pull_data_glue_job_lambda.py:60-61). */
  private val rewardRenames =
    Map("amount" -> "plu_amount", "type" -> "reward_type", "id" -> "reward_id")

  /** The raw keys of a transactions / rewards API payload: [[Schemas]]'
    * column names mapped back through the ingest renames. The one column
    * list both [[jsonPayload]] and the renames read. */
  val transactionKeys: Seq[String] = rawKeys(Schemas.transactions, transactionRenames)
  val rewardKeys: Seq[String] = rawKeys(Schemas.rewards, rewardRenames)

  private def rawKeys(schema: StructType, renames: Map[String, String]): Seq[String] = {
    val raw = renames.map(_.swap)
    schema.fieldNames.toSeq.map(c => raw.getOrElse(c, c))
  }

  /** S5: JSON payload string → DataFrame (reference
    * pull_data_glue_job_lambda.py:45-47 `pd.read_json`) over the declared
    * `keys`, every column a string — the same all-string frame
    * [[csvAllStrings]] lands, so the transform's casts apply unchanged and
    * no inference pass parses the payload ahead of the load. A number,
    * boolean or nested object lands as its JSON text; a key missing from a
    * record (or from every record) reads as null, like an empty CSV field;
    * keys outside `keys` are ignored. FAILFAST: a malformed payload fails
    * the job that reads it instead of landing an all-null row. */
  def jsonPayload(spark: SparkSession, json: String, keys: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(StructType(keys.map(StructField(_, StringType))))
      .option("mode", "FAILFAST").json(Seq(json).toDS())
  }

  /** P2/P3 ingest normalization for transactions: drop `is_debit`/`__typename`,
    * rename `id→transaction_id` (reference pull_data_glue_job_lambda.py:56-57). */
  def normalizeTransactions(raw: DataFrame): DataFrame =
    raw.drop("is_debit", "__typename").withColumnsRenamed(transactionRenames)

  /** P2 ingest renames for rewards: `amount→plu_amount`, `type→reward_type`,
    * `id→reward_id` (reference pull_data_glue_job_lambda.py:60-61). */
  def normalizeRewards(raw: DataFrame): DataFrame = raw.withColumnsRenamed(rewardRenames)

  /** E10: parse the python-dict-literal nested payload columns. The reference
    * stores Python-repr dicts (not valid JSON): single-quoted strings for most
    * values, but DOUBLE-quoted when the value itself contains an apostrophe
    * (`"Domino's Pizza"`, rewards.csv). So only *delimiter* quotes — a `'`
    * adjacent to `{` `[` `,` `:` `}` `]` — are converted; interior apostrophes
    * survive, matching `pd.json_normalize` (reference api.py:109). `None/True/
    * False` are rewritten only in value position (guarded by a following
    * delimiter) so string values containing those words are untouched.
    * Validated against ast.literal_eval on all 1,686 payloads in the
    * reference's rewards.csv: 100% exact match. This is the one spot SURVEY
    * §7.3 flags as UDF-tempting — a regexp prepass keeps it in codegen'd
    * builtins instead. */
  def parseDictLiteral(colName: String, schema: org.apache.spark.sql.types.StructType)
  : org.apache.spark.sql.Column = {
    val openers = regexp_replace(col(colName), "([\\{\\[,:]\\s*)'", "$1\"")
    val closers = regexp_replace(openers, "'(\\s*[:,\\}\\]])", "\"$1")
    val jsonish = regexp_replace(
      regexp_replace(
        regexp_replace(closers, ": None(?=\\s*[,\\}])", ": null"),
        ": True(?=\\s*[,\\}])", ": true"),
      ": False(?=\\s*[,\\}])", ": false")
    from_json(jsonish, schema)
  }

  /** E10 drift guard: count payloads that are non-empty yet parse to null.
    * `from_json` is permissive — a payload the quote heuristic corrupts
    * becomes a silent null, so production loads should assert this is 0 (or
    * below a drift budget) instead of discovering the nulls downstream. The
    * heuristic is validated against ast.literal_eval on all 1,686 reference
    * payloads; this counter is what keeps FUTURE data honest. */
  def dictParseFailures(df: DataFrame, colName: String,
                        schema: org.apache.spark.sql.types.StructType): Long = {
    val parsed = parseDictLiteral(colName, schema)
    // permissive from_json yields an ALL-NULL struct (not a null) for
    // malformed input — both shapes are a parse failure for this guard
    val allFieldsNull = schema.fields.map(f => parsed.getField(f.name).isNull)
      .reduce(_ && _)
    df.where(col(colName).isNotNull && trim(col(colName)) =!= "" &&
      (parsed.isNull || allFieldsNull)).count()
  }
}
