package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

/** Warehouse-load stage: idempotent anti-join append + DDL generation
  * (reference load_to_redshift_lambda.py:34-100).
  */
object IncrementalLoad {

  /** J2/P8: `INSERT … WHERE NOT EXISTS` as a left-anti join on the key
    * (reference load_to_redshift_lambda.py:88-96). Loading twice is a no-op
    * (property-tested). At 100 TB both sides shuffle on the key — one
    * exchange each, no driver-side key set. Returns rows actually appended
    * (A3: the reference reports cursor.rowcount, :99-100), observed on the
    * write itself ([[load]]). */
  def appendNew(spark: SparkSession, incoming: DataFrame, table: String,
                key: String, partitionCol: Option[String] = None): Long =
    load(spark, incoming, table, key, partitionCol).appended

  /** Rows one [[load]] saw arrive and appended. */
  private[pipeline] final case class Counts(incoming: Long, appended: Long)

  /** The append behind [[appendNew]] and `Pipeline.run`, as ONE plan: no
    * persist and no count job ahead of the write. Both counts are
    * `Dataset.observe` metrics on the write's own plan. With a
    * `partitionCol`, rows are hash-clustered on it first, so each load
    * writes one file per partition value it touches. That exchange's width
    * is the session's shuffle width, given explicitly so that AQE does not
    * coalesce it: the writer's cost is per file, not per byte (a daily load
    * opens ~56 date files from 175 rows), and a coalesced exchange would
    * open them all from one task. Hashing still sends each value to exactly
    * one task, at any width, and a task that gets no rows writes no file.
    *
    * Where the observers sit matters. AQE replaces a materialized shuffle
    * stage that produced no rows with an empty relation, and every
    * `CollectMetrics` under it drops out of the final plan, so its
    * Observation reports no metric at all. The incoming observer therefore
    * sits directly on the incoming rows, and the anti-join runs after it
    * (Catalyst pushes the anti-join below the clustering exchange, never
    * below the observer), so an all-duplicate rerun still reports its
    * incoming rows, under a broadcast or a sort-merge anti-join. An
    * observer can thus only go missing when what it counts is provably
    * empty, so a missing metric reads 0.
    *
    * An empty load adds no file to an existing partitioned table (the
    * dynamic-partition writer opens files per row; an unpartitioned table
    * gets the one empty file Spark writes to keep the schema). Into a missing table
    * the write has created it by the time the count is known, so a load
    * that appended nothing drops it again: a missing table stays missing. */
  private[pipeline] def load(spark: SparkSession, incoming: DataFrame, table: String,
                             key: String, partitionCol: Option[String]): Counts = {
    val existed = spark.catalog.tableExists(table)
    val (seen, kept) = (Observation(), Observation())
    val observed = incoming.observe(seen, count(lit(1)).as("rows"))
    val width = spark.sessionState.conf.numShufflePartitions
    val clustered = partitionCol.fold(observed)(c => observed.repartition(width, col(c)))
    val fresh = if (existed) newRows(clustered, spark.table(table), key) else clustered
    val writer = fresh.observe(kept, count(lit(1)).as("rows"))
      .write.mode("append").format("parquet")
    partitionCol.fold(writer)(c => writer.partitionBy(c)).saveAsTable(table)
    val counts = Counts(rows(seen), rows(kept))
    if (!existed && counts.appended == 0) spark.sql(s"DROP TABLE IF EXISTS $table")
    counts
  }

  private def rows(o: Observation): Long = o.get.get("rows").fold(0L)(_.asInstanceOf[Long])

  /** J2's one expression, shared by both warehouse sinks ([[appendNew]],
    * [[JdbcSink.appendNew]]): the `incoming` rows whose `key` is absent from
    * `existing`. `left_anti` yields each incoming row once however often its
    * key repeats on the right, so the key side is not deduplicated. */
  private[pipeline] def newRows(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(key), Seq(key), "left_anti")

  /** S11: schema → warehouse DDL with the reference's type-mapping table
    * (load_to_redshift_lambda.py:24-31: int→INTEGER, bigint→BIGINT,
    * string→VARCHAR(256), double→DOUBLE PRECISION, boolean→BOOLEAN,
    * timestamp→TIMESTAMP, unknown→VARCHAR(256) fallback) and partition keys
    * appended to the column list (:38-41). */
  def toWarehouseDdl(table: String, schema: StructType,
                     partitionKeys: Seq[StructField] = Nil): String = {
    def map(dt: DataType): String = dt match {
      case IntegerType | ShortType | ByteType => "INTEGER"
      case LongType => "BIGINT"
      case DoubleType | FloatType => "DOUBLE PRECISION"
      case BooleanType => "BOOLEAN"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case _ => "VARCHAR(256)"
    }
    val cols = (schema.fields ++ partitionKeys)
      .map(f => s"${f.name} ${map(f.dataType)}").mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $table ($cols)"
  }
}
