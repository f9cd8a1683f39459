package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Warehouse-load stage: idempotent anti-join append + DDL generation
  * (reference load_to_redshift_lambda.py:34-100).
  */
object IncrementalLoad {

  /** J2/P8: `INSERT … WHERE NOT EXISTS` as a left-anti join on the key
    * (reference load_to_redshift_lambda.py:88-96). Loading twice is a no-op
    * (property-tested). At 100 TB both sides shuffle on the key — one
    * exchange each, no driver-side key set. Returns rows actually appended
    * (A3: the reference reports cursor.rowcount, :99-100); an empty load
    * writes nothing, so it never creates a missing table. */
  def appendNew(spark: SparkSession, incoming: DataFrame, table: String,
                key: String, partitionCol: Option[String] = None): Long = {
    val existing = if (spark.catalog.tableExists(table)) Some(spark.table(table)) else None
    loadNew(incoming, existing, key) { fresh =>
      val writer = fresh.write.mode("append").format("parquet")
      partitionCol.fold(writer)(c => writer.partitionBy(c)).saveAsTable(table)
    }
  }

  /** The load step both warehouse sinks share ([[appendNew]],
    * [[JdbcSink.appendNew]]): anti-join `incoming` against `existing`'s
    * key column (none = every row is new), count the survivors, and hand
    * them to `write` only when there are any. `left_anti` already yields
    * each incoming row once however often its key repeats on the right, so
    * the key side is not deduplicated. Returns the count. */
  private[pipeline] def loadNew(incoming: DataFrame, existing: Option[DataFrame], key: String)
                               (write: DataFrame => Unit): Long = {
    val fresh = existing.fold(incoming)(e => incoming.join(e.select(key), Seq(key), "left_anti"))
    // one computation of the anti-join for BOTH the count and the write:
    // without the scoped persist the plan executes twice (a full extra pass
    // over incoming at warehouse scale) with a consistency window between
    fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0) write(fresh)
      n
    } finally fresh.unpersist()
  }

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
      case _: StringType => "VARCHAR(256)"
      case _ => "VARCHAR(256)"
    }
    val cols = (schema.fields ++ partitionKeys)
      .map(f => s"${f.name} ${map(f.dataType)}").mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $table ($cols)"
  }
}
