package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic as-of (point-in-time) join: for every left row, attach the most
  * recent right row with `right.ts < left.ts` (strict) or `≤` (inclusive),
  * per `by` key — the trades-and-quotes / feature-lookup operator (pandas
  * `merge_asof`, DuckDB/QuestDB ASOF JOIN; Spark has no built-in).
  *
  * Implementation is the union + keyed-window plan, not a range join: tag
  * both sides, union by name, one window over (by, ts, side) carrying
  * `last(struct(right values), ignoreNulls)` with an unbounded-to-previous-row
  * frame, then keep the left rows and unpack the struct. Cost at any scale:
  * ONE hash exchange on `by` + a per-partition sort — a range-condition join
  * would be a nested loop or an interval-replication blow-up. State per key
  * inside the sort is one "last seen right row" (the window frame never
  * buffers more). The right row travels as ONE struct so every attached
  * column comes from the same matched row — per-column `last(ignoreNulls)`
  * windows would stitch values from different rows when the right side has
  * nulls.
  *
  * Equal-timestamp semantics are encoded in the sort's side tag: strict
  * places right rows after left rows at the same ts (invisible to the
  * to-previous-row frame); inclusive places them before. Ties among right
  * rows at identical (by, ts) are broken deterministically only if the
  * caller pre-deduplicates (e.g. one row per (by, ts)) — same contract as
  * DuckDB ASOF.
  *
  * Validated against DuckDB's native ASOF JOIN through q19's oracle.
  */
object AsOf {

  def joinAsOf(left: DataFrame, right: DataFrame, by: Seq[String],
               leftTs: String, rightTs: String,
               strict: Boolean = true): DataFrame = {
    require(by.nonEmpty, "as-of join needs at least one `by` key")
    val rightVals = right.schema.fields.filterNot(f => by.contains(f.name)).toSeq
    // output name for a right value column (suffix on collision with left)
    def outName(c: String): String =
      if (left.columns.contains(c)) c + "_right" else c

    val leftSide = if (strict) 0 else 1 // at equal ts: strict → right sorts after left

    // the right row's value columns travel as ONE struct (null on left rows,
    // never null on right rows — even if every field is null), so the window
    // attaches a whole matched row atomically
    val rvType = org.apache.spark.sql.types.StructType(rightVals)
    val lTagged = left.select(
      left.columns.map(col).toSeq ++
        Seq(col(leftTs).as("__ts"), lit(leftSide).as("__side"),
          lit(null).cast(rvType).as("__rv")): _*)
    val leftOnly = left.schema.fields.filterNot(f => by.contains(f.name)).toSeq
    val rTagged = right.select(
      by.map(col) ++
        leftOnly.map(f => lit(null).cast(f.dataType).as(f.name)) ++
        Seq(col(rightTs).as("__ts"), lit(1 - leftSide).as("__side"),
          struct(rightVals.map(f => col(f.name).as(f.name)): _*).as("__rv")): _*)

    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, -1)

    lTagged.unionByName(rTagged)
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__side") === leftSide)
      .select(left.columns.map(col).toSeq ++
        rightVals.map(f => col("__rv").getField(f.name).as(outName(f.name))): _*)
  }
}
