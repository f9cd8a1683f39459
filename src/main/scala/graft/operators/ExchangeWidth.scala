package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one rule for data-sized exchange widths: volume ÷ the family's
  * per-partition target, never below the session's configured width (a
  * cluster session sized for its executors keeps its width — the rule only
  * ever WIDENS a bench-sized default), capped at [[Cap]], and no
  * repartition unless that widens the plan ([[widenForJoin]]). Each
  * operator family brings its own measured target — posting rows for the
  * pair joins ([[Dedup]]), scan bytes for the gram reduce and token-stream
  * exchanges ([[TextAnalysis]]) — so parallelism comes from the data at
  * run time, never from a conf. */
private[operators] object ExchangeWidth {

  /** Upper bound on every data-sized width — the measured regime through
    * the third decade. At the fourth decade the cap, not a target, decides
    * q60's per-task memory (its posting volume computes to ~3600
    * partitions); a 4096 cap measured inseparable from 1024 there
    * (SCALE.md §Round 15, decision 2). */
  private val Cap: Long = 1024L

  /** `volume / perPartition` partitions, floored at `sessionWidth`,
    * capped at [[Cap]]. Pure arithmetic; spec-covered. */
  def width(volume: BigInt, perPartition: Long, sessionWidth: Int): Int =
    math.max(sessionWidth, (volume / perPartition).min(Cap).toInt)

  /** [[width]] floored at `spark`'s configured shuffle width. */
  def width(spark: SparkSession, volume: BigInt, perPartition: Long): Int =
    width(volume, perPartition, spark.sessionState.conf.numShufflePartitions)

  /** [[width]] from `df`'s [[leafScanBytes]]. */
  def forScan(df: DataFrame, perPartition: Long): Int =
    width(df.sparkSession, leafScanBytes(df), perPartition)

  /** Repartition `df` on the join/grouping keys at `width` — but ONLY when
    * that widens the plan past the session default: at bench scale the
    * computed width IS the session default, and inserting an explicit
    * repartition there would pin an exchange AQE could otherwise coalesce.
    * When it applies, the exchange it inserts is the SAME hash exchange
    * the downstream equi-join or aggregate would have inserted anyway
    * (same keys), just wider — the distribution requirement is satisfied,
    * so no second exchange appears (spec-asserted). */
  def widenForJoin(df: DataFrame, width: Int, keys: Column*): DataFrame =
    if (width > df.sparkSession.sessionState.conf.numShufflePartitions)
      df.repartition(width, keys: _*)
    else df

  /** Exact byte size of the leaf relations under `df`'s optimized plan —
    * the volume for the scan-sized targets. For a file scan this is the
    * file index's byte sum (metadata the session already holds — no data
    * pass), NOT the projection estimate above it, which guesses
    * array/string column widths. In-memory test relations report their
    * row estimate — small, landing at the session floor. */
  def leafScanBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum
}
