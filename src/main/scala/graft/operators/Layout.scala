package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for 100 TB scans — Z-order (Morton 1966)
  * interleaved sort keys, the technique behind Delta Lake / Iceberg
  * `OPTIMIZE ZORDER BY`.
  *
  * Why it matters at scale: parquet prunes row groups and files by min/max
  * column statistics. A corpus sorted linearly on one key has tight stats on
  * THAT key only — a predicate on any other dimension reads everything. The
  * Z-order key interleaves the bits of several dimensions, so files cover a
  * small hyper-rectangle of the key space and min/max stats stay selective
  * on EVERY participating dimension at once: point/range predicates on any
  * of them skip most files. This is a write-time layout choice, not a query
  * operator — the scan-side win is free (Spark's parquet reader already
  * does stats pruning).
  *
  * The reference pipeline partitions its warehouse load by date only
  * (`glue_script.py` partition keys); this generalizes that single-dimension
  * layout to the multi-predicate scan pattern an analytics corpus serves.
  */
object Layout {

  /** Morton/Z-order key: interleaves the low `bits` bits of each column,
    * first column highest. Callers pre-quantize each dimension into
    * [0, 2^bits) — e.g. `pmod(col, 256)` for hash-like ids or a
    * (v−min)·scale range bucket for continuous values; higher bits are
    * masked off per-bit, so out-of-range inputs degrade gracefully instead
    * of corrupting neighbors' bit lanes.
    *
    * Pure composition of codegen'd bitwise builtins (shift/and/or) — a
    * per-row map with a constant-size expression tree (bits·dims terms),
    * zero shuffle, whole-stage-codegen friendly, and bit-for-bit
    * replayable in any engine (plain integer arithmetic). */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"z-order needs ≥ 2 dimensions, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits*dims must fit a signed long: got $bits*${cols.size}")
    val n = cols.size
    val terms = for {
      (c, i) <- cols.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(
      shiftright(c.cast("long"), j).bitwiseAND(lit(1L)),
      j * n + (n - 1 - i))
    terms.reduce(_.bitwiseOR(_))
  }

  /** Write `df` as parquet laid out in Z-order over `dims`: partition by
    * the Morton key into `numFiles` contiguous key ranges (one row shuffle —
    * file count chosen by the caller to hit the deployment's target file
    * size), sort within each file, write. Each output file then covers a
    * compact Z-curve segment — a small hyper-rectangle in dim space — so its
    * min/max stats are tight on every dimension. `LayoutSpec` asserts the
    * skipping property directly: the mean single-dim hit fraction under this
    * layout beats a linear sort.
    *
    * The range bounds are computed, not sampled: Spark's range sampler is
    * seeded by the RDD id, so two writes of the same input could split at
    * different keys. Here the bounds come from an exact histogram of the
    * key's top [[HistogramBits]] bits (≤ 2^16 cells: one aggregation job,
    * metadata-scale collect), and each bound snaps to the COARSEST Z-cell
    * boundary — the key with the most trailing zero bits — whose rank lies
    * within [[SnapTolerance]] of a file's rows of the equal-rows split. An
    * aligned bound splits on a whole Z-cell, a hyper-rectangle, so the
    * files' extents stay tight on every dim. Same input, same files. A
    * single cell heavier than a file stays whole in one file. */
  def writeZordered(df: DataFrame, dims: Seq[Column], bits: Int,
                    path: String, numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be ≥ 1, got $numFiles")
    val z = zorderKey(dims, bits)
    val cell = shiftright(z, math.max(0, bits * dims.size - HistogramBits))
    // null keys (null dims) fall through every comparison into the last file
    val hist = df.groupBy(cell).count().collect().filterNot(_.isNullAt(0))
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val bounds = cellBounds(hist, numFiles)
    // file id = number of bounds ≤ cell, as a balanced comparison tree
    def fileOf(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(cell < bounds(mid), fileOf(lo, mid)).otherwise(fileOf(mid + 1, hi))
      }
    df.repartitionById(numFiles, fileOf(0, bounds.length))
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(path)
  }

  /** Histogram resolution of [[writeZordered]]'s bounds, in key bits. */
  private val HistogramBits = 16

  /** How far (in file-row shares) a bound may move to reach a coarser cell. */
  private val SnapTolerance = 0.25

  /** Strictly increasing lower bounds of files 1..n−1 over the sorted
    * (cell, rows) histogram. A candidate bound sits in each gap between
    * two populated cells, at the coarsest cell boundary inside that gap;
    * bound i takes, among candidates whose rows-below fall within the
    * tolerance window around i/n of the rows, the coarsest (ties: nearest
    * the equal split), or the nearest candidate when the window holds none. */
  private def cellBounds(hist: Array[(Long, Long)], numFiles: Int): Array[Long] = {
    val total = hist.map(_._2).sum.toDouble
    val below = hist.map(_._2).scanLeft(0L)(_ + _)
    // (boundary, rows below it): hi with every bit under the highest bit
    // where lo and hi differ cleared — the coarsest key in (lo, hi]
    val candidates = hist.indices.drop(1).map { j =>
      val (lo, hi) = (hist(j - 1)._1, hist(j)._1)
      (hi & ~(java.lang.Long.highestOneBit(lo ^ hi) - 1), below(j))
    }
    if (candidates.isEmpty) return Array.empty
    val share = total / numFiles
    (1 until numFiles).map { i =>
      val target = i * share
      val near = candidates.filter(c => math.abs(c._2 - target) <= SnapTolerance * share)
      if (near.isEmpty) candidates.minBy(c => math.abs(c._2 - target))._1
      else near.minBy(c =>
        (-java.lang.Long.numberOfTrailingZeros(c._1), math.abs(c._2 - target)))._1
    }.distinct.sorted.toArray
  }

  /** Crash-safe in-place re-layout of an EXISTING parquet table into
    * Z-order — the Delta/Iceberg `OPTIMIZE ZORDER BY` maintenance job: a
    * table written by arrival order (or fragmented by many small appends)
    * is rewritten once so every later scan skips on all `dims`.
    *
    * The protocol is [[graft.storage.StoreProtocol]]'s heal / mutex /
    * swap at table grain — at every instant
    * the table's rows exist in the live tree or the staging tree, never
    * nowhere:
    *
    *   1. heal a crashed previous run, then take the maintenance mutex in
    *      `<path>_optimizing` (a second optimizer fails fast while the
    *      mutex is live);
    *   2. rewrite into `<path>_optimizing/fresh` ([[writeZordered]]);
    *   3. verify the fresh row count against the live count — a rewrite
    *      that lost rows aborts BEFORE any destructive step;
    *   4. retire the live tree INTO staging (`retired`), rename fresh
    *      over live, drop staging.
    *
    * A crashed run is healed on the next call: a `retired` copy still in
    * staging is the authoritative pre-optimize table and ALWAYS wins. A
    * staging with no `retired` is a crash before any destructive step —
    * discarded.
    *
    * Scale: the rewrite is one exchange of the table (the same shuffle
    * any global sort pays) and streams through executors; only the
    * ≤ 2^16-cell key histogram collects. At 100 TB you run it per partition or per
    * fragmented subset — compose with a filtered read and a subdir path.
    * Returns the row count. */
  def optimizeZordered(spark: org.apache.spark.sql.SparkSession, path: String,
                       dims: Seq[Column], bits: Int, numFiles: Int): Long = {
    import org.apache.hadoop.fs.Path
    import graft.storage.StoreProtocol
    require(numFiles >= 1, s"numFiles must be ≥ 1, got $numFiles")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = StoreProtocol.sibling(root, "_optimizing")
    // existence is checked AFTER the heal: the crash-A state (retire done,
    // swap not) has NO live tree — the table exists only as the retired copy
    StoreProtocol.heal(fs, root, staging, StoreProtocol.StaleMs)
    require(fs.exists(root), s"no table at $root")
    StoreProtocol.acquireMutex(fs, root, staging, StoreProtocol.StaleMs)
    val fresh = new Path(staging, "fresh")
    val liveCount =
      try {
        val n = spark.read.parquet(root.toString).count()
        writeZordered(spark.read.parquet(root.toString), dims, bits, fresh.toString, numFiles)
        val freshCount = spark.read.parquet(fresh.toString).count()
        if (freshCount != n) throw new IllegalStateException(
          s"optimize rewrite row count $freshCount != live $n; aborted")
        n
      } catch { case e: Throwable =>
        // nothing destructive has happened yet: release the mutex so the
        // next call need not wait out its staleness bound
        fs.delete(staging, true)
        throw e
      }
    StoreProtocol.swap(fs, root, staging, "", fresh)
    fs.delete(staging, true)
    liveCount
  }
}
