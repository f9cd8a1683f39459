package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Z-order (Morton 1966) key: one long whose bits interleave the bits
  * of several columns, so rows close in every dimension at once sort close
  * together — the key behind Delta Lake / Iceberg `OPTIMIZE ZORDER BY`.
  * q122 computes it as a query column; nothing here writes or rewrites a
  * table (the warehouse load partitions by date alone, as the reference's
  * `glue_script.py` does). */
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
}
