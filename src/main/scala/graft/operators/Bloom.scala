package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A Bloom filter expressed entirely in Catalyst builtins — the runtime-
  * filter pattern for reference-set membership at corpus scale, with zero
  * UDFs and zero custom expressions: the bit array ships as an array<long>
  * literal inside the plan, and the probe is a conjunction of k codegen'd
  * shift/mask tests, so the whole prefilter stays inside whole-stage codegen.
  *
  * Build is driver-side over the (hashed) reference keys — decontamination
  * and blocklist joins always have a small reference side; the corpus side
  * only ever evaluates the probe. No false negatives (spec-asserted
  * property); false positives are culled by an exact confirm join, so
  * correctness never depends on the filter.
  *
  * At 100 TB the win over broadcasting the exact key set is bytes-per-key:
  * ~1.5 bytes/key (12 bits) instead of 8-byte longs plus hash-set overhead —
  * a 10⁸-gram benchmark suite rides along as ~190 MB of bits instead of a
  * multi-GB broadcast hash relation — and the probe prunes the corpus gram
  * stream BEFORE any join machinery sees it. */
object Bloom {

  /** Deterministic affine probe family over the already-hashed key
    * (wrapping Long arithmetic — this is hashing, overflow is the point). */
  private[operators] def probeFamily(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(0xB100FB100FL)
    Seq.fill(k)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** Built filter: bit array (little-endian within each word), bit count,
    * and probe count. */
  final case class Filter(bits: Array[Long], nbits: Long, k: Int)

  /** Build from hashed keys, driver-side. 12 bits per key with 6 probes
    * gives ~0.3% false positives — and FPs only cost confirm-join work. */
  def build(keys: Iterable[Long]): Filter = {
    val bitsPerKey = 12
    val k = 6
    val n = math.max(1, keys.size)
    val nbits = math.max(64L, ((n.toLong * bitsPerKey + 63) / 64) * 64)
    val words = new Array[Long]((nbits / 64).toInt)
    val fam = probeFamily(k)
    keys.foreach { h =>
      fam.foreach { case (a, b) =>
        val idx = java.lang.Math.floorMod(a * h + b, nbits)
        words((idx / 64).toInt) |= 1L << (idx % 64)
      }
    }
    Filter(words, nbits, k)
  }

  /** Membership probe for a hashed-key column: a conjunction of k
    * shift/mask bit tests against the literal bit array — all codegen'd
    * builtins, usable in any filter/join condition.
    *
    * Requires a NON-ANSI session (`spark.sql.ansi.enabled=false`, which
    * [[graft.GraftSession]] pins): the probe arithmetic `a·hashed + b`
    * deliberately relies on Java Long wraparound to match the driver-side
    * build in [[build]] — under ANSI mode a typical 64-bit hashed key
    * throws ARITHMETIC_OVERFLOW instead of wrapping, breaking the
    * no-false-negative contract before it can mis-answer. */
  def mightContain(f: Filter, hashed: Column): Column = {
    val bitsLit = typedlit(f.bits.toSeq)
    probeFamily(f.k).map { case (a, b) =>
      val idx = pmod(lit(a) * hashed + lit(b), lit(f.nbits))
      // the Scala shiftright helper only takes a static shift — the SQL
      // function (ShiftRight expression) accepts a column, still codegen'd
      call_function("shiftright", element_at(bitsLit, (idx / 64).cast("int") + 1),
        (idx % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }
}
