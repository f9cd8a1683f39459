package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Z-order key: bit-exactness of the Morton interleave against a Scala
  * reference, per-lane masking, and its shape checks. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def mortonRef(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var j = 0
    while (j < bits) {
      z |= ((x >> j) & 1L) << (2 * j + 1)
      z |= ((y >> j) & 1L) << (2 * j)
      j += 1
    }
    z
  }

  test("zorderKey matches the reference interleave bit for bit") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(500)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.zorderKey(Seq(col("x"), col("y")), 8).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z === mortonRef(x, y, 8), s"($x,$y)")
    }
    // corners: key space is exactly [0, 2^16)
    val corners = Seq((0L, 0L), (255L, 255L), (255L, 0L), (0L, 255L))
      .toDF("x", "y")
      .select(Layout.zorderKey(Seq(col("x"), col("y")), 8)).as[Long].collect()
    assert(corners.toSet === Set(0L, 65535L, 43690L, 21845L))
  }

  test("out-of-range inputs are masked per bit lane, never corrupt neighbors") {
    val z = Seq((256L + 3L, 1L)).toDF("x", "y")
      .select(Layout.zorderKey(Seq(col("x"), col("y")), 8)).as[Long].head()
    assert(z === mortonRef(3L, 1L, 8), "bit 8 of x must be dropped, not shifted into y's lane")
  }

  test("zorderKey rejects degenerate shapes") {
    intercept[IllegalArgumentException] { Layout.zorderKey(Seq(col("x")), 8) }
    intercept[IllegalArgumentException] {
      Layout.zorderKey(Seq(col("x"), col("y")), 32)
    }
  }
}
