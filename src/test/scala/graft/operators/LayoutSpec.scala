package graft.operators

import graft.SparkSpec
import graft.storage.StoreProtocol
import org.apache.spark.sql.functions._

/** Z-order layout: bit-exactness of the Morton key against a Scala
  * reference, and the data-skipping property the layout exists for —
  * per-file min/max extents under writeZordered are tight on BOTH
  * dimensions at once, where a linear sort is tight on one. */
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

  test("optimizeZordered rewrites in place: same rows, z-ordered layout, count returned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-opt").toString
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(256)).as("x"),
          pmod(xxhash64(col("l_partkey")), lit(256)).as("y"))
      li.write.parquet(s"$dir/t") // arrival-order layout
      val before = spark.read.parquet(s"$dir/t")
        .orderBy("l_orderkey", "l_linenumber", "x", "y").collect()
      val n = Layout.optimizeZordered(spark, s"$dir/t",
        Seq(col("x"), col("y")), 8, numFiles = 8)
      assert(n === before.length)
      val after = spark.read.parquet(s"$dir/t")
      assert(after.orderBy("l_orderkey", "l_linenumber", "x", "y").collect()
        .sameElements(before), "optimize must not change the rows")
      // layout property: within each output file the z-key is clustered —
      // per-file z-extents are disjoint-ish vs one big overlap pre-optimize
      val zc = after.withColumn("f", input_file_name())
        .groupBy("f")
        .agg(min(Layout.zorderKey(Seq(col("x"), col("y")), 8)).as("lo"),
          max(Layout.zorderKey(Seq(col("x"), col("y")), 8)).as("hi"))
        .select("lo", "hi").orderBy("lo").collect()
      assert(zc.length >= 2)
      val overlaps = zc.sliding(2).count {
        case Array(a, b) => b.getLong(0) <= a.getLong(1)
        case _ => false
      }
      assert(overlaps === 0, "range-partitioned z-key files must not overlap")
      assert(!new java.io.File(s"$dir/t_optimizing").exists(), "staging must be gone")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("optimizeZordered heals a crash: the retired copy always wins; pre-swap staging is discarded") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-heal").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(256)).as("x"),
          pmod(col("l_suppkey"), lit(256)).as("y"))
      li.write.parquet(s"$dir/t")
      val want = spark.read.parquet(s"$dir/t")
        .orderBy("l_orderkey", "l_linenumber", "x", "y").collect()
      // crash A: after retire, before fresh→live (live tree MISSING) — the
      // worst instant. Simulate: move live into staging/retired, leave a
      // half-written fresh.
      fs.mkdirs(new Path(s"$dir/t_optimizing"))
      assert(fs.rename(new Path(s"$dir/t"), new Path(s"$dir/t_optimizing/retired")))
      fs.mkdirs(new Path(s"$dir/t_optimizing/fresh"))
      val n = Layout.optimizeZordered(spark, s"$dir/t",
        Seq(col("x"), col("y")), 8, numFiles = 4)
      assert(n === want.length, "heal must restore the retired table before optimizing")
      assert(spark.read.parquet(s"$dir/t")
        .orderBy("l_orderkey", "l_linenumber", "x", "y").collect().sameElements(want))
      // crash B: staging with only a fresh tree (no destructive step yet) —
      // discarded, table untouched
      fs.mkdirs(new Path(s"$dir/t_optimizing/fresh"))
      val n2 = Layout.optimizeZordered(spark, s"$dir/t",
        Seq(col("x"), col("y")), 8, numFiles = 4)
      assert(n2 === want.length)
      assert(spark.read.parquet(s"$dir/t")
        .orderBy("l_orderkey", "l_linenumber", "x", "y").collect().sameElements(want))
      // crash C, the object-store shape: rename is copy+delete there, so a
      // PARTIAL live twin (one data file of the table) sits next to the
      // complete retired copy — the retired copy wins. Called through a
      // trailing-slash path, whose staging is still the SIBLING
      // `t_optimizing`, never `t/_optimizing` inside the root
      fs.mkdirs(new Path(s"$dir/t_optimizing"))
      assert(fs.rename(new Path(s"$dir/t"), new Path(s"$dir/t_optimizing/retired")))
      val onePart = new java.io.File(s"$dir/t_optimizing/retired").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(new java.io.File(s"$dir/t").mkdir())
      java.nio.file.Files.copy(onePart.toPath, new java.io.File(s"$dir/t", onePart.getName).toPath)
      val n3 = Layout.optimizeZordered(spark, s"$dir/t/",
        Seq(col("x"), col("y")), 8, numFiles = 4)
      assert(n3 === want.length, "heal must restore the retired copy, not trust the partial twin")
      assert(!fs.exists(new Path(s"$dir/t_optimizing")) && !fs.exists(new Path(s"$dir/t/_optimizing")))
      assert(spark.read.parquet(s"$dir/t")
        .orderBy("l_orderkey", "l_linenumber", "x", "y").collect().sameElements(want))
      intercept[IllegalArgumentException] {
        Layout.optimizeZordered(spark, s"$dir/absent", Seq(col("x"), col("y")), 8, 4)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("writeZordered beats a linear sort on expected files scanned for single-dim predicates") {
    // The honest skipping metric: for a point predicate on one dim, the
    // expected fraction of files whose [min,max] on that dim contains a
    // uniform random point — averaged over BOTH dims. A linear sort is
    // perfect on its sort key and useless on the other (≈ (1/F + 1)/2);
    // Z-order is ≈ sqrt-balanced on both. (An extent-PRODUCT comparison
    // would be vacuous: any perfect partition of N cells into F files has
    // product ≈ N/F regardless of shape.)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(256)).as("x"),
        pmod(xxhash64(col("l_partkey")), lit(256)).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    try {
      Layout.writeZordered(li, Seq(col("x"), col("y")), 8, s"$dir/z", numFiles = 16)
      li.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
        .write.mode("overwrite").parquet(s"$dir/linear")
      def meanHitFraction(path: String): Double = {
        val fracs = spark.read.parquet(path)
          .withColumn("f", input_file_name())
          .groupBy("f")
          .agg((((max(col("x")) - min(col("x")) + 1) / 256.0) +
            ((max(col("y")) - min(col("y")) + 1) / 256.0)).as("fr"))
          .agg(avg(col("fr")) / 2.0).as[Double].head()
        fracs
      }
      val zFrac = meanHitFraction(s"$dir/z")
      val linFrac = meanHitFraction(s"$dir/linear")
      // 16 files: linear ≈ (1/16 + 1)/2 ≈ 0.53; z-order ≈ (1/4 + 1/4)/2 = 0.25
      assert(zFrac < linFrac * 0.7,
        s"z-order mean hit fraction $zFrac must beat linear $linFrac by ≥30%")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("optimizeZordered fails fast under a live maintenance mutex and leaves the table untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-opt-mutex").toString
    try {
      spark.range(200).select(col("id"), pmod(col("id"), lit(256)).as("x"),
        pmod(col("id") * 7, lit(256)).as("y")).write.parquet(s"$dir/t")
      def files = new java.io.File(s"$dir/t").list().sorted.toSeq
      val before = files
      // another optimizer mid-run: its staging holds a FRESH mutex
      val staging = new java.io.File(s"$dir/t_optimizing")
      assert(staging.mkdirs())
      val mutex = new java.io.File(staging, "_mutex")
      assert(mutex.createNewFile())
      val ex = intercept[IllegalStateException](
        Layout.optimizeZordered(spark, s"$dir/t", Seq(col("x"), col("y")), 8, numFiles = 4))
      assert(ex.getMessage.contains("another caller"), ex.getMessage)
      assert(staging.exists() && mutex.exists(),
        "the losing call must leave the winner's staging and mutex untouched")
      assert(files === before, "the losing call must not touch the table")
      assert(spark.read.parquet(s"$dir/t").count() === 200L)
      // the same mutex aged past the staleness bound is a crashed
      // optimizer's: the next call heals it away and rewrites
      val longAgo = System.currentTimeMillis() - StoreProtocol.StaleMs - 60000L
      assert(mutex.setLastModified(longAgo))
      assert(Layout.optimizeZordered(spark, s"$dir/t", Seq(col("x"), col("y")), 8,
        numFiles = 4) === 200L)
      assert(!staging.exists(), "a stale-mutex staging must be healed away")
      // a live append lease makes the optimizer back off: it releases its
      // staging and leaves the table untouched
      val leases = new java.io.File(s"$dir/t/_leases")
      assert(leases.mkdirs())
      val lease = new java.io.File(leases, "lease-inflight")
      assert(lease.createNewFile())
      val withLease = files
      val leaseEx = intercept[IllegalStateException](
        Layout.optimizeZordered(spark, s"$dir/t", Seq(col("x"), col("y")), 8, numFiles = 4))
      assert(leaseEx.getMessage.contains("lease"), leaseEx.getMessage)
      assert(!staging.exists(), "a backed-off optimizer must release t_optimizing")
      assert(files === withLease, "a backed-off optimizer must not touch the table")
      assert(spark.read.parquet(s"$dir/t").count() === 200L)
      // the same lease aged past the staleness bound is a killed writer's:
      // scrubbed, and the rewrite proceeds
      assert(lease.setLastModified(longAgo))
      assert(Layout.optimizeZordered(spark, s"$dir/t", Seq(col("x"), col("y")), 8,
        numFiles = 4) === 200L)
      assert(!lease.exists(), "the stale lease must be scrubbed")
      assert(!staging.exists())
      // the writer side: a lease is raised BEFORE the staging check, and
      // dropped on every exit
      val root = new org.apache.hadoop.fs.Path(s"$dir/t")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stagingPath = StoreProtocol.sibling(root, "_optimizing")
      def liveLeases = Option(new java.io.File(s"$dir/t/_leases").listFiles())
        .getOrElse(Array.empty[java.io.File]).count(_.getName.startsWith("lease-"))
      assert(staging.mkdirs())
      var ran = false
      intercept[IllegalStateException](
        StoreProtocol.withAppendLease(fs, root, stagingPath) { ran = true })
      assert(!ran, "a write under a live staging must not run")
      assert(liveLeases === 0, "a refused write must leave no lease")
      assert(staging.delete())
      var during = -1
      val bodyEx = intercept[RuntimeException](
        StoreProtocol.withAppendLease(fs, root, stagingPath) {
          during = liveLeases
          throw new RuntimeException("write failed")
        })
      assert(bodyEx.getMessage === "write failed")
      assert(during === 1, "exactly one lease is held through the write")
      assert(liveLeases === 0, "a throwing write must drop its lease")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("writeZordered is deterministic: two writes of one input split at the same z-keys") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(256)).as("x"),
        pmod(xxhash64(col("l_partkey")), lit(256)).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-det").toString
    try {
      def extents(path: String) = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg(min(Layout.zorderKey(Seq(col("x"), col("y")), 8)).as("lo"),
          max(Layout.zorderKey(Seq(col("x"), col("y")), 8)).as("hi"))
        .select("lo", "hi").as[(Long, Long)].collect().sorted.toSeq
      Layout.writeZordered(li, Seq(col("x"), col("y")), 8, s"$dir/a", numFiles = 16)
      Layout.writeZordered(li, Seq(col("x"), col("y")), 8, s"$dir/b", numFiles = 16)
      val (a, b) = (extents(s"$dir/a"), extents(s"$dir/b"))
      assert(a.length >= 2)
      assert(a === b, "per-file (min z, max z) must not depend on the run")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
