package graft.tools

/** Generic conf A/B (dev tool): run the given queries with one
  * runtime-settable session conf at its session value ("off") and at a
  * candidate value ("on"), interleaved + rotated + calibration-bracketed
  * per the round-14 protocol, spill from the executed plan. Any Spark
  * conf works, so each new measure-first lever doesn't need its own
  * one-shot tool.
  *
  * Usage: `runMain graft.tools.ProfileSeamAB <confKey> <onValue> <dir> [reps] [queries…]` */
object ProfileSeamAB {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val onValue = args(1)
    val dir = args(2)
    val reps = if (args.length > 3) args(3).toInt else 2
    val queries = if (args.length > 4) args.drop(4).toSeq
      else Seq("q60_containment")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val offValue = spark.conf.getOption(key)

    val variants: Seq[(String, Option[String])] = Seq(
      "off" -> offValue,
      "on" -> Some(onValue))
    def set(value: Option[String]): Unit = value match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }

    def release(): Unit = {
      graft.GraftSession.releaseCaches(spark, blocking = true)
      System.gc()
    }
    def run(q: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val df = graft.queries.Queries.all(q)(spark, dir)
      val qe = df.queryExecution
      qe.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val spill = ProfileUtil.executedNodes(qe.executedPlan)
        .flatMap(_._1.metrics.get("spillSize")).map(_.value).sum
      release()
      (dt, spill)
    }

    queries.foreach { q =>
      variants.foreach { case (_, value) =>
        set(value)
        try { graft.queries.Queries.all(q)(spark, "/root/testdata/sf0.01").count() }
        finally set(offValue)
        release()
      }
    }

    // every leg carries BOTH sentinels — CPU and I/O — bracketing the run
    // on each side (pre + post): a storm arriving MID-leg is then visible
    // as an inflated post bracket even when the pre bracket read calm,
    // which is exactly how round-15's q60 A/B ended unadjudicable.
    val rows = collection.mutable.ArrayBuffer
      .empty[(String, String, Double, Double, Double, Long)]
    (1 to reps).foreach { rep =>
      val rotated = variants.drop((rep - 1) % variants.size) ++
        variants.take((rep - 1) % variants.size)
      queries.foreach { q =>
        rotated.foreach { case (name, value) =>
          val (c, io) = ProfileUtil.calibBoth(spark)
          set(value)
          val (t, spill) = try run(q) finally set(offValue)
          val (c2, io2) = ProfileUtil.calibBoth(spark)
          val cw = math.max(c, c2); val iow = math.max(io, io2)
          println(f"[seamab] $key=$onValue $q $dir rep$rep variant=$name%-4s " +
            f"cpu=$c%.3f/$c2%.3f io=$io%.3f/$io2%.3f t=$t%8.2f s " +
            f"spill=${spill >> 20}%6d MB")
          Console.flush()
          rows += ((q, name, cw, iow, t, spill))
        }
      }
    }
    println(f"${"query"}%-20s ${"variant"}%-5s ${"min t"}%9s ${"worst cpu"}%10s ${"worst io"}%9s ${"max spill"}%10s")
    queries.foreach { q =>
      variants.foreach { case (name, _) =>
        val vs = rows.filter(r => r._1 == q && r._2 == name)
        if (vs.nonEmpty)
          println(f"$q%-20s $name%-5s ${vs.map(_._5).min}%9.2f " +
            f"${vs.map(_._3).max}%10.3f ${vs.map(_._4).max}%9.3f " +
            f"${vs.map(_._6).max >> 20}%8d M")
      }
    }
    spark.stop()
  }
}
