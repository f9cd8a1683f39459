package graft.operators

import graft.SparkSpec
import graft.functions.Md5LongKernel

class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  private def bucket(tok: String, dims: Int): Int =
    (Md5LongKernel.hash(tok.getBytes("UTF-8")) % dims).toInt

  test("hashedLinearScore matches a hand-computed sigmoid on a fixture") {
    val w = QualityModel.fixedWeights()
    val df = Seq((1L, "ab cd ab"), (2L, "xyz")).toDF("id", "text")
    val got = QualityModel.hashedLinearScore(df, "text", w, bias = 0.25)
      .select($"id", $"model_score", $"keep").as[(Long, Double, Boolean)]
      .collect().map { case (k, v, kp) => k -> ((v, kp)) }.toMap
    def expected(toks: Seq[String]): Double = {
      val z = 0.25 + toks.map(t => w(bucket(t, w.length))).sum / toks.length
      val p = 1.0 / (1.0 + math.exp(-z))
      BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val e1 = expected(Seq("ab", "cd", "ab"))
    val e2 = expected(Seq("xyz"))
    assert(got(1L) === ((e1, e1 >= 0.5)))
    assert(got(2L) === ((e2, e2 >= 0.5)))
  }

  test("hashedLinearScore: null text scores null and is never kept-true") {
    val df = Seq((1L, Option("ab")), (2L, Option.empty[String])).toDF("id", "text")
    val rows = QualityModel.hashedLinearScore(df, "text",
      QualityModel.fixedWeights(), bias = 0.0).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(!byId(1L).isNullAt(1))
    assert(byId(2L).isNullAt(1), "null text must score null")
    assert(byId(2L).isNullAt(2) || !byId(2L).getBoolean(2),
      "null text must never be kept")
  }

  test("hashedLinearScore rejects output-name collisions") {
    val df = Seq((1L, "ab", 0.5)).toDF("id", "text", "model_score")
    val e = intercept[IllegalArgumentException] {
      QualityModel.hashedLinearScore(df, "text", QualityModel.fixedWeights(), 0.0)
    }
    assert(e.getMessage.contains("model_score"))
  }

  test("plan shape: scoring is a pure per-row expression (no join, no exchange)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = QualityModel.hashedLinearScore(docs, "text",
      QualityModel.fixedWeights(), bias = 0.1)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"scoring must not join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"a row-local classifier must not shuffle the corpus:\n$plan")
  }
}
