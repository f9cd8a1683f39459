package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native kernels must agree bit-for-bit with the interpreted
  * higher-order-function formulation they replaced, under both codegen and
  * interpreted evaluation, and be reachable from SQL via the session
  * extension. */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f)),
    (2L, Array(-1.0f, 0.5f, 2.0f)),
    (3L, Array(0.0f, 0.0f, 0.0f)),
  ).toDF("id", "v")

  private def foldDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  test("vector_dot matches the interpreted fold bit-for-bit") {
    val rows = vecs.as("a").crossJoin(vecs.as("b")).select(
      VectorFunctions.vectorDot(col("a.v"), col("b.v")).as("native"),
      foldDot(col("a.v"), col("b.v")).as("fold"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, f) => assert(n == f, s"native=$n fold=$f") }
  }

  test("vector_cosine: self-cosine is 1, zero vector yields NaN") {
    val self = vecs.where(col("id") =!= 3)
      .select(VectorFunctions.vectorCosine(col("v"), col("v"))).as[Double].collect()
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    val z = vecs.where(col("id") === 3)
      .select(VectorFunctions.vectorCosine(col("v"), col("v"))).as[Double].collect()
    assert(z.forall(_.isNaN))
  }

  test("kernels work on real embeddings and agree with the fold path") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val a = e.select(col("vec_id"), col("embedding").as("v"))
    val pairs = a.as("x").crossJoin(a.as("y"))
      .where(col("x.vec_id") < col("y.vec_id"))
    val diff = pairs.select(
        (VectorFunctions.vectorDot(col("x.v"), col("y.v")) -
          foldDot(col("x.v"), col("y.v"))).as("d"))
      .agg(max(abs(col("d")))).as[Double].collect().head
    assert(diff == 0.0, s"max |native - fold| = $diff")
  }

  test("vector_dot / vector_cosine are registered SQL functions (extension)") {
    vecs.createOrReplaceTempView("vt")
    val r = spark.sql(
      """SELECT a.id, vector_dot(a.v, b.v) AS d, vector_cosine(a.v, b.v) AS c
        |FROM vt a JOIN vt b ON a.id = 1 AND b.id = 2""".stripMargin)
      .as[(Long, Double, Double)].collect().head
    assert(r._2 == (-1.0 + 1.0 + 6.0))
  }
}
