package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** CH vector-distance family through the dialect registry: values
  * against hand-computed goldens, integer-array support, null
  * propagation, and the loud size-mismatch failure. */
class VectorDistSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def one(sql: String): Any =
    spark.sql(s"SELECT $sql AS v").collect().head.get(0)

  test("distances and norms match hand-computed goldens") {
    assert(one("dotProduct(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))") == 32.0)
    assert(one("L1Distance(array(1.0D, 5.0D), array(2.0D, 3.0D))") == 3.0)
    assert(one("L2Distance(array(1.0D, 2.0D), array(2.0D, 3.0D))") ==
      math.sqrt(2.0))
    assert(one("L2SquaredDistance(array(1.0D, 2.0D), array(2.0D, 3.0D))") == 2.0)
    assert(one("LinfDistance(array(1.0D, 5.0D), array(2.0D, 3.0D))") == 2.0)
    assert(one("L1Norm(array(-1.0D, 2.0D))") == 3.0)
    assert(one("L2Norm(array(3.0D, 4.0D))") == 5.0)
    assert(one("L2SquaredNorm(array(3.0D, 4.0D))") == 25.0)
    assert(one("LinfNorm(array(-7.0D, 2.0D))") == 7.0)
    val cosd = one("cosineDistance(array(1.0D, 0.0D), array(0.0D, 1.0D))")
      .asInstanceOf[Double]
    assert(math.abs(cosd - 1.0) < 1e-15, "orthogonal → distance 1")
    assert(one("cosineDistance(array(2.0D, 0.0D), array(5.0D, 0.0D))")
      .asInstanceOf[Double] == 0.0, "parallel → distance 0")
  }

  test("integer and float arrays widen to double") {
    assert(one("dotProduct(array(1, 2, 3), array(4, 5, 6))") == 32.0)
    assert(one("dotProduct(array(1L, 2L), array(3L, 4L))") == 11.0)
    assert(one("L2Norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))") == 5.0)
  }

  test("null input and null element yield NULL") {
    assert(one("dotProduct(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))") == null)
    assert(one("L2Norm(CAST(NULL AS ARRAY<DOUBLE>))") == null)
    assert(one("dotProduct(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D))") == null)
    assert(one("LinfNorm(array(CAST(NULL AS DOUBLE)))") == null)
  }

  test("size mismatch fails loudly (CH ARRAY_SIZES_DONT_MATCH posture)") {
    val e = intercept[Exception] {
      one("L2Distance(array(1.0D), array(1.0D, 2.0D))")
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("sizes don't match")), causes(e).mkString(" | "))
  }

  test("zero-norm cosineDistance yields NULL, not NaN") {
    assert(one("cosineDistance(array(0.0D, 0.0D), array(1.0D, 2.0D))") == null)
  }

  test("codegen and interpreted paths agree on real embeddings") {
    import org.apache.spark.sql.functions._
    graft.core.Tables.registerViews(spark, "/root/testdata/sf0.001")
    val q = spark.sql(
      """SELECT vec_id, L2Norm(embedding) AS n, L1Norm(embedding) AS l1,
        |       dotProduct(embedding, embedding) AS d
        |FROM embeddings ORDER BY vec_id LIMIT 100""".stripMargin)
    val whole = q.collect().map(_.toSeq).toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = q.collect().map(_.toSeq).toSeq
      assert(whole == interp)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
