package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CityHash64ExprSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("SQL cityHash64 over strings matches the byte-level port") {
    import spark.implicits._
    val df = Seq("", "a", "hello world", "x" * 100).toDF("s")
    val got = df.selectExpr("s", "cityHash64(s) AS h").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (s, hv) =>
      assert(hv == CityHash.hash64(s.getBytes("UTF-8")), s"mismatch for '$s'")
    }
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val df = Seq((1L, "a", 2.5), (42L, "hello", -1.0)).toDF("l", "s", "d")
    val wholestage = df.selectExpr("cityHash64(l, s, d) AS h").collect().map(_.getLong(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.selectExpr("cityHash64(l, s, d) AS h").collect().map(_.getLong(0))
      assert(wholestage.toSeq == interpreted.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("multi-arg combine is the documented left fold") {
    import spark.implicits._
    val row = Seq(("ab", 7L)).toDF("s", "l")
      .selectExpr("cityHash64(s, l) AS h").collect().head.getLong(0)
    val expected = CityHash.combine(
      CityHash.hash64("ab".getBytes("UTF-8")), CityHash.hashLong(7L))
    assert(row == expected)
  }

  test("NULL hashes to the documented empty-hash, not SQL NULL") {
    val r = spark.sql("SELECT cityHash64(CAST(NULL AS STRING)) AS h").collect().head
    assert(!r.isNullAt(0))
    assert(r.getLong(0) == CityHash.NullHash)
  }

  test("unsupported type fails analysis, not execution") {
    intercept[Exception] {
      spark.sql("SELECT cityHash64(map('a', 1))").collect()
    }
  }
}
