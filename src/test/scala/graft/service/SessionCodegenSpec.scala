package graft.service

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Catalog, Engine}
import graft.dialect.ChSql
import graft.service.native.{NativeClient, NativeServer}

/** Door sessions share generated code: a statement that one fresh door
  * session has compiled is not compiled again by the next one, through
  * either door. Every request runs on its own `newSession()`, so this
  * rests on [[Engine.doorConf]] keeping one artifact class loader for
  * the whole SparkContext. */
class SessionCodegenSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("door settings: shared artifact class loader, UTC session time") {
    assert(Engine.doorConf("spark.sql.artifact.isolation.enabled") == "false")
    assert(Engine.doorConf("spark.sql.session.timeZone") == "UTC")
    val s = spark.newSession()
    assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    val r = new QueryService(s).execute(QueryService.QueryRequest(
      "SELECT toUnixTimestamp(toDateTime('2020-01-01 00:00:00')) AS t"))
    assert(r.rows == Seq(Seq(1577836800L)), r.rows)
  }

  test("a repeated scan-and-filter compiles nothing in the next door session") {
    val path = Files.createTempDirectory("graft_codegen").toString + "/t.parquet"
    spark.range(20000).selectExpr("id", "id % 97 AS v").write.parquet(path)
    Catalog.update(Catalog.AttachedTable("codegen_t", "", Nil, Some(path)))
    // a literal no other suite uses, so the first run has code to compile
    val sql = "SELECT count() AS c, sum(id) AS s FROM codegen_t WHERE v = 61 AND id > 4242"
    val expected = (0L until 20000L).filter(i => i % 97 == 61 && i > 4242)
    try {
      val before = compilations
      val first = new QueryService(spark.newSession())
        .executeStreamed(QueryService.QueryRequest(sql))((_, it) => it.toList)
      assert(first == List(Seq(expected.size.toLong, expected.sum)), first)
      val firstCompiled = compilations - before
      assert(firstCompiled >= 1, "the first run compiled nothing: the check below is vacuous")

      val srv = new NativeServer(spark)
      val port = srv.start()
      try {
        val mark = compilations
        val c = new NativeClient("127.0.0.1", port, compression = false)
        val second = try c.query(sql).rows finally c.close()
        assert(second == Seq(Seq(expected.size.toLong, expected.sum)), second)
        assert(compilations - mark == 0,
          s"second door session compiled ${compilations - mark} classes (first: $firstCompiled)")
      } finally srv.stop()
    } finally Catalog.detach("codegen_t")
  }
}
