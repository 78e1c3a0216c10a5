package graft.service

import org.scalatest.funsuite.AnyFunSuite

class QueryServiceSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("execute returns the Cols+Rows(+types) envelope (O7 parity)") {
    val svc = new QueryService(spark)
    val res = svc.execute(QueryService.QueryRequest(
      "SELECT count() AS cnt FROM s3('/root/testdata/sf0.001/nation.parquet', 'Parquet')"))
    assert(res.cols == Seq("cnt"))
    assert(res.types == Seq("bigint"))
    assert(res.rows == Seq(Seq(25L)))
  }

  test("init SET is visible to the main query (O6 parity)") {
    val svc = new QueryService(spark)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      svc.execute(QueryService.QueryRequest(
        query = "SELECT 1 AS one",
        initQueries = Seq("SET spark.sql.shuffle.partitions=7")))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("macros substitute in both init and main queries (C4)") {
    val svc = new QueryService(spark)
    val res = svc.execute(QueryService.QueryRequest(
      query = "SELECT '{cluster}' AS c",
      macros = Map("cluster" -> "mycluster")))
    assert(res.rows == Seq(Seq("mycluster")))
  }

  test("per-query SETTINGS are extracted and recorded (C2)") {
    val svc = new QueryService(spark)
    val res = svc.execute(QueryService.QueryRequest(
      "SELECT 1 AS one SETTINGS max_parallel_replicas=10"))
    assert(res.settings == Map("max_parallel_replicas" -> "10"))
    assert(res.rows == Seq(Seq(1)))
  }

  test("warm path executes without init (O9 parity)") {
    val svc = new QueryService(spark)
    val res = svc.executeOnCurrent("SELECT 2 AS two")
    assert(res.rows == Seq(Seq(2)))
  }

  test("uniq aliases resolve through the registered dialect functions") {
    val svc = new QueryService(spark)
    val res = svc.executeOnCurrent(
      "SELECT uniqExact(n_regionkey) AS u FROM s3('/root/testdata/sf0.001/nation.parquet', 'Parquet')")
    assert(res.rows == Seq(Seq(5L)))
  }

  test("uniq (HLL++) approximates within 5% of exact — SURVEY §5 property") {
    val svc = new QueryService(spark)
    val rows = svc.executeOnCurrent(
      """SELECT uniq(o_custkey) AS approx, uniqExact(o_custkey) AS exact
        |FROM s3('/root/testdata/sf0.001/orders.parquet', 'Parquet')""".stripMargin).rows
    val (approx, exact) = (rows.head(0).asInstanceOf[Long], rows.head(1).asInstanceOf[Long])
    assert(exact > 0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"uniq=$approx vs exact=$exact drifts beyond 5%")
  }

  // ---- durability wrapper (O1): fault-injection ----

  test("retry replays transient faults and returns the eventual success") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val fast = QueryService.RetryPolicy(maxAttempts = 4, initialBackoffMs = 1)
    val out = QueryService.retry(fast) { () =>
      if (attempts.incrementAndGet() < 3)
        throw new org.apache.spark.SparkException(
          "Job aborted due to stage failure: FetchFailed(BlockManagerId(...))")
      42
    }
    assert(out == 42)
    assert(attempts.get() == 3)
  }

  test("permanent (analysis/parse/argument) errors do NOT retry") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val fast = QueryService.RetryPolicy(maxAttempts = 5, initialBackoffMs = 1)
    intercept[IllegalArgumentException] {
      QueryService.retry(fast) { () =>
        attempts.incrementAndGet()
        throw new IllegalArgumentException("caller fault")
      }
    }
    assert(attempts.get() == 1)
    // wrapped permanent causes are still permanent (cause-chain walk)
    val wrapped = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[RuntimeException] {
      QueryService.retry(fast) { () =>
        wrapped.incrementAndGet()
        throw new RuntimeException("activity shell",
          new UnsupportedOperationException("no such operator"))
      }
    }
    assert(wrapped.get() == 1)
  }

  test("attempt budget bounds transient retries; last error rethrows") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val fast = QueryService.RetryPolicy(maxAttempts = 3, initialBackoffMs = 1)
    val e = intercept[java.io.IOException] {
      QueryService.retry(fast) { () =>
        attempts.incrementAndGet()
        throw new java.io.IOException("connection reset by peer")
      }
    }
    assert(attempts.get() == 3)
    assert(e.getMessage.contains("connection reset"))
  }

  test("executeWithRetry: analysis errors surface immediately, good queries run") {
    val svc = new QueryService(spark)
    intercept[org.apache.spark.sql.AnalysisException] {
      svc.executeWithRetry(QueryService.QueryRequest("SELECT nope FROM no_such_table"))
    }
    val res = svc.executeWithRetry(QueryService.QueryRequest("SELECT 1 + 1 AS two"))
    assert(res.rows == Seq(Seq(2)))
  }

  test("DDL statements route through the service front door: projection, optimize, mutation") {
    val svc = new QueryService(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_svc_ddl").toString + "/t"
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .repartition(3).write.parquet(dir)
    spark.conf.set("spark.graft.projectionDir",
      java.nio.file.Files.createTempDirectory("graft_svc_proj").toString)
    // projection DDL as the MAIN query returns its status frame
    val add = svc.execute(QueryService.QueryRequest(
      s"ALTER TABLE '$dir' ADD PROJECTION svc_p " +
        "(SELECT n_regionkey, sum(n_nationkey) GROUP BY n_regionkey)"))
    assert(add.cols == Seq("projection", "status"))
    assert(add.rows.head(1) == "materialized")
    // OPTIMIZE compacts the 3-file table
    val opt = svc.execute(QueryService.QueryRequest(s"OPTIMIZE TABLE '$dir' FINAL"))
    assert(opt.cols.contains("files_after"))
    assert(opt.rows.head(2).asInstanceOf[Int] < 3)
    // a mutation reports rows_affected
    val del = svc.execute(QueryService.QueryRequest(
      s"DELETE FROM '$dir' WHERE n_nationkey % 2 = 0"))
    assert(del.cols == Seq("table", "mutation", "rows_affected"))
    assert(del.rows.head(1) == "deleted")
    assert(del.rows.head(2).asInstanceOf[Long] > 0)
    assert(spark.read.parquet(dir).filter("n_nationkey % 2 = 0").count() == 0)
    graft.plans.AggProjections.drop(spark, dir, "svc_p")
  }

  test("SYSTEM and EXPLAIN statements answer through the service as through ChSql.sql") {
    val svc = new QueryService(spark)
    val flush = svc.execute(QueryService.QueryRequest("SYSTEM FLUSH LOGS"))
    assert(flush.cols == Seq("statement", "status"))
    assert(flush.rows == Seq(Seq("FLUSH LOGS", "noop")))
    val explain = svc.execute(QueryService.QueryRequest("EXPLAIN SELECT 1"))
    assert(explain.cols ==
      graft.dialect.ChSql.sql(spark, "EXPLAIN SELECT 1").columns.toSeq)
    assert(explain.cols == Seq("explain") && explain.rows.size > 1, explain.rows)
  }
}
