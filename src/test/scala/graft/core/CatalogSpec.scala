package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.dialect.ChSql

class CatalogSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  /** Compressed form of the reference's flagship ATTACH
    * (`temporal/workflow_query_executor_test.go:85`) — same clauses,
    * fewer columns. */
  private val attachDdl =
    """ATTACH TABLE gh_mini UUID '127f4241-4a9b-4ecd-8a84-846b88069cb5' on cluster '{cluster}'
      |(
      |  `file_time` DateTime,
      |  `event_type` Enum8('CommitCommentEvent' = 1, 'CreateEvent' = 2),
      |  `repo_name` LowCardinality(String),
      |  `commits` UInt32
      |)
      |ENGINE = MergeTree
      |ORDER BY (event_type, repo_name)
      |SETTINGS disk = disk(type = web, endpoint = 'http://clickhouse-public-datasets.s3.amazonaws.com/web/')""".stripMargin

  test("ATTACH with an unreadable web endpoint FAILS LOUDLY by default") {
    // a silently-empty view would make every downstream query "succeed"
    // with 0 rows — the failure must name the endpoint and the escape hatch
    val e = intercept[IllegalArgumentException] {
      ChSql.sql(spark, attachDdl).collect()
    }
    assert(e.getMessage.contains("clickhouse-public-datasets"))
    assert(e.getMessage.contains(graft.service.Settings.AttachAllowEmpty.name))
  }

  test("ATTACH TABLE registers schema-only under the explicit escape hatch") {
    spark.conf.set(graft.service.Settings.AttachAllowEmpty.name, "true")
    try {
      val res = ChSql.sql(spark, attachDdl).collect()
      assert(res.head.getString(1) == "attached")
      val schema = spark.table("gh_mini").schema
      assert(schema.fieldNames.toSeq ==
        Seq("file_time", "event_type", "repo_name", "commits"))
      assert(spark.table("gh_mini").count() == 0) // schema-only by request
      // ORDER BY key retained as the sorted-layout contract (W7)
      assert(Catalog.sortKey("gh_mini") == Seq("event_type", "repo_name"))
    } finally spark.conf.unset(graft.service.Settings.AttachAllowEmpty.name)
  }

  test("ATTACH over a readable local endpoint serves data") {
    val ddl =
      """ATTACH TABLE nation_att (n_nationkey Int32, n_name String, n_regionkey Int32)
        |ENGINE = MergeTree ORDER BY (n_nationkey)
        |SETTINGS disk = disk(type = web, endpoint = '/root/testdata/sf0.001/nation.parquet')""".stripMargin
    ChSql.sql(spark, ddl).collect()
    assert(spark.sql("SELECT count(*) FROM nation_att").collect().head.getLong(0) == 25L)
  }

  test("ATTACH as an init query through QueryService (the reference's flow)") {
    val svc = new graft.service.QueryService(spark)
    val res = svc.execute(graft.service.QueryService.QueryRequest(
      query = "SELECT count() AS cnt FROM nation_att2",
      initQueries = Seq(
        """ATTACH TABLE nation_att2 (n_nationkey Int32, n_name String, n_regionkey Int32)
          |ENGINE = MergeTree ORDER BY (n_nationkey)
          |SETTINGS disk = disk(type = web, endpoint = '/root/testdata/sf0.001/nation.parquet')""".stripMargin,
        "SET spark.sql.shuffle.partitions=4")))
    assert(res.rows == Seq(Seq(25L)))
  }

  test("ATTACH over an http(s) parquet endpoint reads through HttpParquet") {
    val port = graft.sources.StaticHttp.serve("/root/testdata/sf0.001")
    val ddl =
      s"""ATTACH TABLE nation_http (n_nationkey Int32, n_name String, n_regionkey Int32)
         |ENGINE = MergeTree ORDER BY (n_nationkey)
         |SETTINGS disk = disk(type = web, endpoint = 'http://127.0.0.1:$port/nation.parquet')""".stripMargin
    ChSql.sql(spark, ddl).collect()
    // hash-match the same data read directly off disk (declared-column
    // projection: the remote file's extra n_comment column is pruned)
    val viaHttp = spark.sql(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation_http ORDER BY n_nationkey")
      .collect().toSeq
    val direct = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .selectExpr("CAST(n_nationkey AS INT)", "n_name", "CAST(n_regionkey AS INT)")
      .orderBy("n_nationkey").collect().toSeq
    assert(viaHttp == direct)
  }

  test("non-parquet http endpoints still fail loudly") {
    val port = graft.sources.StaticHttp.serve("/root/testdata/sf0.001")
    val e = intercept[IllegalArgumentException] {
      Catalog.attach(spark,
        s"""ATTACH TABLE web_parts (x Int64) ENGINE = MergeTree ORDER BY (x)
           |SETTINGS disk = disk(type = web, endpoint = 'http://127.0.0.1:$port/web/')""".stripMargin)
    }
    assert(e.getMessage.contains("not readable"))
  }

  test("malformed ATTACH fails loudly") {
    intercept[IllegalArgumentException] {
      Catalog.attach(spark, "ATTACH TABLE nonsense")
    }
  }

  test("view replay matches WHOLE identifiers: bare, quoted and db.-qualified names") {
    Seq("lineitem", "`lineitem`", "\"lineitem\"", "default.lineitem",
        "`default`.`lineitem`", "LINEITEM", "(lineitem)").foreach { spelled =>
      assert(Catalog.mentions(s"SELECT count() FROM $spelled WHERE 1", "lineitem"), spelled)
    }
    assert(Catalog.mentions("lineitem", "lineitem"))
    // a longer identifier that merely CONTAINS the name does not name it
    assert(!Catalog.mentions("SELECT count() FROM lineitem_mt", "lineitem"))
    assert(!Catalog.mentions("SELECT sum(l_partkey) FROM li", "part"))
    assert(!Catalog.mentions("SELECT 1 FROM mylineitem", "lineitem"))
  }

  test("view replay registers only the tables a request names") {
    def written(rows: Long): String = {
      val p = java.nio.file.Files.createTempDirectory("graft_mv").toString + "/t.parquet"
      spark.range(rows).write.parquet(p)
      p
    }
    Catalog.update(Catalog.AttachedTable("part_mv", "", Nil, Some(written(200))))
    Catalog.update(Catalog.AttachedTable("nation_mv", "", Nil, Some(written(25))))
    try {
      val s = spark.newSession()
      Catalog.ensureSessionViews(s, "SELECT count() FROM `nation_mv` WHERE part_mv_x = 1")
      assert(s.catalog.tableExists("nation_mv"))
      assert(!s.catalog.tableExists("part_mv"))
      Catalog.ensureSessionViews(s, "SELECT count() FROM default.part_mv")
      assert(s.catalog.tableExists("part_mv"))
      assert(s.table("part_mv").count() == 200L)
    } finally { Catalog.detach("part_mv"); Catalog.detach("nation_mv") }
  }
}
