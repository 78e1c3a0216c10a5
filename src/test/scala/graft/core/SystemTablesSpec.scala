package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.dialect.ChSql

class SystemTablesSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("system.clusters resolves through the dialect (run.sh:5 shape)") {
    val rows = ChSql.sql(spark,
      "select * from system.clusters where cluster = '{cluster}'").collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[String]("cluster") == "graft")
  }

  test("clusterAllReplicas fan-out strips to the system view (S9)") {
    val df = ChSql.sql(spark,
      "SELECT host, running_tasks FROM clusterAllReplicas('{cluster}', system.executors)")
    assert(df.collect().nonEmpty)
  }

  test("query log records completed executions with durations") {
    SystemTables.install(spark)
    spark.sql("SELECT 1").collect()
    spark.sql("SELECT 2").collect()
    // listener events are async — allow a beat
    Thread.sleep(500)
    val log = SystemTables.queryLog(spark).collect()
    assert(log.length >= 2)
    assert(log.forall(_.getAs[Long]("duration_ms") >= 0))
  }

  test("query log keeps only the newest QueryLogMax executions") {
    SystemTables.install(spark)
    // each read is itself an execution, logged once it ends
    def ids(): Seq[Long] = SystemTables.queryLog(spark).collect().map(_.getLong(0)).toSeq
    spark.sql("SELECT 1").collect()
    Thread.sleep(500)
    val before = ids().max
    val flood = SystemTables.QueryLogMax + 10
    (0 until flood).foreach(_ => spark.sql("SELECT 1").collect())
    // listener events arrive in order but async: once an id past the
    // flood is logged, every flood execution is too
    var got = ids()
    val deadline = System.nanoTime() + 20000000000L
    while (got.max < before + flood && System.nanoTime() < deadline) {
      Thread.sleep(200)
      got = ids()
    }
    assert(got.max >= before + flood, s"log did not catch up: ${got.max}")
    assert(got.size == SystemTables.QueryLogMax)
    // the oldest went first: every kept entry is newer than the flood's start
    assert(got.min > before, s"min ${got.min} <= $before")
  }

  test("ordered projection over a system table (…_test.go:98-105 shape)") {
    val rows = ChSql.sql(spark,
      "SELECT host, port FROM system.executors ORDER BY host ASC").collect()
    assert(rows.nonEmpty)
  }

  test("system.one is the CH 1-row dummy; system.zookeeper has the task-queue path") {
    val one = ChSql.sql(spark, "SELECT 1 + 1 AS two FROM system.one").collect()
    assert(one.length == 1 && one.head.getInt(0) == 2)
    val zk = ChSql.sql(spark,
      "SELECT name FROM system.zookeeper WHERE path='/clickhouse/task_queue/'").collect()
    assert(zk.map(_.getString(0)).contains("ddl"))
  }

  test("system.functions lists the registered dialect surface") {
    val names = ChSql.sql(spark,
      "SELECT name FROM system.functions WHERE origin = 'graft_dialect'")
      .collect().map(_.getString(0)).toSet
    assert(names.contains("cityHash64") && names.contains("uniqExact") &&
      names.contains("windowFunnel"))
    assert(names.size > 250, s"expected the full static surface, got ${names.size}")
  }

  test("system.settings lists the enforced governance keys with live values + changed flag (r15)") {
    // unchanged: defaults show, changed = 0
    val before = ChSql.sql(spark,
      "SELECT name, value, changed FROM system.settings ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(before.map(_._1).toSet.contains("readonly"))
    assert(before.map(_._1).toSet.contains("max_execution_time"))
    assert(before.find(_._1 == "result_overflow_mode")
      .exists(r => r._2 == "throw" && r._3 == 0), before.toSeq)
    // a SET flips the value and the changed flag; unset restores
    spark.conf.set("max_result_rows", "123")
    try {
      val row = ChSql.sql(spark,
        "SELECT value, changed FROM system.settings WHERE name = 'max_result_rows'")
        .collect().head
      assert(row.getString(0) == "123" && row.getInt(1) == 1, row)
      val changed = ChSql.sql(spark,
        "SELECT name FROM system.settings WHERE changed = 1")
        .collect().map(_.getString(0)).toSet
      assert(changed.contains("max_result_rows"), changed)
    } finally spark.conf.unset("max_result_rows")
  }

  test("system.projections reflects the live registry, not a frozen view") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sysproj").toString + "/t"
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .write.parquet(dir)
    spark.conf.set("spark.graft.projectionDir",
      java.nio.file.Files.createTempDirectory("graft_sysproj_root").toString)
    graft.plans.AggProjections.create(spark, dir, "sys_p",
      Seq("n_regionkey"), Seq(("sum", "n_nationkey")))
    try {
      val rows = ChSql.sql(spark,
        "SELECT name, group_by, aggregates FROM system.projections WHERE name = 'sys_p'")
        .collect()
      assert(rows.length == 1)
      assert(rows.head.getString(1) == "n_regionkey")
      assert(rows.head.getString(2) == "sum(n_nationkey)")
    } finally graft.plans.AggProjections.drop(spark, dir, "sys_p")
    // dropped → the next referencing query sees an empty registry row set
    assert(ChSql.sql(spark,
      "SELECT name FROM system.projections WHERE name = 'sys_p'").collect().isEmpty)
  }

  test("system.tables reflects the live catalog: ATTACH appears, DROP disappears") {
    ChSql.sql(spark,
      "ATTACH TABLE sys_tbl_t (n_nationkey Int32, n_name String) " +
        "ENGINE = MergeTree ORDER BY (n_nationkey) SETTINGS " +
        "disk = disk(type = web, endpoint = '/root/testdata/sf0.001/nation.parquet')")
    val row = ChSql.sql(spark,
      "SELECT engine, sorting_key, origin FROM system.tables WHERE name = 'sys_tbl_t'")
      .collect()
    assert(row.length == 1)
    assert(row.head.getString(0) == "MergeTree")
    assert(row.head.getString(1) == "n_nationkey")
    assert(row.head.getString(2) == "attached")
    ChSql.sql(spark, "DROP TABLE sys_tbl_t")
    assert(ChSql.sql(spark,
      "SELECT name FROM system.tables WHERE name = 'sys_tbl_t'").collect().isEmpty)
  }

  test("query log: fresh sessions touching system.* do not multiply entries") {
    (1 to 4).foreach { _ =>
      ChSql.sql(spark.newSession(), "SELECT dummy FROM system.one").collect()
    }
    spark.sql("SELECT 'logged once'").collect()
    Thread.sleep(500) // listener events are async
    val counts = SystemTables.queryLog(spark).groupBy("execution_id").count()
      .collect().map(_.getLong(1))
    assert(counts.nonEmpty && counts.forall(_ == 1L),
      s"an execution was logged ${counts.max} times")
  }
}
