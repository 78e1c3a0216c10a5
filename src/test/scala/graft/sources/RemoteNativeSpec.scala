package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `remote()` over the native TCP door — loopback proof (VERDICT r17
  * next #3): the engine dials its own port 9000 protocol and reads a
  * catalog table back identically to the local scan. */
class RemoteNativeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val port: Int = {
    graft.core.Catalog.update(graft.core.Catalog.AttachedTable(
      "nation_rspec", "", Nil, Some(s"$dir/nation.parquet")))
    new graft.service.native.NativeServer(spark).start()
  }

  test("address expansion: lists, ranges, default port") {
    assert(RemoteNative.expandAddresses("h1:9000,h2:9440") ==
      Seq(("h1", 9000), ("h2", 9440)))
    assert(RemoteNative.expandAddresses("node{1..3}:9001") ==
      Seq(("node1", 9001), ("node2", 9001), ("node3", 9001)))
    assert(RemoteNative.expandAddresses("solo") == Seq(("solo", 9000)))
  }

  test("address expansion: IPv6 literals, bracketed and bare (ADVICE r18)") {
    assert(RemoteNative.expandAddresses("[::1]:9440") == Seq(("::1", 9440)))
    assert(RemoteNative.expandAddresses("[2001:db8::1]") ==
      Seq(("2001:db8::1", 9000)))
    // a bare IPv6 literal's last hextet is NOT a port
    assert(RemoteNative.expandAddresses("::1") == Seq(("::1", 9000)))
    assert(RemoteNative.expandAddresses("2001:db8::1") ==
      Seq(("2001:db8::1", 9000)))
    assert(RemoteNative.expandAddresses("[::1]:9440,h2:9000") ==
      Seq(("::1", 9440), ("h2", 9000)))
    intercept[IllegalArgumentException] {
      RemoteNative.expandAddresses("[::1")
    }
  }

  test("loopback remote() read matches the local scan") {
    val local = graft.core.Tables.load(spark, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .collect().map(_.toString).sorted.toSeq
    val remote = RemoteNative
      .read(spark, s"127.0.0.1:$port", "default", "nation_rspec")
      .select("n_nationkey", "n_name", "n_regionkey")
      .collect().map(_.toString).sorted.toSeq
    assert(remote == local)
  }

  test("a two-address spec scans each address (shard fan-out topology)") {
    val df = RemoteNative.read(spark,
      s"127.0.0.1:$port,127.0.0.1:$port", "default", "nation_rspec")
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 2 * 25) // both "shards" stream their rows
  }

  test("the SQL spelling FROM remote(…) answers through ChSql") {
    val r = graft.dialect.ChSql.sql(spark,
      s"""SELECT count() AS cnt, sum(n_regionkey) AS s
         |FROM remote('127.0.0.1:$port', default.nation_rspec)""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 25L)
    val localSum = graft.core.Tables.load(spark, dir, "nation")
      .agg(org.apache.spark.sql.functions.sum("n_regionkey")).collect()(0).getLong(0)
    assert(r.getLong(1) == localSum)
  }

  test("reads stream block by block; an abandoned stream (LIMIT) closes cleanly") {
    // register a bigger table so the server frames MULTIPLE data blocks
    graft.core.Catalog.update(graft.core.Catalog.AttachedTable(
      "orders_rspec", "", Nil, Some(s"$dir/orders.parquet")))
    val c = new graft.service.native.NativeClient("127.0.0.1", port)
    try {
      val it = c.queryStream("SELECT o_orderkey FROM orders_rspec")
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      assert(n == graft.core.Tables.load(spark, dir, "orders").count())
    } finally c.close()
    // early exit: a LIMIT abandons the stream mid-read — the task
    // completion listener closes the socket; no hang, fresh reads work
    val few = RemoteNative
      .read(spark, s"127.0.0.1:$port", "default", "orders_rspec")
      .limit(5).collect()
    assert(few.length == 5)
    assert(RemoteNative
      .read(spark, s"127.0.0.1:$port", "default", "nation_rspec")
      .count() == 25L)
  }

  test("(addr, db, table, user, password) form authenticates") {
    // the default door accepts default/'' — the 5-arg spelling parses
    val r = graft.dialect.ChSql.sql(spark,
      s"SELECT count() AS cnt FROM remote('127.0.0.1:$port', 'default', 'nation_rspec', 'default', '')")
      .collect()(0)
    assert(r.getLong(0) == 25L)
  }

  test("write-side federation: INSERT INTO FUNCTION remote(…) SELECT streams rows out") {
    val wh = java.nio.file.Files.createTempDirectory("graft_rw_wh").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    val svc = new graft.service.QueryService(spark)
    try {
      svc.executeToDf(graft.service.QueryService.QueryRequest(
        "CREATE TABLE rw_target (nk Int64, nm String, rk Int64) " +
          "ENGINE = MergeTree ORDER BY nk"))
      // the push spelling: SELECT runs locally, rows land on the
      // "remote" (loopback) server over the native protocol
      val status = svc.executeToDf(graft.service.QueryService.QueryRequest(
        s"""INSERT INTO FUNCTION remote('127.0.0.1:$port', default.rw_target)
           |SELECT n_nationkey AS nk, n_name AS nm, n_regionkey AS rk
           |FROM nation_rspec""".stripMargin))._1.collect()(0)
      assert(status.getLong(2) == 25L, status.toString)
      val back = graft.dialect.ChSql.sql(spark,
        "SELECT count() AS c, sum(rk) AS s FROM rw_target").collect()(0)
      assert(back.getLong(0) == 25L)
      val localSum = graft.core.Tables.load(spark, dir, "nation")
        .agg(org.apache.spark.sql.functions.sum("n_regionkey"))
        .collect()(0).getLong(0)
      assert(back.getLong(1) == localSum)
      // multi-address spec: partitions round-robin, every row lands once
      svc.executeToDf(graft.service.QueryService.QueryRequest(
        s"""INSERT INTO FUNCTION remote('127.0.0.1:$port,127.0.0.1:$port',
           |default.rw_target)
           |SELECT n_nationkey AS nk, n_name AS nm, n_regionkey AS rk
           |FROM nation_rspec""".stripMargin))
      assert(graft.dialect.ChSql.sql(spark,
        "SELECT count() AS c FROM rw_target").collect()(0).getLong(0) == 50L)
      svc.executeToDf(graft.service.QueryService.QueryRequest(
        "DROP TABLE rw_target"))
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("cluster() read spelling resolves to the local table (the session IS the cluster)") {
    val r = graft.dialect.ChSql.sql(spark,
      "SELECT count() AS cnt FROM cluster('graft', default.nation_rspec)")
      .collect()(0)
    assert(r.getLong(0) == 25L)
    val r2 = graft.dialect.ChSql.sql(spark,
      "SELECT count() AS cnt FROM clusterAllReplicas('graft', 'default', 'nation_rspec')")
      .collect()(0)
    assert(r2.getLong(0) == 25L)
  }
}
