package graft.service

import org.scalatest.funsuite.AnyFunSuite

import graft.service.native.{NativeClient, NativeServer}

/** The one settings table ([[Settings]]): every declared row lands one
  * normalised value through all four spellings — `SET`, the `SETTINGS`
  * clause, an HTTP URL parameter and the native settings block — and
  * `system.settings` shows it changed; an undeclared name, a value graft
  * does not implement and a deployment key refuse by name at both
  * doors, with their ClickHouse code, and the same session answers next. */
class SettingsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  /** Per declared row (deployment rows refuse): a value as a client
    * sends it, and the spelling the table stores. A new row needs one. */
  private val samples: Seq[(String, String, String)] = Seq(
    ("max_execution_time", "30.50", "30.5"),
    ("max_result_rows", "1000", "1000"),
    ("result_overflow_mode", "BREAK", "break"),
    ("max_insert_block_size", "5000", "5000"),
    ("max_bytes_to_read", "10000000000", "10000000000"),
    ("readonly", "2", "2"),
    ("max_concurrent_queries", "50", "50"),
    ("join_use_nulls", "true", "1"),
    ("aggregate_functions_null_for_empty", "1", "1"),
    ("max_memory_usage", "1000000", "1000000"),
    ("allow_experimental_parallel_reading_from_replicas", "1", "1"),
    ("max_parallel_replicas", "10", "10"),
    ("parallel_replicas_for_non_replicated_merge_tree", "TRUE", "1"),
    ("use_hedged_requests", "true", "1"),
    ("prefer_localhost_replica", "1", "1"),
    ("cluster_for_parallel_replicas", "c1", "c1"),
    ("max_threads", "8", "8"),
    ("max_download_threads", "4", "4"),
    ("max_download_buffer_size", "1048576", "1048576"),
    ("max_bytes_before_external_group_by", "100000000", "100000000"),
    ("log_comment", "a, b", "a, b"),
    ("enable_http_compression", "1", "1"),
    ("wait_end_of_query", "1", "1"),
    ("http_headers_progress_interval_ms", "250", "250"),
    ("spark.graft.aggProjections", "FALSE", "false"),
    ("spark.graft.projectionFingerprintTtlMs", "60000", "60000"),
    ("spark.graft.footerAggregates", "0", "false"),
    ("spark.graft.dictAgg", "false", "false"),
    ("spark.graft.dictAgg.hllGatherBytes", "1048576", "1048576"),
    ("spark.graft.bitmapDistinct", "false", "false"),
    ("spark.graft.bitmapDistinct.denseMaxRange", "1024", "1024"),
    ("spark.graft.hashScan", "false", "false"),
    ("spark.graft.driverMerge.maxTotalRows", "65536", "65536"),
    ("spark.graft.finalTiebreak", "Payload", "payload"),
    ("spark.graft.optimize.targetFileBytes", "1048576", "1048576"),
    ("spark.graft.mergeTreePartRows", "400", "400"),
    ("spark.graft.mergeTreeFs", "hadoop", "hadoop"),
    ("spark.graft.attach.allowEmpty", "1", "true"))

  private def withDoors[A](body: (Int, Int) => A): A = {
    val http = new QueryServer(spark)
    val native = new NativeServer(spark)
    try body(http.start(), native.start())
    finally { native.stop(); http.stop(0L) }
  }

  private val client = java.net.http.HttpClient.newHttpClient()

  private def post(port: Int, params: String,
      sql: String): java.net.http.HttpResponse[String] =
    client.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/?$params"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(sql)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private def shown(name: String) =
    s"SELECT value, changed FROM system.settings WHERE name = '$name'"

  test("samples cover every declared row but the deployment keys") {
    assert(samples.map(_._1).toSet == Settings.all.filter(_.kind != Settings.Deployment)
      .map(_.name).toSet)
  }

  test("every declared row lands one normalised value through SET, SETTINGS, URL and the native block") {
    withDoors { (httpPort, nativePort) =>
      samples.foreach { case (name, sent, stored) =>
        val want = s"$stored\t1\n"
        def tsv(params: String, sql: String): String = {
          val r = post(httpPort, s"default_format=TSV$params", sql)
          assert(r.statusCode() == 200, s"$name: ${r.body()}")
          r.body()
        }
        val sid = s"settings_${name.replace('.', '_')}_${System.nanoTime()}"
        tsv(s"&session_id=$sid", s"SET $name = '$sent'")
        assert(tsv(s"&session_id=$sid", shown(name)) == want, s"$name: SET")
        assert(tsv("", s"${shown(name)} SETTINGS $name = '$sent'") == want,
          s"$name: SETTINGS clause")
        assert(tsv(s"&$name=${enc(sent)}", shown(name)) == want, s"$name: URL")
        val nativeWant = Seq(Seq(stored, 1))
        val c = new NativeClient("127.0.0.1", nativePort)
        try {
          assert(c.query(shown(name), settings = Map(name -> sent)).rows ==
            nativeWant, s"$name: native block")
          assert(c.query(s"${shown(name)} SETTINGS $name = '$sent'").rows ==
            nativeWant, s"$name: native SETTINGS clause")
          c.exec(s"SET ${name.toUpperCase} = '$sent'")
          assert(c.query(shown(name)).rows == nativeWant, s"$name: native SET")
        } finally c.close()
      }
    }
  }

  test("an unknown name, a typo'd switch, an unimplemented value and a deployment key refuse at both doors; the session answers next") {
    // (statement, per-query settings, CH code, words the refusal names)
    val refusals = Seq(
      ("SELECT 1 SETTINGS no_such_setting_xyz = 7", Map.empty[String, String],
        115, Seq("no_such_setting_xyz", "UNKNOWN_SETTING")),
      ("SET spark.graft.hashScn = false", Map.empty[String, String],
        115, Seq("spark.graft.hashScn", "UNKNOWN_SETTING")),
      ("SELECT 1", Map("join_use_nulls" -> "0"),
        36, Seq("join_use_nulls", "BAD_ARGUMENTS")),
      ("SET spark.graft.warehouseDir = '/tmp'", Map.empty[String, String],
        452, Seq("spark.graft.warehouseDir", "SETTING_CONSTRAINT_VIOLATION")))
    withDoors { (httpPort, nativePort) =>
      refusals.foreach { case (sql, settings, code, words) =>
        val sid = "settings_refuse_" + System.nanoTime()
        val url = settings.map { case (k, v) => s"&$k=${enc(v)}" }.mkString
        val r = post(httpPort, s"session_id=$sid$url", sql)
        assert(r.statusCode() == 400, s"$sql: ${r.statusCode()} ${r.body()}")
        assert(r.headers().firstValue("X-ClickHouse-Exception-Code")
          .orElse("") == code.toString, sql)
        words.foreach(w => assert(r.body().contains(w), s"$sql: ${r.body()}"))
        val next = post(httpPort, s"session_id=$sid&default_format=CSV", "SELECT 1")
        assert(next.statusCode() == 200 && next.body() == "1\n", next.body())

        val c = new NativeClient("127.0.0.1", nativePort)
        try {
          val e = intercept[NativeClient.ServerSideException](c.query(sql, settings))
          assert(e.code == code, s"$sql: ${e.code} ${e.getMessage}")
          words.foreach(w => assert(e.getMessage.contains(w), e.getMessage))
          assert(c.query("SELECT 1 AS ok").rows == Seq(Seq(1)))
        } finally c.close()
      }
      // the value graft implements answers
      assert(post(httpPort, "default_format=CSV",
        "SELECT 1 SETTINGS join_use_nulls = 1").body() == "1\n")
    }
  }

  test("the reference's multi-key SET init line stores each key separately") {
    val s = spark.newSession()
    graft.dialect.ChSql.sql(s, "SET allow_experimental_parallel_reading_from_replicas = 1, " +
      "use_hedged_requests = 0, prefer_localhost_replica = 0, max_parallel_replicas = 10, " +
      "cluster_for_parallel_replicas = '{cluster}', " +
      "parallel_replicas_for_non_replicated_merge_tree = 1").collect()
    val changed = graft.dialect.ChSql.sql(s,
        "SELECT name, value FROM system.settings WHERE changed = 1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(changed == Map(
      "allow_experimental_parallel_reading_from_replicas" -> "1",
      "use_hedged_requests" -> "0", "prefer_localhost_replica" -> "0",
      "max_parallel_replicas" -> "10", "cluster_for_parallel_replicas" -> "graft",
      "parallel_replicas_for_non_replicated_merge_tree" -> "1"), changed)
  }
}
