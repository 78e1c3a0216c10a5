package graft.service

import org.scalatest.funsuite.AnyFunSuite

import graft.service.QueryService.QueryRequest

/** Resource governance on the query doors: `max_execution_time`
  * cancels the running job group at the deadline (and the session
  * stays usable), `max_result_rows` bounds results with CH's
  * throw/break overflow modes. */
class GovernanceSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  // ~2e10 hash evaluations — minutes of CPU; the deadline fires first
  // (no arithmetic on `number` — ANSI overflow must not beat the clock)
  private val slowSql =
    "SELECT max(cityHash64(toString(number))) AS h " +
      "FROM numbers(20000000000)"

  private def clear(): Unit =
    Seq(Settings.MaxExecutionTime.name, Settings.MaxResultRows.name,
      Settings.ResultOverflowMode.name).foreach(spark.conf.unset)

  test("max_execution_time kills the query at the deadline; session stays usable") {
    val svc = new QueryService(spark)
    try {
      val started = System.nanoTime()
      val e = intercept[java.util.concurrent.TimeoutException] {
        svc.execute(QueryRequest(s"$slowSql SETTINGS max_execution_time = 1"))
      }
      val elapsedSec = (System.nanoTime() - started) / 1e9
      assert(e.getMessage.contains("TIMEOUT_EXCEEDED"), e.getMessage)
      assert(elapsedSec < 30, s"deadline kill took ${elapsedSec}s")
      clear()
      // job-group cancel killed only that query's jobs
      val ok = svc.execute(QueryRequest("SELECT 1 AS ok"))
      assert(ok.rows == Seq(Seq(1)))
    } finally clear()
  }

  test("deadline fires DURING a driver-merge overflow fallback: kill lands, session survives (r18)") {
    // VERDICT r17 "wrong" #2: DriverMergeAggExec's overflow fallback
    // submits a SECOND job — a deadline cancel that lands between the
    // overflowing partial job and the fallback job must still kill the
    // query (cancelJobGroupAndFutureJobs poisons the per-query group).
    import graft.plans.DriverMerge
    val fallbackStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      // cap of 16 groups/partition: GROUP BY l_orderkey (hundreds of
      // groups) overflows the partial immediately and takes the
      // fallback path with the driver merge ENGAGED
      spark.conf.set(graft.service.Settings.DriverMergeMaxTotalRows.name, "16")
      spark.conf.set(Settings.MaxExecutionTime.name, "1")
      // stretch the fallback window past the 1 s deadline so the cancel
      // deterministically lands while the fallback is in flight
      DriverMerge.onFallbackStart = () => {
        fallbackStarted.set(true)
        Thread.sleep(2500)
      }
      val completedBefore = DriverMerge.fallbacksCompleted.get()
      graft.core.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
        .createOrReplaceTempView("gov_fallback_li")
      val e = intercept[java.util.concurrent.TimeoutException] {
        new QueryService(spark).execute(QueryRequest(
          "SELECT l_orderkey, sum(l_quantity) AS s FROM gov_fallback_li " +
            "GROUP BY l_orderkey"))
      }
      assert(e.getMessage.contains("TIMEOUT_EXCEEDED"), e.getMessage)
      assert(fallbackStarted.get(),
        "the overflow fallback never engaged — the test lost its premise")
      // the kill LANDED: the fallback's own job died instead of running
      // ungoverned to completion after the deadline
      Thread.sleep(3500) // let the orphaned worker thread finish failing
      assert(DriverMerge.fallbacksCompleted.get() == completedBefore,
        "fallback ran to clean completion PAST the deadline — kill did not land")
    } finally {
      DriverMerge.onFallbackStart = () => ()
      spark.conf.unset(graft.service.Settings.DriverMergeMaxTotalRows.name)
      spark.catalog.dropTempView("gov_fallback_li")
      clear()
    }
    // the session survives the mid-fallback kill
    val ok = new QueryService(spark).execute(QueryRequest("SELECT 1 AS ok"))
    assert(ok.rows == Seq(Seq(1)))
  }

  test("max_result_rows: throw errors, break truncates (limit reaches the plan)") {
    val svc = new QueryService(spark)
    try {
      spark.conf.set(Settings.MaxResultRows.name, "10")
      val e = intercept[IllegalArgumentException] {
        svc.execute(QueryRequest(
          "SELECT number FROM numbers(100) ORDER BY number"))
      }
      assert(e.getMessage.contains("TOO_MANY_ROWS"), e.getMessage)
      spark.conf.set(Settings.ResultOverflowMode.name, "break")
      val r = svc.execute(QueryRequest(
        "SELECT number FROM numbers(100) ORDER BY number"))
      assert(r.rows.size == 10)
      assert(r.rows.map(_.head) == (0L until 10L).toSeq)
      // under the limit: untouched
      val small = svc.execute(QueryRequest(
        "SELECT number FROM numbers(3) ORDER BY number"))
      assert(small.rows.size == 3)
    } finally clear()
  }

  test("the deadline also governs write statements (runaway INSERT SELECT)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_gov_write").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    val svc = new QueryService(spark)
    try {
      svc.execute(QueryRequest(
        "CREATE TABLE gov_w (h Int64) ENGINE = MergeTree ORDER BY h"))
      spark.conf.set(Settings.MaxExecutionTime.name, "1")
      val started = System.nanoTime()
      val e = intercept[java.util.concurrent.TimeoutException] {
        svc.execute(QueryRequest(
          "INSERT INTO gov_w SELECT CAST(cityHash64(toString(number)) " +
            "AS BIGINT) AS h FROM numbers(20000000000)"))
      }
      val elapsedSec = (System.nanoTime() - started) / 1e9
      assert(e.getMessage.contains("TIMEOUT_EXCEEDED"), e.getMessage)
      assert(elapsedSec < 60, s"write deadline kill took ${elapsedSec}s")
      clear()
      // the cancelled write is a crashed write: the table stays
      // consistent (no committed rows from the killed insert)
      val n = svc.execute(QueryRequest("SELECT count() AS n FROM gov_w"))
      assert(n.rows == Seq(Seq(0L)), n.rows)
      svc.execute(QueryRequest("DROP TABLE gov_w"))
    } finally {
      clear()
      spark.conf.unset(graft.service.Settings.WarehouseDir.name)
    }
  }

  test("native door: the Cancel packet stops the running query (EndOfStream), conn usable after") {
    val native = new graft.service.native.NativeServer(spark)
    val port = native.start()
    try {
      val c = new graft.service.native.NativeClient("127.0.0.1", port)
      try {
        val started = System.nanoTime()
        c.queryAsync(slowSql)
        Thread.sleep(500)
        c.cancel() // clickhouse-go's ctx-cancellation path
        val r = c.awaitResult() // CH answers EndOfStream, no data
        val elapsedSec = (System.nanoTime() - started) / 1e9
        assert(r.rows.isEmpty, r.rows)
        assert(elapsedSec < 30, s"cancel took ${elapsedSec}s")
        val ok = c.query("SELECT 1 AS ok")
        assert(ok.rows == Seq(Seq(1)))
      } finally c.close()
    } finally native.stop()
  }

  test("max_bytes_to_read refuses an oversized scan BEFORE running it; max_memory_usage accepted, not a scan gate") {
    val svc = new QueryService(spark)
    try {
      // a query that must actually SCAN (sum isn't footer-answerable;
      // a bare count() is metadata-served and rightly costs ~nothing):
      // lineitem sf0.001 is ~115 KB, so a 1 KB budget refuses on the
      // estimate before any job runs
      val scanQ = "SELECT sum(l_quantity) AS n FROM " +
        "parquet.`/root/testdata/sf0.001/lineitem.parquet`"
      spark.conf.set(Settings.MaxBytesToRead.name, "1024")
      val e = intercept[IllegalArgumentException] {
        svc.execute(QueryRequest(scanQ))
      }
      assert(e.getMessage.contains("TOO_MANY_BYTES"), e.getMessage)
      // a bare count() stays metadata-served under the same budget —
      // the gate prices the plan's real scan, not the table size
      val cnt = svc.execute(QueryRequest("SELECT count() AS n FROM " +
        "parquet.`/root/testdata/sf0.001/lineitem.parquet`"))
      assert(cnt.rows == Seq(Seq(6000L)), cnt.rows)
      // a generous budget lets the scan run
      spark.conf.set(Settings.MaxBytesToRead.name, "1000000000")
      val ok = svc.execute(QueryRequest(scanQ))
      assert(ok.rows.nonEmpty)
      spark.conf.unset(Settings.MaxBytesToRead.name)
      // max_memory_usage is ACCEPTED but does NOT gate the scan (r15,
      // ADVICE: CH's RAM cap is routinely far below a legitimate scan
      // size — aliasing it to the bytes-READ gate refused mainstream
      // workloads CH runs fine)
      spark.conf.set(Settings.MaxMemoryUsage.name, "1024")
      val memOk = svc.execute(QueryRequest(scanQ))
      assert(memOk.rows.nonEmpty)
      spark.conf.unset(Settings.MaxMemoryUsage.name)
      // stats-less leaves (defaultSizeInBytes) are SKIPPED from the
      // estimate — a temp view over local data must not refuse under a
      // budget its real file scan fits (r15, ADVICE: defaultSizeInBytes
      // is Long.MaxValue, which refused every such query)
      import spark.implicits._
      Seq(1, 2, 3).toDF("x").createOrReplaceTempView("gov_local_v")
      spark.conf.set(Settings.MaxBytesToRead.name, "1000000000")
      val lv = svc.execute(QueryRequest("SELECT sum(x) AS s FROM gov_local_v"))
      assert(lv.rows == Seq(Seq(6L)), lv.rows)
      spark.catalog.dropTempView("gov_local_v")
      spark.conf.unset(Settings.MaxBytesToRead.name)
      // the budget also governs WRITE-driving scans (review r14: the
      // gate only fired at result iteration, so INSERT … SELECT / CTAS
      // bypassed it)
      spark.conf.set(Settings.MaxBytesToRead.name, "1024")
      val wh = java.nio.file.Files.createTempDirectory("graft_gov_scan").toString
      spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
      try {
        val e3 = intercept[IllegalArgumentException] {
          svc.execute(QueryRequest(
            "CREATE TABLE gov_scan ENGINE = MergeTree ORDER BY (q) AS " +
              "SELECT l_quantity AS q FROM " +
              "parquet.`/root/testdata/sf0.001/lineitem.parquet`"))
        }
        assert(e3.getMessage.contains("TOO_MANY_BYTES"), e3.getMessage)
        // CREATE VIEW is lazy zero-scan DDL — it must NOT trip the
        // budget (round-2 review finding: the gate inside the shared
        // select helper refused view creation too)
        val v = svc.execute(QueryRequest(
          "CREATE VIEW gov_scan_view AS SELECT l_quantity FROM " +
            "parquet.`/root/testdata/sf0.001/lineitem.parquet`"))
        assert(v.rows.nonEmpty)
        svc.execute(QueryRequest("DROP VIEW gov_scan_view"))
      } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
    } finally {
      Seq(Settings.MaxBytesToRead.name, Settings.MaxMemoryUsage.name)
        .foreach(spark.conf.unset)
      clear()
    }
  }

  test("native door: max_result_rows governs the STREAM (throw mid-stream, break truncates)") {
    val native = new graft.service.native.NativeServer(spark)
    val port = native.start()
    try {
      val c = new graft.service.native.NativeClient("127.0.0.1", port)
      try {
        // throw (CH's default): the limit+1 plan bound detects the
        // overflow during streaming and the Exception frame ends the
        // stream — the client may already hold maxRows rows, as in CH
        val e = intercept[graft.service.native.NativeClient.ServerSideException] {
          c.query("SELECT number FROM numbers(100000)",
            settings = Map("max_result_rows" -> "10"))
        }
        assert(e.getMessage.contains("TOO_MANY_ROWS"), e.getMessage)
        // break: the stream ends cleanly at the limit
        val r = c.query("SELECT number FROM numbers(100000)",
          settings = Map("max_result_rows" -> "10",
            "result_overflow_mode" -> "break"))
        assert(r.rows.size == 10, r.rows.size)
        // the settings blocks ended with their queries
        val ok = c.query("SELECT number FROM numbers(100)")
        assert(ok.rows.size == 100, ok.rows.size)
      } finally c.close()
    } finally native.stop()
  }

  test("native door: deadline kill arrives as TIMEOUT_EXCEEDED code 159, conn usable after") {
    val native = new graft.service.native.NativeServer(spark)
    val port = native.start()
    try {
      val c = new graft.service.native.NativeClient("127.0.0.1", port)
      try {
        val e = intercept[graft.service.native.NativeClient.ServerSideException] {
          c.query(slowSql, settings = Map("max_execution_time" -> "1"))
        }
        assert(e.code == graft.service.native.NativeProtocol.ErrTimeoutExceeded,
          s"${e.code}: ${e.getMessage}")
        assert(e.getMessage.contains("TIMEOUT_EXCEEDED"), e.getMessage)
        // the connection survives and the session still answers
        val ok = c.query("SELECT 1 AS ok",
          settings = Map("max_execution_time" -> "0"))
        assert(ok.rows == Seq(Seq(1)))
      } finally c.close()
    } finally native.stop()
  }

  test("readonly: level 1 refuses writes and SETs; level 2 allows SETs but not writes or SET readonly") {
    val svc = new QueryService(spark)
    try {
      spark.conf.set(Settings.Readonly.name, "1")
      val e1 = intercept[IllegalArgumentException] {
        svc.execute(QueryRequest(
          "CREATE TABLE ro_t (id Int64) ENGINE = MergeTree ORDER BY id"))
      }
      assert(e1.getMessage.contains("READONLY"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        svc.execute(QueryRequest("SET max_result_rows = 10"))
      }
      assert(e2.getMessage.contains("READONLY"), e2.getMessage)
      // reads still answer
      assert(svc.execute(QueryRequest("SELECT 1 AS x")).rows == Seq(Seq(1)))
      // a write hidden in INIT queries (behind a comment) refuses too
      val e3 = intercept[IllegalArgumentException] {
        svc.execute(QueryRequest("SELECT 1 AS x",
          initQueries = Seq("/*c*/ DROP TABLE nope")))
      }
      assert(e3.getMessage.contains("READONLY"), e3.getMessage)
      // level 2: CH's GET-mode semantics — settings may change…
      spark.conf.set(Settings.Readonly.name, "2")
      svc.execute(QueryRequest("SET max_result_rows = 0"))
      spark.conf.unset(Settings.MaxResultRows.name)
      // …but readonly itself is protected and writes still refuse
      val e4 = intercept[IllegalArgumentException] {
        svc.execute(QueryRequest("SET readonly = 0"))
      }
      assert(e4.getMessage.contains("protected"), e4.getMessage)
      // a comment inside the SET cannot hide the protected name: the
      // guard classifies the comment-stripped text dispatch runs
      Seq("SET /* c */ readonly = 0", "SET readonly -- c\n= 0",
          "# note\nSET `readonly`/**/= 0").foreach { q =>
        val e = intercept[IllegalArgumentException] {
          svc.execute(QueryRequest(q))
        }
        assert(e.getMessage.contains("protected"), s"$q: ${e.getMessage}")
      }
      assert(spark.conf.get(Settings.Readonly.name) == "2")
      val e5 = intercept[IllegalArgumentException] {
        svc.execute(QueryRequest("INSERT INTO whatever VALUES (1)"))
      }
      assert(e5.getMessage.contains("READONLY"), e5.getMessage)
    } finally {
      spark.conf.unset(Settings.Readonly.name)
      clear()
    }
  }

  test("max_concurrent_queries refuses at the cap (TOO_MANY_SIMULTANEOUS_QUERIES)") {
    val svc = new QueryService(spark)
    spark.conf.set(Settings.MaxConcurrentQueries.name, "1")
    Processes.register(Processes.Proc("gov-conc-dummy", "SELECT 1",
      "default", "sql", System.currentTimeMillis(), "gov-conc-group", spark))
    try {
      val e = intercept[IllegalArgumentException] {
        svc.execute(QueryRequest("SELECT 1 AS x"))
      }
      assert(e.getMessage.contains("TOO_MANY_SIMULTANEOUS_QUERIES"),
        e.getMessage)
    } finally {
      Processes.unregister("gov-conc-dummy")
    }
    // back under the cap: the same query answers
    try assert(svc.execute(QueryRequest("SELECT 1 AS x")).rows == Seq(Seq(1)))
    finally {
      spark.conf.unset(Settings.MaxConcurrentQueries.name)
      clear()
    }
  }

  private def withNative[A](body: graft.service.native.NativeClient => A): A = {
    val srv = new graft.service.native.NativeServer(spark)
    val port = srv.start()
    try {
      val c = new graft.service.native.NativeClient("127.0.0.1", port)
      try body(c) finally c.close()
    } finally srv.stop()
  }

  private def withHttp[A](body: Int => A): A = {
    val srv = new QueryServer(spark)
    val port = srv.start()
    try body(port) finally srv.stop(0L)
  }

  private val http = java.net.http.HttpClient.newHttpClient()

  private def post(port: Int, params: String,
      sql: String): java.net.http.HttpResponse[String] =
    http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/?$params"))
        .timeout(java.time.Duration.ofSeconds(40))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(sql)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())

  /** `body`'s answer, or a failure once `sec` seconds pass without one. */
  private def within[A](sec: Int)(body: => A): A = {
    import scala.concurrent.ExecutionContext.Implicits.global
    scala.concurrent.Await.result(scala.concurrent.Future(body),
      scala.concurrent.duration.Duration(sec, "s"))
  }

  test("a statement's SETTINGS deadline is enforced at both doors; the session answers after") {
    val timed = s"$slowSql SETTINGS max_execution_time = 1"
    withHttp { port =>
      val sid = "gov_deadline_" + System.nanoTime()
      val started = System.nanoTime()
      val r = post(port, s"session_id=$sid", timed)
      val elapsedSec = (System.nanoTime() - started) / 1e9
      assert(r.statusCode() != 200 && r.body().contains("TIMEOUT_EXCEEDED"),
        s"${r.statusCode()}: ${r.body()}")
      assert(elapsedSec < 30, s"deadline kill took ${elapsedSec}s")
      val ok = post(port, s"session_id=$sid&default_format=CSV", "SELECT 1")
      assert(ok.statusCode() == 200 && ok.body() == "1\n", ok.body())
    }
    withNative { c =>
      val e = within(40) {
        intercept[graft.service.native.NativeClient.ServerSideException] {
          c.query(timed)
        }
      }
      assert(e.code == graft.service.native.NativeProtocol.ErrTimeoutExceeded,
        s"${e.code}: ${e.getMessage}")
      assert(e.getMessage.contains("TIMEOUT_EXCEEDED"), e.getMessage)
      assert(c.query("SELECT 1 AS ok").rows == Seq(Seq(1)))
    }
  }

  test("per-query settings end with their query at both doors; a SET persists") {
    val all = "SELECT number FROM numbers(100)"
    val clause = s"$all SETTINGS max_result_rows = 5, result_overflow_mode = 'break'"
    withNative { c =>
      // the Query packet's settings block
      assert(c.query(all, Map("max_result_rows" -> "10",
        "result_overflow_mode" -> "break")).rows.size == 10)
      assert(c.query(all).rows.size == 100)
      // the statement's trailing SETTINGS clause
      assert(c.query(clause).rows.size == 5)
      assert(c.query(all).rows.size == 100)
      // a SET statement stays on the connection's session (CH semantics)
      c.exec("SET max_result_rows = 5")
      c.exec("SET result_overflow_mode = 'break'")
      assert(c.query(all).rows.size == 5)
      assert(c.query(all).rows.size == 5)
    }
    withHttp { port =>
      val sid = "gov_scope_" + System.nanoTime()
      def rows(params: String, sql: String): Int = {
        val r = post(port, s"session_id=$sid&default_format=TSV$params", sql)
        assert(r.statusCode() == 200, r.body())
        r.body().linesIterator.size
      }
      // the SETTINGS clause on a pinned session
      assert(rows("", clause) == 5)
      assert(rows("", all) == 100)
      // URL params on a pinned session
      assert(rows("&max_result_rows=5&result_overflow_mode=break", all) == 5)
      assert(rows("", all) == 100)
      // a SET statement stays on the pinned session
      rows("", "SET max_result_rows = 5")
      rows("", "SET result_overflow_mode = 'break'")
      assert(rows("", all) == 5)
      assert(rows("", all) == 5)
    }
  }

  // CH's own spelling of a SET value is a quoted literal
  private val quotedSets =
    Seq("SET result_overflow_mode = 'break'", "SET max_result_rows = '5'")

  test("native door: a quoted SET value takes effect unquoted on the connection") {
    withNative { c =>
      quotedSets.foreach(c.exec(_))
      assert(c.query("SELECT number FROM numbers(100)").rows.size == 5)
    }
  }

  test("HTTP door: a quoted SET value takes effect unquoted on a pinned session") {
    withHttp { port =>
      val sid = "gov_quoted_set_" + System.nanoTime()
      quotedSets.foreach { q =>
        val r = post(port, s"session_id=$sid", q)
        assert(r.statusCode() == 200, s"$q: ${r.body()}")
      }
      val r = post(port, s"session_id=$sid&default_format=TSV",
        "SELECT number FROM numbers(100)")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().linesIterator.size == 5, r.body())
    }
  }

  // a SET that poisoned its session: every later query failed with
  // the stored value's NumberFormatException
  private val all100 = "SELECT number FROM numbers(100)"

  test("a multi-key SET applies each key at both doors") {
    val set = "SET max_result_rows = 5, result_overflow_mode = 'break'"
    withNative { c =>
      c.exec(set)
      assert(c.query(all100).rows.size == 5)
    }
    withHttp { port =>
      val sid = "gov_multi_set_" + System.nanoTime()
      val r = post(port, s"session_id=$sid", set)
      assert(r.statusCode() == 200, r.body())
      val five = post(port, s"session_id=$sid&default_format=TSV", all100)
      assert(five.statusCode() == 200 && five.body().linesIterator.size == 5,
        five.body())
    }
  }

  /** `q` refuses naming `name` and its bad value `abc` — not a raw
    * NumberFormatException — and the same connection or pinned session
    * answers next. */
  private def refusesBadValue(q: String, name: String): Unit = {
    withNative { c =>
      val e = intercept[graft.service.native.NativeClient.ServerSideException](
        c.query(q))
      assert(e.getMessage.contains(name) && e.getMessage.contains("abc") &&
        !e.getMessage.contains("NumberFormatException"), e.getMessage)
      assert(c.query("SELECT 1 AS ok").rows == Seq(Seq(1)))
    }
    withHttp { port =>
      val sid = "gov_bad_value_" + System.nanoTime()
      val r = post(port, s"session_id=$sid", q)
      assert(r.statusCode() == 400 && r.body().contains(name) &&
        r.body().contains("abc") &&
        !r.body().contains("NumberFormatException"), r.body())
      val ok = post(port, s"session_id=$sid&default_format=CSV", "SELECT 1")
      assert(ok.statusCode() == 200 && ok.body() == "1\n", ok.body())
    }
  }

  test("SET max_execution_time = abc refuses by name at both doors; the session answers next") {
    refusesBadValue("SET max_execution_time = abc", "max_execution_time")
  }

  test("SETTINGS max_result_rows = abc refuses by name at both doors; the session answers next") {
    refusesBadValue("SELECT 1 SETTINGS max_result_rows = abc", "max_result_rows")
  }

  test("a table's engine SETTINGS are not query settings: ATTACH … SETTINGS disk = disk(…) runs at both doors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gov_attach").toString + "/t"
    spark.range(3).toDF("id").write.parquet(dir)
    def attach(name: String) = s"ATTACH TABLE $name (id Int64) ENGINE = MergeTree " +
      s"ORDER BY (id) SETTINGS disk = disk(type = local, endpoint = '$dir')"
    withNative { c =>
      c.exec(attach("gov_attach_native"))
      assert(c.query("SELECT count() FROM gov_attach_native").rows == Seq(Seq(3L)))
    }
    withHttp { port =>
      val r = post(port, "", attach("gov_attach_http"))
      assert(r.statusCode() == 200, r.body())
      assert(post(port, "default_format=CSV",
        "SELECT count() FROM gov_attach_http").body() == "3\n")
    }
  }
}
