package graft.service

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CH quota semantics: interval-windowed budgets admitted before
  * execution, consumption recorded after, QUOTA_EXCEEDED refusals,
  * window roll, user targeting, and the system.quotas introspection. */
class QuotasSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def svc = new QueryService(spark)
  private def run(sql: String) =
    svc.execute(QueryService.QueryRequest(sql))

  private def withCleanQuotas[T](f: => T): T =
    try f finally Quotas.clear()

  test("CREATE QUOTA MAX queries: the N+1th query in the window refuses") {
    withCleanQuotas {
      run("CREATE QUOTA q_test FOR INTERVAL 1 hour MAX queries = 2 TO default")
      run("SELECT 1")
      run("SELECT 2")
      val e = intercept[IllegalArgumentException](run("SELECT 3"))
      assert(e.getMessage.contains("QUOTA_EXCEEDED"), e.getMessage)
      assert(e.getMessage.contains("queries = 3/2"), e.getMessage)
    }
  }

  test("the window ROLLS: a fresh interval admits again") {
    withCleanQuotas {
      run("CREATE QUOTA q_roll FOR INTERVAL 1 second MAX queries = 1")
      run("SELECT 1")
      intercept[IllegalArgumentException](run("SELECT 2"))
      Thread.sleep(1100)
      run("SELECT 3") // new window
    }
  }

  test("read_rows budget meters REAL executor scan counters") {
    withCleanQuotas {
      val dir = java.nio.file.Files.createTempDirectory("graft_quota").toString
      spark.range(10000).selectExpr("id", "id * 2 AS v")
        .write.parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t").createOrReplaceTempView("quota_t")
      run("CREATE QUOTA q_rows FOR INTERVAL 1 hour MAX read_rows = 5000")
      // first query runs (admission sees 0 consumed), records ~10000
      run("SELECT sum(v) AS s FROM quota_t")
      // next admission sees the consumed budget exceeded
      val e = intercept[IllegalArgumentException](run("SELECT 1"))
      assert(e.getMessage.contains("read_rows"), e.getMessage)
    }
  }

  test("errors count toward MAX errors") {
    withCleanQuotas {
      run("CREATE QUOTA q_err FOR INTERVAL 1 hour MAX errors = 0")
      intercept[Exception](run("SELECT broken syntax here FROM"))
      val e = intercept[IllegalArgumentException](run("SELECT 1"))
      assert(e.getMessage.contains("errors"), e.getMessage)
    }
  }

  test("TO targeting: a quota for another user never gates 'default'") {
    withCleanQuotas {
      run("CREATE QUOTA q_other FOR INTERVAL 1 hour MAX queries = 0 TO alice")
      run("SELECT 1") // unaffected
      // and TO ALL applies
      run("CREATE QUOTA q_all FOR INTERVAL 1 hour MAX queries = 1 TO ALL")
      run("SELECT 2")
      intercept[IllegalArgumentException](run("SELECT 3"))
    }
  }

  test("DROP QUOTA lifts the budget; IF [NOT] EXISTS spellings behave") {
    withCleanQuotas {
      run("CREATE QUOTA q_drop FOR INTERVAL 1 hour MAX queries = 1")
      run("SELECT 1")
      intercept[IllegalArgumentException](run("SELECT 2"))
      run("DROP QUOTA q_drop")
      run("SELECT 3")
      intercept[IllegalArgumentException](run("DROP QUOTA q_drop"))
      run("DROP QUOTA IF EXISTS q_drop") // no-op
      run("CREATE QUOTA q_dup FOR INTERVAL 1 hour MAX queries = 100")
      intercept[IllegalArgumentException](
        run("CREATE QUOTA q_dup FOR INTERVAL 1 hour MAX queries = 5"))
      run("CREATE QUOTA IF NOT EXISTS q_dup FOR INTERVAL 1 hour MAX queries = 5")
      // OR REPLACE swaps the budget
      run("CREATE OR REPLACE QUOTA q_dup FOR INTERVAL 1 hour MAX queries = 1")
      run("SELECT 1")
      intercept[IllegalArgumentException](run("SELECT 2"))
    }
  }

  test("quotas gate the native TCP door too, and CREATE/DROP work through it") {
    withCleanQuotas {
      val srv = new graft.service.native.NativeServer(spark)
      val port = srv.start()
      val c = new graft.service.native.NativeClient("127.0.0.1", port)
      try {
        c.exec("CREATE QUOTA q_native FOR INTERVAL 1 hour MAX queries = 1")
        c.query("SELECT 1")
        val e = intercept[Exception](c.query("SELECT 2"))
        assert(e.getMessage.contains("QUOTA_EXCEEDED"), e.getMessage)
        // the conn survives the refusal and quota DDL stays unmetered
        c.exec("DROP QUOTA q_native")
        c.query("SELECT 3")
      } finally { c.close(); srv.stop() }
    }
  }

  test("a QUOTA_EXCEEDED refusal leaks NOTHING: processes stay clean (review r16)") {
    withCleanQuotas {
      run("CREATE QUOTA q_leak FOR INTERVAL 1 hour MAX queries = 1")
      val before = Processes.all.size
      // the streaming path is where the r16 review found the leak
      svc.executeStreamed(QueryService.QueryRequest("SELECT 1")) {
        (_, it) => it.size }
      (1 to 3).foreach { _ =>
        intercept[IllegalArgumentException](
          svc.executeStreamed(QueryService.QueryRequest("SELECT 2")) {
            (_, it) => it.size })
      }
      assert(Processes.all.size == before,
        s"refused queries leaked processes: ${Processes.all.map(_.query)}")
    }
  }

  test("a concurrency-cap refusal never burns quota budget (review r16)") {
    withCleanQuotas {
      run("CREATE QUOTA q_cc FOR INTERVAL 1 hour MAX queries = 2")
      spark.conf.set(Settings.MaxConcurrentQueries.name, "1")
      try {
        // saturate the single slot with a long-running streamed query,
        // then hit the cap: the refusal must not consume the quota
        val gate = new java.util.concurrent.CountDownLatch(1)
        val started = new java.util.concurrent.CountDownLatch(1)
        val t = new Thread(() => {
          svc.executeStreamed(QueryService.QueryRequest(
            "SELECT number FROM numbers(10)")) { (_, it) =>
            started.countDown(); gate.await(); it.size }
        })
        t.start(); started.await()
        val e = intercept[Exception](run("SELECT 1"))
        assert(e.getMessage.contains("TOO_MANY_SIMULTANEOUS_QUERIES") ||
          e.getMessage.toLowerCase.contains("simultaneous"), e.getMessage)
        gate.countDown(); t.join()
        // budget: 1 consumed by the long query; this one must still run
        run("SELECT 2")
      } finally spark.conf.unset(Settings.MaxConcurrentQueries.name)
    }
  }

  test("system.quotas / system.quota_usage introspection") {
    withCleanQuotas {
      run("CREATE QUOTA q_sys FOR INTERVAL 1 hour MAX queries = 50, " +
        "result_rows = 1000 TO default")
      run("SELECT 1")
      val rows = graft.dialect.ChSql.sql(spark,
        "SELECT name, interval_seconds, apply_to, max_queries " +
          "FROM system.quotas").collect()
      assert(rows.map(_.getString(0)).contains("q_sys"))
      val r = rows.find(_.getString(0) == "q_sys").get
      assert(r.getLong(1) == 3600L && r.getString(2) == "default" &&
        r.getString(3) == "50")
      val usage = graft.dialect.ChSql.sql(spark,
        "SELECT quota_name, queries FROM system.quota_usage " +
          "WHERE quota_name = 'q_sys'").collect()
      assert(usage.nonEmpty && usage.head.getLong(1) >= 1L, usage.toSeq)
      // SHOW QUOTAS
      val shown = run("SHOW QUOTAS")
      assert(shown.rows.exists(_.head == "q_sys"), shown.rows)
    }
  }
}
