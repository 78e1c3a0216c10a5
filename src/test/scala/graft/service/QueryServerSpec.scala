package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end service-shell test (VERDICT r7 missing #2): the
  * reference's only public HTTP surface is `GET /hc`
  * (`http_server/http_server.go:50`) plus the internal `/metrics`
  * server (`observability/internal_http.go:22`); `/query` carries the
  * QueryExecutorInput/Output envelope. */
class QueryServerSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private lazy val port = new QueryServer(spark).start()
  private val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /hc answers 200 ok (the reference's health reply verbatim)") {
    val r = get("/hc")
    assert(r.statusCode() == 200)
    assert(r.body() == "ok")
  }

  test("POST /query runs the full envelope: init queries + dialect SQL → cols/types/rows") {
    val r = post("/query",
      """{"query": "SELECT count() AS cnt, uniqExact(n_regionkey) AS regions FROM nation_srv",
        | "init_queries": [
        |   "ATTACH TABLE nation_srv (n_nationkey Int32, n_name String, n_regionkey Int32) ENGINE = MergeTree ORDER BY (n_nationkey) SETTINGS disk = disk(type = web, endpoint = '/root/testdata/sf0.001/nation.parquet')",
        |   "SET spark.sql.shuffle.partitions=4"
        | ]}""".stripMargin)
    assert(r.statusCode() == 200)
    assert(r.body() ==
      """{"cols":["cnt","regions"],"types":["bigint","bigint"],"rows":[[25,5]],"settings":{}}""")
  }

  test("analysis errors are the caller's fault: 400 with the message") {
    val r = post("/query", """{"query": "SELECT nope FROM missing_table"}""")
    assert(r.statusCode() == 400)
    assert(r.body().contains("error"))
  }

  test("malformed JSON and missing query field → 400") {
    assert(post("/query", "{not json").statusCode() == 400)
    val r = post("/query", """{"init_queries": []}""")
    assert(r.statusCode() == 400)
    assert(r.body().contains("query"))
  }

  test("GET /metrics exposes Prometheus counters that move") {
    val before = get("/metrics")
    assert(before.statusCode() == 200)
    assert(before.body().contains("graft_queries_total"))
    post("/query", """{"query": "SELECT 1 AS one"}""")
    val after = get("/metrics").body()
    val total = after.linesIterator
      .find(_.startsWith("graft_queries_total")).get.split(" ")(1).toLong
    assert(total >= 1L)
    assert(after.contains("graft_query_errors_total"))
    assert(after.contains("graft_query_seconds_total"))
  }

  test("GET on /query is rejected with 405") {
    assert(get("/query").statusCode() == 405)
  }

  test("X-Request-Id round-trips; absent one is generated (custom_context.go contract)") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
        .header("X-Request-Id", "req-abc-123")
        .POST(HttpRequest.BodyPublishers.ofString("""{"query": "SELECT 1 AS one"}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("X-Request-Id").orElse("") == "req-abc-123")
    // no caller ID → server generates one (non-empty, echoed)
    val gen = post("/query", """{"query": "SELECT 1 AS one"}""")
    assert(gen.headers().firstValue("X-Request-Id").orElse("").nonEmpty)
  }

  test("CORS: every response allows *, preflight answers 204 (http_server.go:46 posture)") {
    val r = get("/hc")
    assert(r.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    val pre = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(pre.statusCode() == 204)
    assert(pre.headers().firstValue("Access-Control-Allow-Methods").orElse("").contains("POST"))
  }

  test("stop() drains an in-flight query before the listener dies (http_server.go:87-90)") {
    val srv = new QueryServer(spark)
    val p = srv.start()
    // a query slow enough to still be running when stop() is called:
    // a heavy self-join aggregation on numbers()
    val fut = new java.util.concurrent.CompletableFuture[HttpResponse[String]]()
    val t = new Thread(() => fut.complete(client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT count() AS n FROM (SELECT a.number FROM numbers(2000000) a, numbers(30) b)"}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())))
    t.start()
    // give the request time to arrive and start executing
    Thread.sleep(400)
    srv.stop(drainMs = 60000L)
    // the in-flight query produced its full response despite the stop
    val r = fut.get(60, java.util.concurrent.TimeUnit.SECONDS)
    assert(r.statusCode() == 200)
    assert(r.body().contains("60000000"))
    // and the listener is down now
    intercept[Exception] {
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/hc")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    }
  }

  test("journal: a request with no recorded response replays on next start (rerun) or is reported") {
    val dir = java.nio.file.Files.createTempDirectory("graft_journal").toString
    // simulate a process killed mid-query: the journal holds an accepted
    // entry with no completion — exactly what record()-without-complete()
    // leaves behind (the in-process spelling of kill -9 between them)
    val j = new QueryJournal(dir)
    j.record("dead-1", QueryService.QueryRequest("SELECT 41 + 1 AS answer"))
    assert(j.unfinished().size == 1)

    // report mode: surfaced, left in place
    val reporter = new QueryServer(spark, journalDir = Some(dir), recover = "report")
    val rp = reporter.start()
    val rm = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$rp/metrics")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    assert(rm.linesIterator.exists(_.startsWith("graft_journal_unfinished_at_start 1")))
    reporter.stop(0)
    assert(j.unfinished().size == 1, "report mode must leave the entry in place")

    // rerun mode: replayed before the listener binds, then cleared
    val rerunner = new QueryServer(spark, journalDir = Some(dir), recover = "rerun")
    val rr = rerunner.start()
    val mm = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$rr/metrics")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    assert(mm.linesIterator.exists(_.startsWith("graft_journal_recovered_total 1")))
    assert(j.unfinished().isEmpty, "rerun mode must clear the replayed entry")

    // a served request journals transiently: nothing remains after the
    // response (completion is recorded), so a clean shutdown leaves an
    // empty journal
    val ok = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$rr/query"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"query": "SELECT 1 AS one"}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(ok.statusCode() == 200)
    assert(j.unfinished().isEmpty)
    rerunner.stop(0)
  }

  test("trailing FORMAT shapes the response body (golden per format)") {
    val q = "SELECT n_name, n_nationkey FROM nation_fmt " +
      "WHERE n_nationkey < 2 ORDER BY n_nationkey"
    val attach = "ATTACH TABLE nation_fmt (n_nationkey Int32, n_name String, " +
      "n_regionkey Int32) ENGINE = MergeTree ORDER BY (n_nationkey) SETTINGS " +
      "disk = disk(type = web, endpoint = '/root/testdata/sf0.001/nation.parquet')"
    def run(fmt: String): HttpResponse[String] = post("/query",
      s"""{"query": "$q FORMAT $fmt", "init_queries": ["$attach"]}""")
    val nd = run("JSONEachRow")
    assert(nd.statusCode() == 200)
    assert(nd.headers().firstValue("Content-Type").orElse("") == "application/x-ndjson")
    assert(nd.body() ==
      "{\"n_name\":\"NATION_0\",\"n_nationkey\":0}\n{\"n_name\":\"NATION_1\",\"n_nationkey\":1}\n")
    val csv = run("CSVWithNames")
    assert(csv.headers().firstValue("Content-Type").orElse("") == "text/csv")
    assert(csv.body() == "\"n_name\",\"n_nationkey\"\n\"NATION_0\",0\n\"NATION_1\",1\n")
    assert(run("CSV").body() == "\"NATION_0\",0\n\"NATION_1\",1\n")
    val tsv = run("TSVWithNames")
    assert(tsv.body() == "n_name\tn_nationkey\nNATION_0\t0\nNATION_1\t1\n")
    val pretty = run("Pretty")
    assert(pretty.body() ==
      "┌─n_name───┬─n_nationkey─┐\n" +
      "│ NATION_0 │           0 │\n" +
      "│ NATION_1 │           1 │\n" +
      "└──────────┴─────────────┘\n")
    // FORMAT before SETTINGS is legal CH too; JSON keeps the envelope
    val js = post("/query",
      s"""{"query": "$q FORMAT JSON SETTINGS max_threads=4", "init_queries": ["$attach"]}""")
    assert(js.body().startsWith("{\"cols\":[\"n_name\",\"n_nationkey\"]"))
    // Null executes and returns nothing (CH's benchmarking format);
    // Values and Vertical are the other client staples
    val nul = run("Null")
    assert(nul.statusCode() == 200 && nul.body() == "")
    assert(run("Values").body() == "('NATION_0',0),('NATION_1',1)\n")
    val vert = run("Vertical").body()
    assert(vert.startsWith("Row 1:\n") && vert.contains("n_name:      NATION_0"))
    // unknown format = caller's fault, refused BEFORE execution
    // (Arrow became a real format in r15 — ORC stays unknown)
    assert(run("ORC").statusCode() == 400)
  }

  test("raw door binds ?param_<name>= into {name:Type} placeholders (CH's HTTP parameters)") {
    val r = post("/?param_n=3&param_tag=keep&default_format=CSV",
      "SELECT number FROM numbers({n:UInt64}) " +
        "WHERE {tag:String} = 'keep' ORDER BY number")
    assert(r.statusCode() == 200, r.body())
    assert(r.body() == "0\n1\n2\n", r.body())
    // an unbound placeholder is the caller's fault
    val bad = post("/?param_x=1", "SELECT {y:UInt8} AS v")
    assert(bad.statusCode() == 400, bad.body())
    assert(bad.body().contains("no bound value"), bad.body())
  }

  test("raw ClickHouse HTTP door: POST / with SQL body + default_format drives run.sh:17's statement") {
    // the reference's PoC statement (run.sh:17) against a locally
    // served aapl_stock.csv — same rows ReferenceCorpusSpec uses
    val dir = java.nio.file.Files.createTempDirectory("graft_raw_door").toFile
    val aapl = ("Date,Open,High,Low,Close,Volume" +:
      (0 until 10).map(i =>
        s"2021-01-${i + 10},130.$i,131.$i,129.$i,130.${i + 1},${1000000 + i}"))
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "aapl_stock.csv").toPath, aapl)
    val csvPort = graft.sources.StaticHttp.serve(dir.toString)
    val sql = "select Date, Volume from urlCluster('randomclustername', " +
      s"'http://127.0.0.1:$csvPort/aapl_stock.csv', 'CSVWithNames') " +
      "ORDER BY Date LIMIT 2"
    // curl shape: POST / with the SQL as the body, format via param
    val r = post("/?default_format=CSVWithNames", sql)
    assert(r.statusCode() == 200, r.body())
    assert(r.headers().firstValue("Content-Type").orElse("") == "text/csv")
    assert(r.body() ==
      "\"Date\",\"Volume\"\n\"2021-01-10\",1000000\n\"2021-01-11\",1000001\n")
    // a statement-level FORMAT wins over default_format (CH precedence)
    val nd = post("/?default_format=CSVWithNames", sql + " FORMAT JSONEachRow")
    assert(nd.body() ==
      "{\"Date\":\"2021-01-10\",\"Volume\":1000000}\n" +
        "{\"Date\":\"2021-01-11\",\"Volume\":1000001}\n")
    // no format anywhere → CH's HTTP default, TabSeparated
    assert(post("/", "SELECT 41 + 1 AS x").body() == "42\n")
    // GET / with no query is CH's root banner; ?query= executes on GET
    assert(get("/").body() == "Ok.\n")
    assert(get("/?query=" + java.net.URLEncoder.encode(
      "SELECT 41 + 1 AS x FORMAT CSV", "UTF-8")).body() == "42\n")
    // unknown default_format refuses before execution; errors are
    // PLAIN TEXT on this door (CH convention), not the JSON envelope
    assert(post("/?default_format=ORC", "SELECT 1").statusCode() == 400)
    val err = post("/", "SELECT nope FROM missing_table")
    assert(err.statusCode() == 400)
    assert(err.headers().firstValue("Content-Type").orElse("").startsWith("text/plain"))
    assert(!err.body().startsWith("{"))
    // the structured routes still win the longest-prefix match
    assert(get("/hc").body() == "ok")
    // CH's /ping handle; unknown paths are 404 like CH, never a
    // catch-all 200 (review finding: typo'd health probes, bodies
    // executed on typo'd routes)
    assert(get("/ping").body() == "Ok.\n")
    val nf = get("/healthz")
    assert(nf.statusCode() == 404 && nf.body().contains("no handle"))
    assert(post("/queri", "SELECT 1").statusCode() == 404)
    // GET is READ-ONLY, as in CH's HTTP interface: a write over
    // ?query= refuses so proxy retries/prefetches can't re-execute it
    val ro = get("/?query=" + java.net.URLEncoder.encode(
      "TRUNCATE TABLE nothing", "UTF-8"))
    assert(ro.statusCode() == 400 && ro.body().contains("readonly"))
    // …and the classifier sees THROUGH leading comments/parens/semis —
    // a prefix-only regex let /*x*/DROP execute over GET (advisor r11)
    for (sneaky <- Seq("/*x*/DROP TABLE t", "-- c\nDROP TABLE t",
        " ; TRUNCATE TABLE t", "/*a*/ /*b*/ -- c\n INSERT INTO t VALUES (1)")) {
      val s = get("/?query=" + java.net.URLEncoder.encode(sneaky, "UTF-8"))
      assert(s.statusCode() == 400 && s.body().contains("readonly"), sneaky)
    }
    // a read behind a comment still runs on GET
    assert(get("/?query=" + java.net.URLEncoder.encode(
      "/*hi*/SELECT 2 + 2 AS x FORMAT CSV", "UTF-8")).body() == "4\n")
    // the introspection statements route through the SERVICE door too
    // (review finding: /query once fell through to Spark's own parser
    // for everything but SHOW CREATE)
    assert(post("/", "EXISTS TABLE no_such_thing").body() == "0\n")
  }

  test("tables persist ACROSS requests: CTAS in one request, query/INSERT/DROP in later ones") {
    // each request runs in its own isolated newSession(); the CATALOG
    // outlives them, so created tables re-materialize per request —
    // CH's own HTTP behavior (its catalog is durable)
    val mk = post("/",
      "CREATE TABLE xreq_t ENGINE = MergeTree ORDER BY (n) AS " +
        "SELECT number AS n, number * 2 AS v FROM numbers(100)")
    assert(mk.statusCode() == 200, mk.body())
    // a LATER request sees and queries the table
    val q1 = post("/?default_format=CSV", "SELECT count(), sum(v) FROM xreq_t")
    assert(q1.statusCode() == 200, q1.body())
    assert(q1.body() == "100,9900\n")
    // INSERT from yet another request appends parts
    assert(post("/", "INSERT INTO xreq_t SELECT 1000 + number, 7 FROM numbers(5)")
      .statusCode() == 200)
    assert(post("/?default_format=CSV", "SELECT count() FROM xreq_t").body() == "105\n")
    // introspection + lifecycle across requests too
    assert(post("/?default_format=CSV", "EXISTS TABLE xreq_t").body() == "1\n")
    assert(post("/", "DROP TABLE xreq_t").statusCode() == 200)
    assert(post("/?default_format=CSV", "EXISTS TABLE xreq_t").body() == "0\n")
    val gone = post("/", "SELECT count() FROM xreq_t")
    assert(gone.statusCode() == 400 || gone.statusCode() == 500, gone.body())
  }

  test("cross-request persistence covers empty CTAS, schema-only ATTACH, and {macro} references") {
    // a ZERO-row MergeTree CTAS must stay queryable in later requests:
    // its partless tree has no columns.txt to recover a schema from, so
    // the catalog entry itself carries the DDL (review finding)
    assert(post("/",
      "CREATE TABLE xreq_empty ENGINE = MergeTree ORDER BY (n) AS " +
        "SELECT number AS n FROM numbers(10) WHERE number > 100").statusCode() == 200)
    assert(post("/?default_format=CSV", "SELECT count() FROM xreq_empty").body() == "0\n")
    assert(post("/", "INSERT INTO xreq_empty SELECT number FROM numbers(3)")
      .statusCode() == 200)
    assert(post("/?default_format=CSV", "SELECT count() FROM xreq_empty").body() == "3\n")
    assert(post("/", "DROP TABLE xreq_empty").statusCode() == 200)

    // an ATTACH with NO endpoint clause registers schema-only; request 2
    // must see the same empty table, not TABLE_OR_VIEW_NOT_FOUND while
    // EXISTS answers 1 (review finding)
    val at = post("/",
      "ATTACH TABLE xreq_schema (`id` UInt64, `s` String) ENGINE = MergeTree ORDER BY (id)")
    assert(at.statusCode() == 200, at.body())
    assert(post("/?default_format=CSV", "EXISTS TABLE xreq_schema").body() == "1\n")
    val so = post("/?default_format=CSV", "SELECT count() FROM xreq_schema")
    assert(so.statusCode() == 200, so.body())
    assert(so.body() == "0\n")
    assert(post("/", "DROP TABLE xreq_schema").statusCode() == 200)

    // a table referenced ONLY through a {macro}: the mention scan runs
    // on the substituted text (review finding)
    assert(post("/",
      "CREATE TABLE xreq_mac AS SELECT number AS n FROM numbers(7)").statusCode() == 200)
    val viaMacro = post("/query",
      """{"query": "SELECT count() AS c FROM {t}", "macros": {"t": "xreq_mac"}}""")
    assert(viaMacro.statusCode() == 200, viaMacro.body())
    assert(viaMacro.body().contains("[[7]]"))
    assert(post("/", "DROP TABLE xreq_mac").statusCode() == 200)
  }

  test("inline-data INSERT over the raw door: the curl bulk-load shape") {
    // `curl -d 'INSERT INTO t FORMAT CSV
    // 1,a' http://host/` — the rows ride in the POST body after the
    // format name, CH's standard HTTP load
    assert(post("/", "CREATE TABLE xreq_inline (id Int64, s String) " +
      "ENGINE = MergeTree ORDER BY id").statusCode() == 200)
    val ins = post("/", "INSERT INTO xreq_inline FORMAT CSV\n1,a\n2,b")
    assert(ins.statusCode() == 200, ins.body())
    assert(post("/?default_format=CSV",
      "SELECT count(), min(s) FROM xreq_inline").body() == "2,\"a\"\n")
    // CH's SPLIT form: the statement in ?query=, ONLY the rows in the
    // body (`curl 'http://host/?query=INSERT...FORMAT+CSV'
    // --data-binary @rows.csv`) — the door concatenates them
    val q = java.net.URLEncoder.encode(
      "INSERT INTO xreq_inline FORMAT CSV", "UTF-8")
    assert(post(s"/?query=$q", "10,z\n11,z").statusCode() == 200)
    assert(post("/?default_format=CSV",
      "SELECT count() FROM xreq_inline").body() == "4\n")
    assert(post("/", "DROP TABLE xreq_inline").statusCode() == 200)
  }

  test("gzip on the HTTP doors: gzipped request bodies and Accept-Encoding gzip responses") {
    // gzipped SQL body — curl --data-binary @big.sql.gz, a standard CH
    // HTTP pattern
    val sql = "SELECT 41 + 1 AS x"
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(sql.getBytes("UTF-8")); gz.close()
    val gzReq = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .header("Content-Encoding", "gzip")
        .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(gzReq.statusCode() == 200 && gzReq.body() == "42\n")
    // compressed RESPONSE on request; tiny bodies stay plain (framing
    // would grow them)
    val big = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .header("Accept-Encoding", "gzip")
        .POST(HttpRequest.BodyPublishers.ofString(
          "SELECT n1.number AS a, n2.number AS b FROM numbers(80) n1, numbers(80) n2 FORMAT CSV"))
        .build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(big.statusCode() == 200)
    assert(big.headers().firstValue("Content-Encoding").orElse("") == "gzip")
    val back = new String(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(big.body())).readAllBytes(), "UTF-8")
    assert(back.linesIterator.size == 6400)
    val small = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .header("Accept-Encoding", "gzip")
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS x")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(small.headers().firstValue("Content-Encoding").isEmpty &&
      small.body() == "1\n")
  }

  test("sink_path offloads the result and replay serves the artifact (kill-after-write)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val sink = s"$dir/out"
    val jdir = java.nio.file.Files.createTempDirectory("graft_sink_journal").toString
    // the view lives only in THIS base session's catalog... each request
    // gets newSession() sharing the catalog? No — newSession() isolates
    // temp views, so the query must be self-contained
    val q = "SELECT n_regionkey AS r, count() AS n FROM " +
      "parquet.`/root/testdata/sf0.001/nation.parquet` GROUP BY r"
    val srv = new QueryServer(spark, journalDir = Some(jdir), recover = "rerun")
    val p = srv.start()
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"query": "$q", "sink_path": "$sink"}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"written\""))
    assert(spark.read.parquet(sink).count() == 5)
    srv.stop(0)
    // kill-after-write: the artifact landed but the response was never
    // acknowledged — journal an entry for a query that CANNOT run in a
    // fresh session (names a view that no longer exists); replay must
    // serve the existing artifact instead of re-executing
    val j = new QueryJournal(jdir)
    j.record("dead-sink", QueryService.QueryRequest(
      "SELECT * FROM view_that_is_gone", sinkPath = Some(sink)))
    val mtimeBefore = new java.io.File(sink).lastModified()
    val srv2 = new QueryServer(spark, journalDir = Some(jdir), recover = "rerun")
    srv2.start()
    assert(j.unfinished().isEmpty,
      "replay of a completed-but-unacked sink request must clear the journal")
    assert(new java.io.File(sink).lastModified() == mtimeBefore,
      "the artifact must be served, not rewritten")
    assert(spark.read.parquet(sink).count() == 5)
    srv2.stop(0)
  }

  test("idle sweep releases operator-internal persisted intermediates (advisor r8)") {
    import spark.implicits._
    graft.operators.OpCache.persist(Seq(1, 2, 3).toDF("x"))
    assert(graft.operators.OpCache.trackedCount >= 1)
    // any completed request sweeps once in-flight drops to zero
    val r = post("/query", """{"query": "SELECT 1 AS one"}""")
    assert(r.statusCode() == 200)
    assert(graft.operators.OpCache.trackedCount == 0)
    // and the gauge is exported
    assert(get("/metrics").body().contains("graft_opcache_tracked"))
  }

  test("big results stream chunked with incremental partition fetch (never one collect)") {
    // spy: the governed drain runs the windowed partition fetch — one
    // job per partition, up to defaultParallelism in flight; a
    // collect-then-render server runs exactly one job for this
    // shuffle-free scan
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g.startsWith("graft-query-"))
          jobs.computeIfAbsent(g, _ => new java.util.concurrent.atomic.AtomicInteger)
            .incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // ~1.2 MB of CSV — far past the 256 KiB spool, so the response
      // upgrades to chunked streaming (no Content-Length)
      val r = post("/?default_format=CSV",
        "SELECT number, number * 2 FROM numbers(120000)")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Length").isEmpty,
        "big results must stream chunked, not carry a Content-Length")
      val lines = r.body().linesIterator.toSeq
      assert(lines.size == 120000)
      assert(lines.head == "0,0" && lines.last == "119999,239998")
      val deadline = System.nanoTime() + 10e9.toLong
      def maxJobs: Int = {
        var m = 0
        jobs.values.forEach(v => m = math.max(m, v.get))
        m
      }
      while (maxJobs < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(maxJobs >= 2,
        s"expected per-partition incremental fetch (>=2 jobs), got $jobs")
      // small results keep the classic Content-Length path
      val small = post("/?default_format=CSV", "SELECT 1 AS x")
      assert(small.headers().firstValue("Content-Length").isPresent)
      // chunked + gzip: a streamed big response compresses on the fly
      // when the caller accepts it
      val gz = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?default_format=CSV"))
          .header("Accept-Encoding", "gzip")
          .POST(HttpRequest.BodyPublishers.ofString(
            "SELECT number, number * 2 FROM numbers(120000)"))
          .build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(gz.statusCode() == 200)
      assert(gz.headers().firstValue("Content-Encoding").orElse("") == "gzip")
      val back = new String(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gz.body())).readAllBytes(), "UTF-8")
      assert(back.linesIterator.size == 120000)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a failure after the chunked 200 committed surfaces IN-BAND, CH's streaming contract") {
    // wide rows push past the 256 KiB spool (committing the chunked
    // 200) long before the poisoned row near the end errors — the
    // failure can only surface in the body, as CH's HTTP door does
    val r = post("/?default_format=CSV",
      "SELECT concat(repeat('x', 50), toString(intDiv(1, number - 95000))) " +
        "FROM numbers(100000)")
    assert(r.statusCode() == 200)
    assert(r.body().contains("DB::Exception"), r.body().takeRight(200))
    // the lines before the abort streamed intact
    assert(r.body().startsWith("\"" + "x" * 50), r.body().take(80))
    // and a failure INSIDE the spool window still maps to a clean 400/500
    val early = post("/?default_format=CSV",
      "SELECT intDiv(1, number - 1) FROM numbers(5)")
    assert(early.statusCode() == 500 || early.statusCode() == 400,
      s"${early.statusCode()}: ${early.body().take(120)}")
    assert(!early.body().startsWith("\""), early.body().take(80))
  }

  test("FORMAT Native out: CH block-codec bytes the native codec decodes (r15)") {
    val q = java.net.URLEncoder.encode(
      "SELECT number AS n, toString(number) AS s FROM numbers(20000) " +
        "ORDER BY n FORMAT Native", "UTF-8")
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("") ==
      "application/octet-stream")
    val src = new graft.service.native.NativeWire.WireIn(r.body())
    var names: Seq[String] = Nil
    var total = 0L
    var blocks = 0
    var firstN = -1L
    var lastN = -1L
    while (!src.atEnd) {
      val b = graft.service.native.NativeBlock.readFormatBlock(src)
      if (names.isEmpty) names = b.cols.map(_.name)
      if (b.rows > 0) {
        val nCol = b.cols.find(_.name == "n").get.values
        if (firstN < 0) firstN = nCol.head.asInstanceOf[Long]
        lastN = nCol.last.asInstanceOf[Long]
      }
      total += b.rows
      blocks += 1
    }
    assert(names == Seq("n", "s"), names)
    assert(total == 20000, total)
    assert(blocks >= 3, s"$blocks blocks — expected a 0-row header + chunks")
    assert(firstN == 0L && lastN == 19999L, (firstN, lastN))
  }

  test("FORMAT Parquet out: one well-formed parquet file as the response body (r15)") {
    val q = java.net.URLEncoder.encode(
      "SELECT number AS n, number * 2 AS d FROM numbers(1000) FORMAT Parquet",
      "UTF-8")
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200, new String(r.body(), "UTF-8"))
    // parquet magic both ends
    assert(new String(r.body().take(4), "US-ASCII") == "PAR1")
    assert(new String(r.body().takeRight(4), "US-ASCII") == "PAR1")
    val tmp = java.nio.file.Files.createTempFile("graft_fmt_parquet", ".parquet")
    try {
      java.nio.file.Files.write(tmp, r.body())
      val back = spark.read.parquet(tmp.toString)
      assert(back.columns.toSeq == Seq("n", "d"))
      assert(back.count() == 1000)
      import org.apache.spark.sql.functions.sum
      assert(back.agg(sum("d")).head.getLong(0) == 999000L)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  test("INSERT … FORMAT Parquet with a binary body round-trips (r15)") {
    assert(post("/", "CREATE TABLE xreq_parq (id Int64, s String) " +
      "ENGINE = MergeTree ORDER BY id").statusCode() == 200)
    // build a parquet file with spark, ship its bytes as the body
    val dir = java.nio.file.Files.createTempDirectory("graft_parq_body")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .coalesce(1).write.parquet(s"$dir/out")
    val part = new java.io.File(s"$dir/out").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    val q = java.net.URLEncoder.encode(
      "INSERT INTO xreq_parq FORMAT Parquet", "UTF-8")
    val ins = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(bytes)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(ins.statusCode() == 200, ins.body())
    assert(post("/?default_format=CSV",
      "SELECT count(), max(s) FROM xreq_parq").body() == "3,\"c\"\n")
    // column-subset spelling maps by name
    val q2 = java.net.URLEncoder.encode(
      "INSERT INTO xreq_parq (id, s) FORMAT Parquet", "UTF-8")
    assert(client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q2"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(bytes)).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
    assert(post("/?default_format=CSV",
      "SELECT count() FROM xreq_parq").body() == "6\n")
    // a leading comment keeps the statement on the binary-body route
    val q3 = java.net.URLEncoder.encode(
      "/* load */ INSERT INTO xreq_parq FORMAT Parquet", "UTF-8")
    val ins3 = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q3"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(bytes)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(ins3.statusCode() == 200, ins3.body())
    assert(post("/?default_format=CSV",
      "SELECT count() FROM xreq_parq").body() == "9\n")
    // an empty body is the caller's fault
    assert(client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode() == 400)
    assert(post("/", "DROP TABLE xreq_parq").statusCode() == 200)
  }

  test("send_progress_in_http_headers=1: increasing X-ClickHouse-Progress values + Summary (r15)") {
    // big multi-chunk result: several progress values accumulate
    // before the 256 KiB spool commits the chunked 200
    val q = java.net.URLEncoder.encode(
      "SELECT number FROM numbers(3000000) FORMAT TSV", "UTF-8")
    val r = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/?query=$q&send_progress_in_http_headers=1"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    val prog = r.headers().allValues("X-ClickHouse-Progress")
    assert(prog.size() >= 2, s"expected ≥2 progress headers, got $prog")
    // read_rows (executor-side scan accounting since r16) may complete
    // ahead of delivery — monotone non-decreasing; result_rows counts
    // rows ACROSS the door and must strictly increase between events
    val reads = (0 until prog.size()).map { i =>
      val m = """"read_rows":"(\d+)"""".r.findFirstMatchIn(prog.get(i)).get
      m.group(1).toLong
    }
    assert(reads == reads.sorted, s"read_rows not monotone: $reads")
    val results = (0 until prog.size()).map { i =>
      val m = """"result_rows":"(\d+)"""".r.findFirstMatchIn(prog.get(i)).get
      m.group(1).toLong
    }
    assert(results == results.sorted && results.distinct.size == results.size,
      s"result_rows not increasing: $results")
    // small result (fits the spool): exact X-ClickHouse-Summary
    val q2 = java.net.URLEncoder.encode(
      "SELECT number FROM numbers(10) FORMAT TSV", "UTF-8")
    val r2 = get(s"/?query=$q2&send_progress_in_http_headers=1")
    assert(r2.statusCode() == 200)
    val sum = r2.headers().firstValue("X-ClickHouse-Summary").orElse("")
    assert(sum.contains("\"read_rows\":\"10\""), sum)
    // off by default: no progress headers without the setting
    val r3 = get(s"/?query=$q2")
    assert(r3.headers().allValues("X-ClickHouse-Progress").isEmpty)
  }

  test("raw door: progress header lines TRICKLE live before the body (r17)") {
    // a scan long enough for several 100 ms ticks, emitting few rows
    // (the result never fills the spool, so EVERY tick streams a live
    // header line pre-commit)
    val q = java.net.URLEncoder.encode(
      "SELECT number FROM numbers(1500000000) WHERE number % 5000000 = 0",
      "UTF-8")
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(180000)
      sock.getOutputStream.write(
        (s"GET /?query=$q&send_progress_in_http_headers=1 HTTP/1.1\r\n" +
          "Host: localhost\r\nConnection: close\r\n\r\n").getBytes("UTF-8"))
      sock.getOutputStream.flush()
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
        sb.toString
      }
      val liveBefore = RawHttp.liveProgressLines.get()
      assert(line().startsWith("HTTP/1.1 200"), "status line")
      var progressLines = 0
      var l = line()
      while (l.nonEmpty) {
        if (l.toLowerCase.startsWith("x-clickhouse-progress:")) progressLines += 1
        l = line()
      }
      assert(progressLines >= 2,
        s"expected ≥2 progress header lines, got $progressLines")
      // liveness DETERMINISTICALLY (advisor r17: the old ≥60 ms
      // wall-clock-spread assertion flaked when the scan finished
      // inside one tick on a fast machine): the transport's own counter
      // moves ONLY on the pre-commit streaming path — a commit-time
      // header block (the JDK transport's only option) never touches it
      val streamedLive = RawHttp.liveProgressLines.get() - liveBefore
      assert(streamedLive >= 2L,
        s"only $streamedLive progress lines took the live pre-commit path")
      // the body still follows intact after the trickle
      val body = new String(in.readAllBytes(), "UTF-8")
      assert(body.contains("0\n") || body.contains("\n0"), "body rows present")
    } finally sock.close()
  }

  test("raw door: HEAD declares framing but carries no body; keep-alive survives (r18)") {
    // the r17 medium finding: HEAD answered with a full body, which a
    // keep-alive client parses as the start of the NEXT response
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val os = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
        sb.toString
      }
      os.write(("HEAD /hc HTTP/1.1\r\nHost: x\r\n\r\n").getBytes("UTF-8")); os.flush()
      assert(line().startsWith("HTTP/1.1 200"), "HEAD status")
      var cl = -1L
      var l = line()
      while (l.nonEmpty) {
        if (l.toLowerCase.startsWith("content-length:")) cl = l.split(":")(1).trim.toLong
        l = line()
      }
      assert(cl == 2L, s"HEAD must declare the GET body's Content-Length, got $cl")
      // NO body bytes follow — the next response on this connection must
      // be the GET's own status line, not leftover 'ok'
      os.write(("GET /hc HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n")
        .getBytes("UTF-8")); os.flush()
      assert(line().startsWith("HTTP/1.1 200"),
        "keep-alive desynchronized after HEAD — unsolicited body bytes on the wire")
      l = line()
      while (l.nonEmpty) l = line()
      val body = new String(in.readAllBytes(), "UTF-8")
      assert(body == "ok", s"GET body after HEAD: '$body'")
    } finally sock.close()
  }

  test("raw door: malformed chunk size answers 400 and severs (r18)") {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val os = sock.getOutputStream
      os.write(("POST /?query=" + java.net.URLEncoder.encode(
        "SELECT 1", "UTF-8") + " HTTP/1.1\r\nHost: x\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n" +
        "ZZZZ\r\ngarbage\r\n").getBytes("UTF-8"))
      os.flush()
      val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
      assert(resp.startsWith("HTTP/1.1 400"),
        s"malformed chunk framing must answer 400: ${resp.take(80)}")
      // readAllBytes returning proves the server severed the connection
    } finally sock.close()
  }

  test("raw door: 100-continue is deferred until the body is read (r18)") {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val os = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val body = "SELECT 41 + 1"
      os.write(("POST / HTTP/1.1\r\nHost: x\r\nExpect: 100-continue\r\n" +
        s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n").getBytes("UTF-8"))
      os.flush()
      // the interim 100 arrives only once the handler reads the body
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
        sb.toString
      }
      val first = line()
      assert(first == "HTTP/1.1 100 Continue", s"expected interim 100, got '$first'")
      var l = line() // blank line after the interim response
      os.write(body.getBytes("UTF-8")); os.flush()
      val status = { var s = line(); while (s.isEmpty) s = line(); s }
      assert(status.startsWith("HTTP/1.1 200"), status)
      l = line()
      while (l.nonEmpty) l = line()
      val resp = new String(in.readAllBytes(), "UTF-8")
      assert(resp.contains("42"), resp)
    } finally sock.close()
  }

  test("JSONCompact / JSONCompactEachRow / *WithNamesAndTypes formats (r17)") {
    val q = java.net.URLEncoder.encode(
      "SELECT number AS n, toString(number) AS s FROM numbers(2) ORDER BY n",
      "UTF-8")
    def body(fmt: String): String =
      get(s"/?query=$q&default_format=$fmt").body()
    // the play-UI envelope: meta carries CH type spellings, data rows
    // are arrays (UInt64 surfaces as Int64 — the documented signed
    // reinterpretation of this engine's Long carrier)
    assert(body("JSONCompact") ==
      "{\"meta\":[{\"name\":\"n\",\"type\":\"Int64\"},{\"name\":\"s\",\"type\":\"String\"}]," +
        "\"data\":[\n[0,\"0\"],\n[1,\"1\"]\n],\"rows\":2}\n")
    assert(body("JSONCompactEachRow") == "[0,\"0\"]\n[1,\"1\"]\n")
    assert(body("TSVWithNamesAndTypes") == "n\ts\nInt64\tString\n0\t0\n1\t1\n")
    assert(body("CSVWithNamesAndTypes") ==
      "\"n\",\"s\"\n\"Int64\",\"String\"\n0,\"0\"\n1,\"1\"\n")
    val r = get(s"/?query=$q&default_format=JSONCompact")
    assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
  }

  test("raw door: truncated POST body never executes as a prefix (r17)") {
    // declare 100 body bytes, deliver 18, close our sending side — the
    // JDK streams throw on this; the raw door must too (a prefix of a
    // query/INSERT body must never execute as if complete)
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val out = sock.getOutputStream
      out.write(("POST /query HTTP/1.1\r\nHost: x\r\n" +
        "Content-Length: 100\r\n\r\n").getBytes("UTF-8"))
      out.write("""{"query":"SELECT""".getBytes("UTF-8"))
      out.flush()
      sock.shutdownOutput()
      val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
      assert(!resp.startsWith("HTTP/1.1 200"),
        s"a truncated body must not answer 200: ${resp.take(120)}")
    } finally sock.close()
  }

  test("raw door: malformed request line answers 400 (r17)") {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      sock.getOutputStream.write("GARBAGE\r\n\r\n".getBytes("UTF-8"))
      sock.getOutputStream.flush()
      sock.shutdownOutput()
      val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
      assert(resp.startsWith("HTTP/1.1 400"), s"got: ${resp.take(120)}")
    } finally sock.close()
  }

  test("raw door: HTTP/1.0 streaming is close-delimited, never chunked (r17)") {
    // a result past the 256 KiB spool streams; a 1.0 client cannot
    // parse chunked framing, so the body must be close-delimited
    val q = java.net.URLEncoder.encode(
      "SELECT number FROM numbers(3000000) FORMAT TSV", "UTF-8")
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(120000)
      sock.getOutputStream.write(
        (s"GET /?query=$q HTTP/1.0\r\nHost: x\r\n\r\n").getBytes("UTF-8"))
      sock.getOutputStream.flush()
      val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
      val headerEnd = resp.indexOf("\r\n\r\n")
      assert(headerEnd > 0, "no header block")
      val headers = resp.substring(0, headerEnd).toLowerCase
      assert(resp.startsWith("HTTP/1.1 200"), resp.take(60))
      assert(!headers.contains("transfer-encoding"),
        "HTTP/1.0 response must not be chunked")
      assert(headers.contains("connection: close"))
      val body = resp.substring(headerEnd + 4)
      assert(body.endsWith("2999999\n"),
        s"close-delimited body truncated: …${body.takeRight(30)}")
    } finally sock.close()
  }

  test("FORMAT ArrowStream / Arrow out: IPC bytes Arrow's own reader decodes (r15)") {
    def fetch(fmt: String): Array[Byte] = {
      val q = java.net.URLEncoder.encode(
        s"SELECT number AS n, toString(number) AS s FROM numbers(20000) " +
          s"ORDER BY n FORMAT $fmt", "UTF-8")
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200, new String(r.body(), "UTF-8").take(200))
      assert(r.headers().firstValue("X-ClickHouse-Format").orElse("") == fmt)
      r.body()
    }
    // stream framing
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(fetch("ArrowStream")), alloc)
    var total = 0L
    var batches = 0
    var first = -1L
    var last = -1L
    while (rdr.loadNextBatch()) {
      val root = rdr.getVectorSchemaRoot
      assert(root.getSchema.getFields.size() == 2)
      val n = root.getVector("n").asInstanceOf[org.apache.arrow.vector.BigIntVector]
      if (root.getRowCount > 0) {
        if (first < 0) first = n.get(0)
        last = n.get(root.getRowCount - 1)
      }
      total += root.getRowCount
      batches += 1
    }
    rdr.close()
    assert(total == 20000 && batches >= 3, (total, batches))
    assert(first == 0L && last == 19999L, (first, last))
    // file framing (footer-capped, seekable)
    val fileBytes = fetch("Arrow")
    val frdr = new org.apache.arrow.vector.ipc.ArrowFileReader(
      new org.apache.arrow.vector.ipc.SeekableReadChannel(
        new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(
          fileBytes)), alloc)
    var ftotal = 0L
    while (frdr.loadNextBatch()) ftotal += frdr.getVectorSchemaRoot.getRowCount
    frdr.close()
    alloc.close()
    assert(ftotal == 20000, ftotal)
  }

  test("zstd/lz4/deflate on the HTTP door: encoded bodies both ways (r15)") {
    // zstd response on request (big body; small bodies stay plain)
    val big = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .header("Accept-Encoding", "zstd")
        .POST(HttpRequest.BodyPublishers.ofString(
          "SELECT n1.number AS a, n2.number AS b FROM numbers(80) n1, " +
            "numbers(80) n2 FORMAT CSV")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(big.statusCode() == 200)
    assert(big.headers().firstValue("Content-Encoding").orElse("") == "zstd")
    val back = new String(new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(big.body())).readAllBytes(), "UTF-8")
    assert(back.linesIterator.size == 6400)
    // lz4 response
    val lz = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .header("Accept-Encoding", "lz4")
        .POST(HttpRequest.BodyPublishers.ofString(
          "SELECT number FROM numbers(5000) FORMAT CSV")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(lz.headers().firstValue("Content-Encoding").orElse("") == "lz4")
    val lzBack = new String(new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(lz.body())).readAllBytes(), "UTF-8")
    assert(lzBack.linesIterator.size == 5000)
    // zstd REQUEST body
    val sqlBytes = "SELECT 6 * 7 AS x".getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val zo = new com.github.luben.zstd.ZstdOutputStream(bos)
    zo.write(sqlBytes); zo.close()
    val zreq = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .header("Content-Encoding", "zstd")
        .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(zreq.statusCode() == 200 && zreq.body() == "42\n", zreq.body())
    // client token ORDER wins: "lz4, gzip" → lz4
    val pref = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .header("Accept-Encoding", "lz4, gzip")
        .POST(HttpRequest.BodyPublishers.ofString(
          "SELECT number FROM numbers(5000) FORMAT CSV")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(pref.headers().firstValue("Content-Encoding").orElse("") == "lz4")
  }

  test("INSERT … FORMAT Native / ArrowStream with binary bodies round-trip (r15)") {
    assert(post("/", "CREATE TABLE xreq_bin (id Int64, s String) " +
      "ENGINE = MergeTree ORDER BY id").statusCode() == 200)
    def postBytes(query: String, body: Array[Byte]): HttpResponse[String] = {
      val q = java.net.URLEncoder.encode(query, "UTF-8")
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    }
    // Native body: two file-layout blocks via the block codec
    import graft.service.native.{NativeBlock, NativeWire}
    val o = new NativeWire.WireOut
    NativeBlock.writeFormatBlock(o, Seq(
      NativeBlock.Col("id", NativeBlock.TInt64, IndexedSeq(1L, 2L)),
      NativeBlock.Col("s", NativeBlock.TString, IndexedSeq("a", "b"))), 2)
    NativeBlock.writeFormatBlock(o, Seq(
      NativeBlock.Col("id", NativeBlock.TInt64, IndexedSeq(3L)),
      NativeBlock.Col("s", NativeBlock.TString, IndexedSeq("c"))), 1)
    val insN = postBytes("INSERT INTO xreq_bin FORMAT Native", o.bytes)
    assert(insN.statusCode() == 200, insN.body())
    assert(post("/?default_format=CSV",
      "SELECT count(), max(s) FROM xreq_bin").body() == "3,\"c\"\n")
    // ArrowStream body: built with the same shim the response path uses
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val bos = new java.io.ByteArrayOutputStream()
    org.apache.spark.sql.graft.ArrowShim.streamResult(schema, "UTC",
      Iterator(Seq[Any](10L, "x"), Seq[Any](11L, "y")), bos, 8192,
      fileFormat = false)
    val insA = postBytes("INSERT INTO xreq_bin (id, s) FORMAT ArrowStream",
      bos.toByteArray)
    assert(insA.statusCode() == 200, insA.body())
    assert(post("/?default_format=CSV",
      "SELECT count(), max(id) FROM xreq_bin").body() == "5,11\n")
    assert(post("/", "DROP TABLE xreq_bin").statusCode() == 200)
  }

  test("FORMAT RowBinary[WithNames[AndTypes]] out: golden bytes + header (r16)") {
    def bytesOf(sql: String): Array[Byte] = {
      val q = java.net.URLEncoder.encode(sql, "UTF-8")
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200, new String(r.body(), "UTF-8").take(200))
      assert(r.headers().firstValue("Content-Type").orElse("") ==
        "application/octet-stream")
      r.body()
    }
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString(" ")
    // plain RowBinary: rows only — 3×Int64 LE
    assert(hex(bytesOf(
      "SELECT number AS n FROM numbers(3) ORDER BY n FORMAT RowBinary")) ==
      "00 00 00 00 00 00 00 00 " +
      "01 00 00 00 00 00 00 00 " +
      "02 00 00 00 00 00 00 00")
    // WithNamesAndTypes: 01 | 01 'n' | 05 "Int64" | one row
    assert(hex(bytesOf("SELECT number AS n FROM numbers(1) " +
      "FORMAT RowBinaryWithNamesAndTypes")) ==
      "01 01 6e 05 49 6e 74 36 34 00 00 00 00 00 00 00 00")
    // WithNames: header without types; strings varuint-prefixed
    assert(hex(bytesOf("SELECT 'hi' AS s FORMAT RowBinaryWithNames")) ==
      "01 01 73 02 68 69")
  }

  test("INSERT … FORMAT RowBinary[WithNamesAndTypes] with binary bodies round-trips (r16)") {
    // s is Nullable so the column-subset spelling below can fill it
    // with NULL (this engine refuses NULL into non-Nullable columns)
    assert(post("/", "CREATE TABLE xreq_rb (id Int64, s Nullable(String)) " +
      "ENGINE = MergeTree ORDER BY id").statusCode() == 200)
    def postBytes(query: String, body: Array[Byte]): HttpResponse[String] = {
      val q = java.net.URLEncoder.encode(query, "UTF-8")
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=$q"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    }
    // plain RowBinary: structure comes from the TARGET table's DECLARED
    // CH types (Int64 bare, Nullable(String) flagged) — body is
    // hand-built bytes per the public layout (independent of the codec)
    val plain = new java.io.ByteArrayOutputStream()
    def varstr(s: String): Unit = {
      plain.write(0) // Nullable present-flag
      plain.write(s.length); plain.write(s.getBytes("UTF-8"))
    }
    def i64(v: Long): Unit =
      (0 until 8).foreach(i => plain.write(((v >> (8 * i)) & 0xFF).toInt))
    i64(1L); varstr("a"); i64(2L); varstr("b")
    val ins = postBytes("INSERT INTO xreq_rb FORMAT RowBinary", plain.toByteArray)
    assert(ins.statusCode() == 200, ins.body())
    assert(post("/?default_format=CSV",
      "SELECT count(), max(s) FROM xreq_rb").body() == "2,\"b\"\n")
    // WithNamesAndTypes: self-describing header, REVERSED column order —
    // by-name mapping must still land values in the right columns
    val o = new graft.service.native.NativeWire.WireOut
    import graft.service.native.{NativeBlock, RowBinary}
    RowBinary.writeHeader(o,
      Seq("s" -> NativeBlock.TNullable(NativeBlock.TString),
        "id" -> NativeBlock.TInt64),
      withTypes = true)
    RowBinary.writeValue(o, NativeBlock.TNullable(NativeBlock.TString), "z")
    RowBinary.writeValue(o, NativeBlock.TInt64, 9L)
    val ins2 = postBytes(
      "INSERT INTO xreq_rb FORMAT RowBinaryWithNamesAndTypes", o.bytes)
    assert(ins2.statusCode() == 200, ins2.body())
    assert(post("/?default_format=CSV",
      "SELECT count(), max(id), max(s) FROM xreq_rb").body() == "3,9,\"z\"\n")
    // column-subset spelling: body carries only the listed column
    val o2 = new graft.service.native.NativeWire.WireOut
    RowBinary.writeValue(o2, NativeBlock.TInt64, 42L)
    val ins3 = postBytes("INSERT INTO xreq_rb (id) FORMAT RowBinary", o2.bytes)
    assert(ins3.statusCode() == 200, ins3.body())
    assert(post("/?default_format=CSV",
      "SELECT count(), max(id) FROM xreq_rb").body() == "4,42\n")
    assert(post("/", "DROP TABLE xreq_rb").statusCode() == 200)
  }

  test("JSONEachRowWithProgress: live progress events DURING the stream (r16)") {
    val q = java.net.URLEncoder.encode(
      "SELECT number AS n FROM numbers(500000) FORMAT JSONEachRowWithProgress",
      "UTF-8")
    val r = get(s"/?query=$q")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("")
      .startsWith("application/x-ndjson"))
    val lines = r.body().linesIterator.toSeq
    // leads with a progress event, before any row
    assert(lines.head.startsWith("{\"progress\":"), lines.head)
    val progressIdx = lines.zipWithIndex
      .filter(_._1.startsWith("{\"progress\":")).map(_._2)
    val rowIdx = lines.zipWithIndex
      .filter(_._1.startsWith("{\"row\":")).map(_._2)
    assert(rowIdx.size == 500000, rowIdx.size)
    // at least one progress event INTERLEAVED between rows — emitted
    // while the query streams, not accumulated at commit (the r15
    // header spelling could only report pre-commit values)
    assert(progressIdx.exists(i => i > rowIdx.head && i < rowIdx.last),
      s"no progress event between rows: progress at $progressIdx")
    // read_rows values increase across events
    val reads = progressIdx.map { i =>
      val m = """"read_rows":"(\d+)"""".r.findFirstMatchIn(lines(i)).get
      m.group(1).toLong
    }
    assert(reads == reads.sorted, reads)
    assert(reads.last >= 500000L, reads)
    // closes with the rows_before_limit event
    assert(lines.last == "{\"rows_before_limit_at_least\":500000}", lines.last)
  }

  test("progress carries REAL read_bytes/result_bytes from task metrics (r16)") {
    def lastProgress(sql: String): String = {
      val q = java.net.URLEncoder.encode(sql, "UTF-8")
      val r = get(s"/?query=$q")
      assert(r.statusCode() == 200, r.body().take(200))
      r.body().linesIterator.filter(_.startsWith("{\"progress\":")).toSeq.last
    }
    def field(line: String, n: String): Long =
      (s""""$n":"(\\d+)"""").r.findFirstMatchIn(line).get.group(1).toLong
    // a parquet scan: FileScanRDD feeds executor input metrics
    val p = lastProgress(
      "SELECT l_orderkey, l_quantity FROM " +
        "parquet.`/root/testdata/sf0.001/lineitem.parquet` " +
        "WHERE l_orderkey % 7 = 0 FORMAT JSONEachRowWithProgress")
    // bytes read from storage (executor input metrics) and rendered
    // result bytes are both real and non-zero (VERDICT r15 wrong #2)
    assert(field(p, "read_bytes") > 0L, p)
    assert(field(p, "result_bytes") > 0L, p)
    assert(field(p, "read_rows") > 0L, p)
    // a MergeTree scan: the custom DSv2 reader accounts for itself
    // (ScanBytes → task input metrics, r16)
    assert(post("/", "CREATE TABLE xreq_prog_mt ENGINE = MergeTree ORDER BY n " +
      "AS SELECT number AS n, toString(number) AS s FROM numbers(50000)")
      .statusCode() == 200)
    val m = lastProgress(
      "SELECT n, s FROM xreq_prog_mt WHERE n % 5 = 0 " +
        "FORMAT JSONEachRowWithProgress")
    assert(field(m, "read_bytes") > 0L, m)
    assert(field(m, "read_rows") >= 50000L, m)
    assert(post("/", "DROP TABLE xreq_prog_mt").statusCode() == 200)
  }

  test("MAX result_rows quota is consumed by rows shipped over the door (r16)") {
    try {
      assert(post("/", "CREATE QUOTA q_http_rows FOR INTERVAL 1 hour " +
        "MAX result_rows = 100").statusCode() == 200)
      val q = java.net.URLEncoder.encode(
        "SELECT number FROM numbers(200) FORMAT CSV", "UTF-8")
      assert(get(s"/?query=$q").statusCode() == 200) // ships 200 rows
      // the consumed budget now refuses the next admission
      val r2 = get(s"/?query=$q")
      assert(r2.statusCode() != 200 &&
        r2.body().contains("result_rows"), s"${r2.statusCode()}: ${r2.body()}")
      // quota DDL stays unmetered — the drop works
      assert(post("/", "DROP QUOTA q_http_rows").statusCode() == 200)
      assert(get(s"/?query=$q").statusCode() == 200)
    } finally graft.service.Quotas.clear()
  }

  test("URL parameters are per-query SETTINGS, restored after the request (r15)") {
    // max_result_rows as a URL param governs exactly like its SET form
    val q = java.net.URLEncoder.encode(
      "SELECT number FROM numbers(100) FORMAT CSV", "UTF-8")
    val broke = get(s"/?query=$q&max_result_rows=5&result_overflow_mode=break")
    assert(broke.statusCode() == 200)
    assert(broke.body().linesIterator.size == 5, broke.body())
    // readonly=1 as a URL param refuses a write
    val w = java.net.URLEncoder.encode(
      "CREATE TABLE url_ro (id Int64) ENGINE = MergeTree ORDER BY id", "UTF-8")
    val ro = post(s"/?readonly=1", new String(
      java.net.URLDecoder.decode(w, "UTF-8")))
    assert(ro.statusCode() == 400 && ro.body().contains("READONLY"), ro.body())
    // the settings do NOT leak into the next request (restored)
    val again = get(s"/?query=$q")
    assert(again.body().linesIterator.size == 100)
  }

  test("readonly cannot be un-set through any spelling on a readonly session (r15 review)") {
    val sid = "ro_pin_" + System.nanoTime()
    // pin a session and make it readonly
    assert(post(s"/?session_id=$sid", "SET readonly = 1").statusCode() == 200)
    // URL param spelling must not clear it for a request
    val w = post(s"/?session_id=$sid&readonly=0",
      "CREATE TABLE ro_bypass (id Int64) ENGINE = MergeTree ORDER BY id")
    assert(w.statusCode() == 400 && w.body().contains("READONLY"), w.body())
    // SETTINGS-clause spelling must not clear it either
    val s2 = post(s"/?session_id=$sid", "SELECT 1 AS x SETTINGS readonly = 0")
    assert(s2.statusCode() == 400 && s2.body().contains("READONLY"), s2.body())
    // and it is still readonly afterwards
    val w2 = post(s"/?session_id=$sid",
      "CREATE TABLE ro_bypass2 (id Int64) ENGINE = MergeTree ORDER BY id")
    assert(w2.statusCode() == 400 && w2.body().contains("READONLY"), w2.body())
    // reads still answer on the pinned session
    assert(post(s"/?session_id=$sid&default_format=CSV", "SELECT 1").body() == "1\n")
  }

  test("a failing URL setting neither locks the pinned session nor leaks applied settings (r15 review)") {
    val sid = "set_fail_" + System.nanoTime()
    // spark.sql.warehouse.dir is a STATIC conf — RuntimeConfig.set throws
    val bad = post(s"/?session_id=$sid&spark.sql.warehouse.dir=/x",
      "SELECT 1 AS v")
    assert(bad.statusCode() == 400, s"${bad.statusCode()} ${bad.body()}")
    // the session is NOT left locked: the next request on it answers
    val ok = post(s"/?session_id=$sid&default_format=CSV", "SELECT 2")
    assert(ok.statusCode() == 200 && ok.body() == "2\n",
      s"${ok.statusCode()} ${ok.body()}")
  }

  test("CH identity headers: X-ClickHouse-Query-Id / Timezone / Format (r15)") {
    val r = get("/?query=SELECT+1+AS+x&query_id=my-query-7")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("X-ClickHouse-Query-Id").orElse("") ==
      "my-query-7")
    assert(r.headers().firstValue("X-ClickHouse-Timezone").orElse("") == "UTC")
    assert(r.headers().firstValue("X-ClickHouse-Format").orElse("") ==
      "TabSeparated")
    // without query_id: the request id doubles as the query id
    val r2 = get("/?query=SELECT+1+AS+x")
    assert(r2.headers().firstValue("X-ClickHouse-Query-Id").orElse("").nonEmpty)
    // a statement-level FORMAT wins the Format header
    val r3 = get("/?query=" + java.net.URLEncoder.encode(
      "SELECT 1 AS x FORMAT JSONEachRow", "UTF-8"))
    assert(r3.headers().firstValue("X-ClickHouse-Format").orElse("") ==
      "JSONEachRow")
    // errors carry the identity headers too
    val r4 = get("/?query=SELECT+nope+FROM+missing&query_id=err-1")
    assert(r4.statusCode() != 200)
    assert(r4.headers().firstValue("X-ClickHouse-Query-Id").orElse("") == "err-1")
  }

  test("requests are session-isolated: one request's SET never leaks into the next") {
    // request A pins a setting via init_queries; request B reads it
    // back — with per-request newSession() isolation B sees the
    // default, not A's value
    val a = post("/query", """{"query": "SELECT 1 AS x",
      "init_queries": ["SET spark.sql.shuffle.partitions=1"]}""")
    assert(a.statusCode() == 200)
    val b = post("/query",
      """{"query": "SET spark.sql.shuffle.partitions"}""")
    assert(b.statusCode() == 200)
    assert(!b.body().contains("\"1\""), s"A's SET leaked: ${b.body()}")
    // and the server's base session is untouched too
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "1")
  }
}
