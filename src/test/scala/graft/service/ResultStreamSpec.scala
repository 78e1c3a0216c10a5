package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.graft.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.service.QueryService.QueryRequest
import graft.service.native.{NativeClient, NativeServer}

/** The streamed result both doors drain ([[Governance.iterateBounded]]
  * over a [[PartitionFetch]]): every row in partition order, partition
  * jobs running side by side but never more than W =
  * `defaultParallelism` ahead of the consumer, and no job of the query
  * left running once its door returns — whether the result drained,
  * overflowed `max_result_rows`, was cancelled or its consumer failed. */
class ResultStreamSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private lazy val sc = spark.sparkContext
  private lazy val window = sc.defaultParallelism

  /** Per job group (groups starting with `prefix`): jobs started, jobs
    * running now, and the most that ran at once. */
  private final class JobSpy(prefix: String) extends SparkListener {
    private val groupOf = mutable.Map[Int, String]()
    private val started = mutable.Map[String, Int]().withDefaultValue(0)
    private val running = mutable.Map[String, Int]().withDefaultValue(0)
    private val peak = mutable.Map[String, Int]().withDefaultValue(0)

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(prefix)).foreach { g =>
          groupOf(js.jobId) = g
          started(g) += 1
          running(g) += 1
          peak(g) = math.max(peak(g), running(g))
        }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      groupOf.remove(je.jobId).foreach(g => running(g) -= 1)
    }

    private def read[A](f: => A): A = {
      ListenerBusShim.waitUntilEmpty(sc)
      synchronized(f)
    }
    def groups: Set[String] = read(started.keySet.toSet)
    def startedIn(g: String): Int = read(started(g))
    def runningIn(g: String): Int = read(running(g))
    def maxStarted: Int = read(started.values.maxOption.getOrElse(0))
    def maxPeak: Int = read(peak.values.maxOption.getOrElse(0))
  }

  private def withSpy[A](prefix: String)(body: JobSpy => A): A = {
    val spy = new JobSpy(prefix)
    sc.addSparkListener(spy)
    try body(spy) finally sc.removeSparkListener(spy)
  }

  private def withNative[A](body: NativeClient => A): A = {
    val srv = new NativeServer(spark)
    val port = srv.start()
    try {
      val c = new NativeClient("127.0.0.1", port)
      try body(c) finally c.close()
    } finally srv.stop()
  }

  private def withHttp[A](body: Int => A): A = {
    val srv = new QueryServer(spark)
    val port = srv.start()
    try body(port) finally srv.stop(0L)
  }

  private val http = HttpClient.newHttpClient()

  private def post(port: Int, params: String, sql: String): HttpResponse[String] =
    http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?$params"))
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** The group's jobs have ended (their end events may trail the
    * cancel by a moment) and none starts within the next half second. */
  private def assertQuiet(spy: JobSpy, g: String): Unit = {
    val deadline = System.nanoTime() + 2e9.toLong
    while (spy.runningIn(g) > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(spy.runningIn(g) == 0, s"jobs of $g still running")
    val before = spy.startedIn(g)
    Thread.sleep(500)
    assert(spy.startedIn(g) == before, s"a job of $g started after the query ended")
  }

  /** Partitions past the first wait, interruptibly, for a cancel. */
  private def stalledPast(first: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, parts * 10L, 1, parts).as[Long].map { i =>
      if (i >= first) {
        val until = System.nanoTime() + 60e9.toLong
        while (!TaskContext.get().isInterrupted() && System.nanoTime() < until)
          Thread.sleep(10)
      }
      i
    }.toDF("n")
  }

  private val N = 100000L
  private val eightParts = "spark.sql.leafNodeDefaultParallelism"

  test("order: a multi-partition scan and an ORDER BY return every row in order, both doors") {
    val ordered = (0L until N).map(i => (i % 7, i)).sortBy(identity)
    withSpy("graft-native-") { spy =>
      withNative { c =>
        c.exec(s"SET $eightParts = 8")
        val r = c.query(s"SELECT number FROM numbers($N)")
        assert(r.rows.map(_.head) == (0L until N))
        assert(spy.maxStarted >= 8, "the scan did not run one job per partition")
        c.exec("SET spark.sql.adaptive.coalescePartitions.enabled = false")
        val o = c.query(s"SELECT number % 7 AS k, number FROM numbers($N) ORDER BY k, number")
        assert(o.rows.map(r => (r(0), r(1))) == ordered)
      }
    }
    withSpy("graft-query-") { spy =>
      withHttp { port =>
        val r = post(port, s"default_format=TSV&$eightParts=8",
          s"SELECT number FROM numbers($N)")
        assert(r.statusCode() == 200, r.body())
        assert(r.body().linesIterator.toSeq == (0L until N).map(_.toString))
        assert(spy.maxStarted >= 8, "the scan did not run one job per partition")
        val o = post(port,
          "default_format=TSV&spark.sql.adaptive.coalescePartitions.enabled=false",
          s"SELECT number % 7 AS k, number FROM numbers($N) ORDER BY k, number")
        assert(o.statusCode() == 200, o.body())
        assert(o.body().linesIterator.toSeq == ordered.map { case (k, n) => s"$k\t$n" })
      }
    }
  }

  test("overlap: partition jobs of one query run at the same time, both doors") {
    val sql = "SELECT number, cityHash64(toString(number)) AS h FROM numbers(400000)"
    withSpy("graft-native-") { spy =>
      withNative { c =>
        c.exec(s"SET $eightParts = 8")
        assert(c.query(sql).rows.size == 400000)
      }
      assert(spy.maxPeak >= 2,
        s"partition jobs ran one at a time (peak ${spy.maxPeak})")
    }
    withSpy("graft-query-") { spy =>
      withHttp { port =>
        val r = post(port, s"default_format=TSV&$eightParts=8", sql)
        assert(r.statusCode() == 200, r.body())
        assert(r.body().linesIterator.size == 400000)
      }
      assert(spy.maxPeak >= 2,
        s"partition jobs ran one at a time (peak ${spy.maxPeak})")
    }
  }

  test("window: a consumer that stops reading has at most W jobs submitted") {
    val g = "graft-window-test"
    withSpy(g) { spy =>
      sc.setJobGroup(g, "window", interruptOnCancel = true)
      try {
        val rows = Governance.iterateBounded(spark.range(0, 64000, 1, 32).toDF("n")) { it =>
          val first = it.next().getLong(0)
          val deadline = System.nanoTime() + 10e9.toLong
          while (spy.startedIn(g) < window && System.nanoTime() < deadline)
            Thread.sleep(20)
          Thread.sleep(500) // a fetch that ran ahead would start more now
          assert(spy.startedIn(g) == window,
            s"${spy.startedIn(g)} jobs submitted, window is $window")
          first +: it.map(_.getLong(0)).toVector
        }
        assert(rows == (0L until 64000L))
        assert(spy.startedIn(g) == 32)
        assertQuiet(spy, g)
      } finally sc.clearJobGroup()
    }
  }

  test("window: no job is submitted ahead while the unconsumed bytes exceed the bound") {
    val g = "graft-bytes-test"
    def jobsAfterSecondPartition(maxBytes: Long): Int = withSpy(g) { spy =>
      sc.setJobGroup(g, "bytes", interruptOnCancel = true)
      try {
        val fetch = PartitionFetch(spark.range(0, 800, 1, 8).toDF("n"), 4, maxBytes)
        try {
          (0 until 100).foreach(_ => fetch.next()) // all of partition 0
          // partitions 1-3 finish while the consumer holds partition 0
          val deadline = System.nanoTime() + 10e9.toLong
          while (spy.runningIn(g) > 0 && System.nanoTime() < deadline)
            Thread.sleep(20)
          fetch.next() // opens partition 1
          Thread.sleep(300)
          spy.startedIn(g)
        } finally fetch.close()
      } finally sc.clearJobGroup()
    }
    // unbounded: opening partition 1 slides the window onto partition 4
    assert(jobsAfterSecondPartition(Long.MaxValue) == 5)
    // bounded below one partition's bytes: 1-3 are fetched and unread
    assert(jobsAfterSecondPartition(1L) == 4)
  }

  test("a failing partition surfaces where the consumer reaches it, after the rows before it") {
    import spark.implicits._
    // the last partition fails at once, while the others still run
    val df = spark.range(0, 40, 1, 4).as[Long].map { i =>
      if (i == 30L) throw new IllegalStateException("partition 3 failed")
      if (i < 30L && i % 10 == 0) Thread.sleep(300)
      i
    }.toDF("n")
    val read = mutable.ArrayBuffer[Long]()
    val e = intercept[Exception] {
      Governance.iterateBounded(df)(_.foreach(r => read += r.getLong(0)))
    }
    assert(e.getMessage.contains("partition 3 failed"), e.getMessage)
    assert(read == (0L until 30L))
  }

  test("early stop: a failing consumer leaves no job running, the session answers next") {
    val g = "graft-consumer-test"
    withSpy(g) { spy =>
      sc.setJobGroup(g, "consumer", interruptOnCancel = true)
      try {
        val e = intercept[IllegalStateException] {
          Governance.iterateBounded(stalledPast(10L, 8)) { it =>
            it.next()
            throw new IllegalStateException("encode failed")
          }
        }
        assert(e.getMessage == "encode failed")
      } finally sc.clearJobGroup()
      assert(spy.startedIn(g) >= 2, "the stalled partitions were never submitted")
      assertQuiet(spy, g)
    }
    val ok = new QueryService(spark).execute(QueryRequest("SELECT 1 AS ok"))
    assert(ok.rows == Seq(Seq(1)))
  }

  test("early stop: a native Cancel and a max_result_rows throw leave no job running") {
    withSpy("graft-native-") { spy =>
      withNative { c =>
        c.exec(s"SET $eightParts = 8")
        c.queryAsync("SELECT number FROM numbers(20000000000) " +
          "WHERE cityHash64(toString(number)) = 0")
        val deadline = System.nanoTime() + 30e9.toLong
        while (spy.maxPeak < 2 && System.nanoTime() < deadline) Thread.sleep(20)
        assert(spy.maxPeak >= 2, "the scan's partition jobs never overlapped")
        c.cancel()
        assert(c.awaitResult().rows.isEmpty)
        spy.groups.foreach(g => assertQuiet(spy, g))
        assert(c.query("SELECT 1 AS ok").rows == Seq(Seq(1)))

        val before = spy.groups
        val e = intercept[NativeClient.ServerSideException] {
          c.query(s"SELECT number FROM numbers($N)", Map("max_result_rows" -> "10"))
        }
        assert(e.getMessage.contains("TOO_MANY_ROWS"), e.getMessage)
        (spy.groups -- before).foreach(g => assertQuiet(spy, g))
        assert(c.query("SELECT 1 AS ok").rows == Seq(Seq(1)))
      }
    }
  }

  test("max_result_rows: break truncates, throw errors, the same through both doors") {
    val sql = "SELECT number FROM numbers(100) ORDER BY number"
    withNative { c =>
      val b = c.query(sql, Map("max_result_rows" -> "10", "result_overflow_mode" -> "break"))
      assert(b.rows.map(_.head) == (0L until 10L))
      // the break ended with its query: throw is the mode again
      val e = intercept[NativeClient.ServerSideException] {
        c.query(sql, Map("max_result_rows" -> "10"))
      }
      assert(e.getMessage.contains("Limit for result rows exceeded: read 11+ rows, " +
        "maximum 10. TOO_MANY_ROWS"), e.getMessage)
      val under = c.query(sql, Map("max_result_rows" -> "100"))
      assert(under.rows.map(_.head) == (0L until 100L))
      // a multi-partition scan without ORDER BY: exactly the limit
      val scan = c.query(s"SELECT number FROM numbers($N)",
        Map("max_result_rows" -> "10", "result_overflow_mode" -> "break"))
      assert(scan.rows.size == 10)
    }
    withHttp { port =>
      val b = post(port,
        "default_format=TSV&max_result_rows=10&result_overflow_mode=break", sql)
      assert(b.statusCode() == 200, b.body())
      assert(b.body().linesIterator.toSeq == (0 until 10).map(_.toString))
      val e = post(port, "default_format=TSV&max_result_rows=10", sql)
      assert(e.body().contains("TOO_MANY_ROWS"), e.body())
    }
  }
}
