package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One generated statement with its pinned expectation. `expectRows`
  * compares the whole result in order; `expectAgg` compares the row
  * count plus column sums (large exports and table functions). */
final case class Stmt(
    id: String,
    template: String,
    sql: String,
    sourceRows: Long,
    export: Boolean,
    expectRows: Option[Seq[Seq[String]]],
    expectAgg: Option[(Long, Seq[(Int, Double)])],
    tol: Double,
    param: Double)

final case class Plan(
    workload: String,
    door: String,
    seconds: Double,
    mode: String,
    seed: Long,
    stmts: IndexedSeq[Stmt],
    schedules: IndexedSeq[IndexedSeq[Int]],
    prep: Seq[String],
    ingestBatchRows: Int,
    warmup: Int)

object Plan {
  val mapper = new ObjectMapper()

  def load(path: String): Plan = {
    val j = mapper.readTree(new java.io.File(path))
    def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    val stmts = j.get("statements").elements().asScala.map { s =>
      val e = s.get("expect")
      Stmt(
        s.get("id").asText, s.get("template").asText, s.get("sql").asText,
        s.get("source_rows").asLong, s.path("export").asBoolean(false),
        Option(e.get("rows")).map(_.elements().asScala.map(r =>
          r.elements().asScala.map(v => if (v.isNull) "\\N" else v.asText).toSeq).toSeq),
        Option(e.get("count")).map(c => (c.asLong,
          e.get("sums").elements().asScala.map(p =>
            (p.get(0).asInt, p.get(1).asDouble)).toSeq)),
        s.path("tol").asDouble(1e-6), s.path("param").asDouble(0))
    }.toIndexedSeq
    Plan(
      j.get("workload").asText, j.get("door").asText, j.get("seconds").asDouble,
      j.get("mode").asText, j.get("seed").asLong, stmts,
      j.get("schedules").elements().asScala.map(
        _.elements().asScala.map(_.asInt).toIndexedSeq).toIndexedSeq,
      strs(j.path("prep")),
      j.path("ingest_batch_rows").asInt(0), j.path("warmup").asInt(0))
  }
}

/** Answer checks. Numbers compare with a relative tolerance (float
  * aggregates sum in a different order in every engine); everything
  * else compares as text. */
object Check {
  def num(s: String): Option[Double] =
    try Some(s.trim.toDouble) catch { case _: NumberFormatException => None }

  def close(a: Double, b: Double, tol: Double): Boolean =
    a == b || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def cell(got: String, want: String, tol: Double): Boolean =
    (num(got), num(want)) match {
      case (Some(a), Some(b)) => close(a, b, tol)
      case _ => got == want
    }

  /** None when the result matches, else the first difference. */
  def rows(got: Seq[Seq[String]], want: Seq[Seq[String]], tol: Double): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.size != w.size || !g.zip(w).forall { case (a, b) => cell(a, b, tol) } =>
        s"row $i = ${g.mkString("|")}, expected ${w.mkString("|")}"
    }

  /** Running row count and column sums of a result. */
  final class Agg(cols: Seq[Int]) {
    var count = 0L
    val sums = new Array[Double](cols.size)
    def add(row: Seq[Any]): Unit = {
      count += 1
      var k = 0
      while (k < cols.size) {
        sums(k) += (row(cols(k)) match {
          case n: java.lang.Number => n.doubleValue
          case v => v.toString.toDouble
        })
        k += 1
      }
    }
    def verdict(want: (Long, Seq[(Int, Double)]), tol: Double): Option[String] =
      if (count != want._1) Some(s"$count rows, expected ${want._1}")
      else want._2.zipWithIndex.collectFirst {
        case ((c, w), k) if !close(sums(k), w, tol) => s"sum(col $c) = ${sums(k)}, expected $w"
      }
  }

  def agg(rows: Iterator[Seq[Any]], want: (Long, Seq[(Int, Double)]), tol: Double): Option[String] = {
    val a = new Agg(want._2.map(_._1))
    rows.foreach(a.add)
    a.verdict(want, tol)
  }

  /** Native payload size of decoded values: fixed width for numbers,
    * length-prefixed UTF-8 for text. */
  def nativeBytes(v: Any): Long = v match {
    case _: java.lang.Long | _: java.lang.Double => 8
    case _: java.lang.Integer | _: java.lang.Float => 4
    case _: java.lang.Short => 2
    case _: java.lang.Byte | _: java.lang.Boolean => 1
    case null => 1
    case s: String =>
      val n = s.getBytes(UTF_8).length
      n + (if (n < 128) 1 else if (n < 16384) 2 else 3)
    case _ => 8
  }
}

/** One client connection to a door. */
trait DoorConn extends AutoCloseable {
  /** Run a statement; returns (result bytes received, result rows,
    * None or the first difference from the expected answer). */
  def run(s: Stmt): (Long, Long, Option[String])
}

/** ClickHouse HTTP interface: `POST /` with the statement as the body,
  * TabSeparated answer, one keep-alive connection per client thread. */
final class HttpConn(port: Int) extends DoorConn {
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
  private val uri = java.net.URI.create(s"http://127.0.0.1:$port/")

  def run(s: Stmt): (Long, Long, Option[String]) = {
    val req = java.net.http.HttpRequest.newBuilder(uri)
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(s.sql)).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    val (code, body) = (resp.statusCode, resp.body)
    val text = new String(body, UTF_8)
    if (code != 200) return (body.length, 0L, Some(s"HTTP $code: ${text.take(300)}"))
    val rows = text.split("\n", -1).toSeq.dropRight(1).map(_.split("\t", -1).toSeq)
    val verdict = s.expectRows.map(Check.rows(rows, _, s.tol))
      .orElse(s.expectAgg.map(w => Check.agg(rows.iterator, w, s.tol)))
      .getOrElse(Some("no expectation"))
    (body.length, rows.size.toLong, verdict)
  }
  def close(): Unit = ()
}

/** The native TCP door through the engine's own protocol client, one
  * connection per statement, the way the reference's control plane
  * dials one per query execution. Each connection opens its own server
  * session; the statement's latency includes the dial.
  *
  * A kept-alive connection is not reused because the engine's native
  * door fails it intermittently: `NativeServer.handleQuery` watches the
  * socket until the query's worker thread has ended, and when the
  * client's next Query packet arrives after EndOfStream but before the
  * worker has ended, the door reads it as "unexpected packet 1 during
  * query" and the connection desynchronizes and closes. */
final class NativeConn(port: Int) extends DoorConn {
  /** The last statement's result, rendered, when it has at most 10 rows
    * (else empty) — what `pin.py` records as an answer. */
  var last: Seq[Seq[String]] = Nil

  def run(s: Stmt): (Long, Long, Option[String]) = {
    last = Nil
    val r = NativeConn.using(port)(_.query(s.sql))
    var bytes = 0L
    r.rows.foreach(_.foreach(v => bytes += Check.nativeBytes(v)))
    lazy val shown = r.rows.map(_.map(render))
    if (r.rows.size <= 10) last = shown
    val verdict = s.expectRows.map(w => Check.rows(shown, w, s.tol))
      .orElse(s.expectAgg.map(w => Check.agg(r.rows.iterator, w, s.tol)))
      .getOrElse(Some("no expectation"))
    (bytes, r.rows.size.toLong, verdict)
  }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: java.lang.Double => d.toString
    case x => x.toString
  }
  def close(): Unit = ()
}

object NativeConn {
  /** Run `f` on a fresh native connection and close it. */
  def using[A](port: Int)(f: graft.service.native.NativeClient => A): A = {
    val c = new graft.service.native.NativeClient("127.0.0.1", port, compression = false)
    try f(c) finally c.close()
  }
}
