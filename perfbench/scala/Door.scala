package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.service.native.NativeBlock

/** Closed-loop client for the untraced door runs. Reads a plan, drives
  * it against a running server and writes one JSON record per
  * operation; the caller turns the records into metrics.
  *
  * Usage: Door <plan.json> <http port> <native port> <records.jsonl>
  *
  * Modes:
  *   - `loop`: one thread per schedule, each cycling its statement list
  *     over its own connection until the deadline;
  *   - `passes`: whole passes of the schedule run one statement at a
  *     time until the deadline (at least one pass; a pass is never cut),
  *     each statement on its own native connection ([[NativeConn]]). A pass may
  *     carry one batch insert into a MergeTree table and a read whose
  *     answer must equal the batches sent so far ([[Ingest.InPass]]).
  */
object Door {
  final case class Rec(kind: String, stmt: String, conn: Int, startMs: Double,
      ms: Double, bytes: Long, rows: Long, sourceRows: Long, export: Boolean,
      error: Option[String], result: Seq[Seq[String]] = Nil)

  def json(r: Rec): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("kind", r.kind); m.put("stmt", r.stmt); m.put("conn", r.conn)
    m.put("start_ms", r.startMs); m.put("ms", r.ms); m.put("bytes", r.bytes)
    m.put("rows", r.rows); m.put("source_rows", r.sourceRows)
    m.put("export", r.export); m.put("error", r.error.orNull)
    if (r.result.nonEmpty) m.put("result", r.result.map(_.asJava).asJava)
    Plan.mapper.writeValueAsString(m)
  }

  def connect(plan: Plan, httpPort: Int, nativePort: Int): DoorConn =
    if (plan.door == "http") new HttpConn(httpPort) else new NativeConn(nativePort)

  /** Time one statement; any exception or wrong answer is an error. */
  def timed(conn: DoorConn, s: Stmt, c: Int, t0: Long, kind: String = "read"): Rec = {
    val start = System.nanoTime()
    val (bytes, rows, err) =
      try conn.run(s)
      catch { case e: Throwable => (0L, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val end = System.nanoTime()
    val result = conn match { case n: NativeConn => n.last; case _ => Nil }
    Rec(kind, s.id, c, (start - t0) / 1e6, (end - start) / 1e6, bytes, rows,
      s.sourceRows, s.export, err.map(m => s"${s.sql.take(160)} -> $m"), result)
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val httpPort = args(1).toInt
    val nativePort = args(2).toInt
    val out = new ConcurrentLinkedQueue[Rec]()
    val t0 = System.nanoTime()
    // prep statements (ATTACH, projections, DDL) are untimed and must
    // succeed; ATTACH and CREATE register in the catalog, which every
    // later session sees
    NativeConn.using(nativePort) { c =>
      plan.prep.foreach(c.exec(_))
      if (plan.ingestBatchRows > 0) c.exec(Ingest.Ddl)
    }
    // warm-up, checked but untimed: `plan.warmup` whole cycles of each
    // connection's schedule (loop mode; the connections then start the
    // measured window together) or whole passes (passes mode)
    val start = new java.util.concurrent.CyclicBarrier(plan.schedules.size)
    @volatile var deadline = 0L
    plan.mode match {
      case "loop" =>
        val threads = plan.schedules.indices.map { c =>
          new Thread(() => {
            val conn = connect(plan, httpPort, nativePort)
            try {
              val sched = plan.schedules(c)
              (0 until plan.warmup * sched.size).foreach(i =>
                out.add(timed(conn, plan.stmts(sched(i % sched.size)), c, t0, "warmup")))
              if (start.await() == 0) deadline = System.nanoTime() + (plan.seconds * 1e9).toLong
              start.await()
              var i = 0
              while (System.nanoTime() < deadline) {
                out.add(timed(conn, plan.stmts(sched(i % sched.size)), c, t0))
                i += 1
              }
            } finally conn.close()
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
      case "passes" =>
        val conn = connect(plan, httpPort, nativePort)
        val ingest = new Ingest.InPass(plan, nativePort, t0)
        def pass(kind: String): Unit = plan.schedules(0).map(plan.stmts(_)).foreach { s =>
          out.add(s.template match {
            case Ingest.InsertTemplate => ingest.insert(kind)
            case Ingest.ReadTemplate => ingest.read(kind)
            case _ => timed(conn, s, 0, t0, kind)
          })
        }
        try {
          (0 until plan.warmup).foreach(_ => pass("warmup"))
          deadline = System.nanoTime() + (plan.seconds * 1e9).toLong
          do pass("read") while (System.nanoTime() < deadline)
        } finally conn.close()
    }
    val w = new PrintWriter(args(3), "UTF-8")
    try out.asScala.foreach(r => w.println(json(r))) finally w.close()
  }
}

/** Seeded insert batches, the reads over them and their answer checks. */
object Ingest {
  val Table = "ev_ingest"
  val Ddl = s"CREATE TABLE $Table (event_id Int64, ts DateTime, user_id Int64, " +
    "event_type String, value Float64) ENGINE = MergeTree ORDER BY (event_type, ts)"
  val Types = Seq("click", "error", "purchase", "signup", "view")

  final case class Batch(ids: Array[Long], ts: Array[Long], users: Array[Long],
      types: Array[String], values: Array[Double]) {
    def cols: Seq[NativeBlock.Col] = Seq(
      NativeBlock.Col("event_id", NativeBlock.TInt64, ids.toIndexedSeq.map(Long.box)),
      NativeBlock.Col("ts", NativeBlock.TDateTime,
        ts.toIndexedSeq.map(java.time.Instant.ofEpochSecond)),
      NativeBlock.Col("user_id", NativeBlock.TInt64, users.toIndexedSeq.map(Long.box)),
      NativeBlock.Col("event_type", NativeBlock.TString, types.toIndexedSeq),
      NativeBlock.Col("value", NativeBlock.TFloat64, values.toIndexedSeq.map(Double.box)))
    def nativeBytes: Long = ids.length * 28L + types.map(_.length + 1L).sum
  }

  /** Batch `b` of the seeded stream: every value derives from (seed, b). */
  def batch(seed: Long, b: Int, rows: Int): Batch = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + b)
    val base = 1704067200L // 2024-01-01
    Batch(
      Array.tabulate(rows)(i => b.toLong * rows + i),
      Array.fill(rows)(base + rng.nextLong(30L * 86400L)),
      Array.fill(rows)(rng.nextLong(1500L)),
      Array.fill(rows)(Types(rng.nextInt(Types.size))),
      Array.fill(rows)(math.round(rng.nextDouble() * 50000.0) / 100.0))
  }

  /** Plan templates of the ingest steps a scan pass carries: one batch
    * insert, then (later in the pass) a read whose `count()` and
    * `sum(value)` must equal those of the batches inserted so far. */
  val InsertTemplate = "ingest_insert"
  val ReadTemplate = "ingest_read"

  /** Sequential ingest inside scan passes, one native connection per
    * insert or read, like the pass's other statements. */
  final class InPass(plan: Plan, port: Int, t0: Long) {
    private val sent = scala.collection.mutable.ArrayBuffer.empty[Batch]
    private lazy val reader = readers(plan.seed, sent.toIndexedSeq).head

    private def rec(id: String, rows: Long, bytes: Long, kind: String)(f: => Option[String]): Door.Rec = {
      val start = System.nanoTime()
      val err = try f catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val end = System.nanoTime()
      Door.Rec(kind, id, 0, (start - t0) / 1e6, (end - start) / 1e6, bytes, rows, rows, false, err)
    }

    def insert(kind: String): Door.Rec = {
      val b = batch(plan.seed, sent.size, plan.ingestBatchRows)
      val r = rec(InsertTemplate, b.ids.length, b.nativeBytes, if (kind == "read") "insert" else kind) {
        NativeConn.using(port)(_.insert(s"INSERT INTO $Table VALUES", Seq(b.cols))); None
      }
      if (r.error.isEmpty) sent += b
      r.copy(error = r.error.map(m => s"insert batch ${sent.size} -> $m"))
    }

    def read(kind: String): Door.Rec = {
      val k = sent.size
      val r = rec(ReadTemplate, k.toLong * plan.ingestBatchRows, 0L, kind) {
        val got = NativeConn.using(port)(_.query(reader.sql)).rows
        Check.rows(got.map(_.map(String.valueOf)), reader.answer(k), 1e-9)
      }
      r.copy(error = r.error.map(m => s"${reader.sql} -> $m"))
    }
  }

  /** The readers' statements; `answer(k)` is the expected rows once
    * the first k batches are in. */
  final case class Reader(id: String, sql: String, answer: Int => Seq[Seq[String]])

  def readers(seed: Long, batches: => IndexedSeq[Batch]): IndexedSeq[Reader] = {
    val rng = new java.util.SplittableRandom(seed + 77)
    def upTo(k: Int) = batches.take(k)
    def fmt(d: Double) = d.toString
    val t = Types(rng.nextInt(Types.size))
    val v = 50 + rng.nextInt(400)
    IndexedSeq(
      Reader("i0_totals", s"SELECT count() AS c, sum(value) AS s FROM $Table",
        k => Seq(Seq(upTo(k).map(_.ids.length.toLong).sum.toString, fmt(upTo(k).map(_.values.sum).sum)))),
      Reader("i1_type_count", s"SELECT count() AS c, sum(value) AS s FROM $Table WHERE event_type = '$t'",
        k => {
          var c = 0L; var s = 0.0
          upTo(k).foreach(b => b.types.indices.foreach(i =>
            if (b.types(i) == t) { c += 1; s += b.values(i) }))
          Seq(Seq(c.toString, fmt(s)))
        }),
      Reader("i2_by_type", s"SELECT event_type, count() AS c FROM $Table GROUP BY event_type ORDER BY event_type",
        k => {
          val m = scala.collection.mutable.TreeMap.empty[String, Long]
          upTo(k).foreach(_.types.foreach(x => m(x) = m.getOrElse(x, 0L) + 1))
          m.toSeq.map { case (x, c) => Seq(x, c.toString) }
        }),
      Reader("i3_uniq_users", s"SELECT uniqExact(user_id) AS u FROM $Table WHERE value > $v",
        k => {
          val s = scala.collection.mutable.HashSet.empty[Long]
          upTo(k).foreach(b => b.values.indices.foreach(i => if (b.values(i) > v) s += b.users(i)))
          Seq(Seq(s.size.toString))
        }))
  }
}
