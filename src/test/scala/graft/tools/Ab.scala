package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.core.{Engine, Tables}
import graft.dialect.ChSql

/** Paired A/B of one SQL text under two sets of runtime SQL confs, and
  * its plan dump. The session is the served one ([[Engine.session]]),
  * the sf tables are registered as views ([[Tables.registerViews]]) and
  * the text runs through [[ChSql.sql]], so the dialect and graft's rules
  * apply as they do behind the doors.
  *
  * {{{
  * Test/runMain graft.tools.Ab <sfDir> "<sql>" [--a k=v]... [--b k=v]...
  *   [--pairs N] [--plans <dir>]
  * }}}
  *
  * It refuses, before timing anything:
  *  - a key the session cannot change per query: one graft's settings
  *    table ([[graft.service.Settings]]) does not declare and Spark's
  *    `conf.isModifiable` does not know — a typo'd `spark.graft.*`
  *    switch, a static SQL conf, a SparkContext conf (off-heap, say:
  *    that needs two processes). A value the table refuses refuses too.
  *  - a run whose A and B answers differ, compared on the collected rows.
  *
  * Then one warm-up per side and N pairs, each a `noop` write per side,
  * alternating which side goes first. It prints one JSON line: the
  * per-pair ms, both medians, A's IQR and the count of pairs B won.
  * `--plans <dir>` writes each side's `explain("formatted")` to
  * `<dir>/a.txt` and `<dir>/b.txt`. */
object Ab {

  private final case class Args(
      sfDir: String = "",
      sql: String = "",
      a: Map[String, String] = Map.empty,
      b: Map[String, String] = Map.empty,
      pairs: Int = 9,
      plans: Option[String] = None)

  private val Usage = "usage: Ab <sfDir> \"<sql>\" [--a k=v]... [--b k=v]... " +
    "[--pairs N] [--plans <dir>]"

  private def conf(kv: String): (String, String) = kv.split("=", 2) match {
    case Array(k, v) if k.nonEmpty => k.trim -> v.trim
    case _ => throw new IllegalArgumentException(s"not k=v: $kv. $Usage")
  }

  @annotation.tailrec
  private def parse(rest: List[String], acc: Args = Args()): Args = rest match {
    case Nil =>
      require(acc.sfDir.nonEmpty && acc.sql.nonEmpty, Usage)
      acc
    case "--a" :: kv :: t => parse(t, acc.copy(a = acc.a + conf(kv)))
    case "--b" :: kv :: t => parse(t, acc.copy(b = acc.b + conf(kv)))
    case "--pairs" :: n :: t => parse(t, acc.copy(pairs = n.toInt))
    case "--plans" :: d :: t => parse(t, acc.copy(plans = Some(d)))
    case p :: t if !p.startsWith("--") && acc.sfDir.isEmpty =>
      parse(t, acc.copy(sfDir = p))
    case p :: t if !p.startsWith("--") && acc.sql.isEmpty =>
      parse(t, acc.copy(sql = p))
    case p :: _ => throw new IllegalArgumentException(s"unexpected '$p'. $Usage")
  }

  /** The keys [[main]] refuses: those a per-query `SET` cannot change.
    * A declared row's value is checked here too. */
  private def staticKeys(spark: SparkSession,
      sides: Seq[(String, String)]): Seq[String] =
    sides.collect { case (k, v) if graft.service.Settings.find(k)
        .map(_.normalise(v)).isEmpty && !spark.conf.isModifiable(k) => k }
      .distinct.sorted

  private def quantile(sorted: Seq[Double], p: Double): Double = {
    val x = p * (sorted.size - 1)
    val (lo, hi) = (x.floor.toInt, x.ceil.toInt)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
  }

  private def jstr(s: String) =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jnum(v: Double) =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

  private def jmap(m: Map[String, String]) =
    m.toSeq.sorted.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    require(args.pairs > 0, Usage)
    val spark = Engine.session("graft-ab")
    try {
      val static = staticKeys(spark, args.a.toSeq ++ args.b.toSeq)
      require(static.isEmpty, s"not a runtime SQL conf: ${static.mkString(", ")} " +
        "(a static or SparkContext conf needs two processes)")
      Tables.registerViews(spark, args.sfDir)
      def under[A](side: Map[String, String])(body: => A): A =
        ChSql.withSettings(spark, side)(body)

      val answers = Seq(args.a, args.b).map(side =>
        under(side)(ChSql.sql(spark, args.sql).collect().map(_.toString).sorted.toSeq))
      require(answers(0) == answers(1), "A and B answer differently:\n" +
        s" A: ${answers(0).take(5).mkString("; ")}\n B: ${answers(1).take(5).mkString("; ")}")

      args.plans.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        Seq("a" -> args.a, "b" -> args.b).foreach { case (name, side) =>
          val plan = under(side)(
            ChSql.sql(spark, args.sql).queryExecution.explainString(FormattedMode))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$name.txt"), plan)
        }
      }

      def timed(side: Map[String, String]): Double = under(side) {
        val t0 = System.nanoTime()
        ChSql.sql(spark, args.sql).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      timed(args.a); timed(args.b)
      val pairs = (0 until args.pairs).map { i =>
        if (i % 2 == 0) { val a = timed(args.a); (a, timed(args.b)) }
        else { val b = timed(args.b); (timed(args.a), b) }
      }
      val (as, bs) = (pairs.map(_._1).sorted, pairs.map(_._2).sorted)
      println(s"""{"metric":"ab","sql":${jstr(args.sql)},""" +
        s""""a":${jmap(args.a)},"b":${jmap(args.b)},""" +
        s""""pairs_ms":${pairs.map { case (a, b) => s"[${jnum(a)},${jnum(b)}]" }
          .mkString("[", ",", "]")},""" +
        s""""a_median_ms":${jnum(quantile(as, 0.5))},""" +
        s""""b_median_ms":${jnum(quantile(bs, 0.5))},""" +
        s""""a_iqr_ms":${jnum(quantile(as, 0.75) - quantile(as, 0.25))},""" +
        s""""b_wins":${pairs.count { case (a, b) => b < a }},"n":${pairs.size}}""")
    } finally spark.stop()
  }
}
