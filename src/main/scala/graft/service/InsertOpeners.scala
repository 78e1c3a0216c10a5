package graft.service

import graft.dialect.{ChSql, SqlLex}

/** Parsing of `INSERT INTO t [(cols)] <tail>` openers, shared by the
  * native door's batch-insert opener (tail `VALUES` / `FORMAT Native` /
  * empty) and the HTTP door's binary-body ingest (tail `FORMAT
  * Parquet`). Comments are removed first, as at every statement's
  * entry ([[ChSql.stripComments]]), and the column list is split by
  * the dialect lexer ([[SqlLex]]), so backtick / double-quoted column
  * names may hold `,` or `)`; their content is kept verbatim, with the
  * doubled quote as the in-identifier escape, per CH's lexer.
  */
object InsertOpeners {

  private val HeadRe =
    """(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?([`"\w.]+)\s*""".r

  /** A column name with its identifier quotes removed. */
  private def unquote(c: String): String =
    if (c.length >= 2 && (c.head == '`' || c.head == '"') && c.last == c.head)
      c.substring(1, c.length - 1).replace(c.head.toString * 2, c.head.toString)
    else c

  /** `Some((table, Some(columns)|None))` when `q` is exactly
    * `INSERT INTO [TABLE] <t> [(cols)] <tail>` with `tail` matching
    * `tailRe`; None otherwise. Quotes are stripped from the table name
    * and column names. */
  def parse(q: String, tailRe: scala.util.matching.Regex)
      : Option[(String, Option[Seq[String]])] = {
    val stmt = ChSql.stripComments(q)
    HeadRe.findPrefixMatchOf(stmt).flatMap { m =>
      val table = m.group(1).replaceAll("[`\"]", "")
      val rest = stmt.substring(m.end)
      val opener: Option[(Option[Seq[String]], String)] =
        if (!rest.startsWith("(")) Some((None, rest))
        else {
          val close = SqlLex(rest).matchParen(0)
          val cols = if (close < 0) Nil
            else SqlLex(rest.substring(1, close)).splitTopLevel(',')
              .map(c => unquote(c.trim)).filter(_.nonEmpty)
          // an explicitly EMPTY column list `INSERT INTO t () …` is a
          // syntax error in CH — collapsing it to the no-column-list
          // spelling would silently mean "all columns" (advisor r16)
          if (cols.isEmpty) None
          else Some((Some(cols), rest.substring(close + 1)))
        }
      opener.collect { case (cols, tail) if tailRe.matches(tail) => (table, cols) }
    }
  }
}
