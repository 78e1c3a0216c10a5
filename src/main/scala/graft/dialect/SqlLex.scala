package graft.dialect

import java.util.regex.{Matcher, MatchResult}

import scala.util.matching.Regex

/** The one SQL lexer of the dialect front door. A single linear pass
  * classifies every character of a statement as
  *
  *   - code,
  *   - a single-quoted string literal (backslash escapes and the
  *     doubled `''`),
  *   - a backtick or double-quoted identifier (same escapes),
  *   - a line comment — `--`, `# ` or `#!` up to, not including, the
  *     `\n` — or a `/* … */` block comment, which nests,
  *
  * and records the bracket depth (`(` and `[`) before each character.
  * Every quote-, paren- or comment-sensitive question the dialect asks
  * about SQL text is a query on this one classification, so no pass
  * keeps its own quote state or carries it across slices. The comment
  * and quote rules are ClickHouse's own lexer's. An unterminated
  * literal, identifier or comment runs to the end of the text. The pass is lazy and stops early: it classifies only as far
  * as the queries so far have asked, so a pass whose match sits near
  * the start of a long statement never scans the rest. One instance
  * serves one thread. */
final class SqlLex(val text: String) {
  import SqlLex._

  private[this] val n = text.length
  private[this] var cs: Array[Char] = _
  private[this] var kinds: Array[Byte] = _
  // depth before each char; depths(n) is the depth at the end
  private[this] var depths: Array[Int] = _
  private[this] var done = 0 // text[0, done) is classified
  private[this] var level = 0 // bracket depth at `done`

  /** Classify the text up to and including char `i` (`i <= n`). */
  private def lexTo(i: Int): Unit = {
    if (cs == null) {
      cs = text.toCharArray
      kinds = new Array[Byte](n)
      depths = new Array[Int](n + 1)
    }
    while (done <= i && done < n) {
      val c = cs(done)
      val next = if (done + 1 < n) cs(done + 1) else '\u0000'
      if (c == '\'' || c == '`' || c == '"') {
        var j = done + 1
        var inside = true
        while (inside && j < n) {
          val cj = cs(j)
          if (cj == '\\') j += 2
          else if (cj == c && j + 1 < n && cs(j + 1) == c) j += 2
          else { j += 1; inside = cj != c }
        }
        run(math.min(j, n), if (c == '\'') Literal else Ident)
      } else if (c == '-' && next == '-' || c == '#' && (next == ' ' || next == '!')) {
        val eol = text.indexOf('\n', done)
        run(if (eol < 0) n else eol, Comment)
      } else if (c == '/' && next == '*') {
        run(blockCommentEnd(done + 2), Comment)
      } else {
        depths(done) = level // kinds(done) is already Code (0)
        if (c == '(' || c == '[') level += 1
        else if (c == ')' || c == ']') level -= 1
        done += 1
      }
    }
    if (done == n) depths(n) = level
  }

  /** End of the block comment whose body starts at `from`: each `/*`
    * inside opens one more level that its own `*/` closes. */
  private def blockCommentEnd(from: Int): Int = {
    var j = from
    var open = 1
    while (open > 0 && j + 1 < n) {
      if (cs(j) == '/' && cs(j + 1) == '*') { open += 1; j += 2 }
      else if (cs(j) == '*' && cs(j + 1) == '/') { open -= 1; j += 2 }
      else j += 1
    }
    if (open > 0) n else j
  }

  private def run(end: Int, kind: Byte): Unit = {
    java.util.Arrays.fill(kinds, done, end, kind)
    java.util.Arrays.fill(depths, done, end, level)
    done = end
  }

  /** Is char `i` SQL code (not inside a literal, identifier or comment)? */
  def isCode(i: Int): Boolean = { if (i >= done) lexTo(i); kinds(i) == Code }

  def isComment(i: Int): Boolean = { if (i >= done) lexTo(i); kinds(i) == Comment }

  /** Bracket depth before char `i` (`0 <= i <= text.length`). */
  def depth(i: Int): Int = { if (i >= done) lexTo(i); depths(i) }

  /** Code at bracket depth 0. */
  def isTopLevel(i: Int): Boolean = isCode(i) && depths(i) == 0

  /** Index of the first char at or after `from` that is neither comment
    * nor whitespace, or `text.length`. */
  def skipBlank(from: Int = 0): Int = {
    var i = from
    while (i < text.length && (isComment(i) || text.charAt(i).isWhitespace)) i += 1
    i
  }

  /** Index of the `)` closing the code `(` at `open`, or -1. */
  def matchParen(open: Int): Int = {
    val want = depth(open) + 1
    var i = open + 1
    while (i < n) {
      if (text.charAt(i) == ')' && isCode(i) && depths(i) == want) return i
      i += 1
    }
    -1
  }

  /** Split on code `sep` chars at bracket depth 0. Pieces keep their
    * whitespace; a blank last piece (a trailing `sep`) is dropped. */
  def splitTopLevel(sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var i = text.indexOf(sep)
    while (i >= 0) {
      if (isTopLevel(i)) { out += text.substring(start, i); start = i + 1 }
      i = text.indexOf(sep, i + 1)
    }
    val last = text.substring(start)
    if (last.trim.nonEmpty) out += last
    out.result()
  }

  /** Last index of the keyword `kw` (case-insensitive, word-bounded —
    * `settings_json` is not `settings`) in top-level code, or -1. */
  def lastTopLevelKeyword(kw: String): Int = {
    def word(j: Int) = j >= 0 && j < text.length && isWordChar(text.charAt(j))
    val (lo, up) = (Character.toLowerCase(kw.charAt(0)), Character.toUpperCase(kw.charAt(0)))
    var i = text.length - kw.length
    while (i >= 0) {
      // jump to the previous char that can start the keyword
      i = math.max(text.lastIndexOf(lo, i), text.lastIndexOf(up, i))
      if (i >= 0 && text.regionMatches(true, i, kw, 0, kw.length) &&
          !word(i - 1) && !word(i + kw.length) && isTopLevel(i)) return i
      i -= 1
    }
    -1
  }

  /** Move `m` to its first match at or after `from` whose first char is
    * code. A candidate that starts inside a literal, identifier or
    * comment is skipped and the search resumes after that span, so it
    * never hides a code match it overlaps. */
  private def findCode(m: Matcher, from: Int): Boolean = {
    var p = from
    while (p <= n && m.find(p)) {
      val s = m.start
      if (s == n || isCode(s)) return true
      p = s
      while (p < n && !isCode(p)) p += 1
    }
    false
  }

  /** Where the search after the match `m` resumes. */
  private def after(m: MatchResult): Int = if (m.end > m.start) m.end else m.start + 1

  /** The matches of `re` at or after `from` that start in code. */
  def codeMatches(re: Regex, from: Int = 0): Iterator[MatchResult] = {
    val m = re.pattern.matcher(text)
    var pos = from
    Iterator.continually(if (findCode(m, pos)) { pos = after(m); m.toMatchResult } else null)
      .takeWhile(_ != null)
  }

  /** [[codeMatches]] at bracket depth 0. */
  def topLevelMatches(re: Regex, from: Int = 0): Seq[MatchResult] =
    codeMatches(re, from).filter(m => depth(m.start) == 0).toSeq

  /** Rewrite the code matches of `re`: `repl` returns Some(text) to
    * replace the match, None to keep it. */
  def replace(re: Regex)(repl: MatchResult => Option[String]): String =
    splice(re)(m => repl(m).map(t => (m.end, t)))

  /** [[replace]] where the replacement may reach past the match:
    * Some((end, t)) replaces `text[m.start, end)` with `t`; matches that
    * start before `end` are then skipped. */
  def splice(re: Regex)(repl: MatchResult => Option[(Int, String)]): String = {
    val m = re.pattern.matcher(text)
    var out: java.lang.StringBuilder = null
    var pos = 0  // text[0, pos) is emitted
    var from = 0 // where the next search starts
    while (findCode(m, from)) {
      from = after(m)
      if (m.start >= pos) repl(m).foreach { case (end, t) =>
        if (out == null) out = new java.lang.StringBuilder(n + 16)
        out.append(text.substring(pos, m.start)).append(t)
        pos = end
      }
    }
    if (out == null) text else out.append(text.substring(pos)).toString
  }

  /** The text with every comment turned into one space, up to `until`;
    * `text[until, end)` follows verbatim. */
  def stripComments(until: Int = text.length): String = {
    val out = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < until) {
      var j = i
      while (j < until && !isComment(j)) j += 1
      out.append(text.substring(i, j))
      if (j < until) out.append(' ')
      while (j < until && isComment(j)) j += 1
      i = j
    }
    out.append(text.substring(until)).toString
  }
}

object SqlLex {
  private final val Code: Byte = 0
  private final val Literal: Byte = 1
  private final val Ident: Byte = 2
  private final val Comment: Byte = 3

  def apply(text: String): SqlLex = new SqlLex(text)

  private def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** True when `s` may hold a comment — the cheap pre-check that lets
    * comment-free text skip the lexer. */
  def mayHaveComments(s: String): Boolean =
    s.indexOf("--") >= 0 || s.indexOf("/*") >= 0 || s.indexOf('#') >= 0
}
