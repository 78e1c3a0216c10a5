package graft.dialect

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class SqlLexSpec extends AnyFunSuite {

  private def codeMask(s: String): String = {
    val lx = SqlLex(s)
    s.indices.map(i => if (lx.isCode(i)) 'c' else if (lx.isComment(i)) '#' else 'q').mkString
  }

  test("classifies literals, quoted identifiers and both comment forms") {
    assert(codeMask("a'b'c") == "cqqqc")
    assert(codeMask("""a'\''c""") == "cqqqqc")   // backslash escape
    assert(codeMask("a'it''s'c") == "cqqqqqqqc") // doubled quote
    assert(codeMask("a`x'y`c") == "cqqqqqc")     // apostrophe in an identifier
    assert(codeMask("a\"x'\"c") == "cqqqqc")
    assert(codeMask("a--x'\nb") == "c####cc")    // the line break is code
    assert(codeMask("a/*'*/b") == "c#####c")
    assert(codeMask("a/*x/*y*/z*/b") == "c###########c") // block comments nest
    assert(codeMask("a/*x/*y*/b") == "c#########")       // …so this one is unclosed
    assert(codeMask("a# x'\nb") == "c####cc")              // `# ` and `#!` are line comments
    assert(codeMask("a#!x") == "c###")
    assert(codeMask("a#x #") == "ccccc")                   // a bare `#` is not
    assert(codeMask("a--x\rb\nc") == "c#####cc")           // only `\n` ends a line comment
    assert(codeMask("'--x'") == "qqqqq")          // no comment inside a literal
    assert(codeMask("a 'open") == "ccqqqqq")      // unterminated runs to the end
  }

  test("depth, matchParen and splitTopLevel ignore brackets in quotes and comments") {
    val s = "f(a, ')', [1, 2], /* ( */ g(b)), c"
    val lx = SqlLex(s)
    assert(lx.matchParen(1) == s.lastIndexOf(')'))
    assert(lx.depth(s.indexOf('a')) == 1)
    assert(lx.splitTopLevel(',').map(_.trim) ==
      Seq("f(a, ')', [1, 2], /* ( */ g(b))", "c"))
    assert(SqlLex("a, b, ").splitTopLevel(',') == Seq("a", " b"))
    assert(SqlLex("").splitTopLevel(',').isEmpty)
  }

  test("lastTopLevelKeyword is word-bounded and skips nested, quoted and commented text") {
    val s = "SELECT f(settings) AS settings_json, 'settings' /* settings */ settings x=1"
    assert(SqlLex(s).lastTopLevelKeyword("settings") == s.lastIndexOf("settings"))
    assert(SqlLex("SELECT settings_json FROM t").lastTopLevelKeyword("settings") == -1)
  }

  test("replace rewrites code only; a match inside a literal does not hide the next one") {
    val re = """(?i)\bGLOBAL\s+""".r
    assert(SqlLex("SELECT 'GLOBAL ' || x FROM t GLOBAL JOIN u").replace(re)(_ => Some("")) ==
      "SELECT 'GLOBAL ' || x FROM t JOIN u")
    // the literal-started candidate `x' y` overlaps the code match `y`
    val ident = """[a-z]'? ?[a-z]""".r
    assert(SqlLex("'x' y z").codeMatches(ident).map(_.group).toList == List("y z"))
    assert(SqlLex("no match here").replace("""\d""".r)(_ => Some("!")) == "no match here")
  }

  test("stripComments blanks each comment to one space, up to a bound") {
    assert(SqlLex("a /* x */ b -- y\nc").stripComments() == "a   b  \nc")
    assert(SqlLex("a -- y\n1,--z").stripComments(7) == "a  \n1,--z")
  }

  test("ChSql.stripComments keeps an INSERT's inline data byte for byte") {
    val data = "\n1,\"-- not a comment\",/* nor this */\n"
    assert(ChSql.stripComments("-- load\nINSERT INTO t FORMAT CSV" + data) ==
      " \nINSERT INTO t FORMAT CSV" + data)
    // an INSERT … FORMAT f SELECT is all SQL
    assert(ChSql.stripComments("INSERT INTO 'p' FORMAT Parquet SELECT 1 -- x") ==
      "INSERT INTO 'p' FORMAT Parquet SELECT 1  ")
  }

  // ---- property: comment, literal and identifier contents never steer
  // or suffer a rewrite ----

  private val pieces = Seq("'", "\\", "`", "\"", "--", "/*", "*/", "# ", "(", ")",
    ",", " ", "=", "x", "1", "SETTINGS", "LIMIT", "FINAL", "GLOBAL", "IN")
  private val content: Gen[String] =
    Gen.listOf(Gen.oneOf(pieces)).map(_.mkString)

  private val tail = " FROM t LIMIT 2, 3 SETTINGS max_threads=1"

  private def quoted(s: String, q: Char): String =
    q.toString + s.replace("\\", "\\\\").replace(q.toString, "\\" + q) + q

  /** The four placements of `s`, each with the token text that must come
    * out unchanged (None for comments, which are removed). Block comments
    * nest, so the last one escapes both the opening and the closing marker. */
  private def placements(s: String): Seq[(String, Option[String])] = {
    val lit = quoted(s, '\'')
    val ident = quoted(s, '`')
    Seq(
      (s"SELECT $lit AS v$tail", Some(lit)),
      (s"SELECT 1 AS $ident$tail", Some(ident)),
      (s"SELECT 1 AS v -- $s\n$tail", None),
      (s"SELECT 1 AS v /* ${s.replace("*/", "* /").replace("/*", "/ *")} */$tail", None))
  }

  test("property: SETTINGS and LIMIT rewrite around any literal, identifier or comment") {
    val spark = graft.TestSpark.spark
    val prop = Prop.forAll(content) { s =>
      placements(s).forall { case (q, keep) =>
        val r = ChSql.rewrite(spark, q)
        val ok = r.settings == Map("max_threads" -> "1") &&
          r.sql.contains("LIMIT 3 OFFSET 2") &&
          !r.sql.contains("SETTINGS max_threads") &&
          keep.forall(r.sql.contains)
        if (!ok) println(s"[property] counterexample: $q\n  rewritten: ${r.sql}\n  settings: ${r.settings}")
        ok
      }
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(Seed(20261017L))
    val result = Test.check(params, prop)
    assert(result.passed, result.status.toString)
    assert(result.succeeded >= 500)
  }
}
