package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FunctionShim
import org.scalatest.funsuite.AnyFunSuite

/** The r20 byte-scan tokenizer must be BIT-IDENTICAL to
  * `regexp_extract_all(text, "\\S+", 0)` on valid UTF-8 — the
  * retrieval/text operators swapped it in purely for speed, so any
  * divergence is a silent answer change across q92/q111/q112/q126 and
  * the quality filters. Malformed UTF-8 is the one pinned difference:
  * the same tokens, with raw bytes where the regex form has U+FFFD. */
class WordsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def wordsCol(c: org.apache.spark.sql.Column) =
    FunctionShim.column(WordsExpr(FunctionShim.expression(c)))

  test("words() equals regexp_extract_all(\\S+) on edge cases and random text") {
    val spark2 = spark
    import spark2.implicits._
    val edge = Seq(
      "", " ", "  ", "a", " a", "a ", " a ", "a b", "a  b", "\ta\nb\r c\fd ",
      "ü ber  schön\t日本語 テキスト", "x" * 5000, ("w " * 1000).trim,
      " nbsp is not ascii ws ", "mixed and real ws",
      "tab\tsplit", "\n\n\n", "end\n")
    val rnd = new scala.util.Random(42)
    val alphabet = " \t\n\r\fabcXYZ09é中 "
    val random = (1 to 300).map(_ =>
      (1 to rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (edge ++ random).toDF("t")
    val mismatches = df.select(
        col("t"),
        wordsCol(col("t")).as("w"),
        regexp_extract_all(col("t"), lit("\\S+"), lit(0)).as("r"))
      .filter(not(col("w") === col("r")))
      .collect()
    assert(mismatches.isEmpty,
      mismatches.take(5).map(_.toString).mkString("\n"))
  }

  test("words() keeps malformed UTF-8 bytes raw; the regex form emits U+FFFD") {
    // "a\xFFb c\xE2 \xC3": a stray byte, then two truncated sequences,
    // the last at the end of the text
    val t = expr("cast(unhex('61FF622063E220C3') AS STRING)")
    def hexes(tokens: org.apache.spark.sql.Column) =
      transform(tokens, x => hex(x.cast("binary")))
    val row = spark.range(1).select(
      hexes(wordsCol(t)),
      hexes(regexp_extract_all(t, lit("\\S+"), lit(0)))).collect().head
    // same token boundaries; words() copies the input bytes untouched
    assert(row.getSeq[String](0) == Seq("61FF62", "63E2", "C3"))
    assert(row.getSeq[String](1) == Seq("61EFBFBD62", "63EFBFBD", "EFBFBD"))
  }

  test("words() null text yields null, like the regex form") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
    val row = df.select(
      wordsCol(col("t")).as("w"),
      regexp_extract_all(col("t"), lit("\\S+"), lit(0)).as("r")).collect().head
    assert(row.isNullAt(0) && row.isNullAt(1))
  }
}
