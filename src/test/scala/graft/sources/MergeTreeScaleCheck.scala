package graft.sources

/** Scale validation for the executor-parallel MergeTree write tier
  * (VERDICT r10 task #4 done-criterion): CTAS the FULL sf0.1 lineitem
  * (6M rows) into a part tree — written by executors, no driver-side
  * row collect — then hash-match an aggregate over the tree against
  * the same aggregate over the parquet source, and assert the tree is
  * multi-part with per-part sorted, disjoint key ranges.
  *
  * Run: `sbt "Test/runMain graft.sources.MergeTreeScaleCheck"`
  * (optionally SPARK_GRAFT_SF_DIR to point at another scale). The
  * session is the engine's own ([[graft.core.Engine.session]]).
  */
object MergeTreeScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Engine.session("graft-mt-scale")
    import graft.sources.mergetree.{MergeTree, MergeTreeCtas}
    import org.apache.spark.sql.functions._

    val dir = java.nio.file.Files.createTempDirectory("graft_mt_scale")
      .toString + "/lineitem_tree"
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("CAST(l_orderkey AS BIGINT) AS okey",
        "l_returnflag AS flag", "l_quantity AS qty", "l_extendedprice AS price")
    val t0 = System.nanoTime()
    val (rows, ddl) = MergeTreeCtas.write(spark, src, dir, Seq("okey"))
    val wSec = (System.nanoTime() - t0) / 1e9
    val parts = MergeTree.partsInfo(dir)
    println(s"[mt-scale] wrote $rows rows in ${parts.size} parts in " +
      f"$wSec%.1f s (${parts.map(_._2).min}..${parts.map(_._2).max} rows/part)")
    assert(rows == src.count(), "row count mismatch")
    assert(parts.size > 1, s"expected multi-part, got ${parts.map(_._1)}")

    // aggregate hash-match: tree vs parquet source (the q179 shape)
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(round(qty * 100) AS BIGINT)")).as("q"),
        sum(expr("CAST(round(price * 100) AS BIGINT)")).as("p"),
        sum(expr("okey % 1000003")).as("k"))
        .orderBy("flag").collect().toSeq.map(_.toString)
    val a = sig(MergeTree.read(spark, dir, s"`okey` Int64, `flag` String, " +
      "`qty` Float64, `price` Float64", Seq("okey")))
    val b = sig(src)
    assert(a == b, s"aggregate mismatch:\n tree=$a\n src =$b")

    // per-part sortedness + cross-part disjointness on the first/last
    // key of each part (block order = range order)
    val ordered = parts.map(_._1).sortBy(p =>
      "all_(\\d+)_".r.findFirstMatchIn(p).get.group(1).toInt)
    var prevMax = Long.MinValue
    ordered.foreach { p =>
      val mm = MergeTree.read(spark, dir, "`okey` Int64, `flag` String, " +
        "`qty` Float64, `price` Float64", Seq("okey"), Seq(p))
        .agg(min("okey"), max("okey")).collect().head
      assert(mm.getLong(0) >= prevMax, s"part $p overlaps previous range")
      prevMax = mm.getLong(1)
    }
    println(s"[mt-scale] OK: hash match, ${parts.size} sorted disjoint parts, ddl=$ddl")
    spark.stop()
  }
}
