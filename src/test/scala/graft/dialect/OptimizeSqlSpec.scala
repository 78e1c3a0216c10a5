package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** OPTIMIZE TABLE must compact the physical layout without moving the
  * logical content, restore sorted layouts for keyed tables, and
  * refuse the unsupported PARTITION form loudly. */
class OptimizeSqlSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("path form: fewer files, identical content") {
    val dir = Files.createTempDirectory("graft_opt").toString + "/frag"
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .repartition(8).write.parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val status = ChSql.sql(spark, s"OPTIMIZE TABLE '$dir' FINAL").collect().head
    assert(status.getInt(1) == 8) // files_before
    assert(status.getInt(2) == 1) // files_after (tiny table → one target file)
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(after == before)
  }

  test("named CTAS table: sort key restored, view re-bound") {
    spark.conf.set(graft.service.Settings.WarehouseDir.name,
      Files.createTempDirectory("graft_opt_wh").toString)
    ChSql.sql(spark,
      """CREATE TABLE opt_ctas ORDER BY (o_orderkey) AS
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM parquet.`/root/testdata/sf0.001/orders.parquet`""".stripMargin)
    // fragment it behind the catalog's back, then compact by NAME
    val path = graft.core.Catalog.lookup("opt_ctas").get.endpoint.get
    spark.read.parquet(path).repartition(6)
      .write.mode("overwrite").parquet(path + "_refrag")
    // (rewrite in place via a second copy: overwrite of a read source
    // self-clobbers, so stage through the sibling)
    val frag = spark.read.parquet(path + "_refrag")
    // repartition again: scan packing may read the six files as one task
    frag.repartition(6).write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
    val want = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    val status = ChSql.sql(spark, "OPTIMIZE TABLE opt_ctas").collect().head
    assert(status.getInt(1) > 1, s"precondition: the table is fragmented: $status")
    assert(status.getInt(2) < status.getInt(1))
    // the view re-binds to the compacted files and content is unmoved
    assert(spark.table("opt_ctas").collect().map(_.toString).sorted.toSeq == want)
    // sorted layout restored: within the single output file, the key is
    // nondecreasing (writeSorted's clustering contract)
    val keys = spark.read.parquet(path)
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b })
  }

  test("OPTIMIZE on a MergeTree tree merges parts into one (CH FINAL)") {
    val d = java.nio.file.Files.createTempDirectory("graft_opt_mt").toString + "/tree"
    val cols = Seq("k" -> "Int64", "v" -> "Float64")
    // three parts, as an append-heavy table accretes them
    (0 until 3).foreach { p =>
      graft.sources.mergetree.MergeTreePartWriter.writePart(
        d, cols, (1 to 20).map(i => Seq[Any]((p * 100 + i).toLong, i * 0.5)),
        granularity = 8, partName = s"all_${p + 1}_${p + 1}_0", orderBy = Seq("k"))
    }
    graft.sources.mergetree.MergeTree
      .read(spark, d, "`k` Int64, `v` Float64", Seq("k"))
      .createOrReplaceTempView("opt_mt")
    val before = spark.table("opt_mt").collect().map(_.toString).sorted.toSeq
    val st = ChSql.sql(spark, "OPTIMIZE TABLE opt_mt FINAL").collect().head
    assert(st.getInt(1) == 3 && st.getInt(2) == 1,
      s"expected 3 parts -> 1, got ${st.getInt(1)} -> ${st.getInt(2)}")
    // content identical, and the merged part still reads through ATTACH
    assert(spark.table("opt_mt").collect().map(_.toString).sorted.toSeq == before)
    assert(graft.sources.mergetree.MergeTree.partsInfo(d).size == 1)
  }

  test("PARTITION form and missing paths refuse loudly") {
    val e1 = intercept[IllegalArgumentException] {
      ChSql.sql(spark, "OPTIMIZE TABLE t PARTITION '2024' FINAL")
    }
    assert(e1.getMessage.contains("PARTITION"))
    val e2 = intercept[Exception] {
      ChSql.sql(spark, "OPTIMIZE TABLE '/no/such/graft/path'")
    }
    assert(e2.getMessage.contains("does not exist"))
  }
}
