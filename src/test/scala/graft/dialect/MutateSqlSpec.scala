package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Mutations must follow CH's tri-valued contract (only a TRUE
  * predicate deletes/updates), cast assignments to the column type,
  * preserve sorted layouts, and leave untouched rows byte-identical. */
class MutateSqlSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def freshCopy(): String = {
    val d = Files.createTempDirectory("graft_mut").toString + "/t"
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.parquet(d)
    d
  }

  test("ALTER TABLE DELETE drops only TRUE-condition rows") {
    val d = freshCopy()
    val before = spark.read.parquet(d).count()
    val evens = spark.read.parquet(d).filter("o_orderkey % 2 = 0").count()
    val status = ChSql.sql(spark,
      s"ALTER TABLE '$d' DELETE WHERE o_orderkey % 2 = 0").collect().head
    assert(status.getString(1) == "deleted")
    assert(status.getLong(2) == evens)
    val after = spark.read.parquet(d)
    assert(after.count() == before - evens)
    assert(after.filter("o_orderkey % 2 = 0").count() == 0)
  }

  test("DELETE FROM (lightweight spelling) with a CH dialect function in the condition") {
    val d = freshCopy()
    val hits = spark.read.parquet(d)
      .filter("o_orderstatus = 'O'").count()
    // multiIf is a dialect-only name — proves the condition routes
    // through the CH front door
    val status = ChSql.sql(spark,
      s"DELETE FROM '$d' WHERE multiIf(o_orderstatus = 'O', 1, 0) = 1")
      .collect().head
    assert(status.getLong(2) == hits)
    assert(spark.read.parquet(d).filter("o_orderstatus = 'O'").count() == 0)
  }

  test("NULL-condition rows are KEPT on delete") {
    val d = Files.createTempDirectory("graft_mut_null").toString + "/t"
    import spark.implicits._
    Seq((1, Some(10)), (2, None), (3, Some(30)))
      .toDF("id", "v").write.parquet(d)
    // v > 15 is NULL for id=2 → kept (NOT coalesce(NULL, false))
    ChSql.sql(spark, s"ALTER TABLE '$d' DELETE WHERE v > 15").collect()
    val ids = spark.read.parquet(d).select("id").collect().map(_.getInt(0)).sorted
    assert(ids.toSeq == Seq(1, 2))
  }

  test("ALTER TABLE UPDATE: conditional assignment, type cast back, others untouched") {
    val d = freshCopy()
    val untouched = spark.read.parquet(d).filter("o_orderkey % 10 != 0")
      .collect().map(_.toString).sorted.toSeq
    val status = ChSql.sql(spark,
      s"ALTER TABLE '$d' UPDATE o_totalprice = o_totalprice * 2, " +
        s"o_orderstatus = concat(o_orderstatus, 'X') WHERE o_orderkey % 10 = 0")
      .collect().head
    assert(status.getString(1) == "updated")
    assert(status.getLong(2) > 0)
    val after = spark.read.parquet(d)
    // schema (types) unchanged
    assert(after.schema == spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet").schema)
    // matched rows transformed
    assert(after.filter("o_orderkey % 10 = 0")
      .filter("o_orderstatus NOT LIKE '%X'").count() == 0)
    // unmatched rows byte-identical
    assert(after.filter("o_orderkey % 10 != 0")
      .collect().map(_.toString).sorted.toSeq == untouched)
  }

  test("named CTAS table: mutation re-sorts and re-binds the view") {
    spark.conf.set(graft.service.Settings.WarehouseDir.name,
      Files.createTempDirectory("graft_mut_wh").toString)
    ChSql.sql(spark,
      """CREATE TABLE mut_ctas ORDER BY (o_orderkey) AS
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM parquet.`/root/testdata/sf0.001/orders.parquet`""".stripMargin)
    val before = spark.table("mut_ctas").count()
    val evens = spark.table("mut_ctas").filter("o_orderkey % 2 = 0").count()
    ChSql.sql(spark, "ALTER TABLE mut_ctas DELETE WHERE o_orderkey % 2 = 0").collect()
    assert(spark.table("mut_ctas").count() == before - evens)
    // sorted layout preserved through the mutation
    val path = graft.core.Catalog.lookup("mut_ctas").get.endpoint.get
    val keys = spark.read.parquet(path).select("o_orderkey")
      .collect().map(_.getLong(0))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b })
  }

  test("TRUNCATE TABLE keeps the schema, drops every row") {
    val d = freshCopy()
    val before = spark.read.parquet(d).count()
    val status = ChSql.sql(spark, s"TRUNCATE TABLE '$d'").collect().head
    assert(status.getString(1) == "truncated")
    assert(status.getLong(2) == before)
    val after = spark.read.parquet(d)
    assert(after.count() == 0)
    assert(after.schema == spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet").schema)
    // the empty rewrite lands as ONE file, not ceil(bytes/target) empties
    assert(new java.io.File(d).listFiles()
      .count(f => f.getName.endsWith(".parquet")) == 1)
    // IF EXISTS no-ops on a missing target instead of throwing
    val missing = ChSql.sql(spark,
      "TRUNCATE TABLE IF EXISTS '/no/such/graft/table'").collect().head
    assert(missing.getString(1) == "not_found")
    intercept[Exception] {
      ChSql.sql(spark, "TRUNCATE TABLE '/no/such/graft/table'").collect()
    }
  }

  test("UPDATE splits at the top-level WHERE, not one inside a string literal") {
    val d = Files.createTempDirectory("graft_mut_where").toString + "/t"
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "note").write.parquet(d)
    // the assignment literal contains ' WHERE ' — the quote-aware scan
    // must split at the real clause (advisor r9: the lazy regex split
    // broke here with a misleading downstream parse error)
    val status = ChSql.sql(spark,
      s"ALTER TABLE '$d' UPDATE note = 'x WHERE y' WHERE id = 1").collect().head
    assert(status.getString(1) == "updated")
    assert(status.getLong(2) == 1L)
    val notes = spark.read.parquet(d).orderBy("id")
      .select("note").collect().map(_.getString(0)).toSeq
    assert(notes == Seq("x WHERE y", "b"))
    // no top-level WHERE at all → a clear refusal, not a mis-split
    val e = intercept[IllegalArgumentException] {
      MutateSql.run(spark, s"ALTER TABLE '$d' UPDATE note = 'a WHERE b'")
    }
    assert(e.getMessage.contains("WHERE"))
  }

  test("mutations on a LOCAL MergeTree tree rewrite parts; web disks refuse") {
    val d = Files.createTempDirectory("graft_mut_mt").toString + "/tree"
    val cols = Seq("k" -> "Int64", "status" -> "String", "v" -> "Float64")
    graft.sources.mergetree.MergeTreePartWriter.writePart(
      d, cols, (1 to 30).map(i =>
        Seq[Any](i.toLong, if (i % 2 == 0) "even" else "odd", i * 1.5)),
      granularity = 8, orderBy = Seq("k"))
    graft.sources.mergetree.MergeTree
      .read(spark, d, "`k` Int64, `status` String, `v` Float64", Seq("k"))
      .createOrReplaceTempView("mut_mt")
    // DELETE: only TRUE-condition rows go, tree rewrites through the swap
    val del = ChSql.sql(spark,
      "ALTER TABLE mut_mt DELETE WHERE status = 'even'").collect().head
    assert(del.getString(1) == "deleted" && del.getLong(2) == 15L)
    assert(spark.table("mut_mt").count() == 15)
    assert(spark.table("mut_mt").filter("status = 'even'").count() == 0)
    // UPDATE: conditional assignment with the CH cast-back contract
    val up = ChSql.sql(spark,
      "ALTER TABLE mut_mt UPDATE v = v * 10 WHERE k <= 5").collect().head
    assert(up.getString(1) == "updated" && up.getLong(2) == 3L) // k=1,3,5 remain
    assert(spark.table("mut_mt").filter("k = 5").collect().head.getAs[Double]("v") == 75.0)
    assert(spark.table("mut_mt").filter("k = 7").collect().head.getAs[Double]("v") == 10.5)
    // TRUNCATE rewrites to a valid PARTLESS tree (r11): zero rows,
    // still scannable, still INSERTable
    val tr = ChSql.sql(spark, "TRUNCATE TABLE mut_mt").collect().head
    assert(tr.getString(1) == "truncated" && tr.getLong(2) == 15L)
    assert(spark.table("mut_mt").count() == 0)
    assert(graft.sources.mergetree.MergeTree.partsInfo(d).isEmpty)
    // an http(s) endpoint is a read-only web disk — mutation refuses
    graft.sources.mergetree.MergeTreePartWriter.writeHttpIndex(d)
    val port = graft.sources.StaticHttp.serve(new java.io.File(d).getParent)
    graft.sources.mergetree.MergeTree.read(spark,
      s"http://127.0.0.1:$port/tree", "`k` Int64, `status` String, `v` Float64", Seq("k"))
      .createOrReplaceTempView("mut_mt_http")
    val eh = intercept[IllegalArgumentException] {
      ChSql.sql(spark, "ALTER TABLE mut_mt_http DELETE WHERE k = 1")
    }
    assert(eh.getMessage.contains("read-only"))
  }

  test("tree mutations preserve declared CH types; NULL into non-Nullable refuses") {
    val d = Files.createTempDirectory("graft_mut_mt_types").toString + "/tree"
    val cols = Seq(
      "k" -> "UInt32",
      "kind" -> "Enum8('a' = 1, 'b' = 2)",
      "tag" -> "LowCardinality(String)",
      "v" -> "Float64")
    graft.sources.mergetree.MergeTreePartWriter.writePart(
      d, cols, (1 to 10).map(i => Seq[Any](i.toLong,
        if (i % 2 == 0) "a" else "b", s"t${i % 3}", i * 1.0)),
      granularity = 4, orderBy = Seq("k"))
    val ddl = cols.map { case (n, t) => s"`$n` $t" }.mkString(", ")
    graft.sources.mergetree.MergeTree.read(spark, d, ddl, Seq("k"))
      .createOrReplaceTempView("mut_mt_types")
    ChSql.sql(spark, "ALTER TABLE mut_mt_types DELETE WHERE k > 8").collect()
    // the rewritten part's columns.txt keeps the ORIGINAL CH types —
    // Enum stays Enum, LowCardinality stays, UInt32 stays unsigned
    // (review finding: the rewrite used to widen to Spark-mapped types)
    val colsTxt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(d).listFiles().filter(_.isDirectory).head
        .toPath.resolve("columns.txt")), "UTF-8")
    assert(colsTxt.contains("`kind` Enum8('a' = 1, 'b' = 2)"), colsTxt)
    assert(colsTxt.contains("`tag` LowCardinality(String)"), colsTxt)
    assert(colsTxt.contains("`k` UInt32"), colsTxt)
    assert(spark.table("mut_mt_types").count() == 8)
    // UPDATE to NULL on a non-Nullable column refuses, as CH does
    val e = intercept[Exception] {
      ChSql.sql(spark,
        "ALTER TABLE mut_mt_types UPDATE v = NULL WHERE k = 1").collect()
    }
    assert(e.getMessage.contains("non-Nullable"), e.getMessage)
    // path-form mutation on an INDEXED tree refuses (the key is unknown
    // from a bare path; rewriting would drop primary.idx)
    val e2 = intercept[IllegalArgumentException] {
      ChSql.sql(spark, s"ALTER TABLE '$d' DELETE WHERE k = 1")
    }
    assert(e2.getMessage.contains("primary index"), e2.getMessage)
  }

  test("path-form maintenance on a PARTLESS tree no-ops instead of throwing") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_mut_empty").toString + "/tree"
    graft.sources.mergetree.MergeTreeCtas.write(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), d, Seq("k"))
    // TRUNCATE of an already-empty tree: success, zero rows
    val tr = ChSql.sql(spark, s"TRUNCATE TABLE '$d'").collect().head
    assert(tr.getString(1) == "truncated" && tr.getLong(2) == 0L)
    // OPTIMIZE: nothing to merge
    val opt = ChSql.sql(spark, s"OPTIMIZE TABLE '$d'").collect().head
    assert(opt.getInt(1) == 0 && opt.getInt(2) == 0)
    // mutations: zero rows affected
    val del = ChSql.sql(spark, s"ALTER TABLE '$d' DELETE WHERE 1").collect().head
    assert(del.getString(1) == "deleted" && del.getLong(2) == 0L)
    val up = ChSql.sql(spark, s"ALTER TABLE '$d' UPDATE v = 'x' WHERE 1").collect().head
    assert(up.getString(1) == "updated" && up.getLong(2) == 0L)
  }

  test("malformed statements refuse loudly") {
    intercept[IllegalArgumentException] {
      MutateSql.run(spark, "ALTER TABLE t UPDATE novalue WHERE x = 1")
    }
    val d = freshCopy()
    intercept[IllegalArgumentException] {
      ChSql.sql(spark, s"ALTER TABLE '$d' UPDATE no_such_col = 1 WHERE true")
    }
  }
}
