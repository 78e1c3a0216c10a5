package graft.core

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.dialect.ChSql
import graft.service.QueryService

/** The process-wide table-resolution cache behind [[Tables.readParquet]]
  * and the catalog's Parquet replay: one schema inference and one file
  * listing per endpoint, exact freshness, per-session scan settings, and
  * no session kept alive by the cache. */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft_tables").toString

  /** What a door request answers: a fresh session, view replay, query. */
  private def freshQuery(sql: String): Seq[Seq[Any]] =
    new QueryService(spark.newSession()).execute(QueryService.QueryRequest(sql)).rows

  private def relationOf(df: org.apache.spark.sql.DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  test("files written under an attached directory are visible to the next fresh session") {
    val path = tmp() + "/x.parquet"
    ChSql.sql(spark, s"INSERT INTO '$path' SELECT id FROM range(3)").collect()
    Catalog.update(Catalog.AttachedTable("tc_fresh", "", Nil, Some(path)))
    try {
      assert(freshQuery("SELECT count() AS c FROM tc_fresh") == Seq(Seq(3L)))
      // the engine rewrites the directory; no sleep — the listing is
      // re-validated on every read
      ChSql.sql(spark, s"INSERT INTO '$path' SELECT id FROM range(5)").collect()
      assert(freshQuery("SELECT count() AS c FROM tc_fresh") == Seq(Seq(5L)))
      // another writer drops one more file into it
      val other = tmp() + "/o.parquet"
      spark.range(10, 12).coalesce(1).write.parquet(other)
      val part = new java.io.File(other).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(path, "part-other.parquet"))
      assert(freshQuery("SELECT count() AS c FROM tc_fresh") == Seq(Seq(7L)))
      assert(freshQuery("SELECT sum(id) AS s FROM tc_fresh") == Seq(Seq(31L)))
    } finally Catalog.detach("tc_fresh")
  }

  test("a rewritten file with an extra column is picked up") {
    val path = tmp() + "/t.parquet"
    spark.range(4).selectExpr("id").write.parquet(path)
    Catalog.update(Catalog.AttachedTable("tc_evolve", "", Nil, Some(path)))
    try {
      assert(freshQuery("SELECT * FROM tc_evolve ORDER BY id").map(_.size) == Seq.fill(4)(1))
      spark.range(4).selectExpr("id", "id * 10 AS v").write.mode("overwrite").parquet(path)
      assert(freshQuery("SELECT sum(v) AS s FROM tc_evolve") == Seq(Seq(60L)))
    } finally Catalog.detach("tc_evolve")
  }

  test("maxPartitionBytes set on one session shapes only that session's scan") {
    val path = tmp() + "/split.parquet"
    spark.range(200000).selectExpr("id", "id * 7 % 1000 AS v").coalesce(1)
      .write.parquet(path)
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    narrow.conf.set("spark.sql.files.openCostInBytes", "0")
    val wide = spark.newSession()
    val nNarrow = Tables.readParquet(narrow, path).rdd.getNumPartitions
    val nWide = Tables.readParquet(wide, path).rdd.getNumPartitions
    assert(nNarrow > 1 && nWide == 1, s"narrow=$nNarrow wide=$nWide")
    // and again in the other order, over the now-shared resolution
    assert(Tables.readParquet(spark.newSession(), path).rdd.getNumPartitions == 1)
    assert(Tables.readParquet(narrow, path).rdd.getNumPartitions == nNarrow)
  }

  test("one resolution per endpoint: later sessions neither infer nor re-list; one relation per session") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    val path = tmp() + "/once.parquet"
    spark.range(10).selectExpr("id").write.parquet(path)
    Tables.readParquet(spark.newSession(), path)
    val listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val s = spark.newSession()
    val a = Tables.readParquet(s, path)
    val b = Tables.readParquet(s, path)
    Tables.readParquet(spark.newSession(), path)
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount == listed)
    assert(relationOf(a) eq relationOf(b))
    assert(relationOf(a).sparkSession eq s)
    assert(a.collect().length == 10)
  }

  test("schema-shaping confs are part of the key") {
    // two files whose schemas differ: without mergeSchema inference
    // reads the first by path (id only), with it the union (id, v)
    val dir = tmp() + "/merge.parquet"
    Seq("a" -> "id", "b" -> "id, id * 2 AS v").foreach { case (name, cols) =>
      val src = tmp() + "/src"
      spark.range(3).selectExpr(cols.split(", "): _*).coalesce(1).write.parquet(src)
      val part = new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.copy(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
    }
    val single = spark.newSession()
    single.conf.set("spark.sql.parquet.mergeSchema", "false")
    val merged = spark.newSession()
    merged.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(Tables.readParquet(single, dir).schema.fieldNames.toSeq == Seq("id"))
    assert(Tables.readParquet(merged, dir).schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("the cache holds no SparkSession after the session is dropped") {
    val path = tmp() + "/gc.parquet"
    spark.range(5).selectExpr("id").write.parquet(path)
    def useAndDrop(): java.lang.ref.WeakReference[SparkSession] = {
      val s = spark.newSession()
      assert(Tables.readParquet(s, path).schema.fieldNames.toSeq == Seq("id"))
      new java.lang.ref.WeakReference(s)
    }
    val refs = Seq.fill(3)(useAndDrop())
    var rounds = 0
    while (refs.exists(_.get != null) && rounds < 50) {
      System.gc(); Thread.sleep(20); rounds += 1
    }
    assert(refs.forall(_.get == null), "a dropped session is still reachable")
  }
}
