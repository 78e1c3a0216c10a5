package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.dialect.{ChSql, ChWrites}

/** Hadoop-FS-backed MergeTree writes: the staged-write / atomic-rename
  * / watermark protocol runs through `org.apache.hadoop.fs.FileSystem`
  * for scheme'd endpoints (and for everything under the
  * `spark.graft.mergeTreeFs=hadoop` knob), so CTAS / INSERT / OPTIMIZE
  * / partition lifecycle can target hdfs:/s3a:-style shared storage.
  * The sandbox has no remote FS, so the proof is (a) a NON-DEFAULT
  * registered scheme ([[GraftTestFs]], `graftfs://`) carrying the full
  * lifecycle, and (b) the forced-hadoop knob running the q179-shaped
  * round trip hash-identically to the nio path. */
class TreeFsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = graft.TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    s
  }

  private def fresh(): Unit = {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
      .toDF("id", "k", "v").createOrReplaceTempView("hfs_src")
  }

  test("full MergeTree lifecycle through a NON-DEFAULT registered Hadoop scheme") {
    fresh()
    val local = Files.createTempDirectory("graft_hfs").toString
    val wh = s"graftfs://$local"
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      // CTAS writes the tree THROUGH graftfs:// (executor-parallel path)
      val created = ChSql.sql(spark,
        "CREATE TABLE hfs_t ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM hfs_src").collect().head
      assert(created.getLong(2) == 4L, created.toString)
      // the bytes landed where the scheme maps, and the read-back
      // (DSv2 over HadoopTableFiles) round-trips every row
      assert(new java.io.File(s"$local/hfs_t/format_version.txt").exists())
      val back = ChSql.sql(spark, "SELECT id, k, v FROM hfs_t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(back == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0),
        (4L, "c", 40.0)), back.mkString(", "))
      // INSERT appends a part through the same filesystem
      ChSql.sql(spark,
        "INSERT INTO hfs_t SELECT 5 AS id, 'd' AS k, 50.0 AS v").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM hfs_t")
        .collect().head.getLong(0) == 5L)
      // OPTIMIZE merges parts via the backup-staged swap on graftfs
      ChSql.sql(spark, "OPTIMIZE TABLE hfs_t").collect()
      assert(ChSql.sql(spark,
        "SELECT CAST(round(sum(v)) AS BIGINT) AS s FROM hfs_t")
        .collect().head.getLong(0) == 150L)
      // no checksum sidecars polluted the tree (raw FS contract)
      val crcs = NioTreeFsProbe.walk(s"$local/hfs_t").filter(_.endsWith(".crc"))
      assert(crcs.isEmpty, crcs.mkString(", "))
      ChSql.sql(spark, "DROP TABLE hfs_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("forced-hadoop knob: the q179-shaped CTAS round trip matches the nio path") {
    fresh()
    val whA = Files.createTempDirectory("graft_hfs_nio").toString
    val whB = Files.createTempDirectory("graft_hfs_had").toString
    def roundTrip(wh: String, table: String): Seq[(Long, String, Double)] = {
      spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
      try {
        ChSql.sql(spark,
          s"CREATE TABLE $table ENGINE = MergeTree ORDER BY (id) AS " +
            "SELECT id, k, v FROM hfs_src").collect()
        val r = ChSql.sql(spark, s"SELECT id, k, v FROM $table ORDER BY id")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        ChSql.sql(spark, s"DROP TABLE $table").collect()
        r
      } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
    }
    val viaNio = roundTrip(whA, "hfs_nio")
    spark.conf.set(graft.service.Settings.MergeTreeFs.name, "hadoop")
    val viaHadoop =
      try roundTrip(whB, "hfs_had")
      finally spark.conf.unset(graft.service.Settings.MergeTreeFs.name)
    assert(viaNio == viaHadoop, s"$viaNio vs $viaHadoop")
  }

  test("partition lifecycle (DROP + ATTACH FROM) works on the non-default scheme") {
    import spark.implicits._
    val local = Files.createTempDirectory("graft_hfs_part").toString
    val wh = s"graftfs://$local"
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, "p1", 1.0), (2L, "p2", 2.0), (3L, "p1", 3.0))
        .toDF("id", "p", "v").createOrReplaceTempView("hfp_src")
      ChSql.sql(spark,
        "CREATE TABLE hfp_a ENGINE = MergeTree PARTITION BY p " +
          "ORDER BY (id) AS SELECT id, p, v FROM hfp_src").collect()
      ChSql.sql(spark,
        "CREATE TABLE hfp_b ENGINE = MergeTree PARTITION BY p " +
          "ORDER BY (id) AS SELECT id, p, v FROM hfp_src WHERE id = 2").collect()
      ChSql.sql(spark,
        "ALTER TABLE hfp_b ATTACH PARTITION ID 'p1' FROM hfp_a").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM hfp_b")
        .collect().head.getLong(0) == 3L)
      ChSql.sql(spark, "ALTER TABLE hfp_b DROP PARTITION ID 'p2'").collect()
      val ids = ChSql.sql(spark, "SELECT id FROM hfp_b ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 3L), ids.mkString(", "))
      Seq("hfp_a", "hfp_b").foreach(t =>
        ChSql.sql(spark, s"DROP TABLE $t").collect())
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}

/** Test-only listing helper (TreeFs is private[mergetree]). */
object NioTreeFsProbe {
  def walk(root: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(base)) Seq.empty
    else {
      val out = Seq.newBuilder[String]
      val s = java.nio.file.Files.walk(base)
      try s.forEach(p =>
        if (java.nio.file.Files.isRegularFile(p)) out += p.toString)
      finally s.close()
      out.result()
    }
  }
}
