package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.dialect.{ChSql, ChWrites}

/** MergeTree PARTITION BY: partitioned CTAS part naming, partition
  * sidecars (partition.dat / minmax idx), part-level minmax pruning,
  * partitioned INSERT, DROP PARTITION retention, and
  * scheme-preservation through mutations. */
class MergeTreePartitionSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def freshSrc(): Unit = {
    import spark.implicits._
    // three years, two rows each except 1997 (three), dates spread out
    Seq(
      (1L, java.sql.Date.valueOf("1995-03-01"), 10.0),
      (2L, java.sql.Date.valueOf("1995-09-15"), 11.0),
      (3L, java.sql.Date.valueOf("1996-01-20"), 12.0),
      (4L, java.sql.Date.valueOf("1996-12-31"), 13.0),
      (5L, java.sql.Date.valueOf("1997-06-06"), 14.0),
      (6L, java.sql.Date.valueOf("1997-07-07"), 15.0),
      (7L, java.sql.Date.valueOf("1997-08-08"), 16.0))
      .toDF("id", "d", "v").createOrReplaceTempView("psrc")
  }

  private def partNames(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("^[A-Za-z0-9-]+_\\d+_\\d+_\\d+$")).toSeq.sorted

  test("partitioned CTAS writes per-year parts with partition sidecars; DROP PARTITION retains") {
    freshSrc()
    val wh = Files.createTempDirectory("graft_pwh").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      val st = ChSql.sql(spark,
        "CREATE TABLE part_t ENGINE = MergeTree PARTITION BY toYear(d) " +
          "ORDER BY (id) AS SELECT id, d, v FROM psrc")
      assert(st.collect().head.getLong(2) == 7L)
      val tree = s"$wh/part_t"
      val names = partNames(tree)
      // part-name prefixes are the partition ids (CH naming)
      assert(names.map(_.split('_').head).distinct.sorted ==
        Seq("1995", "1996", "1997"), names.mkString(", "))
      // partition sidecars: partition.dat (the value) and the SOURCE
      // column's minmax idx (what part-level pruning reads)
      names.foreach { p =>
        val files = new java.io.File(s"$tree/$p").listFiles().map(_.getName).toSet
        assert(files.contains("partition.dat"), s"$p lacks partition.dat")
        assert(files.contains("minmax_d.idx"), s"$p lacks minmax_d.idx")
      }
      // full count + per-partition counts through the dialect
      assert(ChSql.sql(spark, "SELECT count() AS n FROM part_t")
        .collect().head.getLong(0) == 7L)
      val perYear = ChSql.sql(spark,
        "SELECT toYear(d) AS y, count() AS n FROM part_t GROUP BY y ORDER BY y")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(perYear == Seq((1995, 2L), (1996, 2L), (1997, 3L)))

      // part-level MINMAX pruning: a one-year date predicate plans only
      // that partition's parts (each part here is one split)
      val all = spark.table("part_t")
      val y96 = all.filter(
        org.apache.spark.sql.functions.col("d") >= "1996-01-01" &&
          org.apache.spark.sql.functions.col("d") <= "1996-12-31")
      val parts96 = names.count(_.startsWith("1996_"))
      assert(y96.rdd.getNumPartitions == parts96,
        s"expected only 1996's $parts96 part(s) to plan, " +
          s"got ${y96.rdd.getNumPartitions}")
      assert(y96.count() == 2L)

      // INSERT partitions its batch: a 1996 row lands in a 1996_ part
      ChSql.sql(spark,
        "INSERT INTO part_t SELECT 8, toDate('1996-05-05'), 17.0").collect()
      val after = partNames(tree)
      assert(after.size == names.size + 1)
      assert((after.toSet -- names.toSet).forall(_.startsWith("1996_")))
      assert(ChSql.sql(spark, "SELECT count() AS n FROM part_t")
        .collect().head.getLong(0) == 8L)

      // DROP PARTITION: metadata-time retention; absent id no-ops
      val d = ChSql.sql(spark, "ALTER TABLE part_t DROP PARTITION 1996")
        .collect().head
      assert(d.getLong(2) == 3L, d.toString)
      assert(partNames(tree).forall(!_.startsWith("1996_")))
      assert(ChSql.sql(spark, "SELECT count() AS n FROM part_t")
        .collect().head.getLong(0) == 5L)
      assert(ChSql.sql(spark, "ALTER TABLE part_t DROP PARTITION ID '2001'")
        .collect().head.getLong(2) == 0L)

      // system.parts exposes the partition id
      val pids = ChSql.sql(spark,
        "SELECT DISTINCT partition_id FROM system.parts WHERE table = 'part_t'")
        .collect().map(_.getString(0)).sorted
      assert(pids.toSeq == Seq("1995", "1997"))

      // a mutation rewrite PRESERVES the partition scheme
      ChSql.sql(spark, "ALTER TABLE part_t DELETE WHERE v = 14.0").collect()
      val mutated = partNames(tree)
      assert(mutated.nonEmpty &&
        mutated.forall(p => p.startsWith("1995_") || p.startsWith("1997_")),
        mutated.mkString(", "))
      assert(ChSql.sql(spark, "SELECT count() AS n FROM part_t")
        .collect().head.getLong(0) == 4L)

      // SHOW CREATE renders the PARTITION BY clause
      val create = graft.dialect.ShowSql
        .run(spark, "SHOW CREATE TABLE part_t").collect().head.getString(0)
      assert(create.contains("PARTITION BY toYear(d)"), create)

      ChSql.sql(spark, "DROP TABLE part_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("a partitioned tree ATTACHes independently with PARTITION BY in the DDL") {
    freshSrc()
    val wh = Files.createTempDirectory("graft_pwh2").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE part_a ENGINE = MergeTree PARTITION BY toYear(d) " +
          "ORDER BY (id) AS SELECT id, d, v FROM psrc").collect()
      graft.core.Catalog.attach(spark,
        s"""ATTACH TABLE part_b (`id` Int64, `d` Date32, `v` Float64)
           |ENGINE = MergeTree PARTITION BY toYear(d) ORDER BY (id)
           |SETTINGS disk = disk(type = web, endpoint = '$wh/part_a')""".stripMargin)
      assert(spark.table("part_b").count() == 7L)
      // the ATTACH carried the partition expression into the catalog —
      // INSERT through the attached name partitions correctly
      assert(graft.core.Catalog.lookup("part_b")
        .flatMap(_.partitionBy).contains("toYear(d)"))
      ChSql.sql(spark,
        "INSERT INTO part_b SELECT 9, toDate('1995-01-01'), 18.0").collect()
      val added = partNames(s"$wh/part_a").filter(_.startsWith("1995_"))
      assert(added.size == 2, added.mkString(", "))
      ChSql.sql(spark, "DROP TABLE part_a").collect()
      graft.core.Catalog.detach("part_b")
      spark.catalog.dropTempView("part_b")
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("string partition ids: safe values verbatim, NULL partition keys refuse") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_pwh3").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
        .toDF("id", "cat").createOrReplaceTempView("psrc_s")
      ChSql.sql(spark,
        "CREATE TABLE part_s ENGINE = MergeTree PARTITION BY cat " +
          "ORDER BY (id) AS SELECT id, cat FROM psrc_s").collect()
      val prefixes = partNames(s"$wh/part_s").map(_.split('_').head).distinct.sorted
      assert(prefixes == Seq("alpha", "beta"))
      ChSql.sql(spark, "DROP TABLE part_s").collect()

      Seq((1L, "x"), (2L, null.asInstanceOf[String]))
        .toDF("id", "cat").createOrReplaceTempView("psrc_n")
      // the refusal must be the writer's own message, not a hashed
      // phantom id or an opaque NPE (review finding: xxhash64(null)
      // returns its seed)
      val e = intercept[Exception] {
        ChSql.sql(spark,
          "CREATE TABLE part_n ENGINE = MergeTree PARTITION BY cat " +
            "ORDER BY (id) AS SELECT id, cat FROM psrc_n").collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("PARTITION BY")), messages(e))

      // a literal 'all' value must NOT mint the unpartitioned sentinel
      // as its id (review finding) — it takes the hashed spelling
      Seq((1L, "all"), (2L, "beta"))
        .toDF("id", "cat").createOrReplaceTempView("psrc_a")
      ChSql.sql(spark,
        "CREATE TABLE part_all ENGINE = MergeTree PARTITION BY cat " +
          "ORDER BY (id) AS SELECT id, cat FROM psrc_a").collect()
      val pfx = partNames(s"$wh/part_all").map(_.split('_').head).distinct
      assert(!pfx.contains("all") && pfx.contains("beta"), pfx.mkString(", "))
      assert(ChSql.sql(spark, "SELECT count() AS n FROM part_all")
        .collect().head.getLong(0) == 2L)
      ChSql.sql(spark, "DROP TABLE part_all").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("date partitions: raw Date keys render yyyyMMdd and DROP PARTITION takes a date literal") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_pwh4").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq(
        (1L, java.sql.Date.valueOf("1994-01-01")),
        (2L, java.sql.Date.valueOf("1994-01-01")),
        (3L, java.sql.Date.valueOf("1995-06-15")))
        .toDF("id", "d").createOrReplaceTempView("psrc_d")
      ChSql.sql(spark,
        "CREATE TABLE part_d ENGINE = MergeTree PARTITION BY d " +
          "ORDER BY (id) AS SELECT id, d FROM psrc_d").collect()
      val pfx = partNames(s"$wh/part_d").map(_.split('_').head).distinct.sorted
      assert(pfx == Seq("19940101", "19950615"), pfx.mkString(", "))
      // the hyphenated date literal renders to the writer's yyyyMMdd id
      // (review finding: verbatim pass-through silently dropped nothing)
      val d = ChSql.sql(spark, "ALTER TABLE part_d DROP PARTITION '1994-01-01'")
        .collect().head
      assert(d.getLong(2) == 2L, d.toString)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM part_d")
        .collect().head.getLong(0) == 1L)
      ChSql.sql(spark, "DROP TABLE part_d").collect()

      // PARTITION BY tuple() — CH's unpartitioned spelling — writes a
      // plain all_ tree (review finding: it refused)
      Seq((1L, "x")).toDF("id", "cat").createOrReplaceTempView("psrc_t")
      ChSql.sql(spark,
        "CREATE TABLE part_tup ENGINE = MergeTree PARTITION BY tuple() " +
          "ORDER BY (id) AS SELECT id, cat FROM psrc_t").collect()
      assert(partNames(s"$wh/part_tup").forall(_.startsWith("all_")))
      assert(graft.core.Catalog.lookup("part_tup").flatMap(_.partitionBy).isEmpty)
      ChSql.sql(spark, "DROP TABLE part_tup").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("OPTIMIZE TABLE PARTITION merges one partition; the rest never rewrites") {
    import spark.implicits._
    freshSrc()
    val wh = Files.createTempDirectory("graft_popt").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE popt_t ENGINE = ReplacingMergeTree(ver) " +
          "PARTITION BY toYear(d) ORDER BY (id) AS " +
          "SELECT id, d, CAST(0 AS BIGINT) AS ver, v FROM psrc").collect()
      // a second part in 1995 with a newer version of id=1
      ChSql.sql(spark,
        "INSERT INTO popt_t SELECT 1, toDate('1995-03-01'), 1, 99.0").collect()
      val tree = s"$wh/popt_t"
      val before96 = partNames(tree).filter(_.startsWith("1996_"))
      assert(partNames(tree).count(_.startsWith("1995_")) == 2)
      // merge ONLY 1995 with FINAL: versions collapse, one part remains
      val r = ChSql.sql(spark,
        "OPTIMIZE TABLE popt_t PARTITION 1995 FINAL").collect().head
      assert(r.getInt(1) == 2 && r.getInt(2) == 1, r.toString)
      // 1996's parts are byte-identical by NAME — nothing else rewrote
      assert(partNames(tree).filter(_.startsWith("1996_")) == before96)
      val rows95 = ChSql.sql(spark,
        "SELECT id, CAST(round(v) AS BIGINT) AS v FROM popt_t " +
          "WHERE toYear(d) = 1995 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows95 == Seq((1L, 99L), (2L, 11L)), rows95.mkString(", "))
      // whole-table row count intact elsewhere
      assert(ChSql.sql(spark, "SELECT count() AS n FROM popt_t")
        .collect().head.getLong(0) == 7L)
      // an absent partition no-ops
      assert(ChSql.sql(spark, "OPTIMIZE TABLE popt_t PARTITION 2001")
        .collect().head.getInt(1) == 0)
      ChSql.sql(spark, "DROP TABLE popt_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("ATTACH PARTITION FROM copies a partition; DROP+ATTACH = move; REPLACE swaps") {
    import spark.implicits._
    freshSrc()
    val wh = Files.createTempDirectory("graft_pattach").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      Seq((100L, java.sql.Date.valueOf("1995-05-05"), 50.0),
        (101L, java.sql.Date.valueOf("1998-01-01"), 60.0))
        .toDF("id", "d", "v").createOrReplaceTempView("pdst")
      ChSql.sql(spark,
        "CREATE TABLE att_src ENGINE = MergeTree PARTITION BY toYear(d) " +
          "ORDER BY (id) AS SELECT id, d, v FROM psrc").collect()
      ChSql.sql(spark,
        "CREATE TABLE att_dst ENGINE = MergeTree PARTITION BY toYear(d) " +
          "ORDER BY (id) AS SELECT id, d, v FROM pdst").collect()
      // ATTACH copies 1996's two rows into the destination; the source
      // keeps them (CH's ATTACH … FROM is a copy)
      val r = ChSql.sql(spark,
        "ALTER TABLE att_dst ATTACH PARTITION 1996 FROM att_src")
        .collect().head
      assert(r.getLong(2) == 2L, r.toString)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM att_dst")
        .collect().head.getLong(0) == 4L)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM att_src")
        .collect().head.getLong(0) == 7L)
      // ids survive the copy byte-identically
      val ids = ChSql.sql(spark, "SELECT id FROM att_dst ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(3L, 4L, 100L, 101L), ids.mkString(", "))
      // DROP on the source afterwards = a partition MOVE
      ChSql.sql(spark, "ALTER TABLE att_src DROP PARTITION 1996").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM att_src")
        .collect().head.getLong(0) == 5L)
      // re-ATTACHing the same partition under REPLACE swaps, not stacks
      ChSql.sql(spark,
        "ALTER TABLE att_dst REPLACE PARTITION 1995 FROM att_src").collect()
      val ids95 = ChSql.sql(spark,
        "SELECT id FROM att_dst WHERE toYear(d) = 1995 ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids95 == Seq(1L, 2L), ids95.mkString(", "))
      // structural mismatch refuses (CH does too)
      ChSql.sql(spark,
        "CREATE TABLE att_other ENGINE = MergeTree PARTITION BY toYear(d) " +
          "ORDER BY (id) AS SELECT id, d, v * 2 AS w FROM psrc").collect()
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark,
          "ALTER TABLE att_dst ATTACH PARTITION 1997 FROM att_other").collect()
      }
      assert(e.getMessage.contains("structure"), e.getMessage)
      // attaching a partition the source does not have copies nothing
      assert(ChSql.sql(spark,
        "ALTER TABLE att_dst ATTACH PARTITION 2001 FROM att_src")
        .collect().head.getLong(2) == 0L)
      // MOVE PARTITION TO TABLE: copy-then-drop as one statement (the
      // first table is the SOURCE in CH's spelling)
      assert(ChSql.sql(spark,
        "ALTER TABLE att_src MOVE PARTITION 1997 TO TABLE att_dst")
        .collect().head.getLong(2) == 3L)
      assert(ChSql.sql(spark,
        "SELECT count() AS n FROM att_src WHERE toYear(d) = 1997")
        .collect().head.getLong(0) == 0L)
      assert(ChSql.sql(spark,
        "SELECT count() AS n FROM att_dst WHERE toYear(d) = 1997")
        .collect().head.getLong(0) == 3L)
      Seq("att_src", "att_dst", "att_other").foreach(t =>
        ChSql.sql(spark, s"DROP TABLE $t").collect())
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
