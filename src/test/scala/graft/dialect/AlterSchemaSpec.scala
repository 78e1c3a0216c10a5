package graft.dialect

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Schema evolution: ADD COLUMN at metadata cost (old parts read NULL
  * for the Nullable column), DROP COLUMN at metadata cost (files linger
  * until the next OPTIMIZE rewrite), MODIFY/RENAME COLUMN as rewrites,
  * RENAME TABLE as a catalog re-key. */
class AlterSchemaSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def fresh(): Unit = {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "k", "v").createOrReplaceTempView("alsrc")
  }

  test("ADD COLUMN: metadata cost, old parts read NULL, INSERT fills new parts") {
    fresh()
    val wh = Files.createTempDirectory("graft_alter").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE alt_t ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM alsrc").collect()
      ChSql.sql(spark,
        "ALTER TABLE alt_t ADD COLUMN tag Nullable(String)").collect()
      // the view gained the column; old rows read NULL
      val rows = ChSql.sql(spark,
        "SELECT id, tag FROM alt_t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.isNullAt(1))).toSeq
      assert(rows == Seq((1L, true), (2L, true), (3L, true)), rows.mkString(", "))
      // a new INSERT carries the column; both generations coexist
      ChSql.sql(spark,
        "INSERT INTO alt_t SELECT 4 AS id, 'd' AS k, 40.0 AS v, 'new' AS tag")
        .collect()
      val tagged = ChSql.sql(spark,
        "SELECT id FROM alt_t WHERE tag = 'new'").collect().map(_.getLong(0)).toSeq
      assert(tagged == Seq(4L), tagged.mkString(", "))
      // IF NOT EXISTS no-ops; a duplicate add without it refuses
      ChSql.sql(spark,
        "ALTER TABLE alt_t ADD COLUMN IF NOT EXISTS tag Nullable(String)").collect()
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "ALTER TABLE alt_t ADD COLUMN tag Nullable(String)").collect()
      }
      assert(e.getMessage.contains("already exists"), e.getMessage)
      // non-Nullable add onto a parted tree refuses (old rows would
      // read NULL where CH renders type defaults)
      val e2 = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "ALTER TABLE alt_t ADD COLUMN n2 Int64").collect()
      }
      assert(e2.getMessage.contains("Nullable"), e2.getMessage)
      // AFTER positions the column in the DDL
      ChSql.sql(spark,
        "ALTER TABLE alt_t ADD COLUMN mid Nullable(Int64) AFTER id").collect()
      assert(ChSql.sql(spark, "SELECT * FROM alt_t LIMIT 1").columns.toSeq ==
        Seq("id", "mid", "k", "v", "tag"))
      ChSql.sql(spark, "DROP TABLE alt_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("DROP COLUMN: metadata now, physical at OPTIMIZE; key/partition columns refuse") {
    fresh()
    val wh = Files.createTempDirectory("graft_alter2").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE alt_d ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM alsrc").collect()
      ChSql.sql(spark, "ALTER TABLE alt_d DROP COLUMN k").collect()
      assert(ChSql.sql(spark, "SELECT * FROM alt_d LIMIT 1").columns.toSeq ==
        Seq("id", "v"))
      // the dropped column's BYTES still exist in the parts until a
      // merge rewrites (metadata-now, physical-later — compact parts
      // keep it inside data.bin, so the probe reads columns.txt)
      val tree = s"$wh/alt_d"
      def partsDeclareK = graft.sources.NioTreeFsProbe.walk(tree)
        .filter(_.endsWith("columns.txt"))
        .exists(p => new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8").contains("`k`"))
      assert(partsDeclareK)
      ChSql.sql(spark, "OPTIMIZE TABLE alt_d").collect()
      assert(!partsDeclareK)
      // content intact after the physical drop
      assert(ChSql.sql(spark,
        "SELECT CAST(round(sum(v)) AS BIGINT) AS s FROM alt_d")
        .collect().head.getLong(0) == 60L)
      // sorting-key drop refuses
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark, "ALTER TABLE alt_d DROP COLUMN id").collect()
      }
      assert(e.getMessage.contains("sorting key"), e.getMessage)
      ChSql.sql(spark, "DROP TABLE alt_d").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("MODIFY and RENAME COLUMN rewrite the tree; RENAME TABLE re-keys the catalog") {
    fresh()
    val wh = Files.createTempDirectory("graft_alter3").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE alt_m ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM alsrc").collect()
      // Float64 -> Int64 (values are integral; ANSI would refuse loss)
      ChSql.sql(spark, "ALTER TABLE alt_m MODIFY COLUMN v Int64").collect()
      val schema = ChSql.sql(spark, "SELECT v FROM alt_m LIMIT 1").schema
      assert(schema("v").dataType == org.apache.spark.sql.types.LongType)
      assert(ChSql.sql(spark, "SELECT CAST(sum(v) AS BIGINT) AS s FROM alt_m")
        .collect().head.getLong(0) == 60L)
      // rename the payload column; data survives under the new name
      ChSql.sql(spark, "ALTER TABLE alt_m RENAME COLUMN v TO amount").collect()
      assert(ChSql.sql(spark,
        "SELECT CAST(sum(amount) AS BIGINT) AS s FROM alt_m")
        .collect().head.getLong(0) == 60L)
      // RENAME TABLE: catalog + view move, storage stays
      ChSql.sql(spark, "RENAME TABLE alt_m TO alt_renamed").collect()
      assert(graft.core.Catalog.lookup("alt_m").isEmpty)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM alt_renamed")
        .collect().head.getLong(0) == 3L)
      // SHOW CREATE renders under the new name with the evolved schema
      val create = ShowSql.run(spark, "SHOW CREATE TABLE alt_renamed")
        .collect().head.getString(0)
      assert(create.contains("alt_renamed") && create.contains("amount"), create)
      ChSql.sql(spark, "DROP TABLE alt_renamed").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("empty CREATE TABLE DDL + INSERT VALUES: CH's create-then-load flow") {
    val wh = Files.createTempDirectory("graft_alter4").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        """CREATE TABLE plain_t (`id` Int64, `k` LowCardinality(String),
          | `v` Nullable(Float64), `d` Date32)
          |ENGINE = MergeTree PARTITION BY toYear(d) ORDER BY (id)""".stripMargin)
        .collect()
      // a valid PARTLESS tree: scans empty, catalog carries the DDL
      assert(ChSql.sql(spark, "SELECT count() AS n FROM plain_t")
        .collect().head.getLong(0) == 0L)
      assert(graft.core.Catalog.lookup("plain_t")
        .flatMap(_.partitionBy).contains("toYear(d)"))
      // IF NOT EXISTS no-ops; re-create without it refuses
      ChSql.sql(spark,
        "CREATE TABLE IF NOT EXISTS plain_t (`id` Int64) " +
          "ENGINE = MergeTree ORDER BY (id)").collect()
      val e = intercept[IllegalArgumentException] {
        ChSql.sql(spark,
          "CREATE TABLE plain_t (`id` Int64) ENGINE = MergeTree " +
            "ORDER BY (id)").collect()
      }
      assert(e.getMessage.contains("already exists"), e.getMessage)
      // INSERT VALUES: full rows, then a column subset (missing column
      // is Nullable -> NULL)
      ChSql.sql(spark,
        "INSERT INTO plain_t VALUES " +
          "(1, 'a', 1.5, DATE '1995-03-01'), (2, 'b', 2.5, DATE '1996-07-01')")
        .collect()
      ChSql.sql(spark,
        "INSERT INTO plain_t (id, k, d) VALUES (3, 'c', DATE '1995-09-09')")
        .collect()
      val rows = ChSql.sql(spark,
        "SELECT id, k, v, CAST(toYear(d) AS BIGINT) AS y FROM plain_t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2), r.getLong(3))).toSeq
      assert(rows == Seq((1L, "a", 1.5, 1995L), (2L, "b", 2.5, 1996L),
        (3L, "c", -1.0, 1995L)), rows.mkString(", "))
      // the partitioned scheme held through the VALUES appends
      val pids = new java.io.File(s"$wh/plain_t").listFiles()
        .map(_.getName).filter(_.matches("^\\d+_\\d+_\\d+_\\d+$"))
        .map(_.split('_').head).distinct.sorted.toSeq
      assert(pids == Seq("1995", "1996"), pids.mkString(", "))
      // NULL into a non-Nullable column refuses loudly
      val e2 = intercept[Exception] {
        ChSql.sql(spark, "INSERT INTO plain_t (id, d) VALUES (4, DATE '1995-01-01')")
          .collect()
      }
      assert(e2.getMessage.contains("Nullable"), e2.getMessage)
      ChSql.sql(spark, "DROP TABLE plain_t").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("INSERT INTO t (cols) SELECT: listed columns positional, the rest NULL") {
    val wh = Files.createTempDirectory("graft_alter6").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE ins_cols (`id` Int64, `k` String, `v` Nullable(Float64)) " +
          "ENGINE = MergeTree ORDER BY (id)").collect()
      ChSql.sql(spark,
        "INSERT INTO ins_cols (id, k) SELECT 7 AS a, 'x' AS b").collect()
      val r = ChSql.sql(spark, "SELECT id, k, v FROM ins_cols").collect().head
      assert(r.getLong(0) == 7L && r.getString(1) == "x" && r.isNullAt(2), r.toString)
      ChSql.sql(spark, "DROP TABLE ins_cols").collect()
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("RENAME TABLE follows through MV and dictionary references") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_alter7").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE ref_src (`id` Int64, `v` Float64) " +
          "ENGINE = MergeTree ORDER BY (id)").collect()
      ChSql.sql(spark,
        "CREATE TABLE ref_tgt (`s` Float64) " +
          "ENGINE = MergeTree ORDER BY tuple()").collect()
      ChSql.sql(spark,
        "CREATE MATERIALIZED VIEW ref_mv TO ref_tgt AS " +
          "SELECT sum(v) AS s FROM ref_src").collect()
      Seq((1L, "a")).toDF("id", "name").createOrReplaceTempView("dsrc")
      ChSql.sql(spark,
        "CREATE DICTIONARY ref_dict (id UInt64, name String) " +
          "PRIMARY KEY id SOURCE(CLICKHOUSE(TABLE 'dsrc'))").collect()
      // rename the MV's source: the trigger keeps firing under the new name
      ChSql.sql(spark, "RENAME TABLE ref_src TO ref_src2").collect()
      ChSql.sql(spark, "INSERT INTO ref_src2 VALUES (1, 4.0)").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM ref_tgt")
        .collect().head.getLong(0) == 1L)
      ChSql.sql(spark, "DROP VIEW ref_mv").collect()
      ChSql.sql(spark, "DROP DICTIONARY ref_dict").collect()
      Seq("ref_src2", "ref_tgt").foreach(t =>
        ChSql.sql(spark, s"DROP TABLE $t").collect())
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }

  test("EXCHANGE TABLES swaps two catalog tables atomically") {
    import spark.implicits._
    fresh()
    val wh = Files.createTempDirectory("graft_alter5").toString
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try {
      ChSql.sql(spark,
        "CREATE TABLE ex_a ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM alsrc WHERE id <= 1").collect()
      ChSql.sql(spark,
        "CREATE TABLE ex_b ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, k, v FROM alsrc").collect()
      ChSql.sql(spark, "EXCHANGE TABLES ex_a AND ex_b").collect()
      assert(ChSql.sql(spark, "SELECT count() AS n FROM ex_a")
        .collect().head.getLong(0) == 3L)
      assert(ChSql.sql(spark, "SELECT count() AS n FROM ex_b")
        .collect().head.getLong(0) == 1L)
      Seq("ex_a", "ex_b").foreach(t =>
        ChSql.sql(spark, s"DROP TABLE $t").collect())
    } finally spark.conf.unset(graft.service.Settings.WarehouseDir.name)
  }
}
