package graft.dialect

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** DDL lifecycle safety: RENAME TABLE moves owned storage with the
  * name (rename-and-recreate rollover must not alias two tables onto
  * one directory), the CREATE-path endpoint-collision guard, DROP
  * TABLE/VIEW kind matching, the MV FROM-side-only insert trigger, the
  * Replicated*MergeTree DDL strip, and bracket out-of-range access. */
class DdlSafetySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def sql(s: String) = ChSql.sql(spark, s)

  private def withWarehouse[A](f: String => A): A = {
    val wh = Files.createTempDirectory("graft_ddl_safety").toString
    val prev = spark.conf.getOption(graft.service.Settings.WarehouseDir.name)
    spark.conf.set(graft.service.Settings.WarehouseDir.name, wh)
    try f(wh)
    finally prev match {
      case Some(p) => spark.conf.set(graft.service.Settings.WarehouseDir.name, p)
      case None => spark.conf.unset(graft.service.Settings.WarehouseDir.name)
    }
  }

  test("RENAME TABLE moves owned CTAS storage; recreate under the old name is independent") {
    withWarehouse { wh =>
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").createOrReplaceTempView("rnsrc")
      sql("CREATE TABLE rn_a ENGINE = MergeTree ORDER BY (id) AS " +
        "SELECT id, s FROM rnsrc").collect()
      sql("RENAME TABLE rn_a TO rn_b").collect()
      // the tree moved with the name
      assert(!Files.exists(Paths.get(s"$wh/rn_a")), "old dir must be gone")
      assert(Files.exists(Paths.get(s"$wh/rn_b")), "new dir must exist")
      assert(graft.core.Catalog.lookup("rn_b").get.endpoint
        .contains(s"$wh/rn_b"))
      assert(sql("SELECT count() AS n FROM rn_b").collect()(0).getLong(0) == 2L)
      // the rename-and-recreate rollover: a NEW rn_a gets its own
      // storage, and dropping it leaves rn_b intact (the r12-advisor
      // corruption: both names aliased $warehouse/rn_a)
      sql("CREATE TABLE rn_a ENGINE = MergeTree ORDER BY (id) AS " +
        "SELECT id + 10 AS id, s FROM rnsrc").collect()
      assert(sql("SELECT min(id) AS m FROM rn_a").collect()(0).getLong(0) == 11L)
      assert(sql("SELECT min(id) AS m FROM rn_b").collect()(0).getLong(0) == 1L)
      sql("DROP TABLE rn_a").collect()
      assert(sql("SELECT count() AS n FROM rn_b").collect()(0).getLong(0) == 2L,
        "DROP of the recreated table must not touch the renamed one")
      sql("DROP TABLE rn_b").collect()
    }
  }

  test("CREATE TABLE refuses a path that is another entry's endpoint (post-EXCHANGE alias)") {
    withWarehouse { wh =>
      import spark.implicits._
      Seq((1L, "x")).toDF("id", "s").createOrReplaceTempView("exsrc")
      sql("CREATE TABLE ex_a ENGINE = MergeTree ORDER BY (id) AS " +
        "SELECT id, s FROM exsrc").collect()
      sql("CREATE TABLE ex_b ENGINE = MergeTree ORDER BY (id) AS " +
        "SELECT id + 1 AS id, s FROM exsrc").collect()
      // EXCHANGE swaps names, not storage: entry ex_a now points at
      // $wh/ex_b and vice versa — recreating either name would compute
      // a path the OTHER entry owns
      sql("EXCHANGE TABLES ex_a AND ex_b").collect()
      val e = intercept[IllegalArgumentException] {
        sql("CREATE TABLE ex_a ENGINE = MergeTree ORDER BY (id) AS " +
          "SELECT id, s FROM exsrc").collect()
      }
      assert(e.getMessage.contains("endpoint of catalog table"), e.getMessage)
      sql("DROP TABLE ex_a").collect()
      sql("DROP TABLE ex_b").collect()
    }
  }

  test("DROP TABLE/VIEW refuse the kind mismatch; MATERIALIZED VIEW accepts both") {
    withWarehouse { _ =>
      import spark.implicits._
      Seq((1L, "x")).toDF("id", "s").createOrReplaceTempView("kmsrc")
      sql("CREATE TABLE km_t ENGINE = MergeTree ORDER BY (id) AS " +
        "SELECT id, s FROM kmsrc").collect()
      sql("CREATE VIEW km_v AS SELECT id FROM km_t").collect()
      val e1 = intercept[IllegalArgumentException] {
        sql("DROP VIEW km_t").collect()
      }
      assert(e1.getMessage.contains("is not a view"), e1.getMessage)
      // the mis-spelled DROP must not have deleted the table's storage
      assert(sql("SELECT count() AS n FROM km_t").collect()(0).getLong(0) == 1L)
      val e2 = intercept[IllegalArgumentException] {
        sql("DROP TABLE km_v").collect()
      }
      assert(e2.getMessage.contains("is a view"), e2.getMessage)
      sql("DROP VIEW km_v").collect()
      sql("DROP TABLE km_t").collect()
      // a materialized view drops under either spelling (CH allows both)
      sql("CREATE TABLE km_tgt (id Int64) ENGINE = MergeTree ORDER BY id")
        .collect()
      sql("CREATE MATERIALIZED VIEW km_mv TO km_tgt AS " +
        "SELECT id FROM km_tgt").collect()
      sql("DROP VIEW km_mv").collect()
      sql("DROP TABLE km_tgt").collect()
    }
  }

  test("MV insert trigger substitutes the batch on the FROM side only (JOIN reads the full table)") {
    withWarehouse { _ =>
      sql("CREATE TABLE mvj_src (id Int64, v Int64) ENGINE = MergeTree " +
        "ORDER BY id").collect()
      sql("CREATE TABLE mvj_out (id Int64, n Int64) ENGINE = MergeTree " +
        "ORDER BY id").collect()
      // self-join MV: for each inserted row, count how many rows with
      // the same id the TABLE already holds (dedup-against-history
      // shape) — CH evaluates the JOIN side over the full table
      sql("CREATE MATERIALIZED VIEW mvj TO mvj_out AS " +
        "SELECT l.id AS id, count(r.id) AS n FROM mvj_src l " +
        "LEFT JOIN mvj_src r ON l.id = r.id GROUP BY l.id").collect()
      sql("INSERT INTO mvj_src VALUES (1, 10)").collect()
      // at trigger time the table already contains the batch (the
      // INSERT lands before the trigger fires): history count = 1
      val first = sql("SELECT n FROM mvj_out WHERE id = 1")
        .collect().map(_.getLong(0)).toSeq
      assert(first == Seq(1L), s"first insert saw history $first")
      sql("INSERT INTO mvj_src VALUES (1, 20)").collect()
      // second batch: FROM side = 1 batch row; JOIN side = the FULL
      // table (2 rows with id=1) — the old FROM|JOIN substitution
      // computed 1 here (batch joined against itself)
      val second = sql("SELECT n FROM mvj_out WHERE id = 1 ORDER BY n")
        .collect().map(_.getLong(0)).toSeq
      assert(second == Seq(1L, 2L), s"join side must read the table: $second")
      sql("DROP VIEW mvj").collect()
      sql("DROP TABLE mvj_src").collect()
      sql("DROP TABLE mvj_out").collect()
    }
  }

  test("Replicated*MergeTree DDL strips replication args; SHOW CREATE keeps the declared spelling") {
    withWarehouse { _ =>
      import spark.implicits._
      Seq((1L, 1L, "old"), (1L, 2L, "new"), (2L, 1L, "only"))
        .toDF("id", "ver", "s").createOrReplaceTempView("repsrc")
      // verbatim production DDL: zk path + replica macro + version arg
      sql("CREATE TABLE rep_t ENGINE = ReplicatedReplacingMergeTree(" +
        "'/clickhouse/tables/{shard}/rep_t', '{replica}', ver) " +
        "ORDER BY (id) AS SELECT id, ver, s FROM repsrc").collect()
      // FINAL applies the Replacing dedup — the family routed correctly
      val fin = sql("SELECT id, s FROM rep_t FINAL ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(fin == Seq((1L, "new"), (2L, "only")), fin.mkString(", "))
      // SHOW CREATE renders what was declared
      val stmt = sql("SHOW CREATE TABLE rep_t").collect()(0).getString(0)
      assert(stmt.contains("ReplicatedReplacingMergeTree("), stmt)
      assert(stmt.contains("'{replica}'"), stmt)
      sql("DROP TABLE rep_t").collect()
      // empty-DDL + argless Replicated spelling (server-config defaults)
      sql("CREATE TABLE rep_e (id Int64, v Int64) " +
        "ENGINE = ReplicatedMergeTree ORDER BY id").collect()
      assert(graft.core.Catalog.lookup("rep_e").get.engine == "MergeTree")
      sql("DROP TABLE rep_e").collect()
      // ATTACH with the Replicated spelling routes to the family too
      sql("CREATE TABLE rep_s (id Int64, n Int64) " +
        "ENGINE = ReplicatedSummingMergeTree('/zk/s', '{replica}', (n)) " +
        "ORDER BY id").collect()
      sql("INSERT INTO rep_s VALUES (1, 2), (1, 3)").collect()
      val summed = sql("SELECT id, n FROM rep_s FINAL")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(summed == Seq((1L, 5L)), summed.mkString(", "))
      sql("DROP TABLE rep_s").collect()
    }
  }

  test("bracket access out of range returns NULL (CH renders the type default; divergence documented)") {
    val r = sql("SELECT arr[2] AS ok, arr[10] AS oor, arr[-1] AS last " +
      "FROM (SELECT array(1, 2, 3) AS arr)").collect()(0)
    assert(r.getInt(0) == 2)
    assert(r.isNullAt(1), "out-of-range must be NULL, not an ANSI throw")
    assert(r.getInt(2) == 3)
  }

  test("dropParts removes exactly the named parts") {
    withWarehouse { wh =>
      sql("CREATE TABLE dp_t (d Int64, id Int64) ENGINE = MergeTree " +
        "PARTITION BY d ORDER BY id").collect()
      sql("INSERT INTO dp_t VALUES (1, 1)").collect()
      sql("INSERT INTO dp_t VALUES (1, 2)").collect()
      sql("INSERT INTO dp_t VALUES (2, 3)").collect()
      import graft.sources.mergetree.MergeTree
      val ep = graft.core.Catalog.lookup("dp_t").get.endpoint.get
      val parts = MergeTree.partsInfo(ep).map(_._1)
      assert(parts.size == 3, parts.mkString(", "))
      val victims = parts.filter(_.startsWith("1_")).take(1)
      val dropped = MergeTree.dropParts(spark, ep, victims)
      assert(dropped == 1L)
      val left = MergeTree.partsInfo(ep).map(_._1)
      assert(left.size == 2 && !left.contains(victims.head))
      // absent names no-op
      assert(MergeTree.dropParts(spark, ep, Seq("9_99_99_0")) == 0L)
      sql("DROP TABLE dp_t").collect()
    }
  }
}
