package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** The projection reroute must be answer-identical where it fires and
  * provably silent where it can't (filters, distinct, unknown columns,
  * stale companions). */
class AggProjectionsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private lazy val projRoot = {
    val d = Files.createTempDirectory("graft_proj_spec").toString
    spark.conf.set("spark.graft.projectionDir", d)
    d
  }

  /** A mutable COPY of sf0.001 lineitem (directory form, so staleness
    * can be exercised by adding a file). */
  private lazy val srcDir: String = {
    val d = Files.createTempDirectory("graft_proj_src").toString + "/lineitem"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .coalesce(2).write.parquet(d)
    d
  }

  private lazy val projection = {
    projRoot // force conf before create
    AggProjections.create(spark, srcDir, "by_flag_status",
      Seq("l_returnflag", "l_linestatus"),
      Seq(("sum", "l_quantity"), ("avg", "l_extendedprice"),
        ("min", "l_orderkey"), ("max", "l_orderkey"),
        ("count", "l_suppkey")))
  }

  private def scansProjection(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] &&
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
          .exists(_.toString.contains(projRoot)) => true
      // r17: the rerouted aggregate may continue into the single-stage
      // driver merge — the leaf's sourceDesc names the companion scan
      case d: DriverMergeAgg if d.sourceDesc.contains(projRoot) => true
    }.getOrElse(false)

  private def base: DataFrame = spark.read.parquet(srcDir)

  private def unoptimized[T](body: => T): T = {
    spark.conf.set("spark.graft.aggProjections", "false")
    try body finally spark.conf.set("spark.graft.aggProjections", "true")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("exact-group query reroutes to the projection and matches the scan") {
    projection
    base.createOrReplaceTempView("li_proj")
    val q =
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sq, avg(l_extendedprice) AS ap,
        |       min(l_orderkey) AS mn, max(l_orderkey) AS mx,
        |       count(l_suppkey) AS cc, count(*) AS n
        |FROM li_proj GROUP BY l_returnflag, l_linestatus""".stripMargin
    val rerouted = spark.sql(q)
    assert(scansProjection(rerouted), rerouted.queryExecution.optimizedPlan.toString)
    val direct = unoptimized(sortedRows(spark.sql(q)))
    assert(sortedRows(rerouted) == direct)
  }

  test("subset-of-keys query re-aggregates the projection") {
    projection
    base.createOrReplaceTempView("li_proj")
    val q = "SELECT l_returnflag, sum(l_quantity) AS sq, count(*) AS n " +
      "FROM li_proj GROUP BY l_returnflag"
    val rerouted = spark.sql(q)
    assert(scansProjection(rerouted))
    assert(sortedRows(rerouted) == unoptimized(sortedRows(spark.sql(q))))
  }

  test("global aggregate (no GROUP BY) merges all states") {
    projection
    base.createOrReplaceTempView("li_proj")
    // round(avg…): double summation ORDER differs between one-pass and
    // merge-of-partials, so the last ULPs legitimately move (true of
    // any repartitioned double sum) — the value is pinned to 6 dp
    val q = "SELECT sum(l_quantity) AS sq, round(avg(l_extendedprice), 6) AS ap FROM li_proj"
    val rerouted = spark.sql(q)
    assert(scansProjection(rerouted))
    assert(sortedRows(rerouted) == unoptimized(sortedRows(spark.sql(q))))
  }

  test("expressions over merged aggregates and group keys still reroute") {
    projection
    base.createOrReplaceTempView("li_proj")
    val q = "SELECT concat(l_returnflag, '!') AS tag, " +
      "sum(l_quantity) + count(*) AS blend FROM li_proj GROUP BY l_returnflag"
    val rerouted = spark.sql(q)
    assert(scansProjection(rerouted))
    assert(sortedRows(rerouted) == unoptimized(sortedRows(spark.sql(q))))
  }

  test("filters on group keys reroute; each shape matches the scan answer") {
    projection
    base.createOrReplaceTempView("li_proj")
    // equality on a grouped key
    val q1 = "SELECT l_returnflag, sum(l_quantity) AS sq FROM li_proj " +
      "WHERE l_returnflag = 'R' GROUP BY l_returnflag"
    assert(scansProjection(spark.sql(q1)))
    assert(sortedRows(spark.sql(q1)) == unoptimized(sortedRows(spark.sql(q1))))
    // predicate on a projection key that is NOT in the query's GROUP BY
    val q2 = "SELECT l_returnflag, count(*) AS n FROM li_proj " +
      "WHERE l_linestatus = 'O' GROUP BY l_returnflag"
    assert(scansProjection(spark.sql(q2)))
    assert(sortedRows(spark.sql(q2)) == unoptimized(sortedRows(spark.sql(q2))))
    // expression over keys (IN list + function of a key)
    val q3 = "SELECT l_linestatus, max(l_orderkey) AS mx FROM li_proj " +
      "WHERE l_returnflag IN ('R', 'N') AND upper(l_linestatus) = 'O' " +
      "GROUP BY l_linestatus"
    assert(scansProjection(spark.sql(q3)))
    assert(sortedRows(spark.sql(q3)) == unoptimized(sortedRows(spark.sql(q3))))
    // filtered GLOBAL aggregate (no GROUP BY) over key predicates
    val q4 = "SELECT sum(l_quantity) AS sq, count(*) AS n FROM li_proj " +
      "WHERE l_returnflag = 'A'"
    assert(scansProjection(spark.sql(q4)))
    assert(sortedRows(spark.sql(q4)) == unoptimized(sortedRows(spark.sql(q4))))
  }

  test("uniq states: distinct-count estimates merge from HLL sketches") {
    projection
    base.createOrReplaceTempView("li_proj")
    AggProjections.create(spark, srcDir, "with_uniq",
      Seq("l_returnflag"), Seq(("uniq", "l_suppkey"), ("sum", "l_quantity")))
    try {
      val q = "SELECT l_returnflag, approx_count_distinct(l_suppkey) AS u " +
        "FROM li_proj GROUP BY l_returnflag"
      val rerouted = spark.sql(q)
      assert(scansProjection(rerouted))
      // a TIGHTER-than-default precision request must keep the scan
      assert(!scansProjection(spark.sql(
        "SELECT l_returnflag, approx_count_distinct(l_suppkey, 0.005) AS u " +
          "FROM li_proj GROUP BY l_returnflag")))
      // estimate-for-estimate: direct HLL++ vs merged DataSketches HLL —
      // both estimates of the same exact count; compare to TRUTH within
      // the functions' error contracts
      val exact = spark.sql("SELECT l_returnflag, count(DISTINCT l_suppkey) AS u " +
        "FROM li_proj GROUP BY l_returnflag").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      rerouted.collect().foreach { r =>
        val est = r.getLong(1).toDouble
        val truth = exact(r.getString(0)).toDouble
        assert(math.abs(est - truth) / truth < 0.1,
          s"estimate $est too far from $truth for ${r.getString(0)}")
      }
    } finally {
      // finally, not a trailing assert: a failed accuracy check must
      // not leak this 1-key projection into later tests' lookups
      AggProjections.drop(spark, srcDir, "with_uniq")
    }
  }

  test("guardrails: filter, distinct, unknown aggregates, foreign keys stay on the scan") {
    projection
    base.createOrReplaceTempView("li_proj")
    // WHERE on a NON-KEY column — the companion cannot answer that scan
    assert(!scansProjection(spark.sql(
      "SELECT l_returnflag, sum(l_quantity) FROM li_proj " +
        "WHERE l_quantity > 10 GROUP BY l_returnflag")))
    // non-deterministic key predicate must refuse (groups still whole,
    // but the rewrite contract demands determinism). NOTE rand() < 2
    // doesn't test this: Spark's own optimizer proves it true from
    // rand's [0,1) bounds and removes it before this rule runs — the
    // in-range 0.99 survives to the rule
    assert(!scansProjection(spark.sql(
      "SELECT l_returnflag, sum(l_quantity) FROM li_proj " +
        "WHERE l_returnflag = 'R' AND rand() < 0.99 GROUP BY l_returnflag")))
    // DISTINCT aggregate has no mergeable state
    assert(!scansProjection(spark.sql(
      "SELECT l_returnflag, count(DISTINCT l_orderkey) FROM li_proj GROUP BY l_returnflag")))
    // aggregate over a column without a stored state
    assert(!scansProjection(spark.sql(
      "SELECT l_returnflag, sum(l_tax) FROM li_proj GROUP BY l_returnflag")))
    // grouping key outside the projection's keys
    assert(!scansProjection(spark.sql(
      "SELECT l_linenumber, sum(l_quantity) FROM li_proj GROUP BY l_linenumber")))
    // avg over a column with only a sum state (no count) must refuse
    assert(!scansProjection(spark.sql(
      "SELECT l_returnflag, avg(l_quantity) FROM li_proj GROUP BY l_returnflag")))
  }

  test("kill switch spark.graft.aggProjections=false keeps the scan") {
    projection
    base.createOrReplaceTempView("li_proj")
    unoptimized {
      assert(!scansProjection(spark.sql(
        "SELECT l_returnflag, sum(l_quantity) FROM li_proj GROUP BY l_returnflag")))
    }
    // a malformed value degrades to the default (on), never an
    // exception from every query's optimization pass (advisor r9)
    spark.conf.set("spark.graft.aggProjections", "off")
    try assert(scansProjection(spark.sql(
      "SELECT l_returnflag, sum(l_quantity) FROM li_proj GROUP BY l_returnflag")))
    finally spark.conf.set("spark.graft.aggProjections", "true")
  }

  test("avg over an all-NULL group returns NULL through the reroute (ANSI divide)") {
    projRoot // conf before create
    val d = Files.createTempDirectory("graft_proj_nullavg").toString + "/t"
    import spark.implicits._
    // group 'b' has ONLY nulls in v: the stored count state sums to 0,
    // so the rewritten Σsum/Σcount divide must be LEGACY (NULL), never
    // an ANSI DIVIDE_BY_ZERO runtime failure (advisor r9)
    Seq(("a", Some(10.0)), ("a", Some(20.0)), ("b", None: Option[Double]))
      .toDF("k", "v").write.parquet(d)
    AggProjections.create(spark, d, "null_avg", Seq("k"), Seq(("avg", "v")))
    val q = spark.read.parquet(d).groupBy("k")
      .agg(org.apache.spark.sql.functions.avg("v").as("a"))
    assert(scansProjection(q), q.queryExecution.optimizedPlan.toString)
    val rows = q.collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(rows("a") == Some(15.0))
    assert(rows("b").isEmpty) // NULL, matching the direct path's Average
  }

  test("a part file moved between hive partition directories reverts the reroute") {
    projRoot // conf before create
    val d = Files.createTempDirectory("graft_proj_hive").toString + "/t"
    import spark.implicits._
    (1 to 100).map(i => (i % 2, i.toLong)).toDF("p", "v")
      .repartition(2).write.partitionBy("p").parquet(d)
    AggProjections.create(spark, d, "by_p", Seq("p"), Seq(("sum", "v")))
    def q = spark.read.parquet(d).groupBy("p")
      .agg(org.apache.spark.sql.functions.sum("v").as("s"))
    assert(scansProjection(q), q.queryExecution.optimizedPlan.toString)
    // move one parquet file p=0 → p=2: name, length, and (on a local
    // move) mtime are preserved, but every row's partition-column value
    // changed — the full-path fingerprint must catch it (advisor r9:
    // a basename fingerprint served stale groups here)
    val from = new java.io.File(s"$d/p=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val to = new java.io.File(s"$d/p=2", from.getName)
    to.getParentFile.mkdirs()
    val mtime = from.lastModified()
    java.nio.file.Files.move(from.toPath, to.toPath)
    to.setLastModified(mtime)
    spark.catalog.refreshByPath(d)
    assert(!scansProjection(q), q.queryExecution.optimizedPlan.toString)
  }

  test("a >64-file source fingerprints via a distributed job; in-place change still reverts") {
    projRoot // conf before create
    val d = Files.createTempDirectory("graft_proj_manyfiles").toString + "/t"
    import spark.implicits._
    // 70 files > Fingerprint.DriverStatMaxFiles (64): the sweep must
    // leave the driver (VERDICT r9 task #4 — serial driver stats are
    // minutes per planning at a 100k-object store)
    (1 to 700).map(i => (i % 7, i.toLong)).toDF("k", "v")
      .repartition(70).write.parquet(d)
    assert(spark.read.parquet(d).inputFiles.length > AggProjections.Fingerprint.DriverStatMaxFiles)
    AggProjections.create(spark, d, "many", Seq("k"), Seq(("sum", "v")))
    def q = spark.read.parquet(d).groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("s"))
    // count Spark jobs across one planning: the fingerprint sweep must
    // run as at least one job (the plan itself is lazy — optimizedPlan
    // triggers planning only, so any job seen here is the sweep's)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val plan = q.queryExecution.optimizedPlan
      assert(scansProjection(q), plan.toString)
      // the listener bus is async — poll briefly for the job event
      val deadline = System.currentTimeMillis() + 5000
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(jobs.get() >= 1, "expected the fingerprint stat sweep to run as a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
    // overwrite ONE file in place (same name, different content/length):
    // the distributed sweep must still catch it and revert to the scan
    val f = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val one = Seq((0, 999999L)).toDF("k", "v")
    val tmp = Files.createTempDirectory("graft_proj_onefile").toString
    one.coalesce(1).write.mode("overwrite").parquet(tmp)
    val newFile = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(newFile.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop Hadoop's local-FS checksum sidecar — the raw overwrite
    // invalidates it and a later read would fail on the stale .crc
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    spark.catalog.refreshByPath(d)
    assert(!scansProjection(q), q.queryExecution.optimizedPlan.toString)
  }

  test("ATTACHed MergeTree table: projection reroutes (plan-pinned) and a new part reverts it") {
    projRoot // conf before create
    val d = Files.createTempDirectory("graft_proj_mt").toString + "/tree"
    val cols = Seq("k" -> "LowCardinality(String)", "v" -> "Int64")
    def part(name: String, rows: Seq[Seq[Any]]): Unit =
      graft.sources.mergetree.MergeTreePartWriter.writePart(
        d, cols, rows, granularity = 4, partName = name, orderBy = Seq("k"))
    part("all_1_1_0", (1 to 20).map(i => Seq[Any](s"k${i % 3}", i.toLong)).sortBy(_.head.toString))
    val ddl = "`k` LowCardinality(String), `v` Int64"
    graft.sources.mergetree.MergeTree.read(spark, d, ddl, Seq("k"))
      .createOrReplaceTempView("mt_proj_t")
    val add = graft.dialect.ChSql.sql(spark,
      "ALTER TABLE mt_proj_t ADD PROJECTION p_k (SELECT k, sum(v), count() GROUP BY k)")
    assert(add.collect().head.getString(1) == "materialized")
    def q = spark.sql("SELECT k, sum(v) AS s, count(*) AS n FROM mt_proj_t GROUP BY k")
    assert(scansProjection(q), q.queryExecution.optimizedPlan.toString)
    val direct = unoptimized(sortedRows(
      spark.sql("SELECT k, sum(v) AS s, count(*) AS n FROM mt_proj_t GROUP BY k")))
    assert(sortedRows(q) == direct)
    // a NEW PART lands (MergeTree's append unit): the part-set
    // fingerprint changes, the reroute must revert to the scan — and
    // MATERIALIZE merges ONLY the new part's states into the companion
    // (the incremental path), re-arming the reroute
    part("all_2_2_0", (21 to 28).map(i => Seq[Any](s"k${i % 3}", i.toLong)).sortBy(_.head.toString))
    assert(!scansProjection(q), q.queryExecution.optimizedPlan.toString)
    val mat = graft.dialect.ChSql.sql(spark,
      "ALTER TABLE mt_proj_t MATERIALIZE PROJECTION p_k").collect().head
    assert(mat.getString(1) == "merged_incremental")
    assert(scansProjection(q), q.queryExecution.optimizedPlan.toString)
    assert(sortedRows(q) == unoptimized(sortedRows(
      spark.sql("SELECT k, sum(v) AS s, count(*) AS n FROM mt_proj_t GROUP BY k"))))
    // an unchanged tree is a provable no-op
    assert(graft.dialect.ChSql.sql(spark,
      "ALTER TABLE mt_proj_t MATERIALIZE PROJECTION p_k").collect().head.getString(1) == "noop")
    // a REMOVED part (merge/mutation replaced it) cannot merge-subtract:
    // full rebuild, still answer-identical
    val gone = new java.io.File(d, "all_1_1_0")
    gone.listFiles().foreach(_.delete()); gone.delete()
    assert(!scansProjection(q), q.queryExecution.optimizedPlan.toString)
    assert(graft.dialect.ChSql.sql(spark,
      "ALTER TABLE mt_proj_t MATERIALIZE PROJECTION p_k").collect().head.getString(1) == "rebuilt")
    assert(scansProjection(q), q.queryExecution.optimizedPlan.toString)
    assert(sortedRows(q) == unoptimized(sortedRows(
      spark.sql("SELECT k, sum(v) AS s, count(*) AS n FROM mt_proj_t GROUP BY k"))))
    // DROP unregisters
    assert(graft.dialect.ChSql.sql(spark,
      "ALTER TABLE mt_proj_t DROP PROJECTION p_k").collect().head.getString(1) == "dropped")
    assert(!scansProjection(q))
  }

  test("OPTIMIZE on a MergeTree tree re-fingerprints fresh projections in place: no rebuild, reroute survives") {
    projRoot
    val d = Files.createTempDirectory("graft_proj_opt").toString + "/tree"
    val cols = Seq("k" -> "LowCardinality(String)", "v" -> "Int64")
    (1 to 3).foreach { p =>
      graft.sources.mergetree.MergeTreePartWriter.writePart(
        d, cols, (1 to 12).map(i => Seq[Any](s"k${i % 3}", (p * 100 + i).toLong))
          .sortBy(_.head.toString),
        granularity = 4, partName = s"all_${p}_${p}_0", orderBy = Seq("k"))
    }
    val ddl = "`k` LowCardinality(String), `v` Int64"
    graft.sources.mergetree.MergeTree.read(spark, d, ddl, Seq("k"))
      .createOrReplaceTempView("mt_opt_t")
    assert(graft.dialect.ChSql.sql(spark,
      "ALTER TABLE mt_opt_t ADD PROJECTION p_k (SELECT k, sum(v), count() GROUP BY k)")
      .collect().head.getString(1) == "materialized")
    def q = spark.sql("SELECT k, sum(v) AS s, count(*) AS n FROM mt_opt_t GROUP BY k")
    assert(scansProjection(q), q.queryExecution.optimizedPlan.toString)
    val expected = sortedRows(q)
    val m0 = AggProjections.allManifests
      .find(m => m.sourceKey == AggProjections.mergeTreeKey(d) && m.name == "p_k").get
    val companionFiles = new java.io.File(m0.dataPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    // OPTIMIZE merges the three parts into one — content preserved, so
    // the companion re-stamps IN PLACE: reroute still fires, no
    // rebuild job touched the companion's data files
    val opt = graft.dialect.ChSql.sql(spark, "OPTIMIZE TABLE mt_opt_t FINAL").collect().head
    assert(opt.getInt(1) == 3 && opt.getInt(2) == 1,
      s"expected 3 parts -> 1, got $opt")
    assert(scansProjection(q),
      "reroute must survive OPTIMIZE: " + q.queryExecution.optimizedPlan.toString)
    assert(sortedRows(q) == expected)
    val after = new java.io.File(m0.dataPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == companionFiles, "companion data was rebuilt, not re-stamped")
    val m1 = AggProjections.allManifests
      .find(m => m.sourceKey == AggProjections.mergeTreeKey(d) && m.name == "p_k").get
    assert(m1.fingerprint != m0.fingerprint, "fingerprint did not move to the merged part set")
    // a STALE companion stays stale: append a part (fingerprint now
    // behind), OPTIMIZE again — the re-stamp must NOT mask divergence
    graft.sources.mergetree.MergeTreeCtas.appendPart(spark,
      { import spark.implicits._
        Seq(("k0", 1000L), ("k1", 2000L)).toDF("k", "v") },
      d, Seq("k"), declaredDdl = Some(ddl))
    assert(!scansProjection(q), q.queryExecution.optimizedPlan.toString)
    graft.dialect.ChSql.sql(spark, "OPTIMIZE TABLE mt_opt_t FINAL").collect()
    assert(!scansProjection(q),
      "OPTIMIZE must not re-stamp a companion that was already stale: " +
        q.queryExecution.optimizedPlan.toString)
    assert(sortedRows(q) == unoptimized(sortedRows(q)))
  }

  test("loadAll re-registers persisted manifests in a fresh registry") {
    projection
    AggProjections.clear()
    base.createOrReplaceTempView("li_proj")
    assert(!scansProjection(spark.sql(
      "SELECT l_returnflag, sum(l_quantity) FROM li_proj GROUP BY l_returnflag")))
    assert(AggProjections.loadAll(spark) >= 1)
    assert(scansProjection(spark.sql(
      "SELECT l_returnflag, sum(l_quantity) FROM li_proj GROUP BY l_returnflag")))
  }

  test("ALTER TABLE ADD/MATERIALIZE/DROP PROJECTION round-trips through the dialect") {
    projection
    base.createOrReplaceTempView("li_sql")
    val add = graft.dialect.ChSql.sql(spark,
      """ALTER TABLE li_sql ADD PROJECTION p_flag
        |(SELECT l_returnflag, sum(l_quantity), count() GROUP BY l_returnflag)""".stripMargin)
    assert(add.collect().head.getString(1) == "materialized")
    val q = "SELECT l_returnflag, sum(l_quantity) AS sq, count(*) AS n " +
      "FROM li_sql GROUP BY l_returnflag"
    assert(scansProjection(spark.sql(q)))
    assert(sortedRows(spark.sql(q)) == unoptimized(sortedRows(spark.sql(q))))
    // MATERIALIZE with an unchanged source is a provable no-op;
    // DROP removes data + registry
    assert(graft.dialect.ChSql.sql(spark,
      "ALTER TABLE li_sql MATERIALIZE PROJECTION p_flag")
      .collect().head.getString(1) == "noop")
    assert(graft.dialect.ChSql.sql(spark,
      "ALTER TABLE li_sql DROP PROJECTION p_flag")
      .collect().head.getString(1) == "dropped")
    // gone: the OTHER registered projection (by_flag_status) still
    // answers this shape — drop it too, then the scan must come back
    assert(AggProjections.drop(spark, srcDir, "by_flag_status"))
    assert(!scansProjection(spark.sql(q)))
    // IF NOT EXISTS on an existing projection is a true no-op (no
    // rebuild): the companion's files must be untouched
    graft.dialect.ChSql.sql(spark,
      """ALTER TABLE li_sql ADD PROJECTION p_tmp
        |(SELECT l_returnflag, sum(l_quantity) GROUP BY l_returnflag)""".stripMargin)
    val dataDir = AggProjections.get(spark, srcDir, "p_tmp").get.dataPath
    def mtimes = new java.io.File(dataDir).listFiles().map(f => f.getName -> f.lastModified).toMap
    val before = mtimes
    val again = graft.dialect.ChSql.sql(spark,
      """ALTER TABLE li_sql ADD PROJECTION IF NOT EXISTS p_tmp
        |(SELECT l_returnflag, sum(l_quantity) GROUP BY l_returnflag)""".stripMargin)
    assert(again.collect().head.getString(1) == "exists")
    assert(mtimes == before)
    assert(AggProjections.drop(spark, srcDir, "p_tmp"))
    // an undeclared select item refuses loudly
    val e = intercept[IllegalArgumentException] {
      graft.dialect.ChSql.sql(spark,
        "ALTER TABLE li_sql ADD PROJECTION bad (SELECT l_returnflag, " +
          "sum(l_quantity * 2) GROUP BY l_returnflag)")
    }
    assert(e.getMessage.contains("unsupported projection select item"))
    // restore the shared projection for later tests
    AggProjections.create(spark, srcDir, "by_flag_status",
      Seq("l_returnflag", "l_linestatus"),
      Seq(("sum", "l_quantity"), ("avg", "l_extendedprice"),
        ("min", "l_orderkey"), ("max", "l_orderkey"),
        ("count", "l_suppkey")))
  }

  test("MATERIALIZE merges incrementally on append-only growth, rebuilds otherwise") {
    projRoot
    import org.apache.spark.sql.functions.{col => c}
    val d = Files.createTempDirectory("graft_proj_incr").toString + "/src"
    val base0 = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    base0.filter("l_orderkey % 2 = 0").coalesce(1).write.parquet(d)
    AggProjections.create(spark, d, "incr",
      Seq("l_returnflag"),
      Seq(("sum", "l_quantity"), ("avg", "l_extendedprice"),
        ("uniq", "l_suppkey")))
    try {
      // append-only growth → the refresh must MERGE, not rebuild
      base0.filter("l_orderkey % 2 = 1").coalesce(1)
        .write.mode("append").parquet(d)
      val (m2, mode) = AggProjections.rematerialize(spark, d, "incr")
      assert(mode == "merged_incremental",
        "append-only growth should take the merge path")
      assert(m2.files.size > 1)
      // merged companion answers EXACTLY like a from-scratch aggregate
      spark.read.parquet(d).createOrReplaceTempView("li_incr")
      val q = "SELECT l_returnflag, sum(l_quantity) AS sq, count(*) AS n, " +
        "round(avg(l_extendedprice), 4) AS ap FROM li_incr GROUP BY l_returnflag"
      assert(scansProjection(spark.sql(q)))
      assert(sortedRows(spark.sql(q)) == unoptimized(sortedRows(spark.sql(q))))
      // merged uniq sketches still estimate within contract
      val est = spark.sql("SELECT approx_count_distinct(l_suppkey) AS u FROM li_incr")
      assert(scansProjection(est))
      val truth = unoptimized(
        spark.sql("SELECT count(DISTINCT l_suppkey) FROM li_incr").collect().head.getLong(0))
      val got = est.collect().head.getLong(0).toDouble
      assert(math.abs(got - truth) / truth < 0.1, s"$got vs $truth")
      // a REMOVED file cannot be merged away → full rebuild
      val firstPart = new java.io.File(d).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).minBy(_.getName)
      assert(firstPart.delete())
      val (_, mode2) = AggProjections.rematerialize(spark, d, "incr")
      assert(mode2 == "rebuilt", "a shrunk source must force the rebuild path")
      // and an unchanged source is a no-op, not a corpus re-shuffle
      assert(AggProjections.rematerialize(spark, d, "incr")._2 == "noop")
      // the view captured the pre-delete file listing — re-bind it
      // (the engine under test never touched this test-local view)
      spark.read.parquet(d).createOrReplaceTempView("li_incr")
      assert(sortedRows(spark.sql(q)) == unoptimized(sortedRows(spark.sql(q))))
    } finally AggProjections.drop(spark, d, "incr")
  }

  test("a stale companion (source grew a file) silently reverts to the scan") {
    projection
    // grow the source AFTER materialization: new file list → fresh
    // fingerprint (no TTL shadowing — the cache is keyed on the list)
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .limit(7).write.mode("append").parquet(srcDir)
    val df = spark.read.parquet(srcDir)
    df.createOrReplaceTempView("li_stale")
    val q = "SELECT l_returnflag, sum(l_quantity) AS sq FROM li_stale GROUP BY l_returnflag"
    val after = spark.sql(q)
    assert(!scansProjection(after))
    // and the answer includes the appended rows
    assert(sortedRows(after) == unoptimized(sortedRows(spark.sql(q))))
    // re-materializing refreshes the fingerprint and reroutes again
    AggProjections.create(spark, srcDir, "by_flag_status",
      Seq("l_returnflag", "l_linestatus"), Seq(("sum", "l_quantity")))
    assert(scansProjection(spark.sql(q)))
  }
}
