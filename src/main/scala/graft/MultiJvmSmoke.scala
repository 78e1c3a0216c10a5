package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Engine, Tables}
import graft.operators.Dedup
import graft.service.QueryService

/** Multi-JVM proof (VERDICT r11 task #1): every scale claim so far was
  * validated inside one `local[32]` JVM, where driver and executors
  * share a process, a filesystem view, and JVM-global state (`Catalog`,
  * tree locks). This main re-runs the flagship paths under
  * `local-cluster[2,8,4096]` — Spark's standalone-in-miniature master
  * that forks REAL separate executor JVMs (`ExecutorRunner` →
  * `CoarseGrainedExecutorBackend` child processes) — so closure
  * serialization, task-side class loading, and any accidental capture
  * of driver-only state actually cross a process boundary, the way they
  * would on the reference's N-node fly.io fleet (reference
  * `ch/config.xml:790-796`, one shard × N replicas).
  *
  * Checks (driver contract: prints `[multijvm]` lines, exits non-zero
  * on any mismatch):
  *   a. parquet group-by-sum (q03 shape) — rows identical to a plain
  *      `local[8]` run of the same query;
  *   b. executor-parallel MergeTree CTAS (q179 shape) into a shared dir
  *      with a forced multi-part layout, ATTACH-read back through the
  *      DSv2 columnar path, aggregate identical to the plain-parquet
  *      recomputation (both sides computed in-cluster);
  *   c. banded MinHash dedup (q42 shape) — the fused codegen kernel +
  *      shuffle-hash verify join, rows identical to the local run.
  */
object MultiJvmSmoke {

  private def fmt(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def check(name: String, got: Seq[String], want: Seq[String]): Boolean = {
    val ok = got == want
    println(s"[multijvm] $name: ${if (ok) "OK" else "MISMATCH"} (${got.size} rows)")
    if (!ok) {
      println(s"[multijvm]   want(${want.size}): ${want.take(5).mkString(" ; ")}")
      println(s"[multijvm]   got(${got.size}): ${got.take(5).mkString(" ; ")}")
    }
    ok
  }

  private def groupSum(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").cast("long").as("sum_qty"))

  private def minhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashDupPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", shingleSize = 3, numHashes = 128, bands = 32,
        threshold = 0.7)
      .select("id_a", "id_b")

  def main(args: Array[String]): Unit = {
    // Executor forking goes through Spark's launcher WITHOUT bin/spark-class
    // (ExecutorRunner builds the command in-JVM), so load-spark-env.sh never
    // runs and AbstractCommandBuilder.getScalaVersion() falls back to source-
    // build directories that a binary distribution doesn't have ("Cannot find
    // any build directories"). Fail fast with the fix instead of 10 cryptic
    // executor-launch failures.
    if (sys.env.get("SPARK_SCALA_VERSION").isEmpty &&
        !new java.io.File(sys.env.getOrElse("SPARK_HOME", "/opt/spark"),
          "launcher/target/scala-2.13").isDirectory) {
      System.err.println(
        "[multijvm] SPARK_SCALA_VERSION is not set and SPARK_HOME is a binary " +
          "distribution — executor JVMs cannot be forked. Run as:\n" +
          "  SPARK_SCALA_VERSION=2.13 sbt \"runMain graft.MultiJvmSmoke\"")
      sys.exit(2)
    }
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_multijvm").toString

    // ---- phase A: single-JVM expected values --------------------------
    val local = Engine.session(appName = "graft-multijvm-expected", cores = 8)
    val expGroup = fmt(groupSum(local, dir))
    val expPairs = fmt(minhash(local, dir))
    local.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // ---- phase B: the same paths across real executor JVMs ------------
    // Executors are forked via $SPARK_HOME/bin/spark-class and see the
    // distribution jars but NOT sbt's classpath — hand them the compiled
    // graft classes explicitly, plus the JDK-17 module opens that
    // spark-submit would normally inject.
    val classesDir = {
      val url = getClass.getProtectionDomain.getCodeSource.getLocation
      new java.io.File(url.toURI).getAbsolutePath
    }
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val spark = Engine.session(
      appName = "graft-multijvm",
      cores = 16, // shuffle partitions; 2 workers × 8 cores execute
      extraConf = Map(
        "spark.master" -> "local-cluster[2,8,4096]",
        "spark.executor.memory" -> "3g",
        "spark.executor.extraClassPath" -> classesDir,
        "spark.executor.extraJavaOptions" -> addOpens))
    try {
      val execs = waitForExecutors(spark, want = 2, timeoutMs = 120000)
      println(s"[multijvm] executors=$execs master=${spark.sparkContext.master}")

      var ok = execs >= 2
      if (!ok) println("[multijvm] executors: MISMATCH (cluster never reached 2 executor JVMs)")

      // (a) parquet scan → partial/final hash aggregate across 2 JVMs
      ok &= check("group_sum", fmt(groupSum(spark, dir)), expGroup)

      // (b) CTAS: distributed stats pass + repartitionByRange + one
      // staged-then-renamed part per task, all task-side in executor
      // JVMs; read back through the granule-skipping DSv2 scan. Small
      // maxPartRows forces a genuinely multi-part, multi-task layout.
      spark.conf.set(graft.service.Settings.WarehouseDir.name, s"$scratch/wh")
      spark.conf.set(graft.service.Settings.MergeTreePartRows.name, "40")
      val svc = new QueryService(spark)
      val mt = svc.executeToDf(QueryService.QueryRequest(
        query = """SELECT c_nationkey, count() AS n,
                  |       CAST(round(sum(bal) * 100) AS BIGINT) AS bal_c
                  |FROM mj_ctas_back GROUP BY c_nationkey
                  |ORDER BY c_nationkey""".stripMargin,
        initQueries = Seq(
          s"""CREATE TABLE mj_ctas ENGINE = MergeTree ORDER BY (c_custkey) AS
             |SELECT c_custkey, c_nationkey, c_acctbal AS bal
             |FROM parquet.`$dir/customer.parquet`""".stripMargin,
          s"""ATTACH TABLE mj_ctas_back (`c_custkey` Int64, `c_nationkey` Int32, `bal` Float64)
             |ENGINE = MergeTree ORDER BY (c_custkey)
             |SETTINGS disk = disk(type = web, endpoint = '$scratch/wh/mj_ctas')""".stripMargin)))._1
      val expMt = spark.read.parquet(s"$dir/customer.parquet")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")) * 100).cast("long").as("bal_c"))
      ok &= check("ctas_roundtrip", fmt(mt), fmt(expMt))
      val parts = new java.io.File(s"$scratch/wh/mj_ctas").listFiles()
      val nParts = Option(parts).map(_.count(f =>
        f.isDirectory && f.getName.matches(".*\\d+_\\d+_\\d+$"))).getOrElse(0)
      println(s"[multijvm] ctas_parts=$nParts")
      if (nParts < 2) { ok = false; println("[multijvm] ctas_parts: MISMATCH (expected a multi-part tree)") }

      // (c) banded dedup: fused MinHash kernel (codegen compiles in the
      // executor JVMs), cached state, band-bucket + shuffle-hash verify
      ok &= check("minhash_pairs", fmt(minhash(spark, dir)), expPairs)

      // (d) the Hadoop-FS write tier across REAL JVM boundaries (r12):
      // forced-hadoop mode routes the same executor-parallel part
      // encode through org.apache.hadoop.fs.FileSystem, shipping the
      // Hadoop Configuration to the forked executors via its Writable
      // serialization — the one piece of TreeFs that only a multi-JVM
      // run can prove
      spark.conf.set(graft.service.Settings.MergeTreeFs.name, "hadoop")
      val mtH =
        try svc.executeToDf(QueryService.QueryRequest(
          query = """SELECT c_nationkey, count() AS n,
                    |       CAST(round(sum(bal) * 100) AS BIGINT) AS bal_c
                    |FROM mj_hfs GROUP BY c_nationkey
                    |ORDER BY c_nationkey""".stripMargin,
          initQueries = Seq(
            s"""CREATE TABLE mj_hfs ENGINE = MergeTree ORDER BY (c_custkey) AS
               |SELECT c_custkey, c_nationkey, c_acctbal AS bal
               |FROM parquet.`$dir/customer.parquet`""".stripMargin)))._1
        finally spark.conf.unset(graft.service.Settings.MergeTreeFs.name)
      ok &= check("hadoopfs_ctas", fmt(mtH), fmt(expMt))

      // (e) the DOORS + the allocator against a REAL cluster manager
      // (r15, VERDICT "what's missing" #4: the O2/O4 seam had only
      // ever no-op'd in local[32]): O2's requestTotalExecutors goes to
      // the standalone-in-miniature master, O4's readiness barrier
      // polls real executor registrations, and both doors answer a
      // query whose jobs run across the forked executor JVMs.
      val alloc = new graft.cluster.ExecutorAllocator(spark)
      println(s"[multijvm] allocator: isLocal=${alloc.isLocal} " +
        s"registered=${alloc.registered}")
      if (alloc.isLocal) {
        ok = false
        println("[multijvm] allocator: MISMATCH (local-cluster must not report isLocal)")
      }
      val accepted = alloc.ensure(2) // O2 against the real master
      val ready = alloc.waitReady(2, timeoutMs = 60000) // O4 barrier
      println(s"[multijvm] allocator: ensure_accepted=$accepted ready=$ready")
      if (ready < 2) { ok = false; println("[multijvm] allocator: MISMATCH") }

      val http = new graft.service.QueryServer(spark)
      val httpPort = http.start()
      val native = new graft.service.native.NativeServer(spark)
      val nativePort = native.start()
      try {
        val sumSql = "SELECT CAST(sum(l_quantity) AS BIGINT) AS s " +
          s"FROM parquet.`$dir/lineitem.parquet`"
        val expSum = spark.read.parquet(s"$dir/lineitem.parquet")
          .agg(sum("l_quantity").cast("long")).head.getLong(0)
        val q = java.net.URLEncoder.encode(s"$sumSql FORMAT CSV", "UTF-8")
        val resp = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:$httpPort/?query=$q")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        ok &= check("http_door",
          Seq(s"${resp.statusCode()}|${resp.body().trim}"),
          Seq(s"200|$expSum"))
        val nc = new graft.service.native.NativeClient("127.0.0.1", nativePort)
        try {
          val nr = nc.query(sumSql)
          ok &= check("native_door",
            nr.rows.map(_.mkString("|")), Seq(s"$expSum"))
        } finally nc.close()
      } finally {
        native.stop()
        http.stop(drainMs = 1000)
      }

      println(s"[multijvm] ${if (ok) "ALL OK" else "FAILED"}")
      if (!ok) sys.exit(1)
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    }
  }

  /** Block until `want` executor JVMs registered (local-cluster forks
    * them asynchronously; running a job earlier would just run on fewer
    * executors and weaken the proof). */
  private def waitForExecutors(spark: SparkSession, want: Int, timeoutMs: Long): Int = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var n = 0
    while ({
      n = spark.sparkContext.getExecutorMemoryStatus.size - 1 // minus driver
      n < want && System.currentTimeMillis() < deadline
    }) Thread.sleep(500)
    n
  }
}
