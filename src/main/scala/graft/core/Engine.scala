package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Mirrors the reference's per-query cluster bring-up (reference
  * `temporal/workflow_query_executor.go:42-100`: spawn → ready-barrier →
  * query → teardown) collapsed onto Spark's execution model: the driver is
  * the coordinator (no Keeper), executors are the replicas, and
  * `local[N]` stands in for the N-node fly.io fleet during tests.
  *
  * Scale posture: every conf set here is chosen for a real multi-executor
  * cluster, not just local mode — AQE on as Spark ships it (runtime
  * re-plan / skew-join splitting), shuffle partitions sized to cores
  * (overridden upward on a real cluster), UTC session time so results
  * are layout-independent.
  */
object Engine {

  /** Default parallelism: env override, else all local cores. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Fixed settings of every SparkContext [[session]] builds, so of
    * every one that serves the doors. Not options: each
    * door request runs on its own `newSession()`, and these are what
    * must hold for every one of them.
    *
    *  - Artifact isolation off. With it on (Spark's default), every
    *    `newSession()` gets its own artifact class loader, and
    *    `CodeGenerator.compile` caches by (context class loader, code),
    *    so each request re-ran Janino on every whole-stage class and
    *    then ran the fresh classes cold, before the JIT had seen them.
    *    graft never adds per-session artifacts (no `addArtifact`), so
    *    sharing the loader changes nothing else; SET, temp-view and
    *    function-registry isolation stay per session.
    *  - UTC session time, so `toDateTime('…')` and friends evaluate the
    *    same on every host. */
  val doorConf: Map[String, String] = Map(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  /** The one `SparkSession.builder()` in the engine: every main
    * (`Serve`, `Verify`, `Bench`, the smokes, `PlanAudit`) and the test
    * session build through here, so the server that answers a query
    * runs the confs the gate and the tests were measured with. The
    * dialect functions, the five optimizer rules and the driver-merge
    * strategy are not set here: [[graft.dialect.GraftExtensions]] is a
    * `SparkSessionExtensionsProvider` listed under `META-INF/services`,
    * and Spark applies it to every session of a JVM with graft on its
    * classpath. `spark.sql.extensions` must not name it as well, or
    * every rule is injected, and runs, twice.
    *
    * `extraConf` is applied last and wins over everything below. */
  def session(
      appName: String = "graft",
      cores: Int = defaultCores,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config(doorConf)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Bound task-memory pages: Spark's default scales with the
      // execution pool (min(64MB, pool/cores/16)), so under a
      // multi-ten-GB driver heap every short sort/agg task zero-filled
      // fresh 64MB pages (measured: q5 2.9 s → 14-19 s at -Xmx89g)
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Vectorized first-level agg hash map (r14, the q3 finding):
      // keyed hash-aggs with fixed-width keys spend ~55ns/row in the
      // row-based first-level map; the vectorized map cut
      // q3_uniq_exact sf10 from 0.39 to 0.26 s median (7-iteration
      // runtime-conf A/B) with AQE on, and is a no-op for key shapes
      // it doesn't support (automatic fallback)
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      // Reader batch size 4× Spark's 4096 default (r15, reader-batch
      // A/B over the sf10 fixture, two independent windows): q2
      // group-sum −20/−34%, q4 16-column hash-scan −7/−25%, q1/q3
      // neutral-to-better, GC flat. Per-task vector memory grows with
      // the batch (16k rows × column width × read columns ≈ 4 MB for a
      // 16-column scan) — noise against multi-GB executors, and the
      // per-batch loop/virtual-call overhead it amortizes is measured,
      // not guessed.
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      // Leaf-scan packing (r11): Spark's default minPartitionNum=cores
      // shreds small many-file tables into per-file tiny tasks;
      // measured here (the r11 q3 stage decomposition) per-row
      // aggregate cost inflates ~10× under 32-way concurrency on
      // sub-MB tasks while 4×-fewer, bigger tasks cut both CPU and
      // wall. But the knob is one formula for every scan —
      // maxSplitBytes = min(maxPartitionBytes, max(openCost,
      // totalBytes/minPartitionNum)) — so a low floor alone also CAPS
      // a 1 GB scan at cores/4 tasks (measured: the full-width hash
      // scan at sf10 ran 8 tasks on 32 cores, 3-5 s vs 1.3 s at full
      // width). The pair below expresses both regimes: small tables
      // pack into cores/4 tasks, and the 32 MB size cap keeps anything
      // ≥ cores/4 × 32 MB fanning out to all cores. The cap is sized
      // for THIS single-node regime (splits ≤ a few GB per table): on
      // a 1000-executor cluster 32 MB would 4× the task count of a
      // 100 TB scan for no gain — a deployment at that scale passes
      // 128 MB back through `extraConf`.
      .config("spark.sql.files.minPartitionNum", math.max(1, cores / 4).toString)
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      // Column vectors stay on-heap, Spark's default (r14): every
      // clean-window A/B since r13 had on-heap winning the full-width
      // scan (0.96-1.9 s vs off-heap 4.4-28 s back-to-back) and
      // off-heap amplifying 10-15× under host IO/CPU contention.
      // `Bench`'s q4 section re-measures both modes every run.
      .config(extraConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
