package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSessionExtensionsProvider
import org.scalatest.funsuite.AnyFunSuite

/** One session recipe: every session gets graft's functions, rules and
  * strategy from the ServiceLoader-registered provider, exactly once,
  * and the test session carries [[Engine.session]]'s confs. */
class EngineSessionSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def classic(s: org.apache.spark.sql.SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  test("ServiceLoader finds GraftExtensions") {
    val found = java.util.ServiceLoader.load(classOf[SparkSessionExtensionsProvider])
      .iterator().asScala.map(_.getClass.getName).toSeq
    assert(found.count(_ == "graft.dialect.GraftExtensions") == 1, found)
  }

  test("a fresh session carries each rule and the driver-merge strategy exactly once") {
    val fresh = classic(spark.newSession())
    val rules = fresh.sessionState.optimizer.extendedOperatorOptimizationRules
    Seq(classOf[graft.plans.FooterAggregates], classOf[graft.plans.AggProjectionRewrite],
      classOf[graft.plans.DictAggRewrite], classOf[graft.plans.BitmapDistinctRewrite],
      classOf[graft.plans.HashScanRewrite]).foreach { c =>
      assert(rules.count(_.getClass == c) == 1, s"${c.getSimpleName} in $rules")
    }
    val strategies = fresh.sessionState.planner.extraPlanningStrategies
    assert(strategies.count(_ eq graft.plans.DriverMergeStrategy) == 1, strategies)
    assert(fresh.experimental.extraOptimizations.isEmpty)
    assert(fresh.experimental.extraStrategies.isEmpty)
  }

  test("cityHash64 resolves on a fresh session with no registration call") {
    val h = spark.newSession().sql("SELECT cityHash64('') AS h").collect().head.getLong(0)
    assert(h == java.lang.Long.parseUnsignedLong("9ae16a3b2f90404f", 16))
  }

  test("constructing QueryService leaves the session's function registry unchanged") {
    val fresh = spark.newSession()
    val reg = classic(fresh).sessionState.functionRegistry
    val before = reg.listFunction().toSet
    new graft.service.QueryService(fresh)
    assert(reg.listFunction().toSet == before)
  }

  test("the test session carries Engine.session's confs") {
    assert(spark.conf.get("spark.sql.parquet.columnarReaderBatchSize") == "16384")
    assert(spark.sparkContext.getConf.get("spark.buffer.pageSize") == "4m")
    Engine.doorConf.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    // the effective value of every conf the recipe sets or defaults, as
    // a door's per-request session sees it: the served configuration
    val fresh = spark.newSession().conf
    val cores = Engine.defaultCores
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.files.minPartitionNum" -> math.max(1, cores / 4).toString,
      "spark.sql.files.maxPartitionBytes" -> (32L * 1024 * 1024).toString,
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      "spark.sql.codegen.aggregate.map.vectorized.enable" -> "true",
      "spark.sql.columnVector.offheap.enabled" -> "false"
    ).foreach { case (k, v) => assert(fresh.get(k) == v, k) }
    assert(!spark.sparkContext.getConf.getBoolean("spark.memory.offHeap.enabled", false))
  }
}
