package graft.dialect

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one registration of graft's Catalyst surface. Listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` pass applies it to every session built in
  * a JVM with graft on its classpath, with no config key. Do not also
  * name it in `spark.sql.extensions`: Spark would apply it twice and
  * every rule and the strategy would run twice per query.
  *
  * It injects every [[ChFunctions.builders]] entry through
  * `injectFunction`, so every session of the context, `newSession()`
  * forks included, resolves `cityHash64`, `uniq`, `multiIf`, … as
  * native Catalyst expressions; the five rewrite rules into the
  * operator-optimization batch; and [[graft.plans.DriverMergeStrategy]]
  * into the planner. Combinator spellings (`sumArrayIf`, …) have no
  * fixed list and are registered per statement by
  * [[ChSql.registerCombinators]].
  */
class GraftExtensions extends SparkSessionExtensionsProvider {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ChFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.dialect.ChFunctions", name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    ext.injectOptimizerRule(graft.plans.FooterAggregates.apply)
    ext.injectOptimizerRule(graft.plans.AggProjectionRewrite.apply)
    ext.injectOptimizerRule(graft.plans.DictAggRewrite.apply)
    ext.injectOptimizerRule(graft.plans.BitmapDistinctRewrite.apply)
    ext.injectOptimizerRule(graft.plans.HashScanRewrite.apply)
    ext.injectPlannerStrategy(_ => graft.plans.DriverMergeStrategy)
  }
}
