package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Production registration path for graft's native expressions and plans:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * The injected surface is:
  *  - the `graft_*` SQL functions, i.e. [[graft.functions.GraftFunctions.table]]:
  *    ten scalar expressions plus two native aggregates (the Space-Saving
  *    heavy-hitters sketch and the theta distinct-set sketch, both
  *    TypedImperativeAggregates). DataFrame code does not need them: the
  *    `GraftFunctions` Column helpers build the expressions directly. On a
  *    session built without this class, `GraftFunctions.register` installs
  *    the same table for SQL callers;
  *  - TWO planner strategies, the native as-of join
  *    ([[graft.plans.AsofJoinStrategy]]) and the native band join
  *    ([[graft.plans.RangeJoinStrategy]]), with the MV-navigation and
  *    band-rewrite optimizer rules and the two join TVFs. The operators
  *    install the strategy they need per session through
  *    `graft.plans.Asof.ensureRegistered` / `graft.plans.Band.ensureRegistered`,
  *    which use the public `experimental.extraStrategies` hook.
  *
  * Everything else in SURVEY §2 plans through Catalyst's built-in operators —
  * §4.3's audit still holds for the declarative surface; the strategies
  * exist for the two operator shapes (as-of, sliding-band) OSS Spark has no
  * bounded-state physical operator for.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    ext.injectOptimizerRule(s => new graft.plans.RollupMvRule(s))
    ext.injectOptimizerRule(_ => graft.plans.BandRewriteRule)
    // SQL spelling for the two native joins (TVFs building the same logical
    // nodes the DataFrame API does — graft.plans.SqlTableFunctions)
    ext.injectTableFunction((graft.plans.SqlTableFunctions.asofName,
      new ExpressionInfo(classOf[graft.plans.AsofJoin].getName, "graft_asof_join"),
      graft.plans.SqlTableFunctions.asofBuilder))
    ext.injectTableFunction((graft.plans.SqlTableFunctions.bandName,
      new ExpressionInfo(classOf[graft.plans.RangeJoin].getName, "graft_band_join"),
      graft.plans.SqlTableFunctions.bandBuilder))
    graft.functions.GraftFunctions.table.foreach(ext.injectFunction)
  }
}
