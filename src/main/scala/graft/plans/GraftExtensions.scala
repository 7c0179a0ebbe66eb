package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.HtmlExtractExpr

/** Session-extension entry point: registers the engine's native
  * function(s), its one optimizer rule and its one query-stage rule. Usage:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)
  *     // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  * Rule policy (SURVEY.md §4/§7.4): ship a custom rule ONLY where
  * Catalyst's built-ins demonstrably leave a per-row cost — e.g. redundant
  * nested dedups are already collapsed by the Deduplicate→Aggregate
  * replacement + aggregate collapse (asserted in ExtensionsSpec), so no
  * rule exists for that. [[SimplifyOpenSchemaProjection]] earns its place:
  * `SimplifyExtractValueOps` cannot fold `props['k']` through
  * `map_filter`, leaving a full map build+filter per row on open-schema
  * round-trips (asserted before/after in ExtensionsSpec).
  * [[SplitHotBuckets]] earns its place too: no built-in reads a
  * `repartition(n, key)` shuffle by its measured load, so a salted edges
  * write otherwise runs one task (and writes one file) per slot, light
  * buckets included (asserted in SkewPipelineSpec).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("html_extract"),
      new ExpressionInfo(classOf[HtmlExtractExpr].getName, "html_extract"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HtmlExtractExpr(exprs.head)
    ))
    ext.injectOptimizerRule(_ => SimplifyOpenSchemaProjection)
    // SQL DELETE FROM / MERGE INTO over graft catalog tables → the
    // engine's own COW/MOR row-level machinery (resolution rule: must
    // claim the plan before Spark's SupportsRowLevelOperations fallback
    // rejects the table).
    ext.injectResolutionRule(_ => GraftRowLevelSql)
    ext.injectQueryStageOptimizerRule(SplitHotBuckets(_))
  }
}
