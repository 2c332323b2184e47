package graft

import graft.functions.DotProductF
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Session extension exposing graft's native expressions to SQL.
  *
  * Production route (applies at session build):
  *   spark.sql.extensions=graft.GraftExtensions
  * Existing-session route: `GraftExtensions.install(spark)`.
  *
  * Registered functions:
  *   dot_f(array<float>, array<float>) -> double  (codegen'd dot product)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotF)
    // SQL views on the governed ViewCatalog — Spark 4.1 ships the
    // connector interface with no engine wiring, so the extension
    // supplies it: CREATE/DROP/SHOW VIEW intercept at parse (the
    // analyzer hard-refuses them for non-session catalogs before any
    // injected rule could run), reads resolve by re-parsing the
    // stored text (org.apache.spark.sql.graftbridge.GraftViews).
    ext.injectParser((session, delegate) =>
      new org.apache.spark.sql.graftbridge.GraftViewParser(
        session, delegate))
    ext.injectResolutionRule(session =>
      org.apache.spark.sql.graftbridge.ResolveGraftViews(session))
    // RELY-constraint join elimination: spend the stored informational
    // PK/FK constraints — an inner FK→PK join with no PK-side columns
    // used above collapses to an IS NOT NULL filter on the FK
    ext.injectOptimizerRule(session =>
      graft.plans.EliminateRelyJoins(session))
    // small global sorts in one partition, with no range-sampling job
    // (the logical half joins at `TerminalSorts.install`)
    ext.injectPlannerStrategy(session =>
      graft.plans.TerminalSorts.Planning(session))
  }
}

object GraftExtensions {
  private val dotF: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_f"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "dot_f takes exactly 2 arguments")
        DotProductF(children.head, children(1))
      })

  /** Register into an already-running session. Besides the native
    * expression, the typed UDAFs are exposed to SQL so a pure-SQL caller
    * gets the same exact-decimal / bounded-memory aggregation semantics
    * as the Column API (`weighted_avg(w, x)`, `topk_tokens(tok)`). */
  def install(spark: SparkSession): Unit = {
    GraftBridge.registerFunction(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      "dot_f", dotF._3)
    spark.udf.register("weighted_avg", graft.functions.WeightedAvg.fn)
    spark.udf.register("topk_tokens",
      org.apache.spark.sql.functions.udaf(graft.functions.TopKTokens))
  }

  /** The full-extension surface for an ALREADY-RUNNING session (the
    * parser/rule injections that SQL views need cannot attach to a
    * built session): a memoized SIBLING session sharing the parent's
    * SparkContext, SharedState and runtime confs, constructed WITH
    * `graft.GraftExtensions`. Tables are JVM-shared registries, so
    * both sessions see the same catalog content; only temp views
    * stay session-local. Production sessions configured with
    * `spark.sql.extensions=graft.GraftExtensions` never need this. */
  def sessionWithViews(spark: SparkSession): SparkSession = {
    val views = org.apache.spark.sql.graftbridge.GraftViews
      .sessionWithExtensions(spark, new GraftExtensions()(_))
    graft.plans.TerminalSorts.install(views)
    views
  }
}
