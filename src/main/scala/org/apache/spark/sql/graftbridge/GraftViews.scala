package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedView, ViewAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{AlterViewAs, CreateView, DropView, LogicalPlan, ShowViews, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewCatalog, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand

/** SQL-VIEW wiring for a DSv2 [[ViewCatalog]].
  *
  * Spark 4.1 ships the ViewCatalog CONNECTOR interface but no engine
  * integration: `ResolveSessionCatalog` hard-refuses `CREATE VIEW` on
  * any non-session catalog, and nothing in the analyzer ever calls
  * `loadView`. This file supplies the missing glue the way a lake
  * format's Spark extension does (parser interception for the DDL,
  * a resolution rule for reads), living under `org.apache.spark.sql`
  * for the `private[sql]` session internals it needs.
  *
  * Wired by `graft.GraftExtensions`:
  *  - [[GraftViewParser]] rewrites CREATE/DROP/SHOW VIEW statements
  *    whose target lives in a ViewCatalog into runnable commands that
  *    drive the connector API;
  *  - [[ResolveGraftViews]] resolves a read of `cat.v` by re-parsing
  *    the stored SQL text under a SubqueryAlias (nested views resolve
  *    by fixed-point re-application; a self-referential view hits the
  *    analyzer's iteration cap loudly).
  *
  * View text is re-analyzed in the READING session's resolution
  * context, so definitions should fully qualify their base tables
  * (`graft.t`) — the convention every test and id here follows.
  */
object GraftViews {

  /** the target catalog of a multipart name, if it is a ViewCatalog —
    * None for single-part (temp view) names, unknown catalogs, or
    * catalogs without view support. */
  def viewCatalogOf(session: SparkSession,
      parts: Seq[String]): Option[ViewCatalog] = {
    if (parts.length < 2) return None
    val cs = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    try cs.sessionState.catalogManager.catalog(parts.head) match {
      case vc: ViewCatalog => Some(vc)
      case _ => None
    } catch { case _: Exception => None }
  }

  def identOf(parts: Seq[String]): Identifier =
    Identifier.of(parts.drop(1).dropRight(1).toArray, parts.last)

  /** One SIBLING SESSION per parent, memoized: same SparkContext, same
    * SharedState (so the JVM-shared catalog registries and temp-dir
    * state are common), but built WITH the graft extensions — the
    * route into view DDL for a session that was constructed without
    * `spark.sql.extensions=graft.GraftExtensions` (the production
    * config needs none of this). Runtime confs are carried over at
    * creation; the catalog conf rides along with them. */
  def sessionWithExtensions(spark: SparkSession,
      f: org.apache.spark.sql.SparkSessionExtensions => Unit)
      : SparkSession =
    _root_.graft.SessionMemo(spark, "extensionSibling", ()) {
      val cs =
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val ext = new org.apache.spark.sql.SparkSessionExtensions
      f(ext)
      // the 6-arg primary constructor is Scala-private (the builder
      // owns it) but bytecode-public — invoke it reflectively; the
      // shapes are stable public API types
      val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
        .getConstructors.find(_.getParameterCount == 6)
        .getOrElse(throw new IllegalStateException(
          "classic.SparkSession: no 6-arg constructor — Spark " +
            "version drift"))
      ctor.newInstance(cs.sparkContext, Some(cs.sharedState), None,
        ext, cs.conf.getAll, Map.empty)
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    }
}

/** Parser wrapper: delegates everything; rewrites view DDL aimed at a
  * ViewCatalog into the runnable commands below. Statements aimed at
  * the session catalog (temp views, default-namespace views) pass
  * through untouched. */
class GraftViewParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  import GraftViews._

  override def parsePlan(sqlText: String): LogicalPlan =
    rewrite(delegate.parsePlan(sqlText))

  /** the interface DEFAULT drops the ParameterContext on the floor
    * (it just calls parsePlan) — delegate properly, then rewrite, so
    * `spark.sql(text, args)` keeps its parameters through the
    * wrapper. */
  override def parsePlanWithParameters(sqlText: String,
      ctx: org.apache.spark.sql.catalyst.parser.ParameterContext)
      : LogicalPlan =
    rewrite(delegate.parsePlanWithParameters(sqlText, ctx))

  private def rewrite(plan: LogicalPlan): LogicalPlan =
    plan match {
      case cv: CreateView => cv.child match {
        case UnresolvedIdentifier(parts, _)
            if viewCatalogOf(session, parts).isDefined =>
          val text = cv.originalText.getOrElse(
            throw new IllegalArgumentException(
              "CREATE VIEW on a catalog view requires the query text"))
          GraftCreateViewCommand(parts.head, identOf(parts), text,
            replace = cv.replace, allowExisting = cv.allowExisting)
        case _ => cv
      }
      case dv: DropView => dv.child match {
        case UnresolvedIdentifier(parts, _)
            if viewCatalogOf(session, parts).isDefined =>
          GraftDropViewCommand(parts.head, identOf(parts), dv.ifExists)
        case _ => dv
      }
      case av: AlterViewAs => av.child match {
        case UnresolvedView(parts, _, _, _)
            if viewCatalogOf(session, parts).isDefined =>
          GraftAlterViewAsCommand(parts.head, identOf(parts),
            av.originalText)
        case _ => av
      }
      case sv: ShowViews => sv.namespace match {
        case UnresolvedNamespace(parts, _)
            if parts.nonEmpty &&
              viewCatalogOf(session, parts :+ "x").isDefined =>
          GraftShowViewsCommand(parts.head, parts.drop(1), sv.pattern,
            sv.output)
        case _ => sv
      }
      case other => other
    }


  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String) =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String) =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String) =
    delegate.parseRoutineParam(sqlText)
}

/** CREATE [OR REPLACE] VIEW [IF NOT EXISTS] into a ViewCatalog: the
  * query text is analyzed ONCE here (loud failure at CREATE beats a
  * broken first read; the analyzed schema rides into ViewInfo), then
  * the TEXT is what the catalog stores. */
case class GraftCreateViewCommand(catalogName: String,
    ident: Identifier, viewSql: String, replace: Boolean,
    allowExisting: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val cs =
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val vc = cs.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[ViewCatalog]
    if (vc.viewExists(ident) && !replace) {
      if (allowExisting) return Seq.empty
      throw new ViewAlreadyExistsException(ident)
    }
    val parsed = cs.sessionState.sqlParser.parsePlan(viewSql)
    val schema = cs.sessionState.executePlan(parsed).analyzed.schema
    val cm = cs.sessionState.catalogManager
    val info = new ViewInfo(ident, viewSql, cm.currentCatalog.name(),
      cm.currentNamespace, schema, schema.fieldNames,
      schema.fieldNames, new Array[String](schema.length),
      java.util.Collections.emptyMap[String, String]())
    if (replace) vc.replaceView(info, true) else vc.createView(info)
    Seq.empty
  }
}

/** ALTER VIEW ... AS <query>: swap the stored definition in place —
  * the view must already exist (CREATE OR REPLACE is the upsert
  * form). Text re-analyzes here, same loud-at-DDL contract as
  * CREATE. */
case class GraftAlterViewAsCommand(catalogName: String,
    ident: Identifier, viewSql: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val cs =
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val vc = cs.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[ViewCatalog]
    if (!vc.viewExists(ident)) throw new NoSuchViewException(ident)
    val parsed = cs.sessionState.sqlParser.parsePlan(viewSql)
    val schema = cs.sessionState.executePlan(parsed).analyzed.schema
    val cm = cs.sessionState.catalogManager
    val info = new ViewInfo(ident, viewSql, cm.currentCatalog.name(),
      cm.currentNamespace, schema, schema.fieldNames,
      schema.fieldNames, new Array[String](schema.length),
      java.util.Collections.emptyMap[String, String]())
    vc.replaceView(info, false)
    Seq.empty
  }
}

/** DROP VIEW [IF EXISTS] from a ViewCatalog. */
case class GraftDropViewCommand(catalogName: String, ident: Identifier,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val cs =
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val vc = cs.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[ViewCatalog]
    if (!vc.dropView(ident) && !ifExists)
      throw new NoSuchViewException(ident)
    Seq.empty
  }
}

/** SHOW VIEWS IN <catalog>[.<ns>] against a ViewCatalog; reuses the
  * parsed statement's output attributes so the readout schema matches
  * the session-catalog form (namespace, viewName, isTemporary). */
case class GraftShowViewsCommand(catalogName: String, ns: Seq[String],
    pattern: Option[String], override val output: Seq[Attribute])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val cs =
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val vc = cs.sessionState.catalogManager.catalog(catalogName)
      .asInstanceOf[ViewCatalog]
    val names = vc.listViews(ns: _*).toSeq
    // same LIKE-glob semantics as the session-catalog SHOW VIEWS
    val kept = pattern match {
      case Some(p) => names.filter(i =>
        org.apache.spark.sql.catalyst.util.StringUtils
          .filterPattern(Seq(i.name()), p).nonEmpty)
      case None => names
    }
    kept.map(i => Row(i.namespace().mkString("."), i.name(), false))
  }
}

/** Read-side resolution: an unresolved multipart relation whose
  * catalog holds a view of that name becomes the stored query text,
  * re-parsed under a SubqueryAlias. Runs in the analyzer's resolution
  * fixed point, so views over views resolve by re-application. */
case class ResolveGraftViews(session: SparkSession)
    extends Rule[LogicalPlan] {
  import GraftViews._

  private def isCatalogView(p: LogicalPlan): Boolean = p match {
    case u: UnresolvedRelation if u.multipartIdentifier.length >= 2 =>
      viewCatalogOf(session, u.multipartIdentifier)
        .exists(_.viewExists(identOf(u.multipartIdentifier)))
    case _ => false
  }

  private def refuseWrite(u: UnresolvedRelation, what: String): Nothing =
    throw new UnsupportedOperationException(
      s"${u.multipartIdentifier.mkString(".")} is a VIEW — $what " +
        "must target a table (a view is a stored query, not storage)")

  // TOP-DOWN so write commands refuse BEFORE their target relation
  // rewrites into a subquery (bottom-up would turn `INSERT INTO v`
  // into an insert-into-subquery and fail with an internal shape
  // error instead of a real message)
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case i: org.apache.spark.sql.catalyst.plans.logical
          .InsertIntoStatement if isCatalogView(i.table) =>
        refuseWrite(i.table.asInstanceOf[UnresolvedRelation], "INSERT")
      case d: org.apache.spark.sql.catalyst.plans.logical
          .DeleteFromTable if isCatalogView(d.table) =>
        refuseWrite(d.table.asInstanceOf[UnresolvedRelation], "DELETE")
      case up: org.apache.spark.sql.catalyst.plans.logical
          .UpdateTable if isCatalogView(up.table) =>
        refuseWrite(up.table.asInstanceOf[UnresolvedRelation], "UPDATE")
      case m: org.apache.spark.sql.catalyst.plans.logical
          .MergeIntoTable if isCatalogView(m.targetTable) =>
        refuseWrite(m.targetTable.asInstanceOf[UnresolvedRelation],
          "MERGE INTO")
      case u: UnresolvedRelation
          if u.multipartIdentifier.length >= 2 &&
            viewCatalogOf(session, u.multipartIdentifier).isDefined =>
        val parts = u.multipartIdentifier
        val vc = viewCatalogOf(session, parts).get
        val ident = identOf(parts)
        if (!vc.viewExists(ident)) u
        else {
          val cs = session
            .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          val v: View = vc.loadView(ident)
          val parsed = cs.sessionState.sqlParser.parsePlan(v.query())
          val qualified = qualifyUnder(parsed,
            v.currentCatalog(), v.currentNamespace())
          // the analyzer's Substitution batch (where CTESubstitution
          // lives) already ran before this resolution rule injected
          // the body — a WITH clause inside the view text would
          // otherwise survive as an unplannable UnresolvedWith.
          // Substitute here; the produced CTE refs resolve in the
          // main fixed point like any other subtree.
          SubqueryAlias(ident.name(),
            org.apache.spark.sql.catalyst.analysis.CTESubstitution
              .apply(qualified))
        }
    }

  /** Resolve the parsed view body under the view's STORED resolution
    * context (ViewInfo's currentCatalog/currentNamespace — what
    * Spark's own View resolution pins via AnalysisContext): an
    * UNQUALIFIED relation name in the body qualifies with the context
    * the view was DEFINED in, not whatever catalog the reader
    * currently uses — a reader with a different current catalog must
    * see the definer's data, not its own same-named tables. CTE names
    * defined anywhere in the body are exempt (they are not catalog
    * relations); the collection is deliberately over-approximate —
    * a base table shadowed by a same-named CTE elsewhere in the body
    * stays unqualified, which falls back to the old reader-context
    * behavior for that corner instead of mis-qualifying a CTE ref. */
  private def qualifyUnder(plan: LogicalPlan, cat: String,
      ns: Array[String]): LogicalPlan = {
    if (cat == null || cat.isEmpty) return plan
    val prefix = (cat +: ns.toSeq)
    val cteNames = scala.collection.mutable.HashSet.empty[String]
    plan.foreachWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.foreach(d => cteNames += d._1.toLowerCase)
      case _ => ()
    }
    plan.transformDownWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 &&
          !cteNames.contains(r.multipartIdentifier.head.toLowerCase) =>
        r.copy(multipartIdentifier =
          prefix ++ r.multipartIdentifier)
    }
  }
}
