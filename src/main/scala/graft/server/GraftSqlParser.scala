package graft.server

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{DataType, StructType}

import graft.bitemporal.BitemporalSql

/** The SQL front door: a delegating parser that gives EVERY consumer of
  * `spark.sql` — including remote Spark Connect clients, who can only
  * send SQL text — the graft temporal surface on tables registered with
  * [[GraftServer]]:
  *
  *   - `SELECT … FROM t FOR SYSTEM_TIME AS OF …` (and the rest of the
  *     SQL:2011 clause sugar) resolves through
  *     [[graft.bitemporal.BitemporalSql]] against the table's live
  *     rectangles; a bare `FROM t` serves the current basis;
  *   - `INSERT / UPDATE / DELETE / ERASE` statements targeting a
  *     registered table submit a TRANSACTION via
  *     [[graft.GraftTable.dml]], stamped with the wall clock, and
  *     return a one-row `(tx_id)` relation — executed when the
  *     statement is parsed, exactly like DDL;
  *   - `WITH RECURSIVE … UNION` (distinct — the spelling Spark's own
  *     analyzer rejects) compiles onto [[graft.ra.RecursiveSql]]'s
  *     fixpoint bridge, so remote SQL gets both standard recursion
  *     spellings;
  *   - everything else goes verbatim to Spark's own parser.
  *
  * Re-entrancy: the graft rewrite itself parses the clause-stripped
  * query with the session parser (= this one). The thread-local guard
  * sends that inner parse straight to the delegate — without it the
  * table names still present after clause-stripping would re-trigger
  * the rewrite forever. */
final class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private val dmlHead =
    java.util.regex.Pattern.compile(
      "^\\s*(INSERT|UPDATE|DELETE|ERASE)\\b", java.util.regex.Pattern.CASE_INSENSITIVE)

  // the table a DML statement's HEAD names, recognizable without a full
  // parse — used to decide whether a failed graft parse should surface
  // its error (target is registered) or the text belongs to Spark
  private val dmlTarget =
    java.util.regex.Pattern.compile(
      "^\\s*(?:INSERT\\s+INTO|UPDATE|DELETE\\s+FROM|ERASE\\s+FROM)\\s+([A-Za-z_][A-Za-z0-9_]*)",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  override def parsePlan(sqlText0: String): LogicalPlan = {
    val tables = GraftServer.registered
    if (GraftSqlParser.inRewrite.get()) return delegate.parsePlan(sqlText0)

    // materialized-view DDL and maintenance statements (VACUUM/
    // OPTIMIZE/COMPACT on registered tables) execute eagerly (like
    // graft DML below) and return their one-row result relation
    GraftMatviews.routeDdl(session, sqlText0)
      .orElse(GraftMaintenance.route(session, sqlText0)) match {
      case Some(df) => return PlanBridge.logicalPlan(df)
      case None =>
    }
    // EXPLAIN REWRITE <select>: the aggregate-navigation decision as a
    // one-row relation — whether the statement navigates, onto which
    // view, the rewritten text, and on a miss the first refusing gate
    // per candidate (the difference between "transparent" and
    // "unobservable" for a rewrite this subtle). Checked BEFORE the
    // general EXPLAIN branch, which would read REWRITE as the inner
    // statement's head.
    GraftSqlParser.explainRewriteInner(sqlText0) match {
      case Some(inner) =>
        GraftMatviews.refreshReferenced(session, inner)
        return PlanBridge.logicalPlan(
          GraftMvNav.explainReport(session, inner))
      case None =>
    }
    // EXPLAIN <stmt>: plan the inner statement through THIS parser (so
    // temporal splices, procedures and recursion all show their real
    // physical shape — e.g. the pushed rectangle-time filters of an AS
    // OF query) and return the rendering as a one-row relation. Plans
    // only — never executes; graft DML/DDL execute at parse by design,
    // so explaining them is refused rather than run.
    val explainM = GraftSqlParser.explainHead.matcher(
      graft.bitemporal.SqlText.stripLeadingComments(sqlText0))
    if (explainM.find()) {
      val mode = Option(explainM.group(1)).map(_.trim.toLowerCase)
        .filter(_.nonEmpty).getOrElse("formatted")
      if (mode == "analyze")
        throw new IllegalArgumentException(
          "EXPLAIN ANALYZE is not supported (it would execute the query); " +
            "use EXPLAIN [FORMATTED|EXTENDED|COST|CODEGEN|SIMPLE]")
      val rest = graft.bitemporal.SqlText
        .stripLeadingComments(sqlText0).substring(explainM.end())
      val restHead = graft.bitemporal.SqlText.stripLeadingComments(rest)
      if (dmlHead.matcher(restHead).find() ||
          GraftMatviews.isDdl(restHead))
        throw new IllegalArgumentException(
          "cannot EXPLAIN graft DML or materialized-view DDL: these " +
            "execute at submit time (their effect is a transaction, not " +
            "a readable plan)")
      // procedure substitution under EXPLAIN runs in PLANS-ONLY mode:
      // the stage pins (localCheckpoint jobs) flip to identity, so the
      // full substituted pipeline renders as one lazy plan and ZERO
      // jobs launch. Detection is the rewrite's own word-boundary call
      // match (outside literals/comments) — an identifier that merely
      // CONTAINS a procedure name never refuses or substitutes. The one
      // procedure whose plan is a data-dependent fixpoint still refuses
      // by name: its shape is unknowable without executing.
      GraftProcedures.refuseUnexplainable(restHead)
      val inner = PlanBridge.ofRows(session,
        graft.util.PlansOnly { parsePlan(rest) })
      import session.implicits._
      return PlanBridge.logicalPlan(
        Seq(PlanBridge.explainString(inner, mode)).toDF("plan"))
    }

    // re-bind any referenced matview names to their CURRENT state, then
    // substitute graft_*(…) table-valued procedure calls with temp
    // views of their results; the guard keeps the procedures' own
    // spark.sql/expr parses (and the inline-subquery table args) from
    // re-entering this rewrite
    GraftMatviews.refreshReferenced(session, sqlText0)
    // transparent aggregate navigation: a plain GROUP BY over a
    // registered table is answered from a FRESH matview's state when
    // provably observationally identical ([[GraftMvNav]]'s definition /
    // freshness / basis / exactness / schema gates) — the rewritten
    // text references only the view's temp registration, so the
    // delegate parses it directly; None = base path, never an error
    GraftMvNav.rewrite(session, sqlText0) match {
      case Some(rw) => return delegate.parsePlan(rw)
      case None =>
    }
    val sqlText =
      if (GraftProcedures.procedures.keys.exists(n =>
          sqlText0.toLowerCase.contains(n))) {
        GraftSqlParser.inRewrite.set(true)
        try GraftProcedures.rewrite(session, sqlText0)
        finally GraftSqlParser.inRewrite.set(false)
      } else sqlText0

    // WITH RECURSIVE … UNION (distinct) — the recursion spelling
    // Spark's analyzer rejects — compiles onto the fixpoint bridge, so
    // a remote Connect client gets BOTH standard spellings. Native
    // UNION ALL recursion and everything else pass through untouched.
    def recursionBridged(plan: LogicalPlan): LogicalPlan =
      graft.ra.RecursiveSql.rewritePlan(session, plan)
        .map(PlanBridge.logicalPlan).getOrElse(plan)

    if (tables.isEmpty) return recursionBridged(delegate.parsePlan(sqlText))

    val referenced = tables.keys.filter(n =>
      java.util.regex.Pattern.compile(s"(?i)\\b${java.util.regex.Pattern.quote(n)}\\b")
        .matcher(sqlText).find())
    if (referenced.isEmpty)
      return recursionBridged(delegate.parsePlan(sqlText))

    // head detection is lexer-aware: `/* retry */ UPDATE t …` is an
    // UPDATE (clients legitimately prefix retried statements)
    if (dmlHead.matcher(
        graft.bitemporal.SqlText.stripLeadingComments(sqlText)).find()) {
      // A `;`-separated batch is ONE transaction (the reference's
      // submit-tx takes a vector of ops) — every statement must parse
      // as graft DML and target the SAME registered table. DML whose
      // head targets only unregistered tables belongs to Spark's own
      // surface; but once a statement's HEAD names a registered table,
      // a parse failure (or a batch spanning two tables) is OUR error
      // to report — silently delegating would surface a misleading
      // TABLE_OR_VIEW_NOT_FOUND from Spark, or worse, hit a same-named
      // catalog table.
      val statements =
        graft.bitemporal.BitemporalDml.splitTopLevel(sqlText, ';')
      val headsRegistered = statements.exists { s =>
        val m = dmlTarget.matcher(
          graft.bitemporal.SqlText.stripLeadingComments(s))
        m.find() && tables.keys.exists(_.equalsIgnoreCase(m.group(1)))
      }
      if (!headsRegistered) delegate.parsePlan(sqlText)
      else {
        val parsed = statements.map(s =>
          scala.util.Try(graft.bitemporal.BitemporalDml.parse(s)))
        parsed.zipWithIndex.collectFirst {
          case (scala.util.Failure(e), i) => (e, i)
        }.foreach { case (e, i) =>
          throw new IllegalArgumentException(
            s"DML batch targets a graft-registered table but statement ${i + 1} of " +
              s"${statements.size} is not valid graft DML: ${e.getMessage}", e)
        }
        val targets = parsed.map(_.get.table).distinct
        require(targets.size == 1,
          "a graft DML transaction must target ONE table; batch targets " +
            targets.mkString(", "))
        tables.collectFirst {
          case (n, t) if n.equalsIgnoreCase(targets.head) => (n, t)
        } match {
          case Some((name, table)) =>
            val now = new java.sql.Timestamp(System.currentTimeMillis())
            val txId =
              if (statements.size == 1) table.dml(name, statements.head, now)
              else table.dmlTx(name, statements, now)
            import session.implicits._
            PlanBridge.logicalPlan(Seq(txId).toDF("tx_id"))
          case None => delegate.parsePlan(sqlText)
        }
      }
    } else {
      GraftSqlParser.inRewrite.set(true)
      try PlanBridge.logicalPlan(BitemporalSql.sqlOver(session, sqlText,
        referenced.map(n => n -> (() => tables(n).rectangles())).toMap,
        referenced.map(n => n -> (tables(n).rectanglesOf _)).toMap))
      finally GraftSqlParser.inRewrite.set(false)
    }
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  private val inRewrite = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private val explainHead = java.util.regex.Pattern.compile(
    "^\\s*EXPLAIN\\b(\\s+(?:FORMATTED|EXTENDED|COST|CODEGEN|SIMPLE|ANALYZE)\\b)?",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  private val explainRewriteHead = java.util.regex.Pattern.compile(
    "^\\s*EXPLAIN\\s+REWRITE\\b",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  /** `EXPLAIN REWRITE <stmt>` → the inner statement. */
  private def explainRewriteInner(text: String): Option[String] = {
    val stripped = graft.bitemporal.SqlText.stripLeadingComments(text)
    val m = explainRewriteHead.matcher(stripped)
    if (m.find()) Some(stripped.substring(m.end()).trim) else None
  }
}
