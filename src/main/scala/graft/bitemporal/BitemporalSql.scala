package graft.bitemporal

import java.util.concurrent.atomic.AtomicLong
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL:2011 temporal-query sugar: rewrites the temporal table clauses
  *
  *   <table> FOR SYSTEM_TIME|APPLICATION_TIME
  *     AS OF '<ts>'                    — point-in-time snapshot
  *   | FROM '<a>' TO '<b>'            — versions overlapping [a, b)
  *   | BETWEEN '<a>' AND '<b>'        — versions overlapping [a, b]
  *   | ALL  (also: FOR ALL <dim>)     — no filter on that dimension
  *
  * (either dimension, either order, 0–2 clauses per table) into a scan
  * of the spec-filtered rectangle relation, then hands the remaining
  * ANSI SQL to Spark's own parser — the same front-end split as the
  * reference, where temporal clauses resolve to scan bounds before
  * planning (xtdb/core2 resolves a *basis* per query, README.adoc:11;
  * SURVEY.md §3.1 step 5).
  *
  * Omitted dimensions default to AS OF now, matching the reference's
  * "current rectangle unless asked otherwise".
  */
object BitemporalSql {

  private val viewId = new AtomicLong()

  /** One dimension's temporal spec. */
  private sealed trait Spec
  private final case class AsOf(ts: Column) extends Spec
  private final case class Range(from: Column, to: Column,
                                 inclusiveEnd: Boolean) extends Spec
  private case object All extends Spec

  private val ts = "(?:TIMESTAMP\\s+)?'([^']+)'"
  private val clause =
    "FOR\\s+ALL\\s+(SYSTEM_TIME|APPLICATION_TIME)|" +
      "FOR\\s+(SYSTEM_TIME|APPLICATION_TIME)\\s+" +
      s"(?:AS\\s+OF\\s+$ts|FROM\\s+$ts\\s+TO\\s+$ts|BETWEEN\\s+$ts\\s+AND\\s+$ts|ALL)"
  private val tableWithClauses =
    Pattern.compile(s"(\\w+)((?:\\s+(?:$clause)){1,2})", Pattern.CASE_INSENSITIVE)
  private val onePeriod = Pattern.compile(clause, Pattern.CASE_INSENSITIVE)

  // onePeriod groups: 1 = FOR-ALL dim; 2 = dim; 3 = as-of ts;
  // 4,5 = from/to; 6,7 = between bounds
  private def specOf(m: java.util.regex.Matcher): (String, Spec) = {
    def t(g: Int) = lit(m.group(g)).cast("timestamp")
    if (m.group(1) != null) (m.group(1), All)
    else (m.group(2),
      if (m.group(3) != null) AsOf(t(3))
      else if (m.group(4) != null) Range(t(4), t(5), inclusiveEnd = false)
      else if (m.group(6) != null) Range(t(6), t(7), inclusiveEnd = true)
      else All)
  }

  /** The rectangle filter for one dimension's `[from, to)` columns. */
  private def dimFilter(from: String, to: String, spec: Spec): Column =
    spec match {
      case AsOf(t) => col(from) <= t && t < col(to)
      case Range(a, b, incl) =>
        (if (incl) col(from) <= b else col(from) < b) && col(to) > a
      case All => lit(true)
    }

  /** Spec-filtered scan; prunes `_sys_date` partitions when the system
    * dimension has an upper bound (see [[Bitemporal.asOf]]). */
  private def filtered(rects: DataFrame, valid: Spec, sys: Spec): DataFrame = {
    val base = rects.filter(
      dimFilter("_valid_from", "_valid_to", valid) &&
        dimFilter("_system_from", "_system_to", sys))
    if (!rects.columns.contains("_sys_date")) base
    else {
      val pruned = sys match {
        case AsOf(t) => base.filter(col("_sys_date") <= to_date(t))
        case Range(_, b, _) => base.filter(col("_sys_date") <= to_date(b))
        case All => base
      }
      pruned.drop("_sys_date")
    }
  }

  /** Run `query` with temporal-clause sugar over the given bitemporal
    * rectangle tables (e.g. a folded [[TxLog]] base). Tables referenced
    * WITHOUT a temporal clause are served at the current basis.
    *
    * Two-stage rewrite: (1) the temporal CLAUSES are replaced textually
    * with unique placeholder names — matches starting inside a quoted
    * literal are skipped (the quote positions are tokenized first), so
    * a string literal CONTAINING a full temporal clause passes through
    * untouched; (2) the query is parsed by Spark's own parser and table
    * references are substituted at the PLAN level (`UnresolvedRelation`
    * nodes, including inside expression subqueries), with CTE-defined
    * names shadowing registered tables scope-wise exactly as a catalog
    * table would be shadowed. Stage 2 means a table name appearing in a
    * string literal, a column name, or a qualified identifier is left
    * untouched by construction — no `\b`-regex surgery on query text —
    * and each substituted relation keeps its original name as its
    * correlation alias, so `SELECT prices.price FROM prices` works.
    * No temp views are created: nothing in the session catalog is
    * touched or clobbered.
    *
    * `points` gives a table's point path (`ids => rectangles of those
    * ids`, e.g. [[graft.GraftTable.rectanglesOf]]): a reference to it
    * directly under a WHERE whose top-level conjunct binds `_id`
    * ([[boundIds]]) reads only those ids' rectangles — same answer,
    * cost of the ids, not the table. */
  def sql(spark: SparkSession, query: String,
          tables: Map[String, DataFrame],
          points: Map[String, Seq[Long] => DataFrame] = Map.empty): DataFrame =
    sqlOver(spark, query, tables.map { case (n, df) => n -> (() => df) },
      points)

  /** [[sql]] over tables given by name: a table's full relation is built
    * only when some reference binds it — at most once per query — so a
    * query that every reference serves from the point path never plans
    * the table's full rectangle relation. */
  def sqlOver(spark: SparkSession, query: String,
              tables: Map[String, () => DataFrame],
              points: Map[String, Seq[Long] => DataFrame]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias, UnresolvedWith}
    import org.apache.spark.sql.graftbridge.PlanBridge

    // stage 0: SQL:2011 period predicates (OVERLAPS/CONTAINS/...)
    // expand to plain comparisons — Spark's parser has no PERIOD
    // grammar, so this must happen on the text (see [[PeriodSql]]);
    // idempotent when the query has none.
    val query0 = PeriodSql.expand(query)

    // stage 1: temporal clauses -> placeholder relation names. Each
    // match replaces at ITS OWN position (appendReplacement) — a plain
    // text replace would also rewrite a same-text PREFIX inside a
    // longer two-clause reference of the same table, leaving a dangling
    // clause fragment behind. Masked spans ([[SqlText]]) cover string
    // literals AND comments/quoted identifiers, so a clause spelled
    // inside `-- a comment` or a `"SYSTEM_TIME"` identifier never
    // triggers the rewrite.
    val spans = SqlText.maskedSpans(query0)
    // placeholder -> (table as written, valid spec, system spec); the
    // relation binds in stage 2, where its WHERE is known
    val placeholders = scala.collection.mutable.Map.empty[String, (String, Spec, Spec)]
    val m = tableWithClauses.matcher(query0)
    val sb = new StringBuffer
    while (m.find()) {
      val table = m.group(1)
      val inLiteral = spans.exists(s => m.start >= s._1 && m.start < s._2)
      val replacement = tables.get(table) match {
        case _ if inLiteral => m.group(0) // inside a quoted literal: verbatim
        case None => m.group(0) // not ours: pass through verbatim
        case Some(_) =>
          var sys: Option[Spec] = None
          var valid: Option[Spec] = None
          val cm = onePeriod.matcher(m.group(2))
          while (cm.find()) {
            val (dim, spec) = specOf(cm)
            if (dim.equalsIgnoreCase("SYSTEM_TIME")) sys = Some(spec)
            else valid = Some(spec)
          }
          def orNow(o: Option[Spec]) = o.getOrElse(AsOf(current_timestamp()))
          val ph = s"graft_temporal_${viewId.incrementAndGet()}"
          placeholders(ph) = (table, orNow(valid), orNow(sys))
          ph
      }
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(replacement))
    }
    m.appendTail(sb)
    val rewritten = sb.toString

    // stage 2: parse, then splice relations into the unresolved plan.
    // The traversal tracks CTE scopes explicitly: a name defined by a
    // WITH clause shadows a registered table inside that WITH's scope
    // (definitions + body) — substituting it would silently serve the
    // rectangle table where the user's CTE should resolve. Substitution
    // happens pre-analysis, so this scoping must be done by hand.
    val full = scala.collection.mutable.Map.empty[String, DataFrame]
    def fullOf(name: String): DataFrame =
      full.getOrElseUpdate(name, tables(name)())
    val byLower = tables.keys.map(k => k.toLowerCase -> k).toMap
    // a placeholder or registered name -> its relation; `ids` binds it
    // to the table's point path when it has one
    def bind(ident: String, shadowed: Set[String],
             ids: Option[Seq[Long]]): Option[LogicalPlan] = {
      def rects(name: String) =
        ids.flatMap(i => points.get(name).map(_(i))).getOrElse(fullOf(name))
      placeholders.get(ident).map { case (table, valid, sys) =>
        SubqueryAlias(table,
          PlanBridge.logicalPlan(filtered(rects(table), valid, sys)))
      }.orElse {
        if (shadowed.contains(ident.toLowerCase)) None
        else byLower.get(ident.toLowerCase).map { name =>
          SubqueryAlias(name,
            PlanBridge.logicalPlan(Bitemporal.currentState(rects(name))))
        }
      }
    }
    def spliceSubqueries(plan: LogicalPlan, shadowed: Set[String]) =
      plan.transformExpressionsUp {
        case se: SubqueryExpression => se.withNewPlan(splice(se.plan, shadowed))
      }
    def splice(plan: LogicalPlan, shadowed: Set[String]): LogicalPlan =
      plan match {
        case w: UnresolvedWith =>
          // all sibling CTE names shadow throughout the WITH scope
          // (later definitions may reference earlier ones; recursive
          // CTEs reference themselves)
          val inner = shadowed ++ w.cteRelations.map(_._1.toLowerCase)
          w.copy(
            cteRelations = w.cteRelations.map { case (n, sa, lim) =>
              (n, splice(sa, inner).asInstanceOf[SubqueryAlias], lim)
            },
            child = splice(w.child, inner))
        // a point read: `_id`-bound WHERE directly over the relation
        case f @ Filter(cond, u: UnresolvedRelation) if u.multipartIdentifier.size == 1 =>
          spliceSubqueries(f.copy(child =
            bind(u.multipartIdentifier.head, shadowed, boundIds(cond)).getOrElse(u)),
            shadowed)
        case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
          bind(u.multipartIdentifier.head, shadowed, None).getOrElse(u)
        // Spark's NATIVE time-travel spelling (`t TIMESTAMP AS OF ts`,
        // the one temporal clause Spark 4's grammar parses itself)
        // resolved at the PLAN level for registered tables: system time
        // as of ts, valid time current — the same defaulting as the
        // SQL:2011 `FOR SYSTEM_TIME AS OF` spelling. Version-based
        // travel and shadowed/unregistered names fall through to Spark.
        case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
          (tt.relation match {
            case u: UnresolvedRelation
              if u.multipartIdentifier.size == 1 && tt.version.isEmpty &&
                tt.timestamp.isDefined &&
                !shadowed.contains(u.multipartIdentifier.head.toLowerCase) =>
              byLower.get(u.multipartIdentifier.head.toLowerCase)
                .map { name =>
                  val t = PlanBridge.column(tt.timestamp.get).cast("timestamp")
                  SubqueryAlias(name, PlanBridge.logicalPlan(
                    filtered(fullOf(name), AsOf(current_timestamp()), AsOf(t))))
                }
            case _ => None
          }).getOrElse(tt)
        case other => spliceSubqueries(other.mapChildren(splice(_, shadowed)), shadowed)
      }
    PlanBridge.ofRows(spark, splice(PlanBridge.parsePlan(spark, rewritten), Set.empty))
  }

  /** The ids a predicate pins `_id` to: a top-level conjunct
    * `_id = <integral literal>` or `_id IN (<integral literals>)`, the
    * first one found. None for any other shape (casts, parameters,
    * qualified names, OR) — those read the whole relation. */
  private[graft] def boundIds(
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Option[Seq[Long]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, In, Literal}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def isId(e: Expression) = e match {
      case a: UnresolvedAttribute =>
        a.nameParts.size == 1 && a.nameParts.head.equalsIgnoreCase("_id")
      case _ => false
    }
    def integral(e: Expression): Option[Long] = e match {
      case Literal(v: Number, IntegerType | LongType | ShortType | ByteType) =>
        Some(v.longValue)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).iterator.map {
      case EqualTo(a, v) if isId(a) => integral(v).map(Seq(_))
      case EqualTo(v, a) if isId(a) => integral(v).map(Seq(_))
      case In(a, vs) if isId(a) && vs.nonEmpty =>
        val ls = vs.flatMap(integral)
        if (ls.size == vs.size) Some(ls) else None
      case _ => None
    }.collectFirst { case Some(ids) => ids }
  }

  /** [[boundIds]] of a SQL predicate's text (a DML WHERE); None when it
    * does not parse, so the statement's own compile reports the error. */
  private[graft] def boundIds(spark: SparkSession, where: String): Option[Seq[Long]] =
    scala.util.Try(spark.sessionState.sqlParser.parseExpression(where))
      .toOption.flatMap(boundIds)
}
