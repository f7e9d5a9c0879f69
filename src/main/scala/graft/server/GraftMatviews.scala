package graft.server

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias,
  UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving,
  UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias,
  BaseGroupingSets, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  GlobalLimit, Join, LocalLimit, LogicalPlan, Offset, Project, Sort}
import org.apache.spark.sql.functions._

import graft.bitemporal.{BitemporalDml, SqlText}

/** Materialized-view DDL for the SQL front doors — the reference's 2.x
  * line grew exactly this surface; here it routes onto the
  * incrementally-maintained views ([[graft.bitemporal.Matview]], over
  * one table or a star), so a wire client creates, refreshes and
  * queries IVM state with plain SQL text:
  *
  * {{{
  *   CREATE MATERIALIZED VIEW by_nation
  *     WITH (valid_at = '2030-01-01 00:00:00', buckets = 16) AS
  *     SELECT grp, COUNT(*) AS n, SUM(bal) AS total FROM accts GROUP BY grp;
  *   REFRESH MATERIALIZED VIEW by_nation;
  *   SELECT * FROM by_nation ORDER BY grp;
  *   DROP MATERIALIZED VIEW by_nation;
  * }}}
  *
  * The accepted SELECT shape is exactly what the engine can maintain
  * incrementally — COUNT(*) / COUNT(col) / SUM / AVG / MIN / MAX of a
  * stored column OR of a row-local deterministic expression (which
  * becomes a content-addressed derived column on the maintained
  * relation — same Δ mechanics as a stored column), plus their
  * DISTINCT forms: COUNT/SUM/AVG(DISTINCT col-or-expression) maintain
  * EXACTLY through an auxiliary pair-level view (group key = the
  * view's groups + the argument, nested under the view's state dir,
  * refreshed PINNED to the main state's watermarks so the pair never
  * serves mixed bases) and are served by a read-time rollup of the
  * pairs that still exist — the auxiliary relation is the
  * information-theoretic price of exact distinct maintenance under
  * deletes, and refresh work stays ∝ the log tails; MIN/MAX(DISTINCT)
  * are the same aggregates as their plain forms and route there — per
  * one-or-more group columns over a graft-registered table, optionally
  * joined to a second registered table on `fk = dim._id` (the Δ(A⋈B)
  * join-view rules; group columns may come from either side), with an
  * optional row-local deterministic WHERE over either side's columns
  * (the predicate commutes with the Δ-rules; on the join form because
  * "touched" already propagates across the join edge), and an optional
  * HAVING over the view's OUTPUT columns (served as a read-time filter
  * — the state keeps every group, so it is maintained by
  * construction).
  * Anything else is rejected with a message saying so: a matview the
  * engine could not refresh incrementally would silently be a
  * snapshot, which is the one thing a user must not discover in
  * production.
  *
  * CREATE populates the view (Postgres semantics — `WITH NO DATA` is
  * deliberately unsupported since first refresh == first build here);
  * each DDL returns a one-row relation like the DML front door's tx_id.
  * Queries see the view by name: [[refreshReferenced]] (wired into the
  * parser) re-registers a temp view over the CURRENT state before each
  * referencing statement parses, so `SELECT … FROM mv` always serves
  * the state as of its last REFRESH — never a stale file listing.
  */
object GraftMatviews {

  /** How a SELECT-list item serves from state — a TYPED tag, so routing
    * never dispatches on name prefixes (a user column literally named
    * `apd_x`/`avg_x` must not be misrouted into sketch-estimate or
    * division serving; the pre-r15 canon-string prefix dispatch had
    * that collision class). */
  private[server] sealed trait ServeCol
  private[server] object ServeCol {
    /** group column, served verbatim */
    final case class Group(g: String) extends ServeCol
    /** read-time AVG = sum_/cnt_ division over `arg` */
    final case class Avg(arg: String) extends ServeCol
    /** SUM masked by its non-null count: a group whose every input is
      * NULL serves ANSI NULL, not the state's additive-identity 0 (the
      * incremental merge coalesces sums to 0, so the stored value
      * can't distinguish all-NULL from genuine zero — cnt_ can) */
    final case class Sum(arg: String) extends ServeCol
    /** read-time AVG(DISTINCT) = sumd_/cntd_ division over `arg` */
    final case class AvgDistinct(arg: String) extends ServeCol
    /** APPROX_COUNT_DISTINCT: estimate of the stored hll_ sketch */
    final case class ApproxDistinct(arg: String) extends ServeCol
    /** VARIANCE/STDDEV family: served by formula from three exactly
      * self-maintainable constituents — sum (`sum_arg`), sum of squares
      * (`sum_sq` over the squared derived column) and non-null count
      * (`cnt_arg`): var = (Σx² − (Σx)²/n) / (n or n−1). The division
      * runs in double at read; with exact-typed (integral/DECIMAL)
      * inputs the sums are exact, so the served value is the
      * deterministic IEEE image of the true variance. */
    final case class VarStd(arg: String, sq: String, pop: Boolean,
                            isStd: Boolean) extends ServeCol
    /** a stored state column served verbatim
      * (n / cnt_ / sum_ / min_ / max_ / cntd_ / sumd_) */
    final case class State(canon: String) extends ServeCol
  }

  /** Aggregate-navigation keys: what an output column IS, keyed by the
    * NORMALIZED SOURCE TEXT of its argument — built at CREATE from the
    * parse itself (never re-derived from the DDL text later, so the
    * dispatch and the navigation matcher cannot drift), consumed by
    * [[GraftMvNav]] to match a user's plain aggregate query over the
    * BASE table onto this view. */
  private[server] sealed trait NavKey
  private[server] object NavKey {
    /** kind ∈ n, cnt, sum, avg, min, max, cntd, sumd, avgd, apd, var,
      * varp, std, stdp; arg = normalized argument source text
      * (lowercased bare column, or [[normText]] of an expression; ""
      * for COUNT(*)). */
    final case class Agg(kind: String, arg: String) extends NavKey
    final case class Pct(arg: String, p: Double, approx: Boolean)
        extends NavKey
  }

  /** One DISTINCT aggregate argument's auxiliary pair-level state,
    * exposed to the navigator: `valueCol` is the argument's physical
    * column in the aux state (payload column or derived `_e…` name),
    * `read` the pair state WITH `_bucket` (so [[graft.plans
    * .MvBucketPrune]] applies to a residual-filtered aux scan exactly
    * like to the main state). The aux refreshes INSIDE the parent's
    * refresh to the parent's recorded watermark, so the parent's
    * freshness gate covers it. */
  private[server] final case class DistinctAuxNav(
      valueCol: String, read: SparkSession => DataFrame)

  /** What [[GraftMvNav]] needs to match and rewrite a query onto the
    * view. `sumState` maps a served alias to its backing sum_ state
    * column (the float-exactness guard reads its type off the raw
    * state schema). `groupPhys` maps each normalized GROUP BY source to
    * its PHYSICAL state column name (= the aux pair views' group
    * columns); `distinctAux` keys each DISTINCT argument's aux by the
    * same normalized source text its NavKey carries. */
  private[server] final case class NavInfo(
      fact: String,                          // lowercased fact table
      joins: Seq[(String, String, Boolean)], // (dim, fk) lowercase, isLeft
      whereConj: Seq[String],                // normalized WHERE conjuncts
      groupOut: Seq[(String, String)],       // normalized src -> alias
      aggOut: Seq[(NavKey, String)],         // key -> served alias
      sumState: Map[String, String],         // alias -> sum_ state column
      validAt: Timestamp,
      trusted: Boolean,                      // WITH (rewrite = 'trusted')
      fresh: () => Boolean,
      groupPhys: Seq[(String, String)] = Nil, // normalized src -> state col
      distinctAux: Map[String, DistinctAuxNav] = Map.empty)

  private[server] final case class Handle(
      name: String,
      // typed serve entry -> user alias, in declared order
      serveCols: Seq[(ServeCol, String)],
      // HAVING over the SERVED columns, applied at read: state keeps
      // every group, so the filter is trivially maintained — Postgres-
      // observable semantics for SELECT * FROM v, zero new Δ mechanics
      having: Option[String],
      // session-parameterized: the front doors serve ISOLATED sessions
      // (Connect clones session state), and a temp view must bind to
      // the session that will resolve it
      read: SparkSession => DataFrame,
      refresh: () => (Long, Option[Long]),
      stateDir: java.nio.file.Path,
      // the CANONICAL statement (valid_at/buckets resolved): persisted
      // beside the state so RESTORE can re-register after a restart
      ddl: String,
      // aggregate-navigation metadata ([[GraftMvNav]])
      nav: NavInfo)

  private val views = TrieMap.empty[String, Handle]

  // DROP bookkeeping for isolated sessions: a Connect client's session
  // CLONES temp-view state, so the view registered by refreshReferenced
  // survives a DROP in every OTHER live session and would silently
  // serve the dropped view's last state. Each drop bumps the name's
  // generation; the parser hook drops the stale temp view in whichever
  // session next references the name, once per generation (so a user's
  // own later temp view of the same name isn't re-dropped). Sessions
  // are weakly keyed — a closed session's bookkeeping vanishes with it.
  private val droppedGen = TrieMap.empty[String, (String, Long)]
  private val dropSeen =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, Long]]

  private[graft] def registeredViews: Set[String] = views.keySet.toSet

  /** Live handles for the aggregate navigator ([[GraftMvNav]]). */
  private[server] def navHandles: Seq[Handle] = views.values.toSeq

  /** Bind `h`'s temp view in `session` — the navigator's rewritten text
    * references the view by name, which must resolve in the session
    * that will analyze it. */
  private[server] def bindForNav(session: SparkSession, h: Handle): Unit =
    registerView(session, h)

  /** The internal temp-view name an aux pair state binds under (kept
    * in one place so DROP can clean up exactly what bindAuxForNav
    * registered). */
  private def auxTvName(viewName: String, valueCol: String): String =
    viewName + "__dist__" + valueCol

  /** Bind the aux pair view for DISTINCT argument `navArg` (normalized
    * source text) as a temp view in `session`, returning its name —
    * the navigator's DISTINCT-rollup rewrite aggregates the still-live
    * pairs (`n > 0`) at the query's granularity. The `_bucket` column
    * rides along so [[graft.plans.MvBucketPrune]] prunes a
    * residual-pinned aux scan exactly like the main state's.
    * Lifecycle: DROP unbinds these in the dropping session; a clone
    * session that inherited one keeps an inert registration until the
    * name is rebound (the names are internal — no user statement
    * references them, so the cross-session stale-name sweep that
    * guards the VIEW name has nothing to trigger on). */
  private[server] def bindAuxForNav(session: SparkSession, h: Handle,
      navArg: String): Option[String] =
    h.nav.distinctAux.get(navArg).map { ax =>
      val tv = auxTvName(h.name, ax.valueCol)
      ax.read(session).filter(org.apache.spark.sql.functions.col("n") > 0)
        .createOrReplaceTempView(tv)
      tv
    }

  /** For tests/tools: forget every registered view (state untouched).
    * dropSeen is cleared WITH the generations: generations restart at 1
    * after a reset, and a surviving session holding a higher seen
    * marker would otherwise suppress the stale-temp-view cleanup for
    * same-named views dropped after the reset. */
  def reset(): Unit = {
    views.clear(); droppedGen.clear()
    dropSeen.synchronized { dropSeen.clear() }
  }

  private val ddlHead = java.util.regex.Pattern.compile(
    "^\\s*(?:CREATE(?:\\s+OR\\s+REPLACE)?|REFRESH|DROP|SHOW|RESTORE)" +
      "\\s+MATERIALIZED\\s+VIEWS?\\b",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  private val createRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?MATERIALIZED\\s+VIEW\\s+" +
      "([A-Za-z_]\\w*)\\s*" +
      "(?:WITH\\s*\\(([^)]*)\\)\\s*)?AS\\s+(SELECT\\b[\\s\\S]*?)\\s*;?\\s*$").r
  private val refreshRe =
    "(?is)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z_]\\w*)\\s*;?\\s*$".r
  private val dropRe =
    ("(?is)^\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?" +
      "([A-Za-z_]\\w*)\\s*;?\\s*$").r
  private val showRe =
    "(?is)^\\s*SHOW\\s+MATERIALIZED\\s+VIEWS?\\s*;?\\s*$".r
  private val restoreRe =
    "(?is)^\\s*RESTORE\\s+MATERIALIZED\\s+VIEWS?\\s*;?\\s*$".r

  private def failShape(detail: String = ""): Nothing =
    fail("materialized-view SELECT must be: SELECT <g…>, " +
      "COUNT(*)/COUNT/SUM/AVG/MIN/MAX([DISTINCT] col or row-local " +
      "expression) [FILTER (WHERE <predicate>)] AS alias, … FROM " +
      "<table> [JOIN <dim> ON <fk> = <dim>._id …] [WHERE <predicate>] " +
      "GROUP BY <g>[, <g2> …] [HAVING <predicate over the output " +
      "columns>] — FILTER follows an aggregate call; subqueries are " +
      "not incrementally maintainable here and are rejected rather " +
      "than snapshotted" + detail)

  // WHERE must be a row-local DETERMINISTIC predicate for the Δ-rules
  // to commute with it: subqueries see other rows, and random/clock
  // functions would make the state's old contribution unreproducible.
  // Validated SEMANTICALLY (not by name regex): the predicate is
  // analyzed against the maintained relation's schema and the resolved
  // Catalyst tree is walked — any non-deterministic expression, any
  // subquery (PlanExpression), and the clock family (which Catalyst
  // flags deterministic because it is constant WITHIN one query — the
  // exact property a view maintained ACROSS queries cannot rely on)
  // are rejected by what they ARE, so aliases (curdate, now, reflect)
  // and future builtins can't slip past a name list.
  private val clockClasses = Set(
    "CurrentDate", "CurrentTimestamp", "Now", "LocalTimestamp",
    "CurrentTime", "CurrentTimeZone", "CurrentBatchTimestamp",
    // arbitrary JVM calls (java_method/reflect): deterministic-flagged
    // but can read anything, including the clock
    "CallMethodViaReflection")

  // Session-ENVIRONMENT expressions (current_user/current_database/
  // version, …) are invisible to the post-analysis walk — the analyzer
  // constant-folds them (ReplaceCurrentLike) into per-session literals
  // before `analyzed` exists, which is precisely the drift: each
  // refreshing session would sieve with ITS OWN constant. Caught on the
  // UNRESOLVED parse instead, by node class and by function name.
  private val envClasses = Set(
    "CurrentUser", "CurrentDatabase", "CurrentCatalog", "SparkVersion")
  private val envFuncs = Set(
    "current_user", "session_user", "user", "current_database",
    "current_schema", "current_catalog", "version")

  /** Scan the UNRESOLVED parse of `text` for session-environment reads
    * — shared by WHERE/HAVING predicates and expression-aggregate
    * arguments (see the envClasses note for why this runs pre-analysis). */
  private def checkUnresolvedEnv(text: String, label: String,
                                 noun: String): Unit = {
    val parsed =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(text)
      catch { case _: Exception => null } // analysis below reports it
    if (parsed != null) parsed.foreach { e =>
      val fname = e match {
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
          f.nameParts.last.toLowerCase
        case _ => ""
      }
      if (envClasses.contains(e.getClass.getSimpleName) ||
          envFuncs.contains(fname))
        fail(s"$label reads the session environment ('${e.prettyName}'): " +
          s"the $noun must be a deterministic row-local expression — " +
          "it would fold to a different constant in each refreshing " +
          "session, which the incremental Δ-rules cannot track")
    }
  }

  /** The resolved-tree half of the row-local rules: no subqueries, no
    * non-determinism, no clock reads. */
  private def checkResolvedTree(
      root: org.apache.spark.sql.catalyst.expressions.Expression,
      label: String, noun: String): Unit =
    root.foreach { e =>
      if (e.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
        fail(s"$label contains a subquery: the $noun must be a " +
          "deterministic row-local expression — a subquery sees other " +
          "rows, which the incremental Δ-rules cannot re-derive")
      if (!e.deterministic)
        fail(s"$label contains the non-deterministic expression " +
          s"'${e.prettyName}': the state's old contribution could not " +
          "be reproduced by the incremental Δ-rules")
      if (clockClasses.contains(e.getClass.getSimpleName))
        fail(s"$label reads the clock ('${e.prettyName}'): the $noun " +
          "must be a deterministic row-local expression — a maintained " +
          "relation that drifts with wall time cannot be refreshed " +
          "from Δs")
    }

  private def validateWhere(base: DataFrame, w: String,
                            label: String = "WHERE"): Unit = {
    checkUnresolvedEnv(w, label, "predicate")
    val analyzed =
      try base.filter(expr(w)).queryExecution.analyzed
      catch { case e: Exception =>
        fail(s"$label does not analyze against the maintained relation " +
          s"(the predicate must be a deterministic row-local expression " +
          s"over the table's columns): ${e.getMessage}")
      }
    analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.foreach(checkResolvedTree(_, label, "predicate"))
  }

  /** Validate an expression-aggregate ARGUMENT. SUM/AVG/MIN/MAX/COUNT
    * over a row-local deterministic expression maintains exactly like
    * the same aggregate over a stored column — the expression commutes
    * with the Δ-rules for the same reason the WHERE sieve does — so
    * the argument obeys the same rules, plus: no nested aggregate and
    * no window function, which see OTHER rows. */
  private def validateExpr(base: DataFrame, text: String,
                           label: String): Unit = {
    checkUnresolvedEnv(text, label, "aggregate argument")
    val analyzed =
      try base.select(expr(text)).queryExecution.analyzed
      catch { case e: Exception =>
        fail(s"$label does not analyze against the maintained relation " +
          s"(the aggregate argument must be a deterministic row-local " +
          s"expression over the table's columns): ${e.getMessage}")
      }
    analyzed.foreach {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        fail(s"$label nests an aggregate function: the argument of an " +
          "incrementally-maintained aggregate must be a row-local " +
          "expression — a nested aggregate sees other rows")
      case _: org.apache.spark.sql.catalyst.plans.logical.Window =>
        fail(s"$label contains a window function: the aggregate " +
          "argument must be a row-local expression — a window sees " +
          "other rows")
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.foreach(
          checkResolvedTree(_, label, "aggregate argument"))
      case _ => ()
    }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  // ===== the SELECT grammar: Spark's own parser, read ONCE into an
  // ===== MvSelect that both the DDL dispatch and the aggregate
  // ===== navigator (GraftMvNav) consume — one parse, so a query item
  // ===== and a view item can never classify differently

  private val pctFns =
    Set("MEDIAN", "PERCENTILE_CONT", "PERCENTILE", "APPROX_PERCENTILE")
  private val varStdFns = Set("STDDEV_SAMP", "STDDEV_POP", "STDDEV",
    "VAR_SAMP", "VAR_POP", "VARIANCE")
  private val basicFns = Set("COUNT", "SUM", "MIN", "MAX", "AVG")
  private val aggFns =
    basicFns ++ pctFns ++ varStdFns + "APPROX_COUNT_DISTINCT"
  // a percentile fraction as written: `PERCENTILE_CONT(x, 0.5)`
  private val fracRe = "^[0-9]*\\.?[0-9]+$".r
  private[server] val plainIdentRe = "(?s)^[A-Za-z_](?:\\w|\\.)*$".r

  /** One aggregate call as written. `fn` is upper-cased; `arg` is the
    * exact source between its parentheses (DISTINCT stripped, a
    * percentile's fraction split off into `frac`); `filter` is the
    * source of its `FILTER (WHERE …)` predicate. */
  private[server] final case class AggCall(fn: String, distinct: Boolean,
      arg: String, frac: Option[String], filter: Option[String]) {
    /** ANSI `agg(…) FILTER (WHERE pred)` on the expression-aggregate
      * machinery: every aggregate accepted here ignores NULL inputs (the
      * rule FILTER is defined against), so `CASE WHEN (pred) THEN (arg)
      * END` IS the filtered aggregate — COUNT(*) counts matching rows
      * through `THEN 1`, DISTINCT keeps its keyword, and a percentile's
      * fraction stays outside the wrapper. The predicate inherits the
      * argument's row-local rules (validateExpr). */
    def desugared: AggCall = filter.fold(this) { p =>
      copy(arg = if (arg == "*") s"CASE WHEN ($p) THEN 1 END"
                 else s"CASE WHEN ($p) THEN ($arg) END", filter = None)
    }
  }

  /** A materialized-view SELECT — or a query the navigator tries to
    * answer from one — as Spark's parser reads it: the select items,
    * the fact table, the `JOIN dim ON fk = dim._id` spokes as
    * (dim, fk, isLeft), WHERE, GROUP BY, HAVING, and the ORDER BY /
    * LIMIT nodes above the aggregate (outermost first). Every text that
    * names state is a slice of `src` ([[text]], [[AggCall]]), so the
    * derived-column names, the `_def` fingerprint and the `_ddl`
    * canonical text keep the bytes the definition was written with. */
  private[server] final case class MvSelect(src: String,
      items: Seq[Expression], fact: String,
      joins: Seq[(String, String, Boolean)], where: Option[Expression],
      groups: Seq[Expression], having: Option[Expression],
      tail: Seq[LogicalPlan]) extends PredicateHelper {

    /** [start, end) of `e` in `src`: min start to max stop over the
      * subtree — a node's own origin can leave part of it out (a
      * BETWEEN starts at its keyword), and an unaliased item's wrapper
      * carries the whole statement's. */
    def span(e: Expression): (Int, Int) = {
      val os = e.collect {
        case x if !x.isInstanceOf[UnresolvedAlias] &&
            x.origin.startIndex.isDefined && x.origin.stopIndex.isDefined =>
          (x.origin.startIndex.get, x.origin.stopIndex.get + 1)
      }
      if (os.isEmpty) fail(s"no source position for '${e.sql}'")
      (os.map(_._1).min, os.map(_._2).max)
    }

    /** `e` exactly as written, without parentheses around it. */
    def raw(e: Expression): String = { val (s, t) = span(e); src.substring(s, t) }

    private lazy val comments = SqlText.maskedSpans(src)
      .filter(m => src.startsWith("--", m._1) || src.startsWith("/*", m._1))

    /** The last code character before `i` (whitespace and comments
      * skipped), or -1. */
    private def before(i: Int): Int = {
      var j = i - 1
      while (j >= 0 && (src.charAt(j).isWhitespace ||
          comments.exists(m => j >= m._1 && j < m._2))) {
        j = comments.find(m => j >= m._1 && j < m._2).fold(j)(_._1) - 1
      }
      j
    }

    /** The first code character at or after `i` (whitespace and
      * comments skipped), or `src.length`. */
    private def after(i: Int): Int = {
      var j = i
      while (j < src.length && (src.charAt(j).isWhitespace ||
          comments.exists(_._1 == j))) {
        j = comments.find(_._1 == j).fold(j + 1)(_._2)
      }
      j
    }

    /** [[span]] widened over parentheses that wrap `e` whole. */
    def wideSpan(e: Expression): (Int, Int) = {
      var (s, t) = span(e)
      while (before(s) >= 0 && src.charAt(before(s)) == '(' &&
          after(t) < src.length && src.charAt(after(t)) == ')') {
        s = before(s); t = after(t) + 1
      }
      (s, t)
    }

    /** `e`'s source with the parentheses that wrap it whole. */
    def text(e: Expression): String = { val (s, t) = wideSpan(e); src.substring(s, t) }

    /** The clause item `e` stands for, as its delimiters cut it: [[text]]
      * plus the comments beside it, up to the keyword or comma on
      * either side — the text a WHERE or GROUP BY item persists (in the
      * `_def` fingerprint and derived-column names), byte for byte what
      * a keyword split of the source keeps. */
    def clause(e: Expression): String = {
      val (s, t) = wideSpan(e)
      src.substring(before(s) + 1, after(t)).trim
    }

    /** The WHERE's top-level AND conjuncts. */
    def conjuncts: Seq[Expression] = where.toSeq.flatMap(splitConjunctivePredicates)

    /** A select item's expression and its alias, if one was written. */
    def aliased(item: Expression): (Expression, Option[String]) = item match {
      case Alias(c, n) => (c, Some(n))
      case UnresolvedAlias(c, _) => (c, None)
      case e => (e, None)
    }

    /** `e` as an aggregate call this engine knows, sliced from the
      * source: the argument between the call's own parentheses (up to
      * its FILTER clause), so `COUNT(*)` and `COUNT(1)` — one node to
      * Spark — stay apart. */
    def aggCall(e: Expression): Option[AggCall] = e match {
      case f: UnresolvedFunction if f.nameParts.size == 1 &&
          aggFns(f.nameParts.head.toUpperCase) && !f.ignoreNulls &&
          f.orderingWithinGroup.isEmpty =>
        val (s, t) = span(f)
        val open = src.indexOf('(', s)
        val (close, filter) = f.filter match {
          case None => (t - 1, None)
          case Some(p) =>
            val m = filterHeadRe.findFirstMatchIn(
              src.substring(open, span(p)._1)).get
            (open + m.start(1), Some(src.substring(open + m.end(2), t - 1).trim))
        }
        val inner = src.substring(open + 1, close).trim
        val body =
          if (f.isDistinct) inner.replaceFirst("(?is)^DISTINCT\\s+", "") else inner
        val fn = f.nameParts.head.toUpperCase
        val (arg, frac) = f.arguments match {
          case Seq(_, l: Literal) if pctFns(fn) && fracRe.matches(raw(l)) =>
            (src.substring(open + 1, src.lastIndexOf(',', span(l)._1)).trim,
              Some(raw(l)))
          case _ => (body, None)
        }
        Some(AggCall(fn, f.isDistinct, arg, frac, filter))
      case _ => None
    }

    /** The ORDER BY / LIMIT source, as written. */
    def tailText: String =
      tail.headOption.flatMap(_.origin.startIndex)
        .fold("")(i => src.substring(i).trim)
  }

  // `…) FILTER (WHERE (` between an aggregate's argument list and its
  // filter predicate: group 1 is the argument list's closing paren,
  // group 2 ends the WHERE keyword
  private val filterHeadRe =
    "(?is)(\\))\\s*FILTER\\s*\\(\\s*(WHERE)\\b[\\s(]*$".r

  /** Parse `select` with Spark's SQL parser into an [[MvSelect]]. A
    * materialized-view definition (`ddl`) must GROUP BY and carry no
    * ORDER BY / LIMIT; a navigated query may aggregate globally and
    * keep them. Anything else — subqueries in FROM, set operations,
    * RIGHT/FULL/USING/comma joins, an ON that is not `fk = dim._id` —
    * is refused with the reason. */
  private[server] def parseSelect(select: String, ddl: Boolean): MvSelect = {
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    val plan =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(select)
      catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        failShape(": " + e.getMessage.trim.linesIterator.next()) }
    def near(p: LogicalPlan): String =
      (p.origin.startIndex, p.origin.stopIndex) match {
        case (Some(s), Some(t)) => select.substring(s, t + 1)
        case _ => p.nodeName
      }
    def badJoin(p: LogicalPlan): Nothing =
      fail(s"unsupported JOIN syntax near '${near(p)}': FROM must name a " +
        "single fact table, star-joined only as INNER or LEFT " +
        "`JOIN <dim> ON <fk> = <dim>._id` — other join forms are not " +
        "incrementally maintainable here and are rejected rather than " +
        "snapshotted")
    var tail = Seq.empty[LogicalPlan]
    var core = plan
    while (core.isInstanceOf[Sort] || core.isInstanceOf[GlobalLimit] ||
        core.isInstanceOf[LocalLimit] || core.isInstanceOf[Offset]) {
      tail :+= core; core = core.children.head
    }
    val (having, aggPlan) = core match {
      case UnresolvedHaving(h, c) => (Some(h), c)
      case c => (None, c)
    }
    val (items, groups, input) = aggPlan match {
      case a: Aggregate => (a.aggregateExpressions, a.groupingExpressions, a.child)
      case Project(list, c) => (list, Nil, c)
      case _ => failShape()
    }
    if ((ddl && (groups.isEmpty || tail.nonEmpty)) ||
        groups.exists(_.isInstanceOf[BaseGroupingSets])) failShape()
    val (where, rel) = input match {
      case Filter(w, c) => (Some(w), c)
      case c => (None, c)
    }
    // a partial shape only for slicing the ON clause below
    val sliced = MvSelect(select, Nil, "", Nil, None, Nil, None, Nil)
    def spokes(p: LogicalPlan): (String, Seq[(String, String, Boolean)]) = p match {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        (r.multipartIdentifier.head, Nil)
      case j: Join if j.joinType == Inner || j.joinType == LeftOuter =>
        (j.right, j.condition) match {
          case (r: UnresolvedRelation, Some(on)) if r.multipartIdentifier.size == 1 =>
            val dim = r.multipartIdentifier.head
            val onText = sliced.text(on)
            val sides = on match {
              case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
                Seq(sliced.text(l), sliced.text(r))
              case _ => fail(s"ON clause must be fk = ${dim}._id, got '$onText'")
            }
            val dimIdSide = sides.indexWhere(s =>
              unqualify(s).equalsIgnoreCase("_id") &&
                (!s.contains(".") || s.toLowerCase.startsWith(dim.toLowerCase + ".")))
            if (dimIdSide < 0)
              fail(s"ON clause must equate a fact column with ${dim}._id, " +
                s"got '$onText'")
            val (fact, js) = spokes(j.left)
            (fact, js :+ ((dim, unqualify(sides(1 - dimIdSide)),
              j.joinType == LeftOuter)))
          case _ => badJoin(j)
        }
      case other => badJoin(other)
    }
    val (fact, joins) = spokes(rel)
    MvSelect(select, items, fact, joins, where, groups, having, tail)
  }

  /** The state kind of a COUNT/SUM/AVG/MIN/MAX call — also its
    * default serve-name prefix. */
  private def basicKind(fn: String, distinct: Boolean): String =
    (fn, distinct) match {
      case ("COUNT", d) => if (d) "cntd" else "cnt"
      case ("SUM" | "AVG", true) => fn.toLowerCase + "d"
      case _ => fn.toLowerCase
    }

  /** A percentile call's fraction: MEDIAN is 0.5, the others need an
    * explicit p in [0, 1]. Left = why not. */
  private def pctFraction(c: AggCall): Either[String, Double] =
    (c.fn, c.frac) match {
      case ("MEDIAN", None) => Right(0.5)
      case ("MEDIAN", Some(_)) => Left("MEDIAN takes a single argument — " +
        "use PERCENTILE_CONT(col, p) for other fractions")
      case (fn, None) => Left(s"$fn needs a fraction: $fn(col, p) with p in [0, 1]")
      case (fn, Some(f)) =>
        val d = f.toDouble
        if (d < 0.0 || d > 1.0) Left(s"$fn fraction must be in [0, 1], got $f")
        else Right(d)
    }

  /** What an aggregate call IS, for navigation: one mapping for the view
    * items recorded at CREATE and the query items matched against them.
    * None = not servable from state. */
  private[server] def navKey(call: AggCall): Option[NavKey] = {
    val c = call.desugared
    val a = navSrc(c.arg)
    c.fn match {
      case fn if c.arg == "*" =>
        if (fn == "COUNT" && !c.distinct) Some(NavKey.Agg("n", "")) else None
      case fn if basicFns(fn) => Some(NavKey.Agg(basicKind(fn, c.distinct), a))
      case _ if c.distinct => None
      case "APPROX_COUNT_DISTINCT" => Some(NavKey.Agg("apd", a))
      case fn if varStdFns(fn) =>
        Some(NavKey.Agg((if (fn.startsWith("STDDEV")) "std" else "var") +
          (if (fn.endsWith("_POP")) "p" else ""), a))
      case fn => pctFraction(c).toOption
        .map(p => NavKey.Pct(a, p, approx = fn == "APPROX_PERCENTILE"))
    }
  }

  /** Collapse whitespace OUTSIDE literal/comment spans only: 'x  y'
    * must stay two-spaced (it is data), while SUM(x*y) and SUM(x * y)
    * must normalize equal. Case is kept everywhere for the same
    * literal-safety reason. Used for derived-column content addressing
    * and for the aggregate-navigation text matching. */
  private[server] def normText(text: String): String = {
    val t = text.trim
    val spans = SqlText.maskedSpans(t)
    val sb = new StringBuilder
    var i = 0; var inWs = false
    while (i < t.length) {
      val c = t.charAt(i)
      if (!SqlText.masked(spans, i) && c.isWhitespace) {
        if (!inWs) sb.append(' ')
        inWs = true
      } else { sb.append(c); inWs = false }
      i += 1
    }
    sb.toString
  }

  /** A select/group item's NORMALIZED SOURCE for navigation matching:
    * bare column references lowercase + unqualify (identifiers are
    * case-insensitive), expressions keep [[normText]] (literals are
    * case-sensitive data). */
  private[server] def navSrc(a: String): String = {
    val t = a.trim
    if (plainIdentRe.matches(t)) unqualify(t).toLowerCase else normText(t)
  }

  private[server] def unqualify(c: String): String = {
    val t = c.trim
    val dot = t.lastIndexOf('.')
    if (dot >= 0) t.substring(dot + 1) else t
  }

  /** Does `sql` head with matview DDL (no comment stripping — pass a
    * pre-stripped head)? */
  private[server] def isDdl(sqlHead: String): Boolean =
    ddlHead.matcher(sqlHead).find()

  /** Is `sql` one of the three matview DDL statements? If so execute it
    * eagerly (like DML/DDL everywhere in the front door) and return its
    * one-row result relation. */
  def routeDdl(spark: SparkSession, sql: String): Option[DataFrame] = {
    val stripped = SqlText.stripLeadingComments(sql)
    if (!ddlHead.matcher(stripped).find()) return None
    import spark.implicits._
    Some(stripped match {
      case createRe(orReplace, name, opts, select) =>
        views.get(key(name)).filter(_ => orReplace != null) match {
          case Some(oldH) =>
            // OR REPLACE is a REGISTRY-only drop first: the state STAYS
            // on disk, so the new CREATE's populating refresh ADOPTS it
            // when the definition is unchanged (idempotent deploy
            // scripts re-run for free via the _def fingerprint) and
            // discards/rebuilds when it changed. A replacement whose
            // CREATE fails re-registers the OLD definition (state is
            // log-derivable even where the failed attempt's cleanup
            // ran) — a typo never destroys a serving view.
            dropRegistered(spark, name, deleteState = false): Unit
            try {
              val out = create(spark, name, Option(opts).getOrElse(""), select)
              // a FORM change (single-table ↔ join) moves the state
              // dir: the old dir's '_ddl' must not survive to make a
              // later RESTORE race two definitions for one name
              if (!views.get(key(name)).map(_.stateDir)
                  .contains(oldH.stateDir)) {
                java.nio.file.Files.deleteIfExists(
                  oldH.stateDir.resolve("_ddl")): Unit
                graft.bitemporal.TxLog.deleteRecursively(oldH.stateDir.toFile)
              }
              out
            } catch { case e: Throwable =>
              try { routeDdl(spark, oldH.ddl): Unit }
              catch { case _: Exception => () } // recovery is best-effort
              throw e
            }
          case None =>
            create(spark, name, Option(opts).getOrElse(""), select)
        }
      case refreshRe(name) =>
        val h = views.getOrElse(key(name), fail(s"unknown materialized view: $name"))
        val (a, b) = h.refresh()
        Seq((h.name, a, b.map(long2Long).orNull))
          .toDF("view", "fact_tx", "dim_tx")
      case dropRe(ifExists, name) =>
        // registered → full drop; AND ALSO sweep pre-restart ON-DISK
        // definitions (surviving state + '_ddl') — a drop must never
        // leave a view that RESTORE would silently resurrect. Both
        // sides run unconditionally: a registered view can coexist
        // with a stale same-name '_ddl' under a DIFFERENT table root
        // left by a pre-restart life, and `||` would skip the sweep.
        // Both checks are act-then-test (no check-then-act registry
        // race: a concurrent drop just makes this one report false
        // under IF EXISTS).
        val droppedReg = dropRegistered(spark, name, deleteState = true)
        val droppedDisk = dropOnDisk(name)
        val dropped = droppedReg || droppedDisk
        if (!dropped && ifExists == null)
          fail(s"unknown materialized view: $name" +
            " (note: DROP only sweeps on-disk definitions under" +
            " REGISTERED tables — after a restart, register the" +
            " view's backing table before dropping it)")
        Seq((name, dropped)).toDF("view", "dropped")
      case showRe() =>
        views.values.toSeq.sortBy(_.name).map(h => (h.name, h.ddl))
          .toDF("view", "definition")
      case restoreRe() =>
        restore(spark)
      case _ => fail(
        "malformed materialized-view DDL; accepted forms:\n" +
          "  CREATE [OR REPLACE] MATERIALIZED VIEW v" +
          " [WITH (valid_at = 'ts', buckets = n)]" +
          " AS SELECT g, COUNT(*) [AS a], COUNT([DISTINCT] c)," +
          " SUM([DISTINCT] c), AVG([DISTINCT] c)," +
          " APPROX_COUNT_DISTINCT(c)," +
          " MIN(c), MAX(c), VARIANCE(c), STDDEV(c), MEDIAN(c)," +
          " PERCENTILE_CONT(c, p), APPROX_PERCENTILE(c, p)" +
          " [FILTER (WHERE pred) AS alias]" +
          " FROM fact [JOIN dim ON fk = dim._id]" +
          " [WHERE pred] GROUP BY g\n" +
          "  REFRESH MATERIALIZED VIEW v\n" +
          "  DROP MATERIALIZED VIEW [IF EXISTS] v\n" +
          "  SHOW MATERIALIZED VIEWS\n  RESTORE MATERIALIZED VIEWS")
    })
  }

  private def key(name: String): String = name.toLowerCase

  /** DROP a REGISTERED view: unregister, invalidate other sessions via
    * the drop generation, and (when `deleteState`) delete `_ddl` FIRST
    * (a crash mid-delete must not let RESTORE resurrect the dropped
    * view), then the state tree. `deleteState = false` is the OR
    * REPLACE form: the state stays for the replacement's populating
    * refresh to adopt or discard. False when the name was not
    * registered — act-then-test, so concurrent drops never throw. */
  private def dropRegistered(spark: SparkSession, name: String,
                             deleteState: Boolean): Boolean =
    views.remove(key(name)) match {
      case None => false
      case Some(h) =>
        spark.catalog.dropTempView(h.name)
        // the navigator's aux pair bindings must not outlive the view:
        // a stale one would point at the deleted state dir (and shadow
        // a later user view of that internal name)
        h.nav.distinctAux.values.foreach { ax =>
          try spark.catalog.dropTempView(auxTvName(h.name, ax.valueCol))
          catch { case _: Exception => } // never bound in this session
        }
        val gen = droppedGen.updateWith(key(name)) {
          case Some((_, g)) => Some((h.name, g + 1))
          case None => Some((h.name, 1L))
        }.get._2
        // the dropping session is already clean — mark its generation
        dropSeen.synchronized {
          dropSeen.computeIfAbsent(spark,
            _ => scala.collection.mutable.Map.empty)(key(name)) = gen
        }
        if (deleteState) {
          java.nio.file.Files.deleteIfExists(h.stateDir.resolve("_ddl")): Unit
          graft.bitemporal.TxLog.deleteRecursively(h.stateDir.toFile)
        }
        true
    }

  /** Delete a pre-restart ON-DISK definition (state dir + `_ddl`) for
    * `name` under any registered table's matview roots — the form DROP
    * reaches after a restart, when the registry has forgotten the view
    * but RESTORE could still resurrect it. Case-insensitive like the
    * registry.
    *
    * Scope: only tables currently in `GraftServer.registered` are
    * swept (the matview roots live under table dirs, and the registry
    * is the only source of table dirs). ORDERING REQUIREMENT: after a
    * restart, register the backing tables BEFORE issuing DROP — a DROP
    * naming a view whose table is not yet re-registered reports
    * "unknown materialized view" (with a hint, see the caller) while
    * the on-disk `_ddl` survives, resurrectable by a later RESTORE
    * once the table registers. */
  private def dropOnDisk(name: String): Boolean = {
    var found = false
    GraftServer.registered.foreach { case (_, t) =>
      graft.GraftTable.viewRoots(t.tableDir).foreach { root =>
        if (java.nio.file.Files.isDirectory(root)) {
          val listing = java.nio.file.Files.list(root)
          try listing.forEach { p =>
            if (p.getFileName.toString.equalsIgnoreCase(name) &&
                java.nio.file.Files.exists(p.resolve("_ddl"))) {
              java.nio.file.Files.deleteIfExists(p.resolve("_ddl")): Unit
              graft.bitemporal.TxLog.deleteRecursively(p.toFile)
              found = true
            }
          } finally listing.close()
        }
      }
    }
    found
  }

  /** RESTORE MATERIALIZED VIEWS: the registry is in-memory, so a JVM
    * restart forgets every view while its state and `_ddl` definition
    * sidecar survive on disk. This re-runs each persisted canonical
    * CREATE found under the registered tables' matview roots; the
    * matching definition fingerprint makes the populating refresh ADOPT
    * the surviving state and fold only the tx tail that accumulated
    * while down — restart recovery without a recompute. Views whose
    * names are already registered are skipped; a definition that no
    * longer validates reports its failure instead of aborting the rest. */
  private def restore(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val ddls: Seq[(java.nio.file.Path, String)] =
      GraftServer.registered.toSeq.sortBy(_._1)
        .flatMap { case (_, t) =>
          graft.GraftTable.viewRoots(t.tableDir).flatMap { root =>
            if (!java.nio.file.Files.isDirectory(root)) Nil
            else {
              val listing = java.nio.file.Files.list(root)
              try listing.iterator().asScala.toList
                .filter(p => java.nio.file.Files.exists(p.resolve("_ddl")))
                .map(p => p -> new String(
                  java.nio.file.Files.readAllBytes(p.resolve("_ddl")),
                  java.nio.charset.StandardCharsets.UTF_8))
              finally listing.close()
            }
          }
        }
    val results = ddls.map { case (dir, ddl) =>
      ddl match {
        case createRe(_, nm, _, _) =>
          if (views.contains(key(nm))) (nm, "already registered")
          else
            try { routeDdl(spark, ddl): Unit; (nm, "restored") }
            catch { case e: Exception =>
              // create()'s failure cleanup deletes the whole state dir,
              // INCLUDING the definition this restore read — re-persist
              // it so a TRANSIENT failure (wrong session timezone, a
              // lease still held) stays retryable: the next RESTORE
              // rebuilds from the logs
              try {
                java.nio.file.Files.createDirectories(dir)
                java.nio.file.Files.write(dir.resolve("_ddl"),
                  ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              } catch { case _: Exception => () }
              (nm, s"failed: ${e.getMessage}")
            }
        case _ =>
          // corrupted/foreign sidecar: routeDdl would return None (no
          // view registered) — never report that as restored
          (dir.getFileName.toString, "failed: unparsable _ddl sidecar")
      }
    }
    results.toDF("view", "status")
  }

  private def graftTable(name: String): graft.GraftTable =
    GraftServer.registered.collectFirst {
      case (n, t) if n.equalsIgnoreCase(name) => t
    }.getOrElse(fail(s"materialized views maintain over graft-registered " +
      s"tables only; '$name' is not registered"))

  private def create(spark: SparkSession, name: String, opts: String,
                     select: String): DataFrame = {
    if (views.contains(key(name)))
      fail(s"materialized view $name already exists (DROP it first)")

    // WITH options: valid_at = 'yyyy-mm-dd hh:mm:ss' (basis; default
    // now — "the currently-valid rows"), buckets = n (state bucketing)
    val optMap = BitemporalDml.splitTopLevel(opts).map(_.trim)
      .filter(_.nonEmpty).map { kv =>
        val eq = kv.indexOf('=')
        if (eq < 0) fail(s"WITH option '$kv' is not key = value")
        val k = kv.substring(0, eq).trim.toLowerCase
        val v = kv.substring(eq + 1).trim
          .stripPrefix("TIMESTAMP").stripPrefix("timestamp").trim
        k -> v.stripPrefix("'").stripSuffix("'")
      }.toMap
    optMap.keys.find(k => k != "valid_at" && k != "buckets" &&
        k != "layout" && k != "rewrite" && k != "bucket_key")
      .foreach(k =>
        fail(s"unknown WITH option '$k' (valid_at, buckets, layout, " +
          "rewrite, bucket_key)"))
    val validAt = optMap.get("valid_at")
      .map(v => try Timestamp.valueOf(v) catch { case _: IllegalArgumentException =>
        fail(s"valid_at must be 'yyyy-mm-dd hh:mm:ss[.ffff]', got '$v'") })
      .getOrElse(new Timestamp(System.currentTimeMillis()))
    val buckets = optMap.get("buckets").map(_.toInt)
    // layout = 'range' value-partitions the state on the LEADING group
    // column (string keys only — dir names compare lexicographically)
    // so RANGE reads on time-keyed rollups prune dirs natively;
    // default 'hash' is the point-read layout
    val rangeLayout = optMap.get("layout").map(_.toLowerCase) match {
      case None | Some("hash") => false
      case Some("range") => true
      case Some(x) => fail(s"layout must be 'hash' or 'range', got '$x'")
    }
    // rewrite = 'trusted' opts this view into BARE-FROM aggregate
    // navigation ([[GraftMvNav]]): the user asserts the view's fixed
    // valid_at basis serves their current-basis queries (the same
    // assertion they make when querying the view by name) — Oracle's
    // QUERY REWRITE trust model. FOR VALID_TIME AS OF queries matching
    // the basis exactly rewrite without it (provably identical).
    val trusted = optMap.get("rewrite").map(_.toLowerCase) match {
      case None | Some("off") => false
      case Some("trusted") => true
      case Some(x) => fail(s"rewrite must be 'trusted' or 'off', got '$x'")
    }
    // bucket_key = 'col[, col2 …]': hash the state's _bucket dirs on a
    // SUBSET of the group columns instead of the whole key. The point:
    // a view GROUP BY (grp, sub) bucketed on grp alone gives the
    // group-pinned rollup dashboard (`WHERE grp = 'x' GROUP BY sub` —
    // directly or via aggregate navigation's residual) a ONE-dir read
    // at ANY key type/cardinality, where layout='range' needs a
    // lexicographic leading key under the dir cap. The prune rule
    // already requires equality on exactly the bucket-key columns
    // (GroupsKey metadata), and refresh affectedness hashes the same
    // subset — the aux-view machinery has used both since r13. The
    // trade is explicit: point reads pinning the FULL key no longer
    // isolate one group per dir (a dir holds every `sub` of one `grp`),
    // so the default remains whole-key bucketing.
    val bucketKeyOpt: Seq[String] = optMap.get("bucket_key")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    if (optMap.contains("bucket_key") && bucketKeyOpt.isEmpty)
      fail("bucket_key must name at least one GROUP BY column")
    if (bucketKeyOpt.map(_.toLowerCase).distinct.size != bucketKeyOpt.size)
      fail(s"duplicate column in bucket_key '${bucketKeyOpt.mkString(",")}'")
    // the CANONICAL statement pins the RESOLVED basis and bucketing:
    // a restore must rebind the exact same view, not re-default
    // valid_at to its own "now" (silent basis drift). The layout rides
    // along only when non-default, so pre-r14 sidecars stay bytewise
    // identical.
    def canonicalDdl(bucketsResolved: Int): String =
      s"CREATE MATERIALIZED VIEW $name WITH (valid_at = '$validAt', " +
        s"buckets = $bucketsResolved" +
        (if (rangeLayout) ", layout = 'range'" else "") +
        (if (bucketKeyOpt.nonEmpty)
          s", bucket_key = '${bucketKeyOpt.mkString(", ")}'" else "") +
        (if (trusted) ", rewrite = 'trusted'" else "") +
        s") AS ${select.trim}"

    // one parse by Spark's own grammar: a clause it cannot read, or a
    // join this engine cannot maintain (missing ON, USING, RIGHT/FULL),
    // refuses loudly, never silently drops a spoke — a view missing a
    // declared join would serve wrong aggregates
    val q = parseSelect(select, ddl = true)
    val factName = q.fact
    val whereOpt = q.where.map(q.clause)
    val havingOpt = q.having.map(q.clause)

    // derived name -> ORIGINAL trimmed expression text (what executes —
    // normalization is for NAMING/matching only, so whitespace inside
    // string literals is never rewritten), insertion-ordered
    val derivedExprs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // DISTINCT aggregate arguments (payload column or derived name),
    // insertion-ordered: one auxiliary pair-level view per entry serves
    // every COUNT/SUM/AVG(DISTINCT …) over it
    val distincts = scala.collection.mutable.LinkedHashSet.empty[String]
    // the args whose rollup needs the SUM side (SUM/AVG(DISTINCT) is
    // served) — COUNT-only args skip it so non-numeric arguments work
    val distinctSums = scala.collection.mutable.Set.empty[String]
    // physical DISTINCT column -> the normalized source text its
    // NavKeys carry, so the navigator can key each aux pair view
    val distinctNavSrc = scala.collection.mutable.Map.empty[String, String]
    def derivedName(text: String): String = {
      val nm = "_e" + java.security.MessageDigest.getInstance("MD5")
        .digest(normText(text).getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString
      derivedExprs.getOrElseUpdate(nm, text.trim)
      nm
    }

    // GROUP BY items: plain columns, or row-local deterministic
    // EXPRESSIONS (`GROUP BY date_trunc('month', ts)` — the
    // time-bucketed rollup) which become derived columns exactly like
    // expression-aggregate arguments and ride the same Δ machinery as
    // a stored group key. A derived key's SELECT item must repeat the
    // expression (whitespace-insensitively) with an AS alias.
    val groupExprNames = scala.collection.mutable.LinkedHashSet.empty[String]
    // (state column, normalized source) per GROUP BY item
    val groupSrcs: Seq[(String, String)] = q.groups.map { ge =>
      val g = q.clause(ge)
      if (g.matches("\\d+"))
        // a bare number would silently become a constant group key,
        // not the Postgres/Spark ordinal the user meant
        fail(s"GROUP BY ordinal '$g' is not supported here — name " +
          "the column or repeat the expression")
      val c =
        if (plainIdentRe.matches(g)) unqualify(g)
        else { val dn = derivedName(g); groupExprNames += dn; dn }
      c -> navSrc(q.raw(ge))
    }
    val groups = groupSrcs.map(_._1)
    if (groups.distinct.size != groups.size)
      fail(s"duplicate GROUP BY column in ${q.groups.map(q.text).mkString(", ")}")

    // bucket_key names resolve against the PLAIN group columns (a
    // derived GROUP BY expression has no user-writable name) —
    // case-insensitively, to the canonical spelling the state uses
    val bucketKeyCols: Seq[String] = bucketKeyOpt.map { bk =>
      groups.find(g => !groupExprNames.contains(g) &&
          g.equalsIgnoreCase(bk))
        .getOrElse(fail(s"bucket_key column '$bk' is not a plain " +
          s"GROUP BY column of this view (GROUP BY columns: " +
          s"${groups.filterNot(groupExprNames.contains).mkString(", ")})"))
    }
    if (rangeLayout && bucketKeyCols.nonEmpty &&
        bucketKeyCols.head != groups.head)
      fail("layout = 'range' partitions on the LEADING group column, " +
        s"so bucket_key must lead with '${groups.head}' (got " +
        s"'${bucketKeyCols.head}')")
    // the key the state's _bucket ACTUALLY hashes. DISTINCT auxes MUST
    // bucket on exactly this (MvDistinct's contract: a pair's aux
    // _bucket equals the main _bucket of its group, so the refresh's
    // rollup scan prunes the aux by the parent's affected bucket ids) —
    // bucketing the aux on the FULL group set under a subset-keyed
    // parent would prune in a different hash domain and silently drop
    // pairs from the rollup.
    val effBucketKey: Seq[String] =
      if (bucketKeyCols.nonEmpty) bucketKeyCols else groups

    val groupAliases = scala.collection.mutable.LinkedHashMap(
      groups.map(g => g -> g): _*)
    val sums = Seq.newBuilder[String]
    val mins = Seq.newBuilder[String]
    val maxs = Seq.newBuilder[String]
    val cnts = Seq.newBuilder[String]
    val hlls = Seq.newBuilder[String]
    // percentile aggregates, deduped structurally: MEDIAN(x) and
    // PERCENTILE_CONT(x, 0.5) share one state column
    val pcts = scala.collection.mutable.LinkedHashSet
      .empty[graft.bitemporal.MvPct]
    // canonical -> alias, in SELECT order (group handled separately)
    val serve = Seq.newBuilder[(ServeCol, String)]
    // aggregate-navigation records, built IN the dispatch so the match
    // keys come from the same parse that chose the semantics
    val navAgg = Seq.newBuilder[(NavKey, String)]
    val navSum = Map.newBuilder[String, String]
    // VARIANCE/STDDEV arguments, type-gated against the validation
    // relation below: the serve formula (Σx² − (Σx)²/n)/n is exact for
    // integral/DECIMAL inputs (the sums are exact, the one double
    // rounding is the read-time formula) but catastrophically
    // cancelling for FLOAT/DOUBLE inputs — where the double SUM state
    // is additionally order-dependent across refreshes. Refused at
    // CREATE with a cast hint (mirrors the navigation exactness gate).
    val varStdArgs = Seq.newBuilder[(String, String)]
    q.items.foreach { item =>
      val (body, alias) = q.aliased(item)
      q.aggCall(body) match {
        case Some(c0) =>
          val fn = c0.fn
          if (c0.filter.nonEmpty && alias.isEmpty)
            fail(s"FILTER aggregate '${q.text(item)}' needs an explicit AS " +
              "alias to serve as a column name")
          if (c0.arg == "*" && (fn != "COUNT" || c0.distinct))
            fail(s"unsupported aggregate ${q.text(body)} — only COUNT(*) " +
              "takes *; name the column or expression")
          val c = c0.desugared
          val argT = c.arg
          val isCol = plainIdentRe.matches(argT)
          val col = if (argT == "*") "" else if (isCol) unqualify(argT)
                    else derivedName(argT)
          def aliasOr(default: => String, call: String): String =
            alias.getOrElse {
              if (isCol) default
              else fail(s"expression aggregate $call needs an explicit " +
                "AS alias to serve as a column name")
            }
          val a: String = fn match {
            case "COUNT" if argT == "*" =>
              val a = alias.getOrElse("n")
              serve += (ServeCol.State("n") -> a)
              a
            case _ if basicFns(fn) =>
              // a stored column and a row-local expression (a derived
              // column, content-addressed from its normalized text so
              // SUM(x*y) and AVG(x * y) share one derived and state
              // column) maintain alike. COUNT is a per-column NON-NULL
              // counter; SUM and AVG ride it along (SUM's serve masks an
              // all-NULL group's 0 back to ANSI NULL; AVG = SUM / COUNT
              // at read time). MIN/MAX(DISTINCT) are the plain
              // aggregates; COUNT/SUM/AVG(DISTINCT) keep one auxiliary
              // pair view per argument (the Aux plumbing below)
              val kind = basicKind(fn, c.distinct)
              val a = aliasOr(s"${kind}_$col",
                if (c.distinct) s"$fn(DISTINCT $argT)" else s"$fn($argT)")
              kind match {
                case "min" => mins += col; serve += (ServeCol.State(s"min_$col") -> a)
                case "max" => maxs += col; serve += (ServeCol.State(s"max_$col") -> a)
                case "cnt" => cnts += col; serve += (ServeCol.State(s"cnt_$col") -> a)
                case "sum" =>
                  sums += col; cnts += col; serve += (ServeCol.Sum(col) -> a)
                  navSum += (a -> s"sum_$col")
                case "avg" =>
                  sums += col; cnts += col; serve += (ServeCol.Avg(col) -> a)
                  navSum += (a -> s"sum_$col")
                case _ =>
                  distincts += col; distinctNavSrc(col) = navSrc(argT)
                  if (kind != "cntd") {
                    distinctSums += col; navSum += (a -> s"sumd_$col")
                  }
                  serve += ((if (kind == "avgd") ServeCol.AvgDistinct(col)
                             else ServeCol.State(s"${kind}_$col")) -> a)
              }
              a
            case _ if c.distinct =>
              fail(if (varStdFns(fn))
                  s"$fn(DISTINCT …) is not incrementally maintainable " +
                    "here — the distinct multiset of values cannot be " +
                    "re-derived from sums; use the plain form"
                else s"$fn needs a column or row-local expression argument " +
                  "(DISTINCT makes no difference to it and is not accepted)")
            case "APPROX_COUNT_DISTINCT" =>
              val a = aliasOr(s"apd_$col", s"$fn($argT)")
              hlls += col; serve += (ServeCol.ApproxDistinct(col) -> a)
              a
            case _ if varStdFns(fn) =>
              // the squared argument re-expands the ORIGINAL text so it
              // validates as a row-local expression on its own; squaring
              // the RAW value (no double cast) keeps DECIMAL inputs exact
              // end to end — the only double arithmetic is the read-time
              // formula
              val sq = derivedName(s"($argT) * ($argT)")
              varStdArgs += (fn -> argT)
              sums += col; cnts += col; sums += sq
              val a = aliasOr(s"${fn.toLowerCase}_$col", s"$fn($argT)")
              serve += (ServeCol.VarStd(col, sq, pop = fn.endsWith("_POP"),
                isStd = fn.startsWith("STDDEV")) -> a)
              a
            case _ => // the percentile family
              val mp = graft.bitemporal.MvPct(col,
                pctFraction(c).fold(msg => fail(msg), identity),
                approx = fn == "APPROX_PERCENTILE")
              pcts += mp
              val a = aliasOr(if (fn == "MEDIAN") s"median_$col" else mp.alias,
                s"$fn($argT)")
              serve += (ServeCol.State(mp.alias) -> a)
              a
          }
          navAgg += (navKey(c).get -> a)
        case None =>
          body match {
            case g: UnresolvedAttribute if groups.contains(unqualify(q.text(g))) =>
              val gc = unqualify(q.text(g))
              groupAliases(gc) = alias.getOrElse(gc)
            case _ =>
              // a GROUP BY expression repeated in the SELECT list: matched
              // by normalized source, alias mandatory (the expression is
              // no name)
              groupSrcs.collectFirst {
                case (dn, src) if groupExprNames.contains(dn) &&
                    src == normText(q.raw(body)) => dn
              } match {
                case Some(dn) => groupAliases(dn) = alias.getOrElse(
                  fail(s"GROUP BY expression select item '${q.text(item)}' " +
                    "needs an explicit AS alias to serve as a column name"))
                case None => fail(s"select item '${q.text(item)}' is neither a " +
                  s"GROUP BY column (${groups.mkString(", ")}) nor " +
                  "COUNT(*)/COUNT/SUM/AVG/MIN/MAX([DISTINCT] col | row-local " +
                  "expression AS alias) nor APPROX_COUNT_DISTINCT(col | expr " +
                  "AS alias) nor VARIANCE/VAR_SAMP/VAR_POP/STDDEV/STDDEV_SAMP/" +
                  "STDDEV_POP(col | expr AS alias) nor MEDIAN(col)/" +
                  "PERCENTILE_CONT(col, p)/APPROX_PERCENTILE(col, p)")
              }
          }
      }
    }

    val fact = graftTable(factName)
    // each JOIN clause is one spoke of the star (none for a single-table
    // view), its fk read off the ON clause; LEFT spokes keep facts with
    // NULL/dangling fks as NULL-extended rows
    val dims: Seq[(graft.GraftTable, String)] =
      q.joins.map { case (dn, fk, _) => graftTable(dn) -> fk }
    val leftJoins: Seq[Boolean] = q.joins.map(_._3)
    // semantic WHERE validation, against the maintained relation's own
    // schema: a single-table sieve sees the payload AND the temporal
    // columns (`_valid_from < '2030-01-01'` is a legitimate row-local
    // predicate); a star's sees every side's PAYLOAD columns (names are
    // disjoint by construction; temporal/_id columns would be ambiguous
    // across the join and are not served to it). Lazy: only forced when
    // something validates against it — an empty log (no txs yet) must
    // still allow a plain CREATE
    lazy val validationBase =
      if (dims.isEmpty) fact.current(spark)
      else dims.foldLeft(
          fact.current(spark).select(fact.payloadColumns.map(col): _*)) {
        case (acc, (dim, _)) => acc.crossJoin(
          dim.current(spark).select(dim.payloadColumns.map(col): _*))
      }
    def derivedLabel(dn: String, e: String): String =
      if (groupExprNames.contains(dn)) s"GROUP BY expression '$e'"
      else s"aggregate argument '$e'"
    // the VarStd numeric contract (see varStdArgs above), enforced
    // against the same relation the WHERE/expression validation sees;
    // an argument that does not resolve at all fails downstream with
    // its own (better) message
    def checkVarStdNumeric(rel: => DataFrame): Unit =
      varStdArgs.result().foreach { case (fn, argT) =>
        val dt =
          try Some(rel.selectExpr(argT).schema.head.dataType)
          catch { case _: Exception => None }
        dt.foreach {
          case org.apache.spark.sql.types.DoubleType |
              org.apache.spark.sql.types.FloatType =>
            fail(s"$fn($argT): FLOAT/DOUBLE arguments are not " +
              "incrementally maintainable here — the sum-of-squares " +
              "serve formula catastrophically cancels on floating-point " +
              "input (where Spark's own aggregate uses Welford's " +
              "update), and the floating SUM state would drift with " +
              "refresh order. Cast the argument to an exact type, e.g. " +
              s"$fn(CAST($argT AS DECIMAL(38,6))) AS alias")
          case _ =>
        }
      }
    whereOpt.foreach(w => validateWhere(validationBase, w))
    checkVarStdNumeric(validationBase)
    derivedExprs.foreach { case (dn, e) =>
      validateExpr(validationBase, e, derivedLabel(dn, e))
    }
    val serveAll =
      groups.map(g => (ServeCol.Group(g): ServeCol) -> groupAliases(g)) ++
        serve.result()
    // navigation metadata: normalized src -> served alias, and -> the
    // PHYSICAL state column (the aux pair views' group columns —
    // residual substitution on an aux scan needs them)
    val navGroupOut = groupSrcs.map { case (g, src) => src -> groupAliases(g) }
    val navGroupPhys = groupSrcs.map { case (g, src) => src -> g }
    // an aux pair view needs exactly the derived definitions its own
    // group key uses: the view's derived group keys plus (when the
    // DISTINCT argument is an expression) the argument itself
    def auxDerived(d: String): Seq[(String, String)] =
      (groups :+ d).distinct.filter(derivedExprs.contains)
        .map(n => n -> derivedExprs(n))
    val nb = buckets.getOrElse(graft.GraftTable.defaultBuckets(dims.nonEmpty))
    val allPayload = fact.payloadColumns ++ dims.flatMap(_._1.payloadColumns)
    (distincts ++ hlls.result() ++ pcts.map(_.arg)).filterNot(d =>
        allPayload.contains(d) || derivedExprs.contains(d))
      .foreach(d => fail(s"aggregate argument $d must be a payload " +
        "column of " + (if (dims.isEmpty) factName else "a joined table") +
        " (or a row-local expression)"))
    val mvDir = graft.GraftTable.viewDir(fact.tableDir, name, dims.nonEmpty)
    // each DISTINCT argument's auxiliary pair-level view, nested inside
    // the main state dir and BUCKETED ON THE PARENT GROUP PREFIX (same
    // bucket count) so the main refresh's rollup scan partition-prunes
    // to its affected buckets — [[MvDistinct]]; a range-layout main view
    // range-partitions the aux on the same leading key. The MAIN view
    // drives the auxes from inside its own refresh (pin-to-recorded-
    // watermarks, sharing its delta or rebuild relation, then rollup
    // into main state); reads serve from the main state alone.
    val auxes: Seq[graft.bitemporal.MvDistinct] =
      distincts.toSeq.map { d =>
        val a = fact.viewAt(mvDir.resolve("_dist").resolve(d), dims,
          (groups :+ d).distinct, validAt, nb, where = whereOpt,
          derived = auxDerived(d), rangeLayout = rangeLayout,
          leftJoins = leftJoins, bucketCols = effBucketKey)
        graft.bitemporal.MvDistinct(d, distinctSums.contains(d),
          sess => a.readRaw(sess),
          (ws, sh) => { a.refreshUpTo(Some(ws), sh): Unit })
      }
    val mv = fact.viewAt(mvDir, dims, groups, validAt, nb,
      sums.result().distinct, mins.result(), maxs.result(),
      cnts.result().distinct, whereOpt, derivedExprs.toSeq, auxes,
      hlls.result().distinct, rangeLayout, leftJoins, pcts.toSeq,
      bucketKeyCols)
    val joinsNav = q.joins.map {
      case (dn, fk, left) => (dn.toLowerCase, fk.toLowerCase, left)
    }
    val auxNav = auxes.flatMap(a => distinctNavSrc.get(a.arg).map(
      src => src -> DistinctAuxNav(a.arg, a.readAux))).toMap
    val handle = Handle(name, serveAll, havingOpt,
      sess => mv.read(sess),
      () => { val ws = mv.refresh(); (ws.head, ws.tail.maxOption) },
      mvDir, canonicalDdl(nb),
      NavInfo(factName.toLowerCase, joinsNav,
        q.conjuncts.map(c => normText(q.raw(c))),
        navGroupOut, navAgg.result(), navSum.result(), validAt, trusted,
        () => mv.isFresh, navGroupPhys, auxNav))

    // any failure past this point (bad HAVING, empty-table schema,
    // registration) must also remove the state the populating refresh
    // just wrote: an orphaned state dir would make the NEXT CREATE of
    // this name fold incrementally against a state whose columns don't
    // match. View state is always derivable from the logs, so deleting
    // it is safe by construction — EXCEPT a pre-restart same-name
    // view's '_ddl' definition sidecar, which is NOT derivable: a
    // TRANSIENT failure here (lease held, timezone mismatch) must
    // leave RESTORE able to rebuild that view from the logs, so the
    // prior sidecar is captured now and re-persisted by the cleanup
    // (the same re-persist restore()'s own failure path does).
    val priorDdl: Option[Array[Byte]] = {
      val f = handle.stateDir.resolve("_ddl")
      try {
        if (java.nio.file.Files.exists(f))
          Some(java.nio.file.Files.readAllBytes(f))
        else None
      } catch { case _: java.io.IOException => None }
    }
    def dropState(): Unit = {
      graft.bitemporal.TxLog.deleteRecursively(handle.stateDir.toFile)
      priorDdl.foreach { bytes =>
        try {
          java.nio.file.Files.createDirectories(handle.stateDir)
          java.nio.file.Files.write(handle.stateDir.resolve("_ddl"), bytes)
        } catch { case _: java.io.IOException => () } // best-effort, like restore()
      }
    }
    // a re-CREATE over surviving state whose DISTINCT list shrank must
    // not leave the dropped arguments' pair-level state orphaned (the
    // main state legitimately adopts; the aux set is definition-scoped)
    locally {
      val dd = handle.stateDir.resolve("_dist")
      if (java.nio.file.Files.isDirectory(dd)) {
        val listing = java.nio.file.Files.list(dd)
        try listing.forEach { p =>
          if (!distincts.contains(p.getFileName.toString))
            graft.bitemporal.TxLog.deleteRecursively(p.toFile)
        } finally listing.close()
      }
    }
    val (a, b) =
      try {
        val r = handle.refresh() // CREATE populates (Postgres default)
        // HAVING references the view's OUTPUT columns (aliases) — its
        // semantic validation needs the served projection's schema,
        // which exists only after the populating refresh; same
        // deterministic/row-local rules as WHERE, same loud
        // CREATE-time failure
        havingOpt.foreach(hv =>
          validateWhere(servedProjection(spark, handle), hv, "HAVING"))
        r
      } catch { case e: Throwable => dropState(); throw e }
    views.put(key(name), handle)
    try {
      registerView(spark, handle)
      // persist the canonical definition beside the state: the registry
      // is in-memory, and RESTORE MATERIALIZED VIEWS re-registers every
      // surviving definition after a restart (the matching fingerprint
      // makes its populating refresh adopt the state — zero recompute).
      // Inside the SAME cleanup discipline: a failed sidecar write must
      // not leave a registered view whose CREATE reported failure.
      // Written only when its bytes change: a RESTORE that adopts the
      // state re-enters here with the very text it read.
      val ddlFile = handle.stateDir.resolve("_ddl")
      val ddlBytes = handle.ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (!java.nio.file.Files.exists(ddlFile) || !java.util.Arrays.equals(
          java.nio.file.Files.readAllBytes(ddlFile), ddlBytes))
        graft.bitemporal.TxLog.writeAtomic(ddlFile, ddlBytes)
    } catch { case e: Throwable =>
      // e.g. an empty source table: state schema is unknowable until
      // data lands — don't leave a half-registered view behind
      views.remove(key(name)); dropState(); throw e
    }
    import spark.implicits._
    Seq((name, a, b.map(long2Long).orNull)).toDF("view", "fact_tx", "dim_tx")
  }

  // The DISTINCT serve/refresh composition (the r13 Aux machinery:
  // read-time rollup joins, crash-skew heal, the composite
  // refresh-with-auxes lease) moved INTO Matview as
  // [[graft.bitemporal.MvDistinct]]: the main view's refresh now pins
  // each aux to its recorded watermark and materializes the rollup
  // into the MAIN state, so reads serve one bucket-prunable state tree
  // and no skew can exist at serve time.

  /** Column-metadata marker stamped on every matview temp-view
    * registration: the stale-registration cleanup after a DROP may only
    * delete a temp view it can PROVE this module registered — a user's
    * own same-named view (created through any non-graft path) carries
    * no marker and is left alone. */
  private[server] val MvTagKey = "graft.matview"

  /** The view's OUTPUT relation in `session`: current state projected
    * to the user's aliases, group columns first, the MvTagKey marker on
    * the first column. HAVING is NOT applied here — validation needs
    * the unfiltered projection. */
  private def servedProjection(session: SparkSession, h: Handle): DataFrame = {
    val df0 = h.read(session)
    val tag = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(MvTagKey, h.name).build()
    var tagged = false
    val cols =
      h.serveCols.map {
        case (ServeCol.Group(g), alias) =>
          if (!tagged) { tagged = true; col(g).as(alias, tag) }
          else col(g).as(alias)
        case (ServeCol.Avg(c), alias) =>
          // AVG serves as SUM/COUNT(col) in DOUBLE (the portable SQL
          // answer); the when-guard keeps an all-null group at NULL
          // instead of an ANSI division-by-zero
          when(col(s"cnt_$c") > 0,
            col(s"sum_$c").cast("double") / col(s"cnt_$c")).as(alias)
        case (ServeCol.Sum(c), alias) =>
          // SUM over zero non-null inputs is NULL in SQL; the stored
          // sum is the additive identity 0 there (delta merges coalesce
          // through 0), so mask on the ride-along non-null count
          when(col(s"cnt_$c") > 0, col(s"sum_$c")).as(alias)
        case (ServeCol.AvgDistinct(c), alias) =>
          // AVG(DISTINCT) = SUM/COUNT of the distinct values, same
          // DOUBLE division and all-null guard as AVG
          when(col(s"cntd_$c") > 0,
            col(s"sumd_$c").cast("double") / col(s"cntd_$c")).as(alias)
        case (ServeCol.ApproxDistinct(c), alias) =>
          // APPROX_COUNT_DISTINCT serves the stored sketch's estimate;
          // an all-null group's sketch is empty/NULL → 0, SQL semantics
          coalesce(hll_sketch_estimate(col(s"hll_$c")), lit(0L)).as(alias)
        case (ServeCol.VarStd(c, sq, pop, isStd), alias) =>
          // variance from the maintained sums: (Σx² − (Σx)²/n)/(n or
          // n−1), clamped at 0 (floating-point cancellation must not
          // produce a negative variance / NaN stddev). ANSI nulls:
          // var_pop needs ≥1 non-null input, var_samp ≥2.
          val nn = col(s"cnt_$c").cast("double")
          val sm = col(s"sum_$c").cast("double")
          val qq = col(s"sum_$sq").cast("double")
          val num = greatest(qq - sm * sm / nn, lit(0.0))
          val v =
            if (pop) when(col(s"cnt_$c") > 0, num / nn)
            else when(col(s"cnt_$c") > 1, num / (nn - lit(1.0)))
          (if (isStd) org.apache.spark.sql.functions.sqrt(v) else v)
            .as(alias)
        case (ServeCol.State(canon), alias) => col(canon).as(alias)
      }
    df0.select(cols: _*)
  }

  /** (Re-)register `name` IN `session` as a temp view over the CURRENT
    * state with the user's aliases, group columns first, HAVING applied
    * over the served columns (state keeps every group — the filter is
    * maintained by construction). */
  private def registerView(session: SparkSession, h: Handle): Unit = {
    val served = servedProjection(session, h)
    h.having.fold(served)(hv => served.filter(expr(hv)))
      .createOrReplaceTempView(h.name)
  }

  /** Parser hook: if `sql` references any registered matview by name
    * (outside literals/comments), refresh its temp-view registration so
    * the statement reads current state. */
  def refreshReferenced(spark: SparkSession, sql: String): Unit = {
    if (views.isEmpty && droppedGen.isEmpty) return
    val spans = SqlText.maskedSpans(sql)
    def referenced(name: String): Boolean = {
      val m = java.util.regex.Pattern
        .compile(s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\b")
        .matcher(sql)
      m.find() && !SqlText.masked(spans, m.start())
    }
    views.values.foreach { h =>
      if (referenced(h.name)) registerView(spark, h)
    }
    // a DROPPED view's name may survive as an inherited temp view in
    // THIS session (cloned state): drop it the first time the session
    // references the name after the drop — once per drop generation,
    // and ONLY when the existing temp view provably IS the stale
    // matview registration (the MvTagKey column marker): a same-named
    // view the user creates through any non-graft path between the
    // DROP and this statement carries no marker and is left alone.
    // The whole check-inspect-drop-mark runs under the dropSeen lock —
    // the per-session inner map is a plain HashMap, and two concurrent
    // statements on one session must not interleave its read/update.
    droppedGen.foreach { case (k, (origName, gen)) =>
      if (!views.contains(k)) {
        val pending = dropSeen.synchronized {
          dropSeen.computeIfAbsent(spark,
            _ => scala.collection.mutable.Map.empty).getOrElse(k, 0L) < gen
        }
        if (pending && referenced(origName)) {
          // inspect OUTSIDE the lock — the catalog lookup analyzes the
          // view, and holding the global monitor through an analysis
          // would serialize every front-door statement behind it. Two
          // racing threads of one session at worst both inspect and
          // both issue the (idempotent) drop. The tag VALUE must name
          // THIS view: a user view derived from some OTHER live
          // matview inherits that view's tag through projection and
          // must not be mistaken for the dropped one's registration.
          val isStaleReg =
            try spark.table(origName).schema.headOption
              .exists(f => f.metadata.contains(MvTagKey) &&
                f.metadata.getString(MvTagKey).equalsIgnoreCase(origName))
            catch { case _: Exception => false } // gone already / not a view
          if (isStaleReg) {
            try spark.catalog.dropTempView(origName)
            catch { case _: Exception => }
          }
          // either dropped, or provably not ours: this generation is
          // handled for this session — don't re-inspect every statement
          dropSeen.synchronized {
            dropSeen.computeIfAbsent(spark,
              _ => scala.collection.mutable.Map.empty)(k) = gen
          }
        }
      }
    }
  }
}
