package graft.server

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bitemporal.{BitemporalDml, SqlText}

/** Materialized-view DDL for the SQL front doors — the reference's 2.x
  * line grew exactly this surface; here it routes onto the
  * incrementally-maintained views ([[graft.bitemporal.Matview]] /
  * [[graft.bitemporal.JoinMatview]]), so a wire client creates,
  * refreshes and queries IVM state with plain SQL text:
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
      whereNorm: Option[String],
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

  private def failShape(): Nothing =
    fail("materialized-view SELECT must be: SELECT <g…>, " +
      "COUNT(*)/COUNT/SUM/AVG/MIN/MAX([DISTINCT] col or row-local " +
      "expression AS alias), … FROM " +
      "<table> [JOIN <dim> ON <fk> = <dim>._id …] [WHERE <predicate>] " +
      "GROUP BY <g>[, <g2> …] [HAVING <predicate over the output " +
      "columns>] — subqueries are not incrementally maintainable " +
      "here and are rejected rather than snapshotted")

  private val plainTableRe = "(?s)^[A-Za-z_]\\w*$".r

  /** Split the matview SELECT body on TOP-LEVEL clause keywords only —
    * outside string literals, quoted identifiers and comments
    * ([[SqlText.maskedSpans]]) and outside parentheses — so a predicate
    * or aggregate argument containing ' GROUP BY ' / ' JOIN ' /
    * ' HAVING ' inside a literal, or `extract(DAY FROM ts)` inside
    * parens, can never mis-split the statement (the previous regex
    * split was literal-unaware). Returns (select list, fact table,
    * (dim, ON text, is-LEFT) per join spoke, WHERE?, GROUP BY,
    * HAVING?). The DDL requires a GROUP BY; the navigator passes
    * `requireGroupBy = false` so a GLOBAL aggregate query (`SELECT
    * COUNT(*) … FROM fact`, no GROUP BY) parses with an empty group
    * clause. */
  private[server] def splitSelect(select: String,
      requireGroupBy: Boolean = true)
      : (String, String, Seq[(String, String, Boolean)], Option[String],
         String, Option[String]) = {
    val t = select.trim
    val spans = SqlText.maskedSpans(t)
    val depth = parenDepth(t, spans)
    val kwRe = ("(?i)\\b(SELECT|FROM|LEFT\\s+(?:OUTER\\s+)?JOIN|" +
      "INNER\\s+JOIN|JOIN|ON|WHERE|GROUP\\s+BY|HAVING)\\b").r
    case class Kw(word: String, start: Int, end: Int)
    val kws = kwRe.findAllMatchIn(t)
      .filter(m => !SqlText.masked(spans, m.start) && depth(m.start) == 0)
      .map { m =>
        val w = m.group(1).toUpperCase.split("\\s+").mkString(" ")
        Kw(if (w == "INNER JOIN") "JOIN"
           else if (w.startsWith("LEFT")) "LEFT JOIN" else w,
          m.start, m.end)
      }.toVector
    if (kws.isEmpty || kws.head.word != "SELECT" || kws.head.start != 0)
      failShape()
    def segEnd(j: Int): Int = if (j + 1 < kws.length) kws(j + 1).start else t.length
    def seg(j: Int): String = t.substring(kws(j).end, segEnd(j)).trim
    if (kws.length < 2 || kws(1).word != "FROM") failShape()
    val list = seg(0)
    if (list.isEmpty) failShape()
    val factName = seg(1)
    if (!plainTableRe.matches(factName))
      fail(s"unsupported JOIN syntax near '$factName': FROM must name a " +
        "single fact table, star-joined only as INNER or LEFT " +
        "`JOIN <dim> ON <fk> = <dim>._id` — other join forms are not " +
        "incrementally maintainable here and are rejected rather than " +
        "snapshotted")
    var j = 2
    val joins = Seq.newBuilder[(String, String, Boolean)]
    while (j < kws.length &&
        (kws(j).word == "JOIN" || kws(j).word == "LEFT JOIN")) {
      val dim = seg(j)
      if (j + 1 >= kws.length || kws(j + 1).word != "ON" ||
          !plainTableRe.matches(dim))
        fail(s"unsupported JOIN syntax near '$dim': each join " +
          "must be an INNER or LEFT `JOIN <dim> ON <fk> = <dim>._id` — " +
          "other join forms are not incrementally maintainable here " +
          "and are rejected rather than snapshotted")
      joins += ((dim, seg(j + 1), kws(j).word == "LEFT JOIN"))
      j += 2
    }
    val whereOpt =
      if (j < kws.length && kws(j).word == "WHERE") {
        val w = seg(j); j += 1
        if (w.isEmpty) failShape()
        Some(w)
      } else None
    val groupBy =
      if (j < kws.length && kws(j).word == "GROUP BY") {
        val g = seg(j); j += 1
        if (g.isEmpty) failShape()
        g
      } else if (requireGroupBy) failShape()
      else ""
    val havingOpt =
      if (j < kws.length && kws(j).word == "HAVING") {
        val hv = seg(j); j += 1
        if (hv.isEmpty) failShape()
        Some(hv)
      } else None
    if (j != kws.length) failShape() // clause out of order (e.g. WHERE after GROUP BY)
    (list, factName, joins.result(), whereOpt, groupBy, havingOpt)
  }

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

  // ===== the SELECT-item grammar, shared by the DDL dispatch and the
  // ===== aggregate-navigation matcher (GraftMvNav) — ONE set of
  // ===== patterns, so a query item and a view item can never classify
  // ===== differently
  private[server] val aggRe = "(?is)^(COUNT|SUM|MIN|MAX|AVG)\\s*\\(\\s*([*]|[A-Za-z_](?:\\w|\\.)*)\\s*\\)(?:\\s+AS\\s+([A-Za-z_]\\w*))?$".r
  // DISTINCT aggregate — COUNT/SUM/AVG(DISTINCT col-or-expression)
  // maintain EXACTLY through an auxiliary pair-level view (group key
  // = the view's groups + the argument, nested under this view's
  // state dir — see the Aux plumbing in create()); MIN/MAX(DISTINCT x)
  // is the same aggregate as MIN/MAX(x) and routes there.
  private[server] val aggDistRe = "(?is)^(COUNT|SUM|MIN|MAX|AVG)\\s*\\(\\s*DISTINCT\\s+([\\s\\S]+?)\\s*\\)(?:\\s+AS\\s+([A-Za-z_]\\w*))?$".r
  // APPROX_COUNT_DISTINCT(col-or-expression) — the cheap option for
  // HIGH-CARDINALITY arguments where the exact pair-level state
  // (∝ distinct (group, value) pairs) outgrows its worth: state is
  // ONE mergeable DataSketches HLL sketch per group (∝ groups), and
  // the sketch rides the MIN/MAX maintenance lifecycle (touched-group
  // recompute at refresh), so deletes/updates stay exact for the
  // sketch — no lingering tombstoned values, no refuse path.
  // Standard HLL error (~1.6% at the default lgK); exact in sparse
  // mode (low per-group cardinality).
  private[server] val apdRe = ("(?is)^APPROX_COUNT_DISTINCT\\s*\\(\\s*([\\s\\S]+?)" +
    "\\s*\\)(?:\\s+AS\\s+([A-Za-z_]\\w*))?$").r
  // MEDIAN(x) / PERCENTILE_CONT(x, p) / PERCENTILE(x, p) — EXACT
  // continuous percentiles — and APPROX_PERCENTILE(x, p) (bounded
  // memory for huge groups). Neither subtracts, so the state stores
  // the per-group VALUE recomputed for touched groups on the MIN/MAX
  // lifecycle ([[graft.bitemporal.MvPct]]) — deletes/updates exact.
  private[server] val pctRe = ("(?is)^(MEDIAN|PERCENTILE_CONT|PERCENTILE|" +
    "APPROX_PERCENTILE)\\s*\\(\\s*([\\s\\S]+?)" +
    "(?:\\s*,\\s*([0-9]*\\.?[0-9]+)\\s*)?\\)" +
    "(?:\\s+AS\\s+([A-Za-z_]\\w*))?$").r
  // VARIANCE/STDDEV family: exactly self-maintainable through sum +
  // sum-of-squares (a derived column) + non-null count — zero new
  // state mechanics, served by formula (ServeCol.VarStd)
  private[server] val vsRe = ("(?is)^(STDDEV_SAMP|STDDEV_POP|STDDEV|VAR_SAMP|" +
    "VAR_POP|VARIANCE)\\s*\\(\\s*([\\s\\S]+?)\\s*\\)" +
    "(?:\\s+AS\\s+([A-Za-z_]\\w*))?$").r
  // EXPRESSION aggregate — any argument that isn't a bare column ref
  // (tried after aggRe). The argument becomes a DERIVED column on the
  // maintained relation, computed row-locally after the sieve, so the
  // aggregate maintains exactly like one over a stored column; the
  // derived name is content-addressed from the normalized text so
  // SUM(x*y) and AVG(x * y) share one derived (and state) column.
  private[server] val aggExprRe = "(?is)^(COUNT|SUM|MIN|MAX|AVG)\\s*\\(\\s*([\\s\\S]+?)\\s*\\)(?:\\s+AS\\s+([A-Za-z_]\\w*))?$".r
  private[server] val identRe = "(?is)^([A-Za-z_](?:\\w|\\.)*)(?:\\s+AS\\s+([A-Za-z_]\\w*))?$".r
  private[server] val plainIdentRe = "(?s)^[A-Za-z_](?:\\w|\\.)*$".r
  // a select item that repeats a GROUP BY expression, with its
  // MANDATORY alias (greedy: the LAST top-level AS wins, so
  // `cast(x AS int) AS m` aliases to m)
  private[server] val exprAliasRe = "(?is)^([\\s\\S]+)\\s+AS\\s+([A-Za-z_]\\w*)$".r

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

  /** Paren depth at each offset of `t`; masked chars never open/close. */
  private def parenDepth(t: String, spans: Seq[(Int, Int)]): Array[Int] = {
    val depth = new Array[Int](math.max(t.length, 1))
    var d = 0; var i = 0
    while (i < t.length) {
      depth(i) = d
      if (!SqlText.masked(spans, i)) {
        val c = t.charAt(i)
        if (c == '(') d += 1 else if (c == ')') d = math.max(0, d - 1)
      }
      i += 1
    }
    depth
  }

  /** ANSI `agg(…) FILTER (WHERE pred)` desugars onto the expression-
    * aggregate machinery BEFORE dispatch: every aggregate this DDL
    * accepts ignores NULL inputs (the ANSI rule FILTER is defined
    * against), so wrapping the aggregated argument in
    * `CASE WHEN (pred) THEN arg END` IS the filtered aggregate — rows
    * failing (or NULL under) the predicate contribute NULL, which the
    * aggregate drops. COUNT(*) counts matching rows through
    * `CASE WHEN (pred) THEN 1 END`; DISTINCT keeps its keyword and
    * wraps the value (COUNT(DISTINCT x) over the conditional sees
    * exactly the filtered rows' distinct values); two-argument
    * percentile forms wrap the VALUE argument only (the fraction is a
    * literal). The predicate inherits the WHERE sieve's row-local
    * deterministic rules for free: the rewritten argument validates as
    * an expression-aggregate argument (validateExpr), so a clock read,
    * subquery or env read in the FILTER refuses with the same message.
    * An alias is mandatory — the rewritten item is an expression
    * aggregate, and two SUM(x)s differing only in FILTER must not
    * collide on a default serve name. Items without a top-level FILTER
    * keyword pass through verbatim. */
  private[server] def desugarFilter(item: String): String = {
    val spans = SqlText.maskedSpans(item)
    val depth = parenDepth(item, spans)
    val fkw = "(?i)\\bFILTER\\b".r.findAllMatchIn(item)
      .find(m => !SqlText.masked(spans, m.start) && depth(m.start) == 0 &&
        m.start > 0)
    fkw match {
      case None => item
      case Some(m) =>
        def bad(why: String): Nothing =
          fail(s"malformed FILTER clause in select item '$item': $why — " +
            "the accepted form is AGG(arg) FILTER (WHERE predicate) " +
            "AS alias")
        val head = item.substring(0, m.start).trim
        val headRe = "(?is)^([A-Za-z_]\\w*)\\s*\\(([\\s\\S]*)\\)$".r
        val (fn, inner) = head match {
          case headRe(f, in) => (f.toUpperCase, in.trim)
          case _ => bad("FILTER must directly follow an aggregate call")
        }
        // the parenthesized (WHERE …) group: matching close paren by
        // the same depth scan (masked chars never open/close)
        var i = m.end
        while (i < item.length && item.charAt(i).isWhitespace) i += 1
        if (i >= item.length || item.charAt(i) != '(')
          bad("FILTER needs a parenthesized (WHERE predicate)")
        val open = i
        var close = -1
        locally {
          var d = 0; var j = open
          while (j < item.length && close < 0) {
            if (!SqlText.masked(spans, j)) {
              val c = item.charAt(j)
              if (c == '(') d += 1
              else if (c == ')') { d -= 1; if (d == 0) close = j }
            }
            j += 1
          }
        }
        if (close < 0) bad("unbalanced parentheses after FILTER")
        val body = item.substring(open + 1, close).trim
        val whereRe = "(?is)^WHERE\\b([\\s\\S]+)$".r
        val pred = body match {
          case whereRe(p) if p.trim.nonEmpty => p.trim
          case _ => bad("the clause must read FILTER (WHERE predicate)")
        }
        val tail = item.substring(close + 1)
        val alias = "(?is)^\\s+AS\\s+([A-Za-z_]\\w*)\\s*$".r
          .findFirstMatchIn(tail).map(_.group(1)).getOrElse {
            if (tail.trim.isEmpty)
              fail(s"FILTER aggregate '$item' needs an explicit AS " +
                "alias to serve as a column name")
            else bad(s"unexpected trailing text '${tail.trim}'")
          }
        val distRe = "(?is)^DISTINCT\\s+([\\s\\S]+)$".r
        val newInner = inner match {
          case "*" =>
            if (fn != "COUNT")
              bad(s"$fn(*) is not an aggregate this view can maintain")
            s"CASE WHEN ($pred) THEN 1 END"
          case distRe(v) =>
            s"DISTINCT CASE WHEN ($pred) THEN ($v) END"
          case _ =>
            // wrap the VALUE argument only: a trailing literal
            // fraction (percentile forms) rides along unwrapped
            val parts = BitemporalDml.splitTopLevel(inner)
            if (parts.isEmpty) bad("empty aggregate argument")
            (s"CASE WHEN ($pred) THEN (${parts.head}) END" +:
              parts.tail).mkString(", ")
        }
        s"$fn($newInner) AS $alias"
    }
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
      Seq("matview", "join_matview").foreach { kind =>
        val root = java.nio.file.Paths.get(t.tableDir, kind)
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
          Seq("matview", "join_matview").flatMap { kind =>
            val root = java.nio.file.Paths.get(t.tableDir, kind)
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

    // clause split is masked-span + paren-depth aware (splitSelect): a
    // clause the grammar cannot parse (missing ON, USING form,
    // RIGHT/FULL JOIN) refuses loudly, never silently drops a spoke —
    // a view missing a declared join would serve wrong aggregates
    val (list, factName, joinSpecs, whereOpt, groupBy, havingOpt) =
      splitSelect(select)

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
    val groups = BitemporalDml.splitTopLevel(groupBy)
      .map(_.trim).filter(_.nonEmpty).map { g =>
        if (g.matches("\\d+"))
          // a bare number would silently become a constant group key,
          // not the Postgres/Spark ordinal the user meant
          fail(s"GROUP BY ordinal '$g' is not supported here — name " +
            "the column or repeat the expression")
        if (plainIdentRe.matches(g)) unqualify(g)
        else { val dn = derivedName(g); groupExprNames += dn; dn }
      }
    if (groups.distinct.size != groups.size)
      fail(s"duplicate GROUP BY column in $groupBy")

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
    BitemporalDml.splitTopLevel(list).map(_.trim).filter(_.nonEmpty)
      .map(desugarFilter)
      .foreach {
        case apdRe(arg0, alias0) =>
          if (arg0.trim == "*" || arg0.trim.equalsIgnoreCase("distinct"))
            fail("APPROX_COUNT_DISTINCT needs a column or row-local " +
              "expression argument")
          val isCol = plainIdentRe.matches(arg0.trim)
          val c = if (isCol) unqualify(arg0) else derivedName(arg0)
          val alias = Option(alias0).getOrElse {
            if (isCol) s"apd_$c"
            else fail(s"expression aggregate APPROX_COUNT_DISTINCT" +
              s"($arg0) needs an explicit AS alias to serve as a " +
              "column name")
          }
          hlls += c
          serve += (ServeCol.ApproxDistinct(c) -> alias)
          navAgg += (NavKey.Agg("apd", navSrc(arg0)) -> alias)
        case pctRe(fn0, arg0, frac0, alias0) =>
          val fn = fn0.toUpperCase
          val argT = arg0.trim
          if (argT == "*" || argT.toUpperCase.startsWith("DISTINCT"))
            fail(s"$fn needs a column or row-local expression argument " +
              "(DISTINCT makes no difference to a percentile and is " +
              "not accepted)")
          val p: Double = (fn, Option(frac0)) match {
            case ("MEDIAN", None) => 0.5
            case ("MEDIAN", Some(_)) =>
              fail("MEDIAN takes a single argument — use " +
                "PERCENTILE_CONT(col, p) for other fractions")
            case (_, None) =>
              fail(s"$fn needs a fraction: $fn(col, p) with p in [0, 1]")
            case (_, Some(f)) =>
              val d = f.toDouble
              if (d < 0.0 || d > 1.0)
                fail(s"$fn fraction must be in [0, 1], got $f")
              d
          }
          val isCol = plainIdentRe.matches(argT)
          val c = if (isCol) unqualify(argT) else derivedName(argT)
          val mp = graft.bitemporal.MvPct(c, p,
            approx = fn == "APPROX_PERCENTILE")
          val alias = Option(alias0).getOrElse {
            if (!isCol)
              fail(s"expression aggregate $fn($argT) needs an explicit " +
                "AS alias to serve as a column name")
            else if (fn == "MEDIAN") s"median_$c"
            else mp.alias
          }
          pcts += mp
          serve += (ServeCol.State(mp.alias) -> alias)
          navAgg += (NavKey.Pct(navSrc(argT), p,
            approx = fn == "APPROX_PERCENTILE") -> alias)
        case vsRe(fn0, arg0, alias0) =>
          val fn = fn0.toUpperCase
          val argT = arg0.trim
          if (argT == "*" || argT.toUpperCase.startsWith("DISTINCT"))
            fail(s"$fn(DISTINCT …) is not incrementally maintainable " +
              "here — the distinct multiset of values cannot be " +
              "re-derived from sums; use the plain form")
          val isCol = plainIdentRe.matches(argT)
          val c = if (isCol) unqualify(argT) else derivedName(argT)
          val alias = Option(alias0).getOrElse {
            if (isCol) s"${fn.toLowerCase}_$c"
            else fail(s"expression aggregate $fn($argT) needs an " +
              "explicit AS alias to serve as a column name")
          }
          // the squared argument re-expands the ORIGINAL text so it
          // validates as a row-local expression on its own; squaring
          // the RAW value (no double cast) keeps DECIMAL inputs exact
          // end to end — the only double arithmetic is the read-time
          // formula
          val sq = derivedName(s"($argT) * ($argT)")
          varStdArgs += (fn -> argT)
          sums += c; cnts += c; sums += sq
          serve += (ServeCol.VarStd(c, sq, pop = fn.endsWith("_POP"),
            isStd = fn.startsWith("STDDEV")) -> alias)
          navAgg += (NavKey.Agg(
            (if (fn.startsWith("STDDEV")) "std" else "var") +
              (if (fn.endsWith("_POP")) "p" else ""),
            navSrc(argT)) -> alias)
        case aggDistRe(fn0, arg0, alias0) =>
          val fn = fn0.toUpperCase
          if (arg0.trim == "*")
            fail(s"$fn(DISTINCT *) is malformed — name the column or " +
              "expression whose distinct values the aggregate should see")
          val isCol = plainIdentRe.matches(arg0.trim)
          val d = if (isCol) unqualify(arg0) else derivedName(arg0)
          def aliasOr(default: => String): String =
            Option(alias0).getOrElse {
              if (isCol) default
              else fail(s"expression aggregate $fn(DISTINCT $arg0) needs " +
                "an explicit AS alias to serve as a column name")
            }
          fn match {
            // MIN/MAX over distinct values ≡ MIN/MAX over all values
            case "MIN" => mins += d
              val a = aliasOr(s"min_$d")
              serve += (ServeCol.State(s"min_$d") -> a)
              navAgg += (NavKey.Agg("min", navSrc(arg0)) -> a)
            case "MAX" => maxs += d
              val a = aliasOr(s"max_$d")
              serve += (ServeCol.State(s"max_$d") -> a)
              navAgg += (NavKey.Agg("max", navSrc(arg0)) -> a)
            case "COUNT" =>
              distincts += d; distinctNavSrc(d) = navSrc(arg0)
              val a = aliasOr(s"cntd_$d")
              serve += (ServeCol.State(s"cntd_$d") -> a)
              navAgg += (NavKey.Agg("cntd", navSrc(arg0)) -> a)
            case "SUM" =>
              distincts += d; distinctSums += d
              distinctNavSrc(d) = navSrc(arg0)
              val a = aliasOr(s"sumd_$d")
              serve += (ServeCol.State(s"sumd_$d") -> a)
              navAgg += (NavKey.Agg("sumd", navSrc(arg0)) -> a)
              navSum += (a -> s"sumd_$d")
            case "AVG" =>
              distincts += d; distinctSums += d
              distinctNavSrc(d) = navSrc(arg0)
              val a = aliasOr(s"avgd_$d")
              serve += (ServeCol.AvgDistinct(d) -> a)
              navAgg += (NavKey.Agg("avgd", navSrc(arg0)) -> a)
              navSum += (a -> s"sumd_$d")
          }
        case aggRe(fn0, arg0, alias) =>
          val fn = fn0.toUpperCase
          if (arg0.trim.equalsIgnoreCase("distinct"))
            fail(s"$fn(DISTINCT …) is malformed — the DISTINCT keyword " +
              "needs an argument")
          val arg = unqualify(arg0)
          (fn, arg) match {
            case ("COUNT", "*") =>
              val a = Option(alias).getOrElse("n")
              serve += (ServeCol.State("n") -> a)
              navAgg += (NavKey.Agg("n", "") -> a)
            case ("COUNT", c) =>
              // per-column NON-NULL counter: self-maintainable exactly
              // like n (a null cell never contributes to the delta)
              cnts += c
              val a = Option(alias).getOrElse(s"cnt_$c")
              serve += (ServeCol.State(s"cnt_$c") -> a)
              navAgg += (NavKey.Agg("cnt", c.toLowerCase) -> a)
            case ("SUM", c) =>
              // the non-null counter rides along so the serve can mask
              // an all-NULL group's 0 back to ANSI NULL
              sums += c; cnts += c
              val a = Option(alias).getOrElse(s"sum_$c")
              serve += (ServeCol.Sum(c) -> a)
              navAgg += (NavKey.Agg("sum", c.toLowerCase) -> a)
              navSum += (a -> s"sum_$c")
            case ("AVG", c) =>
              // AVG = SUM / COUNT(col) at READ time — zero new state
              // mechanics, both constituents are already maintainable
              sums += c; cnts += c
              val a = Option(alias).getOrElse(s"avg_$c")
              serve += (ServeCol.Avg(c) -> a)
              navAgg += (NavKey.Agg("avg", c.toLowerCase) -> a)
              navSum += (a -> s"sum_$c")
            case ("MIN", c) =>
              mins += c
              val a = Option(alias).getOrElse(s"min_$c")
              serve += (ServeCol.State(s"min_$c") -> a)
              navAgg += (NavKey.Agg("min", c.toLowerCase) -> a)
            case ("MAX", c) =>
              maxs += c
              val a = Option(alias).getOrElse(s"max_$c")
              serve += (ServeCol.State(s"max_$c") -> a)
              navAgg += (NavKey.Agg("max", c.toLowerCase) -> a)
            case _ => fail(s"unsupported aggregate $fn0($arg0)")
          }
        case identRe(g, alias) if groups.contains(unqualify(g)) =>
          val gc = unqualify(g)
          groupAliases(gc) = Option(alias).getOrElse(gc)
        case aggExprRe(fn0, arg0, alias0) =>
          val fn = fn0.toUpperCase
          val alias = Option(alias0).getOrElse(fail(
            s"expression aggregate $fn($arg0) needs an explicit " +
              "AS alias to serve as a column name"))
          val dn = derivedName(arg0)
          fn match {
            case "COUNT" =>
              cnts += dn; serve += (ServeCol.State(s"cnt_$dn") -> alias)
              navAgg += (NavKey.Agg("cnt", navSrc(arg0)) -> alias)
            case "SUM" =>
              sums += dn; cnts += dn
              serve += (ServeCol.Sum(dn) -> alias)
              navAgg += (NavKey.Agg("sum", navSrc(arg0)) -> alias)
              navSum += (alias -> s"sum_$dn")
            case "AVG" => sums += dn; cnts += dn
              serve += (ServeCol.Avg(dn) -> alias)
              navAgg += (NavKey.Agg("avg", navSrc(arg0)) -> alias)
              navSum += (alias -> s"sum_$dn")
            case "MIN" =>
              mins += dn; serve += (ServeCol.State(s"min_$dn") -> alias)
              navAgg += (NavKey.Agg("min", navSrc(arg0)) -> alias)
            case "MAX" =>
              maxs += dn; serve += (ServeCol.State(s"max_$dn") -> alias)
              navAgg += (NavKey.Agg("max", navSrc(arg0)) -> alias)
          }
        // a GROUP BY expression repeated in the SELECT list: matched by
        // normalized text, alias mandatory (the expression is no name)
        case exprAliasRe(body, alias) if groupExprNames.exists(dn =>
            normText(derivedExprs(dn)) == normText(body)) =>
          val nb = normText(body)
          groupAliases(groupExprNames.find(dn =>
            normText(derivedExprs(dn)) == nb).get) = alias
        case item if groupExprNames.exists(dn =>
            normText(derivedExprs(dn)) == normText(item)) =>
          fail(s"GROUP BY expression select item '$item' needs an " +
            "explicit AS alias to serve as a column name")
        case other => fail(s"select item '$other' is neither a GROUP BY " +
          s"column (${groups.mkString(", ")}) nor " +
          "COUNT(*)/COUNT/SUM/AVG/MIN/MAX([DISTINCT] col | row-local " +
          "expression AS alias) nor APPROX_COUNT_DISTINCT(col | expr " +
          "AS alias) nor VARIANCE/VAR_SAMP/VAR_POP/STDDEV/STDDEV_SAMP/" +
          "STDDEV_POP(col | expr AS alias) nor MEDIAN(col)/" +
          "PERCENTILE_CONT(col, p)/APPROX_PERCENTILE(col, p)")
      }

    val fact = graftTable(factName)
    // semantic WHERE validation, against the maintained relation's own
    // schema (the single-table sieve sees the payload AND the temporal
    // columns — `_valid_from < '2030-01-01'` is a legitimate row-local
    // predicate); the join form validates against the joined payload
    // schema below
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
    if (joinSpecs.isEmpty) {
      // lazy: only forced when something validates against it — an
      // empty log (no txs yet) must still allow a plain CREATE
      lazy val base = fact.current(spark)
      whereOpt.foreach(w => validateWhere(base, w))
      checkVarStdNumeric(base)
      derivedExprs.foreach { case (dn, e) =>
        validateExpr(base, e, derivedLabel(dn, e))
      }
    }
    val serveAll =
      groups.map(g => (ServeCol.Group(g): ServeCol) -> groupAliases(g)) ++
        serve.result()
    // navigation metadata, shared shape across both view forms
    val navGroupOut: Seq[(String, String)] = groups.map { g =>
      val src =
        if (derivedExprs.contains(g)) normText(derivedExprs(g))
        else g.toLowerCase
      src -> groupAliases(g)
    }
    // normalized src -> PHYSICAL state column (the aux pair views'
    // group columns — residual substitution on an aux scan needs them)
    val navGroupPhys: Seq[(String, String)] = groups.map { g =>
      val src =
        if (derivedExprs.contains(g)) normText(derivedExprs(g))
        else g.toLowerCase
      src -> g
    }
    def navInfo(joinsNav: Seq[(String, String, Boolean)],
                freshFn: () => Boolean,
                auxNav: Map[String, DistinctAuxNav]): NavInfo =
      NavInfo(factName.toLowerCase, joinsNav, whereOpt.map(normText),
        navGroupOut, navAgg.result(), navSum.result(), validAt, trusted,
        freshFn, navGroupPhys, auxNav)
    // an aux pair view needs exactly the derived definitions its own
    // group key uses: the view's derived group keys plus (when the
    // DISTINCT argument is an expression) the argument itself
    def auxDerived(d: String): Seq[(String, String)] =
      (groups :+ d).distinct.filter(derivedExprs.contains)
        .map(n => n -> derivedExprs(n))
    val handle =
      if (joinSpecs.isEmpty) {
        val nb = buckets.getOrElse(32)
        (distincts ++ hlls.result() ++ pcts.map(_.arg)).filterNot(d =>
            fact.payloadColumns.contains(d) || derivedExprs.contains(d))
          .foreach(d => fail(s"aggregate argument $d must be a payload " +
            s"column of $factName (or a row-local expression)"))
        val mvDir = matviewDir(factName, "matview", name)
        // each DISTINCT argument's auxiliary pair-level view, nested
        // inside the main state dir and BUCKETED ON THE PARENT GROUP
        // PREFIX (same bucket count) so the main refresh's rollup scan
        // partition-prunes to its affected buckets — [[MvDistinct]].
        // The MAIN view drives the auxes from inside its own refresh
        // (pin-to-recorded-watermark, then rollup into main state);
        // reads serve from the main state alone.
        val auxes: Seq[graft.bitemporal.MvDistinct] =
          distincts.toSeq.map { d =>
            // a range-layout main view range-partitions the aux on the
            // same leading key, so the rollup's affected-values filter
            // prunes aux dirs exactly like the hash case prunes buckets
            val a = fact.matviewAt(mvDir.resolve("_dist").resolve(d),
              (groups :+ d).distinct, validAt, nb, whereOpt,
              auxDerived(d), bucketCols = effBucketKey, rangeLayout)
            graft.bitemporal.MvDistinct(d, distinctSums.contains(d),
              sess => a.readRaw(sess),
              (ws, sh) => { a.refreshUpTo(Some(ws.head), sh): Unit })
          }
        val mv = fact.matviewN(name, groups, sums.result().distinct, validAt,
          nb, mins.result(), maxs.result(),
          cnts.result().distinct, whereOpt, derivedExprs.toSeq, auxes,
          hlls.result().distinct, rangeLayout, pcts.toSeq,
          bucketCols = bucketKeyCols)
        val auxNav = auxes.flatMap(a => distinctNavSrc.get(a.arg).map(
          src => src -> DistinctAuxNav(a.arg, a.readAux))).toMap
        Handle(name, serveAll, havingOpt,
          sess => mv.read(sess),
          () => (mv.refresh(), Option.empty[Long]),
          mvDir, canonicalDdl(nb), navInfo(Nil, () => mv.isFresh, auxNav))
      } else {
        // each JOIN clause is one spoke of the star: resolve the dim
        // table and read the fact fk off its ON clause; LEFT spokes
        // keep facts with NULL/dangling fks as NULL-extended rows
        val dims: Seq[(graft.GraftTable, String)] = joinSpecs.map {
          case (dn, on, _) =>
            val dim = graftTable(dn)
            // top-level split only: an '=' inside a (hypothetical)
            // literal or parens must not shear the clause
            val sides = BitemporalDml.splitTopLevel(on, '=').map(_.trim)
            if (sides.length != 2)
              fail(s"ON clause must be fk = ${dn}._id, got '$on'")
            val dimIdSide = sides.indexWhere(s =>
              unqualify(s).equalsIgnoreCase("_id") &&
                (!s.contains(".") ||
                  s.toLowerCase.startsWith(dn.toLowerCase + ".")))
            if (dimIdSide < 0)
              fail(s"ON clause must equate a fact column with ${dn}._id, " +
                s"got '$on'")
            dim -> unqualify(sides(1 - dimIdSide))
        }
        val leftJoins: Seq[Boolean] = joinSpecs.map(_._3)
        // the join sieve sees every side's PAYLOAD columns (names are
        // disjoint by construction; temporal/_id columns would be
        // ambiguous across the join and are not served to it) — the
        // semantic validation runs over exactly that schema
        lazy val joinedBase = dims.foldLeft(
            fact.current(spark).select(fact.payloadColumns.map(col): _*)) {
          case (acc, (dim, _)) => acc.crossJoin(
            dim.current(spark).select(dim.payloadColumns.map(col): _*))
        }
        whereOpt.foreach(w => validateWhere(joinedBase, w))
        checkVarStdNumeric(joinedBase)
        derivedExprs.foreach { case (dn, e) =>
          validateExpr(joinedBase, e, derivedLabel(dn, e))
        }
        val nb = buckets.getOrElse(64)
        val allPayload =
          fact.payloadColumns ++ dims.flatMap(_._1.payloadColumns)
        (distincts ++ hlls.result() ++ pcts.map(_.arg)).filterNot(d =>
            allPayload.contains(d) || derivedExprs.contains(d))
          .foreach(d => fail(s"aggregate argument $d must be a payload " +
            "column of a joined table (or a row-local expression)"))
        val mvDir = matviewDir(factName, "join_matview", name)
        // star-form auxes: same parent-prefix bucketing,
        // driven-by-the-main-refresh contract and rebuild sharing as the
        // single-table form
        val auxes: Seq[graft.bitemporal.MvDistinct] =
          distincts.toSeq.map { d =>
            val a = fact.starMatviewAt(mvDir.resolve("_dist").resolve(d),
              dims, (groups :+ d).distinct, validAt, nb, whereOpt,
              auxDerived(d), bucketCols = effBucketKey, rangeLayout, leftJoins)
            graft.bitemporal.MvDistinct(d, distinctSums.contains(d),
              sess => a.readRaw(sess),
              (ws, sh) => { a.refreshUpTo(Some(ws), sh): Unit })
          }
        val mv = fact.starMatview(name, dims, groups,
          sums.result().distinct, validAt, nb,
          mins.result(), maxs.result(), cnts.result().distinct, whereOpt,
          derivedExprs.toSeq, auxes, hlls.result().distinct, rangeLayout,
          leftJoins, pcts.toSeq, bucketCols = bucketKeyCols)
        val joinsNav = joinSpecs.zip(dims).map {
          case ((dn, _, left), (_, fk)) =>
            (dn.toLowerCase, fk.toLowerCase, left)
        }
        val auxNav = auxes.flatMap(a => distinctNavSrc.get(a.arg).map(
          src => src -> DistinctAuxNav(a.arg, a.readAux))).toMap
        Handle(name, serveAll, havingOpt,
          sess => mv.read(sess),
          () => { val (a, b) = mv.refresh(); (a, Some(b)) },
          mvDir, canonicalDdl(nb),
          navInfo(joinsNav, () => mv.isFresh, auxNav))
      }

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
      val tmp = handle.stateDir.resolve("_ddl.tmp")
      java.nio.file.Files.write(tmp,
        handle.ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, handle.stateDir.resolve("_ddl"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } catch { case e: Throwable =>
      // e.g. an empty source table: state schema is unknowable until
      // data lands — don't leave a half-registered view behind
      views.remove(key(name)); dropState(); throw e
    }
    import spark.implicits._
    Seq((name, a, b.map(long2Long).orNull)).toDF("view", "fact_tx", "dim_tx")
  }

  private def matviewDir(tableName: String, kind: String, name: String)
      : java.nio.file.Path = {
    // mirror GraftTable's placement: <table dir>/<kind>/<name>
    val dir = GraftServer.registered.collectFirst {
      case (n, t) if n.equalsIgnoreCase(tableName) => t
    }.map(_.tableDir).getOrElse(fail(s"table $tableName vanished"))
    java.nio.file.Paths.get(dir, kind, name)
  }

  // The DISTINCT serve/refresh composition (the r13 Aux machinery:
  // read-time rollup joins, crash-skew heal, the composite
  // refresh-with-auxes lease) moved INTO Matview/JoinMatview as
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
