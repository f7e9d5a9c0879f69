package graft.server

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  LeafExpression, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit,
  Sort}
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

import graft.bitemporal.{BitemporalDml, BitemporalSql, SqlText}

/** Transparent aggregate navigation (the classic materialized-view
  * QUERY REWRITE): a plain `SELECT g…, AGG(…)… FROM fact [JOIN dim ON
  * fk = dim._id…] [WHERE …] GROUP BY g… [HAVING …] [ORDER BY …]
  * [LIMIT n]` over a graft-REGISTERED table is answered from a
  * registered matview's maintained state when — and only when — the
  * rewrite is provably observationally identical:
  *
  *   - **definition subsumption**: same fact, same join spokes (dim,
  *     fk, INNER/LEFT), the view's WHERE conjuncts a sub-multiset of
  *     the query's top-level AND conjuncts (normalized text per
  *     conjunct) — the RESIDUAL conjuncts must reference only the
  *     view's GROUP BY columns, which serve verbatim in state, so
  *     filtering served groups equals filtering base rows (every row
  *     of a group shares its group values; the predicate commutes with
  *     GROUP BY exactly, 3VL included) — the query's GROUP BY a
  *     (non-strict) subset of the view's, every aggregate matched by
  *     kind + normalized argument against metadata recorded AT CREATE
  *     from the DDL parse itself (never re-derived from text, so the
  *     two sides cannot drift); a query HAVING is decomposed into
  *     aggregate calls (matched like select items) and group-column
  *     references, then applied over the served relation — state keeps
  *     every group, so the post-filter is exact;
  *   - **freshness**: the view's recorded watermark covers every log's
  *     last tx (one directory listing per log, [[graft.bitemporal
  *     .Matview.isFresh]]) — an unrefreshed view NEVER serves a
  *     base-table query, so the rewrite is invisible to staleness;
  *   - **basis**: a `FOR APPLICATION_TIME AS OF <ts>` (SQL:2011
  *     valid-time) query rewriting onto a SINGLE-TABLE view with
  *     `valid_at = <ts>` is exact by construction; for a JOIN view the
  *     pin is NOT enough — SQL:2011 temporal clauses are per-table, so
  *     the query's (un-claused) dims serve AS OF now on the base path
  *     while the view's state pins dims at valid_at (a future-dated or
  *     expired dim row diverges silently) — join views additionally
  *     require `rewrite = 'trusted'`. A BARE `FROM fact` serves the
  *     CURRENT basis, which a fixed-basis view cannot prove it
  *     matches — those rewrite only when the view was created
  *     `WITH (rewrite = 'trusted')`, the user's standing assertion
  *     that the basis serves their current-basis queries (Oracle's
  *     QUERY REWRITE trust model; the same assertion made by querying
  *     the view by name);
  *   - **exactness**: aggregates whose served value could differ from
  *     a from-scratch computation in the last ulps are excluded —
  *     float/double SUM/AVG state (order-sensitive sums, checked
  *     against the raw state schema, MISSING state column = refuse),
  *     the VARIANCE/STDDEV family (served by formula where Spark
  *     computes Welford), percentiles (double-cast members) and
  *     APPROX_COUNT_DISTINCT (a different sketch than Spark's);
  *     COUNT/SUM/MIN/MAX/AVG over exact types and the exact DISTINCT
  *     family rewrite freely;
  *   - **schema gate**: the final backstop ANALYZES both texts and
  *     requires identical column names and types — any case the
  *     matcher missed (AVG's decimal-vs-double spelling, dialect
  *     corners) falls back to the base plan rather than ship a
  *     schema-drifted result. The base side's schema is MEMOIZED per
  *     (normalized statement, referenced tables' log generations): a
  *     table's rectangle schema can only change through a new tx file
  *     (or truncation point), both visible in one directory listing —
  *     so a repeated dashboard query pays the base-plan analysis (which
  *     runs real Spark jobs over the tx tail) exactly once per
  *     table-generation, not per query.
  *
  * GROUP-BY-subset queries — including the GLOBAL aggregate (`SELECT
  * COUNT(*) … FROM fact`, no GROUP BY: every view group merges into
  * the one output row, with COUNT coalesced to ANSI 0 over an empty
  * state) — re-aggregate the state (`SUM(n)`,
  * `SUM(sum_x)` cast back to the state's type, `MIN(min_x)`,
  * AVG = Σsum/Σcnt — needs the view to also serve SUM and COUNT of the
  * argument). DISTINCT aggregates are NOT additive across merged
  * groups, so their rollup re-aggregates the view's auxiliary PAIR
  * state instead (the exact distinct (group, value) pairs every
  * DISTINCT aggregate already maintains): the rewrite LEFT JOINs the
  * main-state rollup (which anchors every group) with a
  * `COUNT/SUM/AVG(DISTINCT value)` over the still-live pairs at the
  * query's granularity — a from-scratch DISTINCT over the same value
  * sets, so exactness is inherited, with `COALESCE(…, 0)` restoring
  * ANSI `COUNT(DISTINCT) = 0` / `SUM(DISTINCT) = NULL` for groups
  * whose last non-null pair vanished. The payoff at scale is the
  * whole point of matviews made transparent: a dashboard aggregate
  * over a 100 TB fact table becomes a scan of ∝-groups state (pair
  * state for DISTINCT: ∝ distinct pairs) with
  * [[graft.plans.MvBucketPrune]] still applying underneath — and a
  * residual `WHERE grp = 'x'` composes with the prune rule into a
  * one-directory read on the main AND aux scans alike.
  *
  * Observability: `EXPLAIN REWRITE <select>` ([[explainRewrite]],
  * wired in [[GraftSql]] and the session parser) reports whether the
  * statement navigates, onto which view, the rewritten text, and —
  * on a miss — the first gate that refused, per candidate view. A
  * matcher exception is still never an error (the base path serves),
  * but it is logged once per distinct message instead of swallowed.
  *
  * Kill switch: `SET spark.graft.matview.rewrite = false` (session
  * conf, checked per statement). A failed or missed match is never an
  * error — the statement just runs on the base path.
  */
object GraftMvNav {
  import GraftMatviews.{NavKey, Handle, navSrc, normText, unqualify}

  private val inNav = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  // ---- decision trace (EXPLAIN REWRITE) ------------------------------

  private val traceTL = new ThreadLocal[java.util.ArrayList[String]]

  private def note(msg: => String): Unit = {
    val t = traceTL.get()
    if (t != null) { t.add(msg): Unit }
  }

  private lazy val logger =
    org.slf4j.LoggerFactory.getLogger("graft.server.GraftMvNav")
  // one warn per distinct failure message: a systematically broken
  // matcher must not manifest ONLY as mysteriously slow dashboards,
  // and must not spam a log line per statement either
  private val loggedErrors = TrieMap.empty[String, Unit]

  /** The `EXPLAIN REWRITE <stmt>` surface: run the full matcher with a
    * decision trace. Returns (rewritten text if navigation fired, the
    * gate-by-gate trace — on a miss, the first refusing gate per
    * candidate view, by name). */
  def explainRewrite(session: SparkSession, sql: String)
      : (Option[String], Seq[String]) = {
    val buf = new java.util.ArrayList[String]()
    traceTL.set(buf)
    try {
      val r = rewrite(session, sql)
      val out = new scala.collection.mutable.ArrayBuffer[String]
      val it = buf.iterator()
      while (it.hasNext) out += it.next()
      (r, out.toSeq)
    } finally traceTL.remove()
  }

  /** [[explainRewrite]] rendered as a one-row relation for the SQL
    * front doors: (navigated BOOLEAN, rewritten STRING?, trace STRING —
    * one gate decision per line). */
  def explainReport(session: SparkSession, sql: String)
      : org.apache.spark.sql.DataFrame = {
    val (rw, trace) = explainRewrite(session, sql)
    import session.implicits._
    Seq((rw.isDefined, rw.orNull, trace.mkString("\n")))
      .toDF("navigated", "rewritten", "trace")
  }

  /** Attempt the rewrite; None = run the statement on the base path. */
  def rewrite(session: SparkSession, sql: String): Option[String] = {
    if (inNav.get()) return None
    val handles = GraftMatviews.navHandles
    if (handles.isEmpty) { note("no registered materialized views"); return None }
    if (session.conf.get("spark.graft.matview.rewrite", "true")
        .equalsIgnoreCase("false")) {
      note("kill switch: spark.graft.matview.rewrite = false")
      return None
    }
    val text = SqlText.stripLeadingComments(sql).trim
    if (!text.take(6).equalsIgnoreCase("SELECT")) {
      note("not a SELECT statement"); return None
    }
    // cheap pre-gate for the hot wire path: a statement that does not
    // even CONTAIN a candidate fact table's name can never match —
    // skip all parsing (the substring test over-admits, the full
    // matcher below decides)
    locally {
      val lower = text.toLowerCase
      if (!handles.exists(h => lower.contains(h.nav.fact))) {
        note("no view's fact table is referenced"); return None
      }
    }
    if (BitemporalDml.splitTopLevel(text, ';').size != 1) {
      note("multi-statement text"); return None
    }
    inNav.set(true)
    try attempt(session, sql, text.stripSuffix(";").trim, handles)
    catch {
      case e: Exception => // a miss is never an error — but log it once
        note(s"matcher error (base path serves): $e")
        val k = e.getClass.getName + ": " + String.valueOf(e.getMessage)
        // bounded: adversarial statement streams must not grow the
        // dedup set (past the cap, new messages just stop logging)
        if (loggedErrors.size < 128 && loggedErrors.putIfAbsent(k, ()).isEmpty)
          logger.warn("aggregate-navigation matcher failed; the base " +
            s"path serves (further identical errors suppressed): $k")
        None
    }
    finally inNav.set(false)
  }

  // ---- query-side parsing -------------------------------------------

  /** `FROM fact FOR APPLICATION_TIME AS OF [TIMESTAMP] '<ts>'` — the
    * one temporal clause navigation understands (the SQL:2011
    * valid-time pin, the spelling [[BitemporalSql]] parses; it pins
    * the basis the view can match EXACTLY). Any other temporal clause
    * skips. */
  private val forValidRe =
    ("(?is)\\bFROM\\s+([A-Za-z_]\\w*)\\s+FOR\\s+APPLICATION_TIME\\s+" +
      "AS\\s+OF\\s+(?:TIMESTAMP\\s+)?'([^']+)'").r
  private val anyForRe =
    "(?i)\\bFOR\\s+(?:ALL\\s+)?(?:SYSTEM_TIME|APPLICATION_TIME)\\b".r

  private final case class QGroup(src: String, out: String)
  private final case class QAgg(key: NavKey, out: String)

  private def attempt(session: SparkSession, original: String,
                      text: String, handles: Seq[Handle]): Option[String] = {
    // the FOR VALID_TIME basis pin, if present (exactly one, nothing
    // else temporal)
    var forTs: Option[Timestamp] = None
    val core = forValidRe.findFirstMatchIn(text) match {
      case Some(m) if !SqlText.masked(SqlText.maskedSpans(text), m.start) =>
        forTs = Some(
          try Timestamp.valueOf(m.group(2))
          catch { case _: IllegalArgumentException =>
            note("unparseable FOR APPLICATION_TIME timestamp"); return None })
        text.substring(0, m.start) + s"FROM ${m.group(1)}" +
          text.substring(m.end)
      case _ => text
    }
    if (anyForRe.findFirstMatchIn(core).exists(m =>
        !SqlText.masked(SqlText.maskedSpans(core), m.start))) {
      note("unsupported temporal clause (only FOR APPLICATION_TIME AS " +
        "OF '<ts>' on the fact table navigates)")
      return None
    }

    val q =
      try GraftMatviews.parseSelect(core, ddl = false)
      catch { case _: IllegalArgumentException =>
        note("not a plain aggregate SELECT (FROM/JOIN/GROUP BY shape)")
        return None }
    val qJoins = q.joins.map { case (d, fk, left) =>
      (d.toLowerCase, fk.toLowerCase, left) }

    // an EMPTY group list is the GLOBAL aggregate (`SELECT COUNT(*) …
    // FROM fact`, no GROUP BY) — the degenerate rollup: every view
    // group merges into the one output row
    val qGroupSrcs = q.groups.map(g => navSrc(q.raw(g)))
    if (qGroupSrcs.distinct.size != qGroupSrcs.size) {
      note("duplicated GROUP BY columns"); return None
    }
    val qGroupSet = qGroupSrcs.toSet

    // classify every select item; any unclassifiable item = base path
    val items: Seq[Either[QGroup, QAgg]] = q.items.map { it =>
      classify(q, it, qGroupSet).getOrElse {
        note(s"select item not servable from state: '${q.text(it)}' " +
          "(aggregates need an explicit AS alias)")
        return None
      }
    }
    // aggregates need ≥1 to be a rewrite worth doing
    if (!items.exists(_.isRight)) { note("no aggregates in the select " +
      "list"); return None }

    // the query's HAVING: its aggregate calls must match view aggregates
    // (keyed like select items) and everything else reference only the
    // query's group columns — substituted per candidate view in build()
    val hvKeys = scala.collection.mutable.ArrayBuffer.empty[NavKey]
    q.having.foreach { hv =>
      if (subst(q, hv, qGroupSet.map(g => g -> g).toMap,
          c => GraftMatviews.navKey(c).map { k => hvKeys += k; "" }).isEmpty) {
        note(s"HAVING not servable from state: '${q.text(hv)}' (aggregate " +
          "calls must match view aggregates; bare identifiers must " +
          "be GROUP BY columns)")
        return None
      }
    }

    // the query's WHERE as top-level conjuncts: a candidate view's
    // WHERE conjuncts must be a sub-multiset (normalized), the rest is
    // the residual applied over the served relation
    val qConj = q.conjuncts.map(c => (c, normText(q.raw(c))))
    val fact = q.fact.toLowerCase

    def residualOf(h: Handle): Option[Seq[Expression]] = {
      val pool = scala.collection.mutable.ArrayBuffer(qConj: _*)
      val allMatched = h.nav.whereConj.forall { vn =>
        val i = pool.indexWhere(_._2 == vn)
        if (i >= 0) { pool.remove(i); true } else false
      }
      if (allMatched) Some(pool.map(_._1).toSeq) else None
    }

    // candidate views, cheapest gates first; freshness (a directory
    // listing) and the schema analyses only for full structural matches
    val ordered = handles.flatMap { h =>
      def miss(why: String): Option[(Handle, Seq[Expression])] = {
        if (h.nav.fact == fact) note(s"view ${h.name}: $why")
        None
      }
      if (h.nav.fact != fact) None
      else if (h.having.nonEmpty)
        miss("view has its own HAVING (state is group-filtered at read)")
      else if (h.nav.joins != qJoins) miss("join spokes differ")
      else if (!qGroupSet.subsetOf(h.nav.groupOut.map(_._1).toSet))
        miss("query GROUP BY is not a subset of the view's")
      else residualOf(h) match {
        case None => miss("query WHERE does not contain the view's " +
          "WHERE conjuncts")
        case Some(residual) =>
          forTs match {
            case Some(t) =>
              if (!t.equals(h.nav.validAt))
                miss(s"basis mismatch: query pins $t, view valid_at = " +
                  s"${h.nav.validAt}")
              // the SQL:2011 pin is PER-TABLE: it attaches only to the
              // fact, so the query's (un-claused) dims serve AS OF now
              // on the base path while the view pins dims at valid_at —
              // a join view is only exact under the user's standing
              // 'trusted' assertion
              else if (h.nav.joins.nonEmpty && !h.nav.trusted)
                miss("FOR APPLICATION_TIME pins only the fact table; a " +
                  "JOIN view's dims are pinned at valid_at, so the " +
                  "rewrite needs rewrite = 'trusted'")
              else Some((h, residual))
            case None =>
              if (!h.nav.trusted)
                miss("bare FROM serves the current basis; a fixed-basis " +
                  "view rewrites only WITH (rewrite = 'trusted')")
              else Some((h, residual))
          }
      }
    }.sortBy { case (h, residual) =>
      (if (h.nav.groupOut.size == qGroupSrcs.size) 0 else 1,
        residual.size, h.nav.groupOut.size)
    }
    ordered.iterator.flatMap { case (h, residual) =>
      build(session, original, q, h, items, hvKeys.toSeq.distinct, residual,
        qGroupSrcs)
    }.nextOption()
  }

  /** One select item → group ref or aggregate key (query side).
    * Aggregates need an explicit alias (the rewrite must reproduce the
    * query's output names; Spark's auto-names for unaliased aggregates
    * are not worth replicating). */
  private def classify(q: GraftMatviews.MvSelect, item: Expression,
                       qGroups: Set[String]): Option[Either[QGroup, QAgg]] = {
    val (body, alias) = q.aliased(item)
    body match {
      case a: UnresolvedAttribute if qGroups.contains(navSrc(q.raw(a))) =>
        Some(Left(QGroup(navSrc(q.raw(a)), alias.getOrElse(unqualify(q.raw(a))))))
      case _ => q.aggCall(body) match {
        case Some(c) =>
          for (k <- GraftMatviews.navKey(c); a <- alias) yield Right(QAgg(k, a))
        case None =>
          val src = normText(q.raw(body))
          alias.filter(_ => qGroups.contains(src)).map(a => Left(QGroup(src, a)))
      }
    }
  }

  // ---- group-column reference substitution ----------------------------

  /** The source of `e` with every group reference replaced by its
    * backticked column in `groups` (keyed by normalized source: a bare
    * column, or any subtree whose text IS a GROUP BY expression, e.g.
    * the time-window dashboard's `date_trunc('month', ts) >= X`, which
    * then composes with range-dir pruning) and every aggregate call by
    * `agg`'s text. Edits land at the nodes' source offsets, so the
    * operators, literals and parentheses around them stay as written.
    * A group value serves verbatim, so any predicate over it commutes
    * with GROUP BY exactly. None = `e` reads something not provably a
    * verbatim-served group value — an ungrouped column, a call or cast
    * that is not a GROUP BY expression, a subquery, or a backticked
    * identifier (it could collide with an aggregate's served alias) —
    * and the statement falls back to the base path. */
  private def subst(q: GraftMatviews.MvSelect, e: Expression,
      groups: Map[String, String],
      agg: GraftMatviews.AggCall => Option[String]): Option[String] = {
    val (lo, hi) = q.wideSpan(e)
    if (q.src.substring(lo, hi).indexOf('`') >= 0) return None
    val edits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    def edit(x: Expression, to: String): Boolean = {
      val (s, t) = q.span(x); edits += ((s, t, to)); true
    }
    def walk(x: Expression): Boolean = {
      lazy val src = normText(q.raw(x))
      x match {
        case a: UnresolvedAttribute =>
          groups.get(navSrc(q.raw(a))).exists(g => edit(a, s"`$g`"))
        case _: Literal => true
        case _ if groups.contains(src) => edit(x, s"`${groups(src)}`")
        case f: UnresolvedFunction if q.aggCall(f).isDefined =>
          q.aggCall(f).flatMap(agg).exists(edit(f, _))
        // `x BETWEEN lo AND hi` parses as a call; it is an operator here
        case f: UnresolvedFunction if f.nameParts.map(_.toLowerCase) ==
            Seq("between") => f.arguments.forall(walk)
        case _: UnresolvedFunction | _: Cast | _: PlanExpression[_] |
            _: LeafExpression => false
        case _ => x.children.forall(walk)
      }
    }
    if (!walk(e)) return None
    val sb = new StringBuilder
    var at = lo
    edits.sortBy(_._1).foreach { case (s, t, to) =>
      sb.append(q.src.substring(at, s)).append(to); at = t }
    Some(sb.append(q.src.substring(at, hi)).toString)
  }

  // ---- the per-kind exactness/rollup rules (see the object doc) ------

  private val directKinds =
    Set("n", "cnt", "sum", "avg", "min", "max", "cntd", "sumd", "avgd")
  private val rollupKinds = Set("n", "cnt", "sum", "avg", "min", "max")
  // roll up from the aux PAIR state, not the main state (a distinct
  // count is not additive across merged groups — but the pairs are
  // the exact distinct value sets, so re-aggregating THEM is)
  private val distinctKinds = Set("cntd", "sumd", "avgd")

  // ---- memoized schema backstop ---------------------------------------

  // base-plan output schema per (normalized statement, referenced
  // tables' identities + log generations); None = the base analysis
  // threw (memoized too — the statement will throw identically on the
  // base path until a new tx lands). LRU-capped: an ad-hoc query storm
  // must not grow the driver heap.
  private val schemaMemoMax = 512
  private val schemaMemo =
    new java.util.LinkedHashMap[String, Option[StructType]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[StructType]]): Boolean =
        size() > schemaMemoMax
    }

  private def baseSchema(session: SparkSession, original: String)
      : Option[StructType] = {
    val refs = GraftServer.registered.toSeq.filter { case (n, _) =>
      java.util.regex.Pattern
        .compile(s"(?i)\\b${java.util.regex.Pattern.quote(n)}\\b")
        .matcher(original).find()
    }.sortBy(_._1)
    // the rectangle schema of a table can only change through a new tx
    // file or a truncation point — both visible in one directory
    // listing (logGeneration), no Spark job
    val key = normText(original) + " " + refs.map { case (n, t) =>
      s"$n@${t.location}@${t.logGeneration}"
    }.mkString(" ")
    schemaMemo.synchronized {
      val hit = schemaMemo.get(key)
      if (hit != null) return hit
    }
    val computed =
      try Some(BitemporalSql.sql(session, original,
        refs.map { case (n, t) => n -> t.rectangles(session) }.toMap).schema)
      catch { case _: Exception => None }
    schemaMemo.synchronized { schemaMemo.put(key, computed): Unit }
    computed
  }

  /** For tests: forget memoized base schemas. */
  private[server] def resetMemo(): Unit =
    schemaMemo.synchronized { schemaMemo.clear() }

  // ---- building the rewritten statement -------------------------------

  private def build(session: SparkSession, original: String,
                    q: GraftMatviews.MvSelect, h: Handle,
                    items: Seq[Either[QGroup, QAgg]], hvKeys: Seq[NavKey],
                    residual: Seq[Expression], qGroupSrcs: Seq[String])
      : Option[String] = {
    def miss(why: String): Option[String] = { note(s"view ${h.name}: $why")
      None }
    // the staleness gate LAST among the structural checks (it lists a
    // log directory per backing table): an unrefreshed view never
    // serves a base-table query
    if (!h.nav.fresh())
      return miss("stale (a tx past the recorded watermark; REFRESH " +
        "restores navigation)")

    val vGroup = h.nav.groupOut.toMap
    val vAgg = h.nav.aggOut.toMap
    val equal = h.nav.groupOut.size == qGroupSrcs.size
    def bt(id: String) = "`" + id + "`"

    // resolve every aggregate (select items AND HAVING calls) against
    // the view, applying the exactness matrix — one miss = base path
    val allKeys = (items.collect { case Right(QAgg(key, _)) => key } ++
      hvKeys).distinct
    val aggAliases = allKeys.map { key =>
      val kindOk = key match {
        case NavKey.Agg(k, a) =>
          if (equal) directKinds.contains(k)
          // DISTINCT aggregates roll up EXACTLY from the aux pair
          // state (the distinct (group, value) pairs that still
          // exist): re-aggregating them at the query's granularity is
          // a from-scratch DISTINCT over the same value sets
          else rollupKinds.contains(k) ||
            (distinctKinds.contains(k) && h.nav.distinctAux.contains(a))
        case _: NavKey.Pct => false // double-cast members: ulp drift
      }
      if (!kindOk)
        return miss(s"aggregate $key is not ${if (equal) "servable"
          else "re-aggregable across merged groups"} (exactness matrix)")
      vAgg.get(key) match {
        case Some(a) => key -> a
        case None => return miss(s"view does not serve aggregate $key")
      }
    }.toMap

    // float/double sums are order-sensitive: the incremental value can
    // differ from a from-scratch SUM in the last ulps, so the rewrite
    // (which promises bit-identical answers) refuses them — and a
    // MISSING state column refuses too (fail closed: naming drift
    // between navSum and the state schema must never fail open)
    lazy val stateSchema = h.read(session).schema
    val sumExact = aggAliases.forall { case (key, alias) =>
      val needsCheck = key match {
        case NavKey.Agg(k, _) => k == "sum" || k == "avg" ||
          k == "sumd" || k == "avgd"
        case _ => false
      }
      !needsCheck || h.nav.sumState.get(alias).exists { stateCol =>
        stateSchema.find(_.name == stateCol).exists(f =>
          f.dataType != DoubleType && f.dataType != FloatType)
      }
    }
    if (!sumExact)
      return miss("float/double SUM state is order-sensitive (ulp " +
        "drift) — exactness gate")

    // rollup AVG needs the view to ALSO serve SUM and COUNT of the arg
    if (!equal) {
      val avgOk = allKeys.forall {
        case NavKey.Agg("avg", arg) =>
          vAgg.contains(NavKey.Agg("sum", arg)) &&
            vAgg.contains(NavKey.Agg("cnt", arg))
        case _ => true
      }
      if (!avgOk)
        return miss("AVG rollup needs the view to serve SUM and COUNT " +
          "of the argument")
    }

    // the rewritten text references the view by name: bind it in this
    // session first (same registration refreshReferenced performs)
    GraftMatviews.bindForNav(session, h)
    lazy val servedSchema = session.table(h.name).schema

    // one served expression per aggregate key — the select list uses it
    // aliased, a HAVING uses it bare
    def servedExpr(key: NavKey): Option[String] = {
      val a = aggAliases(key)
      if (equal) Some(bt(a))
      else key match {
        case NavKey.Agg("n" | "cnt", _) =>
          // the GLOBAL rollup of an EMPTY state must serve 0 (ANSI
          // COUNT over no rows), not SUM's NULL; grouped rollups never
          // see the NULL (every output group has ≥1 state row)
          if (qGroupSrcs.isEmpty)
            Some(s"COALESCE(SUM(${bt(a)}), CAST(0 AS BIGINT))")
          else Some(s"SUM(${bt(a)})")
        case NavKey.Agg("min", _) => Some(s"MIN(${bt(a)})")
        case NavKey.Agg("max", _) => Some(s"MAX(${bt(a)})")
        case NavKey.Agg("sum", _) =>
          // cast the re-aggregated sum back to the state's type so
          // decimal widening can't drift the output schema
          servedSchema.find(_.name == a).map(f =>
            s"CAST(SUM(${bt(a)}) AS ${f.dataType.sql})")
        case NavKey.Agg("avg", arg) =>
          val sa = vAgg(NavKey.Agg("sum", arg))
          val ca = vAgg(NavKey.Agg("cnt", arg))
          Some(s"CASE WHEN SUM(${bt(ca)}) > 0 THEN " +
            s"CAST(SUM(${bt(sa)}) AS DOUBLE) / SUM(${bt(ca)}) END")
        case _ => None
      }
    }

    // residual WHERE conjuncts reference only the VIEW's group columns
    // (they serve verbatim — filtering served groups IS filtering base
    // rows); substitution to served aliases, conservative grammar
    val residualSql = residual.map { c =>
      subst(q, c, vGroup, _ => None) match {
        case Some(s) => s
        case None => return miss(s"residual WHERE conjunct '${q.text(c)}' does " +
          "not reference only the view's GROUP BY columns")
      }
    }

    // trailing ORDER BY / LIMIT ride along only when they provably
    // reference the query's own output columns
    val outNames = items.map {
      case Left(QGroup(_, o)) => o.toLowerCase
      case Right(QAgg(_, o)) => o.toLowerCase
    }.toSet
    val tail = q.tailText
    if (!tailOk(q, outNames))
      return miss(s"ORDER BY/LIMIT tail '$tail' references more than " +
        "the query's own output columns")

    // DISTINCT aggregates in a ROLLUP re-aggregate the aux PAIR state,
    // not the main state — those take the join-of-subqueries form
    val distinctArgs: Seq[String] =
      if (equal) Nil
      else allKeys.collect {
        case NavKey.Agg(k, a) if distinctKinds.contains(k) => a
      }.distinct

    val rewritten: String = if (distinctArgs.isEmpty) {
      val sel = items.map {
        case Left(QGroup(src, out)) =>
          s"${bt(vGroup(src))} AS ${bt(out)}"
        case Right(QAgg(key, out)) =>
          servedExpr(key) match {
            case Some(e) => s"$e AS ${bt(out)}"
            case None => return miss(s"no served expression for $key")
          }
      }

      // the HAVING, substituted: group refs via the view's aliases,
      // aggregate calls via their served expressions
      val hvText: Option[String] = q.having.map { hv =>
        subst(q, hv, vGroup, c => GraftMatviews.navKey(c).flatMap(servedExpr))
          .getOrElse(return miss(s"HAVING '${q.text(hv)}' does not " +
            "reference only GROUP BY columns and served aggregates"))
      }

      // equal groups: state rows ARE the output groups, so the HAVING
      // is one more WHERE conjunct; a rollup keeps it as a real HAVING
      // over the re-aggregation
      val whereParts = residualSql ++ (if (equal) hvText.toSeq else Nil)
      val whereTail =
        if (whereParts.isEmpty) ""
        else " WHERE " + whereParts.map(c => s"($c)").mkString(" AND ")
      val groupTail =
        if (equal || qGroupSrcs.isEmpty) "" // global: one output row
        else " GROUP BY " + qGroupSrcs.map(s => bt(vGroup(s))).mkString(", ")
      val havingTail =
        if (equal) "" else hvText.map(t => s" HAVING $t").getOrElse("")

      s"SELECT ${sel.mkString(", ")} FROM ${h.name}" +
        whereTail + groupTail + havingTail +
        (if (tail.isEmpty) "" else " " + tail)
    } else {
      // ---- DISTINCT rollup: LEFT JOIN of grouped subqueries ---------
      // The main state rolls up the additive aggregates at the query's
      // granularity (and anchors EVERY group — any group with a live
      // base row has a state row); each DISTINCT argument's aux pair
      // view re-aggregates its still-live pairs (n > 0) at the same
      // granularity — a from-scratch DISTINCT over the exact value
      // sets, so the rewrite stays observationally identical. A group
      // whose every surviving pair carries a NULL value aggregates to
      // COUNT(DISTINCT) = 0 / SUM(DISTINCT) = NULL on the aux side
      // (NULL pairs ARE kept in pair state); a group with NO surviving
      // pair at all is absent there — the LEFT JOIN + COALESCE serve
      // the same ANSI shapes either way. Residual conjuncts apply to
      // BOTH sides (they reference group columns, present in main and
      // aux state alike), so MvBucketPrune prunes both scans.
      val physMap = h.nav.groupPhys.toMap
      if (physMap.isEmpty)
        return miss("view predates DISTINCT-rollup navigation metadata")
      // invariant across the per-argument subqueries below
      val physGroups = qGroupSrcs.map(s => physMap.getOrElse(s,
        return miss("view predates DISTINCT-rollup navigation metadata")))
      val resPhys = residual.map { c =>
        subst(q, c, physMap, _ => None) match {
          case Some(s2) => s2
          case None => return miss(s"residual WHERE conjunct '${q.text(c)}' " +
            "is not substitutable onto the aux pair state")
        }
      }
      val argIdx: Map[String, Int] = distinctArgs.zipWithIndex.toMap
      val gIdx: Map[String, Int] = qGroupSrcs.zipWithIndex.toMap
      def gName(i: Int) = s"_g$i"
      def hName(j: Int, i: Int) = s"_h${j}_$i"

      val mKeys = allKeys.filter {
        case NavKey.Agg(k, _) => !distinctKinds.contains(k)
        case _ => true
      }
      val mName: Map[NavKey, String] =
        mKeys.zipWithIndex.map { case (k, i) => k -> s"_m$i" }.toMap
      val mAggSel = mKeys.map { k =>
        servedExpr(k) match {
          case Some(e) => s"$e AS ${bt(mName(k))}"
          case None => return miss(s"no served expression for $k")
        }
      }
      val mSel = qGroupSrcs.zipWithIndex.map { case (s, i) =>
        s"${bt(vGroup(s))} AS ${bt(gName(i))}"
      } ++ mAggSel
      val mWhere =
        if (residualSql.isEmpty) ""
        else " WHERE " + residualSql.map(c => s"($c)").mkString(" AND ")
      val mGroupBy =
        if (qGroupSrcs.isEmpty) "" // global: one row per subquery
        else " GROUP BY " +
          qGroupSrcs.map(s => bt(vGroup(s))).mkString(", ")
      def mSub = s"(SELECT ${mSel.mkString(", ")} FROM ${h.name}" +
        s"$mWhere$mGroupBy) m"

      val auxSubs = distinctArgs.zipWithIndex.map { case (a, j) =>
        val tv = GraftMatviews.bindAuxForNav(session, h, a).getOrElse(
          return miss(s"no aux pair state for DISTINCT argument '$a'"))
        val valueCol = h.nav.distinctAux(a).valueCol
        val kinds = allKeys.collect {
          case NavKey.Agg(k, `a`) if distinctKinds.contains(k) => k
        }
        val aggSel = kinds.map {
          case "cntd" =>
            s"COUNT(DISTINCT ${bt(valueCol)}) AS ${bt(s"_dc_$j")}"
          case "sumd" =>
            s"SUM(DISTINCT ${bt(valueCol)}) AS ${bt(s"_ds_$j")}"
          case "avgd" =>
            s"AVG(DISTINCT ${bt(valueCol)}) AS ${bt(s"_da_$j")}"
        }
        val w =
          if (resPhys.isEmpty) ""
          else " WHERE " + resPhys.map(c => s"($c)").mkString(" AND ")
        val sel2 = qGroupSrcs.zipWithIndex.map { case (s, i) =>
          s"${bt(physGroups(i))} AS ${bt(hName(j, i))}"
        } ++ aggSel
        val gby =
          if (physGroups.isEmpty) ""
          else " GROUP BY " + physGroups.map(bt).mkString(", ")
        s"(SELECT ${sel2.mkString(", ")} FROM $tv$w$gby) d$j"
      }
      def onCond(j: Int): String =
        if (qGroupSrcs.isEmpty) "true" // one-row global relations
        else qGroupSrcs.indices.map(i =>
          s"m.${bt(gName(i))} <=> d$j.${bt(hName(j, i))}")
          .mkString(" AND ")
      // mSel empty = GLOBAL query with ONLY distinct aggregates: every
      // aux subquery is a one-row global aggregate, so the FIRST aux
      // anchors the join and the main state is never scanned
      val fromClause =
        if (mSel.nonEmpty)
          mSub + distinctArgs.indices.map(j =>
            s" LEFT JOIN ${auxSubs(j)} ON ${onCond(j)}").mkString
        else
          auxSubs.head + distinctArgs.indices.drop(1).map(j =>
            s" LEFT JOIN ${auxSubs(j)} ON true").mkString

      def topExpr(key: NavKey): String = key match {
        case NavKey.Agg("cntd", a) =>
          s"COALESCE(${bt(s"_dc_${argIdx(a)}")}, CAST(0 AS BIGINT))"
        case NavKey.Agg("sumd", a) => bt(s"_ds_${argIdx(a)}")
        case NavKey.Agg("avgd", a) => bt(s"_da_${argIdx(a)}")
        case k => bt(mName(k))
      }
      val topSel = items.map {
        case Left(QGroup(src, out)) =>
          s"${bt(gName(gIdx(src)))} AS ${bt(out)}"
        case Right(QAgg(key, out)) => s"${topExpr(key)} AS ${bt(out)}"
      }
      // the rollup HAVING becomes a top-level WHERE over the joined,
      // already-aggregated relation — every group survives into it
      val hvTop: Option[String] = q.having.map { hv =>
        val gMap = qGroupSrcs.zipWithIndex
          .map { case (s, i) => s -> gName(i) }.toMap
        subst(q, hv, gMap, c => GraftMatviews.navKey(c).map(topExpr))
          .getOrElse(return miss(s"HAVING '${q.text(hv)}' does not " +
            "reference only GROUP BY columns and served aggregates"))
      }
      val wTop = hvTop.map(t => s" WHERE ($t)").getOrElse("")
      s"SELECT ${topSel.mkString(", ")} FROM $fromClause$wTop" +
        (if (tail.isEmpty) "" else " " + tail)
    }

    // the schema backstop: both texts must analyze to identical column
    // names AND types, or the base plan stands (memoized per statement
    // × table generation — see the object doc)
    val origSchema = baseSchema(session, original) match {
      case Some(sch) => sch
      case None => return miss("base-plan analysis failed (the base " +
        "path will surface the real error)")
    }
    val rwSchema =
      try session.sql(rewritten).schema
      catch { case _: Exception =>
        return miss(s"rewritten text failed to analyze: $rewritten") }
    val same = origSchema.length == rwSchema.length &&
      origSchema.zip(rwSchema).forall { case (a, b) =>
        a.name == b.name && a.dataType == b.dataType
      }
    if (same) {
      note(s"navigated onto ${h.name}: $rewritten")
      Some(rewritten)
    } else miss("schema gate: base and rewritten plans disagree on " +
      s"output columns/types (${origSchema.simpleString} vs " +
      s"${rwSchema.simpleString})")
  }

  /** ORDER BY / LIMIT ride along only when every sort key is one of
    * the query's own output columns (no OFFSET). */
  private def tailOk(q: GraftMatviews.MvSelect, outNames: Set[String])
      : Boolean =
    q.tail.forall {
      case s: Sort => s.order.forall(_.child match {
        case a: UnresolvedAttribute =>
          a.nameParts.size == 1 && outNames(a.nameParts.head.toLowerCase)
        case _ => false
      })
      case _: GlobalLimit | _: LocalLimit => true
      case _ => false
    }
}
