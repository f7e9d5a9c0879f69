package graft.server

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.bitemporal.BitemporalSql

/** Transparent aggregate navigation ([[GraftMvNav]]): plain GROUP BY
  * queries over REGISTERED base tables answered from a fresh matview's
  * state — the rewrite must be mechanically provable (the plan scans
  * the view state) AND observationally invisible (results identical to
  * the base plan; staleness, basis, exactness and schema gates all
  * fall back to base). Base truth is computed through
  * [[BitemporalSql]] — the same relation the parser's base path
  * serves. */
class GraftMvNavSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def freshTable(payload: Seq[String]): graft.GraftTable = {
    val dir = java.nio.file.Files.createTempDirectory("mv_nav").toString
    new graft.GraftTable(spark, dir, payload)
  }

  /** Does the plan read matview state (vs the base tx log)? Checked on
    * the OPTIMIZED LOGICAL plan — stable under AQE, where the physical
    * tree hides scans inside AdaptiveSparkPlan until execution. */
  private def scansMatview(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources
          .LogicalRelation => r.relation
    }.exists {
      case h: org.apache.spark.sql.execution.datasources
          .HadoopFsRelation =>
        h.location.rootPaths.exists(_.toString.contains("matview"))
      case _ => false
    }

  /** The base-path answer: the query over the live rectangles, exactly
    * what the SQL front door's non-rewritten branch serves. */
  private def baseTruth(q: String, tabs: (String, graft.GraftTable)*)
      : DataFrame =
    BitemporalSql.sql(spark, q,
      tabs.map { case (n, t) => n -> t.rectangles() }.toMap)

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().map(r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))).toSeq)
      .toSeq.sortBy(_.mkString(" "))

  test("trusted view answers a matching GROUP BY over the BASE table: " +
      "plan provably scans view state, results equal the base plan, " +
      "staleness falls back to base until REFRESH, kill switch works") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "tag", "amt"))
    GraftServer.register("nav_t", t)
    def put(rws: Seq[(Long, String, String, Long)], at: String): Unit =
      t.put(rws.toDF("id", "g", "tg", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "tag" -> $"tg", "amt" -> $"m"), ts(at))
    try {
      put(Seq((1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "b", "x", 5L),
        (4L, "b", "x", 7L), (5L, "c", "z", 40L)), "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW nav_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, COUNT(*) AS n, SUM(amt) AS s, MIN(amt) AS mn, " +
        "AVG(amt) AS av, COUNT(DISTINCT tag) AS dt " +
        "FROM nav_t GROUP BY grp")

      val q = "SELECT grp, COUNT(*) AS n, SUM(amt) AS s, " +
        "AVG(amt) AS av, COUNT(DISTINCT tag) AS dt " +
        "FROM nav_t GROUP BY grp ORDER BY grp"
      val base = baseTruth(q, "nav_t" -> t)

      // the end-to-end path: GraftSql serves the rewritten plan
      val nav = GraftSql.sql(spark, q)
      assert(scansMatview(nav),
        "the rewritten plan must scan the view state:\n" +
          nav.queryExecution.optimizedPlan.toString.take(1200))
      assert(rows(nav) == rows(base), s"${rows(nav)} vs ${rows(base)}")
      assert(nav.schema.map(f => (f.name, f.dataType)) ==
        base.schema.map(f => (f.name, f.dataType)))

      // kill switch: the navigator must decline outright
      spark.conf.set("spark.graft.matview.rewrite", "false")
      assert(GraftMvNav.rewrite(spark, q).isEmpty, "kill switch")
      spark.conf.set("spark.graft.matview.rewrite", "true")
      assert(GraftMvNav.rewrite(spark, q).isDefined)

      // STALENESS: a new tx without REFRESH must decline — the base
      // plan (with the un-folded row visible) is the only honest answer
      put(Seq((6L, "c", "w", 2L)), "2024-01-02 00:00:00")
      assert(GraftMvNav.rewrite(spark, q).isEmpty,
        "an unrefreshed view must never serve a base-table query")
      assert(baseTruth(q, "nav_t" -> t).filter($"grp" === "c")
        .collect()(0).getLong(1) == 2L)
      // REFRESH restores navigation, now with the new row folded
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW nav_v").collect()
      val again = GraftSql.sql(spark, q)
      assert(scansMatview(again))
      assert(rows(again) == rows(baseTruth(q, "nav_t" -> t)))

      // FILTER aggregates ride the same match (desugar on both sides)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW nav_v")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW nav_vf WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, COUNT(*) AS n, " +
        "SUM(amt) FILTER (WHERE tag = 'x') AS sx FROM nav_t GROUP BY grp")
      val qf = "SELECT grp, SUM(amt) FILTER (WHERE tag = 'x') AS sx " +
        "FROM nav_t GROUP BY grp"
      val navF = GraftSql.sql(spark, qf)
      assert(scansMatview(navF), "filtered aggregates must navigate")
      assert(rows(navF) == rows(baseTruth(qf, "nav_t" -> t)))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW nav_vf")
    } finally {
      spark.conf.set("spark.graft.matview.rewrite", "true")
      GraftServer.unregister("nav_t")
      GraftMatviews.reset()
    }
  }

  test("GROUP-BY-subset rollup: re-aggregates ∝-groups state (SUM(n), " +
      "typed SUM of sums, MIN of mins, AVG = Σsum/Σcnt) — AVG skips " +
      "when the view lacks its COUNT constituent, DISTINCT never " +
      "rolls up") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "sub", "amt"))
    GraftServer.register("ru_t", t)
    try {
      t.put(Seq((1L, "a", "p", 10L), (2L, "a", "q", 20L),
          (3L, "b", "p", 5L), (4L, "b", "q", 7L), (5L, "b", "q", 9L))
          .toDF("id", "g", "u", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "amt" -> $"m"),
        ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW ru_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, sub, COUNT(*) AS n, SUM(amt) AS s, " +
        "COUNT(amt) AS c, MIN(amt) AS mn, MAX(amt) AS mx, " +
        "AVG(amt) AS av FROM ru_t GROUP BY grp, sub")

      val q = "SELECT grp, COUNT(*) AS n, SUM(amt) AS s, MIN(amt) AS mn, " +
        "MAX(amt) AS mx, AVG(amt) AS av FROM ru_t GROUP BY grp " +
        "ORDER BY grp LIMIT 10"
      val nav = GraftSql.sql(spark, q)
      assert(scansMatview(nav),
        "the subset GROUP BY must roll up from state:\n" +
          nav.queryExecution.optimizedPlan.toString.take(1200))
      val base = baseTruth(q, "ru_t" -> t)
      assert(rows(nav) == rows(base), s"${rows(nav)} vs ${rows(base)}")
      assert(nav.schema.map(f => (f.name, f.dataType)) ==
        base.schema.map(f => (f.name, f.dataType)))

      // DISTINCT counts are NOT additive across merged groups: their
      // rollup re-aggregates the aux PAIR state (join-form rewrite,
      // covered in depth by its own test below); the EQUAL-groups form
      // serves directly from the materialized rollup columns
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW ru_v")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW ru_vd WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, sub, COUNT(*) AS n, COUNT(DISTINCT amt) AS d, " +
        "SUM(amt) AS s FROM ru_t GROUP BY grp, sub")
      val qdr = "SELECT grp, COUNT(DISTINCT amt) AS d FROM ru_t GROUP BY grp"
      val drDf = GraftSql.sql(spark, qdr)
      assert(scansMatview(drDf),
        "COUNT(DISTINCT) rollup must navigate via the aux pair state")
      assert(rows(drDf) == rows(baseTruth(qdr, "ru_t" -> t)))
      val qeq = "SELECT grp, sub, COUNT(DISTINCT amt) AS d FROM ru_t " +
        "GROUP BY grp, sub"
      val eqDf = GraftSql.sql(spark, qeq)
      assert(scansMatview(eqDf))
      assert(rows(eqDf) == rows(baseTruth(qeq, "ru_t" -> t)))
      // AVG rollup without COUNT(amt) in the view: no constituent
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, AVG(amt) AS av FROM ru_t GROUP BY grp").isEmpty,
        "AVG rollup needs the view to serve SUM and COUNT of the arg")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW ru_vd")
    } finally {
      GraftServer.unregister("ru_t")
      GraftMatviews.reset()
    }
  }

  test("gates: bare FROM needs rewrite='trusted'; FOR APPLICATION_TIME AS OF " +
      "matching the basis rewrites without it; mismatched basis, " +
      "different WHERE, HAVING, unaliased aggregates and double sums " +
      "all fall back to base") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "amt"))
    val td = freshTable(Seq("grp", "damt"))
    GraftServer.register("gt_t", t)
    GraftServer.register("gt_d", td)
    try {
      t.put(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
          .toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
      td.put(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "g", "m"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "damt" -> $"m"), ts("2024-01-01 00:00:00"))

      // NOT trusted: bare FROM never rewrites; the basis-matching
      // FOR APPLICATION_TIME query does (provably identical)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW gt_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n, SUM(amt) AS s FROM gt_t GROUP BY grp")
      val bare = "SELECT grp, COUNT(*) AS n, SUM(amt) AS s FROM gt_t " +
        "GROUP BY grp"
      assert(GraftMvNav.rewrite(spark, bare).isEmpty,
        "bare FROM over an untrusted view must not rewrite")
      val pinned = "SELECT grp, COUNT(*) AS n, SUM(amt) AS s FROM gt_t " +
        "FOR APPLICATION_TIME AS OF TIMESTAMP '2030-01-01 00:00:00' GROUP BY grp"
      val pdf = GraftSql.sql(spark, pinned)
      assert(scansMatview(pdf),
        "a basis-matching FOR APPLICATION_TIME query rewrites without trust:\n" +
          pdf.queryExecution.optimizedPlan.toString.take(1200))
      assert(rows(pdf) == rows(baseTruth(pinned, "gt_t" -> t)))
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, COUNT(*) AS n, SUM(amt) AS s FROM gt_t " +
          "FOR APPLICATION_TIME AS OF TIMESTAMP '2029-01-01 00:00:00' " +
          "GROUP BY grp").isEmpty,
        "a mismatched basis must not rewrite")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW gt_v")

      // trusted view: WHERE drift / HAVING / unaliased aggregates skip
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW gt_vw WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS SELECT grp, COUNT(*) AS n, " +
        "SUM(amt) AS s FROM gt_t WHERE amt > 0 GROUP BY grp")
      val matched = "SELECT grp, SUM(amt) AS s FROM gt_t WHERE amt > 0 " +
        "GROUP BY grp"
      val mdf = GraftSql.sql(spark, matched)
      assert(scansMatview(mdf))
      assert(rows(mdf) == rows(baseTruth(matched, "gt_t" -> t)))
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, SUM(amt) AS s FROM gt_t WHERE amt > 1 GROUP BY grp")
        .isEmpty, "a different WHERE must not rewrite")
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, SUM(amt) AS s FROM gt_t WHERE amt > 0 GROUP BY grp " +
          "HAVING s > 10").isEmpty, "HAVING runs on the base path")
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, SUM(amt) FROM gt_t WHERE amt > 0 GROUP BY grp")
        .isEmpty, "an unaliased aggregate must not rewrite")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW gt_vw")

      // DOUBLE-typed sums are order-sensitive: exactness gate refuses;
      // MIN over doubles is exact and still rewrites
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW gt_vd WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS SELECT grp, COUNT(*) AS n, " +
        "SUM(damt) AS s, MIN(damt) AS mn FROM gt_d GROUP BY grp")
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, SUM(damt) AS s FROM gt_d GROUP BY grp").isEmpty,
        "a double-typed SUM must not rewrite (ulp drift)")
      val qmin = "SELECT grp, COUNT(*) AS n, MIN(damt) AS mn FROM gt_d " +
        "GROUP BY grp"
      val mindf = GraftSql.sql(spark, qmin)
      assert(scansMatview(mindf))
      assert(rows(mindf) == rows(baseTruth(qmin, "gt_d" -> td)))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW gt_vd")
    } finally {
      GraftServer.unregister("gt_t"); GraftServer.unregister("gt_d")
      GraftMatviews.reset()
    }
  }

  test("WHERE predicate subsumption: residual conjuncts on GROUP BY " +
      "columns navigate (applied over served state) and COMPOSE with " +
      "bucket pruning to a one-file read; non-group residuals, a view " +
      "WHERE the query lacks, backticks and function calls fall back") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "sub", "amt"))
    GraftServer.register("ps_t", t)
    try {
      t.put((1 to 64).map(i =>
          (i.toLong, s"g${i % 8}", s"s${i % 3}", (i * 10).toLong))
          .toDF("id", "g", "u", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "amt" -> $"m"),
        ts("2024-01-01 00:00:00"))

      // (a) equal-group residual over a hash-bucketed view: the
      // residual's full-key equality must reach the state scan as a
      // _bucket partition filter — ONE file of 16
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW ps_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 16, " +
        "rewrite = 'trusted') AS SELECT grp, COUNT(*) AS n, " +
        "SUM(amt) AS s FROM ps_t GROUP BY grp")
      val qa = "SELECT grp, COUNT(*) AS n, SUM(amt) AS s FROM ps_t " +
        "WHERE grp = 'g3' GROUP BY grp"
      val da = GraftSql.sql(spark, qa)
      assert(scansMatview(da), "residual WHERE must still navigate:\n" +
        da.queryExecution.optimizedPlan.toString.take(1200))
      assert(rows(da) == rows(baseTruth(qa, "ps_t" -> t)))
      val scans = da.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.partitionFilters
          .exists(_.references.exists(_.name == "_bucket"))),
        "the residual must compose with MvBucketPrune:\n" +
          da.queryExecution.executedPlan.toString.take(1500))
      assert(scans.head.metrics("numFiles").value == 1,
        s"expected ONE bucket file of 16, read " +
          s"${scans.head.metrics("numFiles").value}")

      // conjunct ORDER must not matter, and multiset matching holds
      val qa2 = "SELECT grp, COUNT(*) AS n, SUM(amt) AS s FROM ps_t " +
        "WHERE amt > 100 AND grp = 'g3' GROUP BY grp"
      assert(GraftMvNav.rewrite(spark, qa2).isEmpty,
        "a non-group residual conjunct (amt) must fall back to base")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW ps_v")

      // (b) the flagship dashboard shape: view grouped by (grp, sub)
      // WITH its own WHERE; the query pins grp (a view group col the
      // query does NOT group by) on top of the view's conjunct and
      // groups by sub alone — residual + rollup together
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW ps_v2 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 8, " +
        "rewrite = 'trusted') AS SELECT grp, sub, COUNT(*) AS n, " +
        "SUM(amt) AS s, MIN(amt) AS mn FROM ps_t WHERE amt > 0 " +
        "GROUP BY grp, sub")
      val qb = "SELECT sub, COUNT(*) AS n, SUM(amt) AS s, " +
        "MIN(amt) AS mn FROM ps_t WHERE amt > 0 AND grp = 'g5' " +
        "GROUP BY sub ORDER BY sub"
      val db = GraftSql.sql(spark, qb)
      assert(scansMatview(db), "residual + rollup must navigate:\n" +
        db.queryExecution.optimizedPlan.toString.take(1200))
      assert(rows(db) == rows(baseTruth(qb, "ps_t" -> t)))
      assert(db.schema.map(f => (f.name, f.dataType)) ==
        baseTruth(qb, "ps_t" -> t).schema.map(f => (f.name, f.dataType)))
      // IN-lists and IS NULL on group columns ride the same grammar
      val qb2 = "SELECT sub, COUNT(*) AS n FROM ps_t WHERE amt > 0 " +
        "AND grp IN ('g1', 'g2') GROUP BY sub"
      val db2 = GraftSql.sql(spark, qb2)
      assert(scansMatview(db2))
      assert(rows(db2) == rows(baseTruth(qb2, "ps_t" -> t)))

      // the view's OWN WHERE must be contained in the query's — a
      // query missing it sees rows the state never folded
      assert(GraftMvNav.rewrite(spark,
        "SELECT sub, COUNT(*) AS n FROM ps_t WHERE grp = 'g5' " +
          "GROUP BY sub").isEmpty,
        "a query lacking the view's WHERE conjunct must not rewrite")
      // top-level OR means the pieces are NOT conjuncts: `A AND B OR C`
      // is `(A AND B) OR C`, so subsumption must NOT split it (a split
      // residual would silently change precedence) — falls back whole
      assert(GraftMvNav.rewrite(spark,
        "SELECT sub, COUNT(*) AS n FROM ps_t WHERE amt > 0 AND " +
          "grp = 'g1' OR grp = 'g2' GROUP BY sub").isEmpty,
        "a top-level OR must not be sheared into conjuncts")
      // …while the PARENTHESIZED disjunction is one honest conjunct
      // over group columns and navigates with the right semantics
      val qOr = "SELECT sub, COUNT(*) AS n FROM ps_t WHERE amt > 0 " +
        "AND (grp = 'g1' OR grp = 'g2') GROUP BY sub"
      val dOr = GraftSql.sql(spark, qOr)
      assert(scansMatview(dOr))
      assert(rows(dOr) == rows(baseTruth(qOr, "ps_t" -> t)))
      // conservative residual grammar: backticks (could collide with a
      // served aggregate alias) and function calls fall back
      assert(GraftMvNav.rewrite(spark,
        "SELECT sub, COUNT(*) AS n FROM ps_t WHERE amt > 0 AND " +
          "`grp` = 'g5' GROUP BY sub").isEmpty,
        "backticked residual identifiers must fall back")
      assert(GraftMvNav.rewrite(spark,
        "SELECT sub, COUNT(*) AS n FROM ps_t WHERE amt > 0 AND " +
          "upper(grp) = 'G5' GROUP BY sub").isEmpty,
        "function calls in the residual must fall back")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW ps_v2")
    } finally {
      GraftServer.unregister("ps_t")
      GraftMatviews.reset()
    }
  }

  test("expression residuals: a conjunct over a view GROUP BY " +
      "EXPRESSION (the time-window dashboard shape) navigates and " +
      "composes with range-dir pruning; a call that is NOT a group " +
      "expression falls back") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("ts", "amt"))
    GraftServer.register("xr_t", t)
    try {
      t.put((1 to 60).map(i =>
          (i.toLong, "2024-%02d-11 00:00:00".format((i % 6) + 1),
            (i * 3).toLong))
          .toDF("id", "tv", "m")
          .select($"id", $"tv".cast("timestamp").as("tv"), $"m"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("ts" -> $"tv", "amt" -> $"m"), ts("2024-07-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW xr_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', layout = 'range', " +
        "rewrite = 'trusted') AS " +
        "SELECT CAST(date_trunc('month', ts) AS DATE) AS m, " +
        "COUNT(*) AS n, SUM(amt) AS sm FROM xr_t " +
        "GROUP BY CAST(date_trunc('month', ts) AS DATE)")
      val q = "SELECT CAST(date_trunc('month', ts) AS DATE) AS m, " +
        "COUNT(*) AS n, SUM(amt) AS sm FROM xr_t " +
        "WHERE CAST(date_trunc('month', ts) AS DATE) >= " +
        "DATE '2024-03-01' GROUP BY CAST(date_trunc('month', ts) " +
        "AS DATE)"
      val df = GraftSql.sql(spark, q)
      assert(scansMatview(df), "the expression residual must navigate:\n" +
        df.queryExecution.optimizedPlan.toString.take(1200))
      // ONE action only before reading scan metrics: each Dataset
      // action RESETS plan metrics, so a second collect would zero the
      // driver-side numFiles (selectedPartitions is lazy and not
      // re-listed)
      val navRows = rows(df)
      val scans = df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty && scans.head.metrics("numFiles").value == 4,
        "the month-window residual must range-prune to 4 dirs of 6, " +
          s"metrics ${scans.map(f => f.metrics.view.mapValues(_.value)
            .toMap)}")
      assert(navRows == rows(baseTruth(q, "xr_t" -> t)))
      // a call that is NOT a view group expression must fall back
      assert(GraftMvNav.rewrite(spark,
        "SELECT CAST(date_trunc('month', ts) AS DATE) AS m, " +
          "COUNT(*) AS n FROM xr_t " +
          "WHERE date_trunc('year', ts) >= TIMESTAMP '2024-01-01' " +
          "GROUP BY CAST(date_trunc('month', ts) AS DATE)").isEmpty,
        "a non-group call expression in the residual must fall back")
      // wrapping parentheses do not key navigation (it keys on the
      // parsed GROUP BY item): a parenthesized query is served by the
      // bare-key view, and a parenthesized view serves the bare query
      def navigates(q: String): Unit = {
        val d = GraftSql.sql(spark, q)
        assert(scansMatview(d), s"must navigate: $q")
        assert(rows(d) == rows(baseTruth(q, "xr_t" -> t)))
      }
      navigates("SELECT CAST(date_trunc('month', ts) AS DATE) AS m, " +
        "COUNT(*) AS n, SUM(amt) AS sm FROM xr_t " +
        "GROUP BY (CAST(date_trunc('month', ts) AS DATE))")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW xr_v")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW xr_p WITH " +
        "(valid_at = '2030-01-01 00:00:00', rewrite = 'trusted') AS " +
        "SELECT date_trunc('month', ts) AS mo, COUNT(*) AS n FROM xr_t " +
        "GROUP BY (date_trunc('month', ts))")
      navigates("SELECT date_trunc('month', ts) AS mo, COUNT(*) AS n " +
        "FROM xr_t GROUP BY date_trunc('month', ts)")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW xr_p")
    } finally {
      GraftServer.unregister("xr_t")
      GraftMatviews.reset()
    }
  }

  test("HAVING navigation: equal-groups HAVING becomes a state filter, " +
      "rollup HAVING applies over the re-aggregation (aggregates not " +
      "in the select list included); unserved aggregates and alias " +
      "references fall back") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "sub", "amt"))
    GraftServer.register("hv_t", t)
    try {
      t.put((1 to 40).map(i =>
          (i.toLong, s"g${i % 4}", s"s${i % 3}", (i % 7).toLong))
          .toDF("id", "g", "u", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "amt" -> $"m"),
        ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW hv_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS SELECT grp, sub, COUNT(*) AS n, " +
        "SUM(amt) AS s, MIN(amt) AS mn FROM hv_t GROUP BY grp, sub")

      // equal groups: the HAVING call matches a served aggregate and
      // becomes a WHERE over state rows (state rows ARE the groups)
      val q1 = "SELECT grp, sub, COUNT(*) AS n FROM hv_t " +
        "GROUP BY grp, sub HAVING SUM(amt) > 10"
      val d1 = GraftSql.sql(spark, q1)
      assert(scansMatview(d1), "equal-group HAVING must navigate:\n" +
        d1.queryExecution.optimizedPlan.toString.take(1200))
      assert(rows(d1) == rows(baseTruth(q1, "hv_t" -> t)))

      // rollup: HAVING over re-aggregated state, with a group-column
      // reference and an aggregate the select list does not project
      val q2 = "SELECT grp, SUM(amt) AS s FROM hv_t GROUP BY grp " +
        "HAVING COUNT(*) > 5 AND grp <> 'g0' ORDER BY grp"
      val d2 = GraftSql.sql(spark, q2)
      assert(scansMatview(d2), "rollup HAVING must navigate:\n" +
        d2.queryExecution.optimizedPlan.toString.take(1200))
      assert(rows(d2) == rows(baseTruth(q2, "hv_t" -> t)))

      // refusals: an aggregate the view does not serve; an output-alias
      // reference (not provably a group column)
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, sub, COUNT(*) AS n FROM hv_t GROUP BY grp, sub " +
          "HAVING MAX(amt) > 3").isEmpty,
        "a HAVING aggregate the view does not serve must fall back")
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, sub, SUM(amt) AS s FROM hv_t GROUP BY grp, sub " +
          "HAVING s > 10").isEmpty,
        "an output-alias reference in HAVING must fall back")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW hv_v")
    } finally {
      GraftServer.unregister("hv_t")
      GraftMatviews.reset()
    }
  }

  test("SQL:2011 pins are per-table: FOR APPLICATION_TIME over a JOIN " +
      "view matches the basis but still needs rewrite='trusted' (the " +
      "query's un-claused dims serve AS OF now; the view pins them at " +
      "valid_at)") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("fk", "qty"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("tp_f", fact)
    GraftServer.register("tp_d", dim)
    try {
      dim.put(Seq((10L, "east"), (20L, "west")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq((1L, 10L, 2L), (2L, 20L, 9L)).toDF("id", "k", "q"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("fk" -> $"k", "qty" -> $"q"), ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW tp_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, COUNT(*) AS n, SUM(qty) AS s " +
        "FROM tp_f JOIN tp_d ON fk = tp_d._id GROUP BY region")
      val pinned = "SELECT region, COUNT(*) AS n, SUM(qty) AS s " +
        "FROM tp_f FOR APPLICATION_TIME AS OF TIMESTAMP " +
        "'2030-01-01 00:00:00' JOIN tp_d ON fk = tp_d._id " +
        "GROUP BY region"
      assert(GraftMvNav.rewrite(spark, pinned).isEmpty,
        "a fact-only pin over an untrusted JOIN view must not rewrite " +
          "(dim rows valid-dated past now would silently diverge)")
      // the same pin over a TRUSTED join view rewrites (the user's
      // standing basis assertion covers the dims)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW tp_v")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW tp_vt WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT region, COUNT(*) AS n, SUM(qty) AS s " +
        "FROM tp_f JOIN tp_d ON fk = tp_d._id GROUP BY region")
      val dfT = GraftSql.sql(spark, pinned)
      assert(scansMatview(dfT))
      assert(rows(dfT) ==
        rows(baseTruth(pinned, "tp_f" -> fact, "tp_d" -> dim)))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW tp_vt")
    } finally {
      GraftServer.unregister("tp_f"); GraftServer.unregister("tp_d")
      GraftMatviews.reset()
    }
  }

  test("observability: EXPLAIN REWRITE names a hit, a freshness miss " +
      "and an exactness refusal; EXPLAIN SELECT describes the " +
      "NAVIGATED plan (explain/execution parity)") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "amt", "damt"))
    GraftServer.register("ob_t", t)
    try {
      t.put(Seq((1L, "a", 10L, 1.5), (2L, "b", 20L, 2.5))
          .toDF("id", "g", "m", "d"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m", "damt" -> $"d"),
        ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW ob_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS SELECT grp, COUNT(*) AS n, " +
        "SUM(amt) AS s, SUM(damt) AS sd FROM ob_t GROUP BY grp")
      val q = "SELECT grp, COUNT(*) AS n, SUM(amt) AS s FROM ob_t " +
        "GROUP BY grp"

      // a HIT names the view and shows the rewritten text
      val hit = GraftSql.sql(spark, s"EXPLAIN REWRITE $q").collect()(0)
      assert(hit.getBoolean(0), hit.toString)
      assert(hit.getString(1).contains("FROM ob_v"), hit.getString(1))
      assert(hit.getString(2).contains("navigated onto ob_v"),
        hit.getString(2))

      // EXPLAIN/execution parity: the rendered plan reads view state
      val plan = GraftSql.sql(spark, s"EXPLAIN FORMATTED $q")
        .collect()(0).getString(0)
      assert(plan.contains("matview"),
        s"EXPLAIN must describe the navigated plan:\n${plan.take(800)}")

      // an EXACTNESS refusal is named (double SUM state)
      val ex = GraftSql.sql(spark, "EXPLAIN REWRITE SELECT grp, " +
        "SUM(damt) AS sd FROM ob_t GROUP BY grp").collect()(0)
      assert(!ex.getBoolean(0))
      assert(ex.getString(2).contains("float/double SUM state"),
        ex.getString(2))

      // a FRESHNESS miss is named
      t.put(Seq((3L, "c", 5L, 0.5)).toDF("id", "g", "m", "d"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m", "damt" -> $"d"),
        ts("2024-01-02 00:00:00"))
      val st = GraftSql.sql(spark, s"EXPLAIN REWRITE $q").collect()(0)
      assert(!st.getBoolean(0))
      assert(st.getString(2).contains("stale"), st.getString(2))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW ob_v")
    } finally {
      GraftServer.unregister("ob_t")
      GraftMatviews.reset()
    }
  }

  test("join form: the same star shape rewrites; a DIM-side tx makes " +
      "the view stale (dual-log freshness) until REFRESH; join-type " +
      "mismatch never matches") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("fk", "qty"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("nj_f", fact)
    GraftServer.register("nj_d", dim)
    try {
      dim.put(Seq((10L, "east"), (20L, "west")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq((1L, 10L, 2L), (2L, 10L, 4L), (3L, 20L, 9L))
          .toDF("id", "k", "q"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("fk" -> $"k", "qty" -> $"q"), ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW nj_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT region, COUNT(*) AS n, SUM(qty) AS s " +
        "FROM nj_f JOIN nj_d ON fk = nj_d._id GROUP BY region")

      val q = "SELECT region, COUNT(*) AS n, SUM(qty) AS s " +
        "FROM nj_f JOIN nj_d ON fk = nj_d._id GROUP BY region"
      val nav = GraftSql.sql(spark, q)
      assert(scansMatview(nav),
        nav.queryExecution.optimizedPlan.toString.take(1200))
      assert(rows(nav) == rows(baseTruth(q, "nj_f" -> fact, "nj_d" -> dim)))

      // a LEFT query over an INNER view must not match
      assert(GraftMvNav.rewrite(spark,
        "SELECT region, COUNT(*) AS n, SUM(qty) AS s " +
          "FROM nj_f LEFT JOIN nj_d ON fk = nj_d._id GROUP BY region")
        .isEmpty, "join-type mismatch must not rewrite")

      // DIM-side staleness: a dim group-move without refresh → decline
      dim.put(Seq((10L, "west")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-02 00:00:00"))
      assert(GraftMvNav.rewrite(spark, q).isEmpty,
        "a dim tx past the watermark must fall back to base")
      assert(rows(baseTruth(q, "nj_f" -> fact, "nj_d" -> dim))
        .map(_.head) == Seq("west"),
        "the base plan must see the group move immediately")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW nj_v").collect()
      val after = GraftSql.sql(spark, q)
      assert(scansMatview(after))
      assert(rows(after) ==
        rows(baseTruth(q, "nj_f" -> fact, "nj_d" -> dim)))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW nj_v")
    } finally {
      GraftServer.unregister("nj_f"); GraftServer.unregister("nj_d")
      GraftMatviews.reset()
    }
  }

  test("DISTINCT rollup: COUNT/SUM/AVG(DISTINCT) across merged groups " +
      "re-aggregate the aux pair state — parity incl. all-NULL groups " +
      "(COALESCE 0 / ANSI NULL), residual + HAVING compose, the " +
      "float-SUM gate still refuses, a missing aux still declines") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "sub", "tag", "amt", "price"))
    GraftServer.register("dr_t", t)
    def put(rws: Seq[(Long, String, String, String,
        java.lang.Long, java.lang.Double)], at: String): Unit =
      t.put(rws.toDF("id", "g", "u", "tg", "m", "p"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "tag" -> $"tg",
          "amt" -> $"m", "price" -> $"p"), ts(at))
    def L(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    def D(x: Double): java.lang.Double = java.lang.Double.valueOf(x)
    try {
      put(Seq(
        (1L, "a", "p", "x", L(10), D(1.5)), (2L, "a", "p", "y", L(20), D(2.5)),
        (3L, "a", "q", "x", L(30), D(3.5)), (4L, "b", "p", "z", L(5), D(4.5)),
        (5L, "b", "q", null, L(7), D(5.5)),
        // grp c: every tag NULL -> COUNT(DISTINCT tag) = 0 after rollup
        (6L, "c", "p", null, L(40), D(6.5)), (7L, "c", "q", null, L(50), D(7.5)),
        // grp d: every amt NULL -> SUM/AVG(DISTINCT amt) = NULL
        (8L, "d", "p", "w", null, D(8.5))), "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW dr_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, sub, COUNT(*) AS n, SUM(amt) AS sm, " +
        "COUNT(amt) AS cm, COUNT(DISTINCT tag) AS dt, " +
        "SUM(DISTINCT amt) AS sd, AVG(DISTINCT amt) AS ad " +
        "FROM dr_t GROUP BY grp, sub")
      // a mutation wave so the aux pair state has dead pairs (n = 0)
      // that the rollup must ignore: id 2 removes tag 'y' from (a,p)
      t.delete(Seq(2L).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> lit(null).cast("string"),
          "sub" -> lit(null).cast("string"),
          "tag" -> lit(null).cast("string"),
          "amt" -> lit(null).cast("long"),
          "price" -> lit(null).cast("double")), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW dr_v").collect()

      val q = "SELECT grp, COUNT(*) AS n, SUM(amt) AS s, " +
        "COUNT(DISTINCT tag) AS dt, SUM(DISTINCT amt) AS sd, " +
        "AVG(DISTINCT amt) AS ad FROM dr_t GROUP BY grp ORDER BY grp"
      val nav = GraftSql.sql(spark, q)
      assert(scansMatview(nav),
        "the DISTINCT rollup must navigate onto aux pair state:\n" +
          nav.queryExecution.optimizedPlan.toString.take(1500))
      val base = baseTruth(q, "dr_t" -> t)
      assert(rows(nav) == rows(base), s"${rows(nav)} vs ${rows(base)}")
      assert(nav.schema.map(f => (f.name, f.dataType)) ==
        base.schema.map(f => (f.name, f.dataType)))
      // the all-NULL groups serve ANSI shapes through the LEFT JOIN:
      // c has zero distinct tags, d has NULL distinct-sum/avg
      val byGrp = nav.collect().map(r => r.getString(0) -> r).toMap
      assert(byGrp("c").getLong(3) == 0L, "COUNT(DISTINCT all-NULL) = 0")
      assert(byGrp("d").isNullAt(4) && byGrp("d").isNullAt(5),
        "SUM/AVG(DISTINCT) over all-NULL must serve NULL")

      // residual conjunct + HAVING over a DISTINCT aggregate compose
      // (residual applies to BOTH the main and the aux subquery)
      val qrh = "SELECT grp, COUNT(DISTINCT tag) AS dt FROM dr_t " +
        "WHERE sub = 'p' GROUP BY grp HAVING COUNT(DISTINCT tag) >= 1"
      val navRh = GraftSql.sql(spark, qrh)
      assert(scansMatview(navRh))
      assert(rows(navRh) == rows(baseTruth(qrh, "dr_t" -> t)))

      // an arg the view serves no DISTINCT aggregate for must decline
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, COUNT(DISTINCT price) AS dp FROM dr_t GROUP BY grp")
        .isEmpty, "no aux for the argument: base path")

      // the float/double SUM exactness gate applies to the rollup too:
      // the recomputed SUM(DISTINCT double) is order-sensitive exactly
      // like the stored one. DROP must also unbind the aux temp views
      // the navigated queries above registered.
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW dr_v")
      assert(!spark.catalog.tableExists("dr_v__dist__tag") &&
        !spark.catalog.tableExists("dr_v__dist__amt"),
        "DROP must clean up the navigator's aux pair bindings")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW dr_vd WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, sub, COUNT(*) AS n, SUM(DISTINCT price) AS sp " +
        "FROM dr_t GROUP BY grp, sub")
      assert(GraftMvNav.rewrite(spark,
        "SELECT grp, SUM(DISTINCT price) AS sp FROM dr_t GROUP BY grp")
        .isEmpty, "double SUM(DISTINCT) rollup must refuse (ulp drift)")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW dr_vd")
    } finally {
      GraftServer.unregister("dr_t")
      GraftMatviews.reset()
    }
  }

  test("GLOBAL aggregates (no GROUP BY): the KPI query navigates as " +
      "the degenerate rollup — COUNT coalesces to ANSI 0 over an " +
      "empty state, DISTINCT serves via the aux, HAVING applies, a " +
      "non-aggregate SELECT never matches") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "tag", "amt"))
    GraftServer.register("gb_t", t)
    def put(rws: Seq[(Long, String, String, Long)], at: String): Unit =
      t.put(rws.toDF("id", "g", "tg", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "tag" -> $"tg", "amt" -> $"m"), ts(at))
    try {
      put(Seq((1L, "a", "x", 10L), (2L, "a", "y", 20L),
        (3L, "b", "x", 5L), (4L, "b", "z", 7L)), "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW gb_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, COUNT(*) AS n, SUM(amt) AS s, COUNT(amt) AS c, " +
        "MIN(amt) AS mn, AVG(amt) AS av, COUNT(DISTINCT tag) AS dt, " +
        "SUM(DISTINCT amt) AS sd FROM gb_t GROUP BY grp")

      val q = "SELECT COUNT(*) AS n, SUM(amt) AS s, AVG(amt) AS av, " +
        "MIN(amt) AS mn, COUNT(DISTINCT tag) AS dt, " +
        "SUM(DISTINCT amt) AS sd FROM gb_t"
      val nav = GraftSql.sql(spark, q)
      assert(scansMatview(nav),
        "the global KPI query must navigate:\n" +
          nav.queryExecution.optimizedPlan.toString.take(1500))
      val base = baseTruth(q, "gb_t" -> t)
      assert(rows(nav) == rows(base), s"${rows(nav)} vs ${rows(base)}")
      assert(nav.schema.map(f => (f.name, f.dataType)) ==
        base.schema.map(f => (f.name, f.dataType)))
      // tag x appears in TWO groups — the global distinct must not
      // double-count it (3 distinct tags, not 4 group-local ones)
      assert(nav.collect()(0).getLong(4) == 3L)

      // a global HAVING (no GROUP BY) treats the input as one group
      val qh = "SELECT SUM(amt) AS s FROM gb_t HAVING COUNT(*) > 0"
      val navH = GraftSql.sql(spark, qh)
      assert(scansMatview(navH))
      assert(rows(navH) == rows(baseTruth(qh, "gb_t" -> t)))

      // distinct-ONLY global: the aux pair state alone answers — the
      // one-row global aux aggregate anchors the rewrite and the main
      // state is never scanned
      val qd = "SELECT COUNT(DISTINCT tag) AS dt, " +
        "SUM(DISTINCT amt) AS sd FROM gb_t"
      val navD = GraftSql.sql(spark, qd)
      assert(scansMatview(navD))
      assert(rows(navD) == rows(baseTruth(qd, "gb_t" -> t)))
      val mvPaths = navD.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources
            .LogicalRelation => r.relation
      }.collect {
        case h: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation => h.location.rootPaths.map(_.toString)
      }.flatten.filter(_.contains("matview"))
      assert(mvPaths.nonEmpty && mvPaths.forall(_.contains("_dist")),
        s"distinct-only global must scan ONLY aux pair state: $mvPaths")

      // a plain SELECT without aggregates must never match
      assert(GraftMvNav.rewrite(spark, "SELECT grp FROM gb_t").isEmpty,
        "no aggregates: base path")
      assert(GraftMvNav.rewrite(spark,
        "SELECT tag, amt FROM gb_t WHERE grp = 'a'").isEmpty,
        "projection query: base path")

      // EMPTY state: delete every row — COUNT serves ANSI 0 (not
      // SUM-over-nothing NULL), SUM/MIN/AVG/SUM(DISTINCT) serve NULL,
      // COUNT(DISTINCT) serves 0
      t.delete(Seq(1L, 2L, 3L, 4L).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> lit(null).cast("string"),
          "tag" -> lit(null).cast("string"),
          "amt" -> lit(null).cast("long")), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW gb_v").collect()
      val navE = GraftSql.sql(spark, q)
      assert(scansMatview(navE))
      val baseE = baseTruth(q, "gb_t" -> t)
      assert(rows(navE) == rows(baseE),
        s"${rows(navE)} vs ${rows(baseE)}")
      val r0 = navE.collect()(0)
      assert(r0.getLong(0) == 0L && r0.isNullAt(1) && r0.isNullAt(2) &&
        r0.isNullAt(3) && r0.getLong(4) == 0L && r0.isNullAt(5))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW gb_v")
    } finally {
      GraftServer.unregister("gb_t")
      GraftMatviews.reset()
    }
  }

  test("candidate preference: an equal-groups view beats a wider " +
      "rollup candidate (direct serve, no join form); dropping it " +
      "falls over to the wide view's aux-pair join form — EXPLAIN " +
      "REWRITE names both shapes") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "sub", "tag", "amt"))
    GraftServer.register("mc_t", t)
    try {
      t.put(Seq((1L, "a", "p", "x", 10L), (2L, "a", "q", "y", 20L),
          (3L, "b", "p", "x", 5L), (4L, "b", "p", "z", 7L))
          .toDF("id", "g", "u", "tg", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "tag" -> $"tg", "amt" -> $"m"),
        ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mc_wide WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, sub, COUNT(*) AS n, SUM(amt) AS sm, " +
        "COUNT(DISTINCT tag) AS dt FROM mc_t GROUP BY grp, sub")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mc_narrow WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS " +
        "SELECT grp, COUNT(*) AS n, SUM(amt) AS sm, " +
        "COUNT(DISTINCT tag) AS dt FROM mc_t GROUP BY grp")

      val q = "SELECT grp, COUNT(DISTINCT tag) AS dt FROM mc_t " +
        "GROUP BY grp"
      // both views match — the equal-groups candidate must win: the
      // state rows ARE the output, no re-aggregation, no aux join
      val pref = GraftSql.sql(spark, s"EXPLAIN REWRITE $q").collect()(0)
      assert(pref.getBoolean(0), pref.toString)
      assert(pref.getString(1).contains("FROM mc_narrow") &&
        !pref.getString(1).toUpperCase.contains("LEFT JOIN"),
        pref.getString(1))
      val base = baseTruth(q, "mc_t" -> t)
      assert(rows(GraftSql.sql(spark, q)) == rows(base))

      // narrow view gone: the SAME query falls over to the wide view's
      // DISTINCT-rollup join form (aux pair state re-aggregated)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mc_narrow")
      val wide = GraftSql.sql(spark, s"EXPLAIN REWRITE $q").collect()(0)
      assert(wide.getBoolean(0), wide.toString)
      assert(wide.getString(1).contains("__dist__") &&
        wide.getString(1).toUpperCase.contains("LEFT JOIN"),
        wide.getString(1))
      assert(rows(GraftSql.sql(spark, q)) == rows(base))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mc_wide")
    } finally {
      GraftServer.unregister("mc_t")
      GraftMatviews.reset()
    }
  }

  test("one grammar: a view WHERE with IS DISTINCT FROM matches a " +
      "recompute, a dashboard residual IS DISTINCT FROM navigates, and a " +
      "BETWEEN conjunct in both the view and the query still navigates") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("status", "prio", "amt"))
    GraftServer.register("gd_t", t)
    try {
      t.put((1 to 24).map(i => (i.toLong,
          if (i % 4 == 0) null else Seq("O", "F", "P")(i % 3),
          s"p${i % 3}", (i * 5).toLong))
          .toDF("id", "st", "pr", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("status" -> $"st", "prio" -> $"pr", "amt" -> $"m"),
        ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW gd_v WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4, " +
        "rewrite = 'trusted') AS SELECT prio, COUNT(*) AS n, " +
        "SUM(amt) AS s FROM gd_t WHERE status IS DISTINCT FROM 'F' " +
        "AND amt BETWEEN 10 AND 100 GROUP BY prio")
      // the view's state equals the same aggregate recomputed (NULL
      // statuses are DISTINCT FROM 'F' and stay in)
      val recompute = baseTruth("SELECT prio, COUNT(*) AS n, SUM(amt) AS s " +
        "FROM gd_t WHERE status IS DISTINCT FROM 'F' AND amt BETWEEN 10 " +
        "AND 100 GROUP BY prio", "gd_t" -> t)
      assert(rows(GraftSql.sql(spark, "SELECT prio, n, s FROM gd_v")) ==
        rows(recompute))

      // the view's conjuncts (BETWEEN included) matched, plus a residual
      // IS DISTINCT FROM over the group column
      val q = "SELECT prio, COUNT(*) AS n, SUM(amt) AS s FROM gd_t " +
        "WHERE amt BETWEEN 10 AND 100 AND status IS DISTINCT FROM 'F' " +
        "AND prio IS DISTINCT FROM 'p1' GROUP BY prio"
      val ex = GraftSql.sql(spark, s"EXPLAIN REWRITE $q").collect()(0)
      assert(ex.getBoolean(0), ex.getString(2))
      assert(ex.getString(1).contains("FROM gd_v"), ex.getString(1))
      val nav = GraftSql.sql(spark, q)
      assert(scansMatview(nav))
      assert(rows(nav) == rows(baseTruth(q, "gd_t" -> t)))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW gd_v")
    } finally {
      GraftServer.unregister("gd_t")
      GraftMatviews.reset()
    }
  }
}
