package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftTable, Tables}
import graft.bitemporal.{Bitemporal, BitemporalSql, TxLog, TxOps}

/** Bitemporal operator catalog — the reference's headline capability
  * (xtdb/core2, README.adoc:11: system-time + valid-time versioning).
  * The op log is derived deterministically from the `orders` fixture so
  * every query has a DuckDB oracle twin that re-derives the same
  * rectangles in SQL.
  */
object Bitemp {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val sentSql = "TIMESTAMP '9999-12-31 00:00:00'"

  /** Orders as a put/delete op stream: doc id = customer, fact = latest
    * order price, valid from the order date onward; every 7th order key
    * is a delete. System time = order date + a key-derived second offset
    * (keeps system time strictly increasing within almost every id while
    * staying deterministic and oracle-expressible). */
  private def orderOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "orders").select(
      when($"o_orderkey" % 7 === 0, Bitemporal.Delete).otherwise(Bitemporal.Put).as("_op"),
      $"o_custkey".as("_id"),
      $"o_orderkey".as("_tx_id"),
      expr("timestampadd(SECOND, CAST(o_orderkey % 86400 AS INT), o_orderdate)").as("_system_from"),
      $"o_orderdate".as("_valid_from"),
      lit(null).cast("timestamp").as("_valid_to"),
      $"o_totalprice".as("price"))
  }

  // oracle CTE producing the same rectangles via lead() — the append-only
  // fold's exact algebra, shared by q52/q53
  private val rectsCte = s"""
    ops AS (SELECT o_custkey AS _id, o_orderkey AS tx,
                   o_orderdate + (o_orderkey % 86400) * INTERVAL '1 second' AS sys,
                   o_orderdate AS vf,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'delete' ELSE 'put' END AS op,
                   o_totalprice AS price
            FROM orders),
    x AS (SELECT *, lead(vf)  OVER w AS nvf, lead(sys) OVER w AS nsys
          FROM ops WINDOW w AS (PARTITION BY _id ORDER BY sys, tx)),
    rects AS (
      SELECT _id, price, vf AS _valid_from, $sentSql AS _valid_to,
             sys AS _system_from, coalesce(nsys, $sentSql) AS _system_to
      FROM x WHERE op = 'put' AND coalesce(nsys, $sentSql) > sys
      UNION ALL
      SELECT _id, price, vf, nvf, nsys, $sentSql
      FROM x WHERE op = 'put' AND nvf IS NOT NULL AND nvf > vf)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // incrementally-maintained aggregate view: populate, refresh, then
    // update + delete txs folded by a SECOND (incremental) refresh —
    // the served state must equal the from-scratch aggregate, which is
    // exactly what the oracle computes arithmetically
    "q138_matview" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mv_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      val t = new GraftTable(s, tmp, Seq("grp", "bal"))
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
        $"c_nationkey".cast("string").as("g"),
        $"c_acctbal".cast("decimal(12,2)").as("m"))
      val mv = t.matview("by_nation", Seq("grp"), Seq("bal"),
        ts("2030-01-01 00:00:00"), nBuckets = Some(16))
      t.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2020-01-01 00:00:00"))
      mv.refresh()
      // +100 to every 10th account (valid from mid-2000), then delete
      // every 13th — both folded incrementally on the second refresh
      t.put(cust.filter($"id" % 10 === 0)
          .withColumn("m2", ($"m" + 100).cast("decimal(12,2)")),
        $"id", lit("2000-06-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m2"), ts("2020-01-02 00:00:00"))
      t.delete(cust.filter($"id" % 13 === 0), $"id",
        lit("2000-01-01").cast("timestamp"), None,
        Seq("grp" -> lit(null).cast("string"),
          "bal" -> lit(null).cast("decimal(12,2)")),
        ts("2020-01-03 00:00:00"))
      mv.refresh()
      // decimals keep the incremental arithmetic exact; the surfaced
      // column goes out as DOUBLE (penny sums sit far below 2^53, so
      // the conversion is exact in both engines)
      mv.read()
        .select($"grp", $"n", $"sum_bal".cast("double").as("sum_bal"))
        .orderBy("grp")
    }),

    // matview with MIN/MAX (r7): extremes are NOT self-maintainable —
    // the delete below removes many groups' maxima, so the refresh must
    // exercise the documented fallback (touched groups re-read their
    // members at the basis); untouched groups keep stored extremes.
    // COUNT/SUM stay incremental alongside
    "q149_matview_minmax" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvmm_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      val t = new GraftTable(s, tmp, Seq("grp", "bal"))
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
        $"c_nationkey".cast("string").as("g"),
        $"c_acctbal".cast("decimal(12,2)").as("m"))
      val mv = t.matview("mm_nation", Seq("grp"), Seq("bal"),
        ts("2030-01-01 00:00:00"), nBuckets = Some(16),
        minCols = Seq("bal"), maxCols = Seq("bal"))
      t.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2020-01-01 00:00:00"))
      mv.refresh()
      // raise every 11th account by 250, then delete every 7th — both
      // land on the SECOND refresh, deleting group extremes en masse
      t.put(cust.filter($"id" % 11 === 0)
          .withColumn("m2", ($"m" + 250).cast("decimal(12,2)")),
        $"id", lit("2000-06-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m2"), ts("2020-01-02 00:00:00"))
      t.delete(cust.filter($"id" % 7 === 0), $"id",
        lit("2000-01-01").cast("timestamp"), None,
        Seq("grp" -> lit(null).cast("string"),
          "bal" -> lit(null).cast("decimal(12,2)")),
        ts("2020-01-03 00:00:00"))
      mv.refresh()
      mv.read()
        .select($"grp", $"n",
          $"min_bal".cast("double").as("min_bal"),
          $"max_bal".cast("double").as("max_bal"))
        .orderBy("grp")
    }),

    // matview DDL as SQL text (r10): the q138 flow driven entirely by
    // statements a wire client would send — CREATE populates, the
    // update+delete txs fold on the textual REFRESH, the final SELECT
    // resolves the view name against its current state. Text must not
    // change any value, so the oracle replays q138's arithmetic.
    "q160_sql_matview_ddl" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvddl_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "bal"))
      graft.server.GraftServer.register("mvddl_accts", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("g"),
          $"c_acctbal".cast("decimal(12,2)").as("m"))
        t.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"m"), ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvddl_by_nation WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT grp, COUNT(*) AS n, SUM(bal) AS sum_bal " +
            "FROM mvddl_accts GROUP BY grp")
        t.put(cust.filter($"id" % 10 === 0)
            .withColumn("m2", ($"m" + 100).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"m2"), ts("2020-01-02 00:00:00"))
        t.delete(cust.filter($"id" % 13 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "bal" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-03 00:00:00"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvddl_by_nation")
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, CAST(sum_bal AS DOUBLE) AS sum_bal " +
            "FROM mvddl_by_nation ORDER BY grp")
      } finally graft.server.GraftServer.unregister("mvddl_accts")
    }),

    // r11 matview DDL growth: COUNT(col) (per-column non-null counter),
    // AVG (served as SUM/COUNT at read), and a WHERE predicate that
    // commutes with the Δ-rules — driven as pure SQL text. The bal
    // bump crosses the WHERE boundary for some accounts (negative
    // balances entering bal > 0), the delete removes rows, and score's
    // NULL pattern exercises the null tracking COUNT(col) needs.
    "q164_sql_matview_avg" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvavg_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "bal", "score"))
      graft.server.GraftServer.register("mvavg_accts", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("g"),
          $"c_acctbal".cast("decimal(12,2)").as("m"),
          when($"c_custkey" % 3 === 0, lit(null))
            .otherwise($"c_acctbal").cast("decimal(12,2)").as("sc"))
        t.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"m", "score" -> $"sc"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvavg_by_nation WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT grp, COUNT(*) AS n, COUNT(score) AS n_score, " +
            "SUM(bal) AS sum_bal, AVG(bal) AS avg_bal " +
            "FROM mvavg_accts WHERE bal > 0 GROUP BY grp")
        t.put(cust.filter($"id" % 10 === 0)
            .withColumn("m2", ($"m" + 100).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"m2", "score" -> $"sc"),
          ts("2020-01-02 00:00:00"))
        t.delete(cust.filter($"id" % 13 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "bal" -> lit(null).cast("decimal(12,2)"),
            "score" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-03 00:00:00"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvavg_by_nation")
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, n_score, CAST(sum_bal AS DOUBLE) AS sum_bal, " +
            "avg_bal FROM mvavg_by_nation ORDER BY grp")
      } finally graft.server.GraftServer.unregister("mvavg_accts")
    }),

    // r12 join-matview DDL growth: COUNT(col)/AVG/WHERE on the Δ(A⋈B)
    // form — orders ⋈ customers with a fact-column predicate, a
    // nullable score for the non-null counter, AVG served as
    // SUM/COUNT at read. The +100000 bump crosses the amt > 50000
    // boundary both ways, the dim tail relocates every 10th customer
    // (re-grouping its orders with zero fact ops), deletes shrink
    // groups — all folded by ONE incremental refresh, driven as pure
    // SQL text.
    "q165_sql_join_matview_avg" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/jmvavg_f_$base"; val dtmp = s"target/jmvavg_d_$base"
      TxLog.deleteRecursively(new java.io.File(ftmp))
      TxLog.deleteRecursively(new java.io.File(dtmp))
      graft.server.GraftMatviews.reset()
      val fact = new GraftTable(s, ftmp, Seq("cust", "amt", "score"))
      val dim = new GraftTable(s, dtmp, Seq("region"))
      graft.server.GraftServer.register("mvjavg_orders", fact)
      graft.server.GraftServer.register("mvjavg_cust", dim)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("rg"))
        val ord = T(s, dir, "orders").select($"o_orderkey".as("id"),
          $"o_custkey".cast("long").as("ck"),
          $"o_totalprice".cast("decimal(14,2)").as("m"),
          when($"o_orderkey" % 3 === 0, lit(null))
            .otherwise($"o_totalprice").cast("decimal(14,2)").as("sc"))
        dim.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
        fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "amt" -> $"m", "score" -> $"sc"),
          ts("2020-01-01 00:00:01"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvjavg_by_region WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT region, COUNT(*) AS n, COUNT(score) AS n_score, " +
            "SUM(amt) AS sum_amt, AVG(amt) AS avg_amt " +
            "FROM mvjavg_orders JOIN mvjavg_cust ON cust = mvjavg_cust._id " +
            "WHERE amt > 50000 GROUP BY region")
        fact.put(ord.filter($"id" % 20 === 0)
            .withColumn("m2", ($"m" + 100000).cast("decimal(14,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "amt" -> $"m2", "score" -> $"sc"),
          ts("2020-01-02 00:00:00"))
        fact.delete(ord.filter($"id" % 31 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("cust" -> lit(null).cast("long"),
            "amt" -> lit(null).cast("decimal(14,2)"),
            "score" -> lit(null).cast("decimal(14,2)")),
          ts("2020-01-02 00:00:01"))
        dim.put(cust.filter($"id" % 10 === 0).withColumn("rg2", lit("99")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg2"), ts("2020-01-02 00:00:02"))
        graft.server.GraftSql.sql(s,
          "REFRESH MATERIALIZED VIEW mvjavg_by_region")
        graft.server.GraftSql.sql(s,
          "SELECT region, n, n_score, CAST(sum_amt AS DOUBLE) AS sum_amt, " +
            "avg_amt FROM mvjavg_by_region ORDER BY region")
      } finally {
        graft.server.GraftServer.unregister("mvjavg_orders")
        graft.server.GraftServer.unregister("mvjavg_cust")
      }
    }),

    // r12 matview DDL growth, part 2: MULTI-column GROUP BY spanning
    // the join (dim region + fact priority) and HAVING over the output
    // columns (served as a read-time filter — state keeps every
    // group). Same mutation flow as q165; the HAVING threshold splits
    // the group set nontrivially.
    "q166_sql_matview_multi" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/jmvmg_f_$base"; val dtmp = s"target/jmvmg_d_$base"
      TxLog.deleteRecursively(new java.io.File(ftmp))
      TxLog.deleteRecursively(new java.io.File(dtmp))
      graft.server.GraftMatviews.reset()
      val fact = new GraftTable(s, ftmp, Seq("cust", "prio", "amt"))
      val dim = new GraftTable(s, dtmp, Seq("region"))
      graft.server.GraftServer.register("mvmg_orders", fact)
      graft.server.GraftServer.register("mvmg_cust", dim)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("rg"))
        val ord = T(s, dir, "orders").select($"o_orderkey".as("id"),
          $"o_custkey".cast("long").as("ck"),
          $"o_orderpriority".as("pr"),
          $"o_totalprice".cast("decimal(14,2)").as("m"))
        dim.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
        fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "prio" -> $"pr", "amt" -> $"m"),
          ts("2020-01-01 00:00:01"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvmg_by_rp WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT region, prio, COUNT(*) AS n, SUM(amt) AS sum_amt " +
            "FROM mvmg_orders JOIN mvmg_cust ON cust = mvmg_cust._id " +
            "WHERE amt > 50000 GROUP BY region, prio HAVING n > 50")
        fact.put(ord.filter($"id" % 20 === 0)
            .withColumn("m2", ($"m" + 100000).cast("decimal(14,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "prio" -> $"pr", "amt" -> $"m2"),
          ts("2020-01-02 00:00:00"))
        fact.delete(ord.filter($"id" % 31 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("cust" -> lit(null).cast("long"),
            "prio" -> lit(null).cast("string"),
            "amt" -> lit(null).cast("decimal(14,2)")),
          ts("2020-01-02 00:00:01"))
        dim.put(cust.filter($"id" % 10 === 0).withColumn("rg2", lit("99")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg2"), ts("2020-01-02 00:00:02"))
        graft.server.GraftSql.sql(s,
          "REFRESH MATERIALIZED VIEW mvmg_by_rp")
        graft.server.GraftSql.sql(s,
          "SELECT region, prio, n, CAST(sum_amt AS DOUBLE) AS sum_amt " +
            "FROM mvmg_by_rp ORDER BY region, prio")
      } finally {
        graft.server.GraftServer.unregister("mvmg_orders")
        graft.server.GraftServer.unregister("mvmg_cust")
      }
    }),

    // r12 matview DDL growth, part 3: EXPRESSION aggregates — the
    // TPC-H revenue expression SUM(price * (1 - disc)) as a derived
    // column maintained by the same Δ-rules as a stored column, AVG
    // over the same expression sharing that state, MAX over it riding
    // the touched-group fallback, all under a WHERE and a multi-column
    // group. Mutations bump prices (touching the extreme) and delete.
    "q167_sql_matview_expr" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvexpr_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp,
        Seq("status", "prio", "price", "disc"))
      graft.server.GraftServer.register("mvex_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        // orders keyed by the UNIQUE o_orderkey (lineitem's synthetic
        // (orderkey, linenumber) pairs collide in this testdata);
        // disc synthesized as an exact two-decimal value both engines
        // replay bit-identically
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderstatus".as("st"), $"o_orderpriority".as("pr"),
          $"o_totalprice".cast("decimal(12,2)").as("p"),
          (($"o_orderkey" % 10).cast("double") / 100.0)
            .cast("decimal(12,2)").as("d"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("status" -> $"st", "prio" -> $"pr", "price" -> $"p",
            "disc" -> $"d"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvex_rev WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT status, prio, COUNT(*) AS n, " +
            "SUM(price * (1 - disc)) AS rev, " +
            "AVG(price * (1 - disc)) AS avg_rev, " +
            "MAX(price * (1 - disc)) AS max_rev " +
            "FROM mvex_ord WHERE price > 1000 GROUP BY status, prio")
        t.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("status" -> $"st", "prio" -> $"pr", "price" -> $"p2",
            "disc" -> $"d"),
          ts("2020-01-02 00:00:00"))
        t.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("status" -> lit(null).cast("string"),
            "prio" -> lit(null).cast("string"),
            "price" -> lit(null).cast("decimal(12,2)"),
            "disc" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvex_rev")
        graft.server.GraftSql.sql(s,
          "SELECT status, prio, n, CAST(rev AS DOUBLE) AS rev, " +
            "avg_rev, CAST(max_rev AS DOUBLE) AS max_rev " +
            "FROM mvex_rev ORDER BY status, prio")
      } finally graft.server.GraftServer.unregister("mvex_ord")
    }),

    // r12 matview DDL growth, part 4: EXPRESSION group keys — the
    // time-bucketed rollup GROUP BY date_trunc('month', od), the
    // single most common production matview shape. The bucket is a
    // derived column riding the same Δ machinery as a stored key; MAX
    // exercises the touched-group fallback semi-joining on the derived
    // key. Price bumps cross the WHERE boundary and the delete shrinks
    // buckets.
    "q168_sql_matview_bucket" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvgb_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("od", "price"))
      graft.server.GraftServer.register("mvgb_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderdate".cast("timestamp").as("odv"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("od" -> $"odv", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvgb_by_month WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT date_trunc('month', od) AS m, COUNT(*) AS n, " +
            "SUM(price) AS total, MAX(price) AS mx " +
            "FROM mvgb_ord WHERE price > 5000 " +
            "GROUP BY date_trunc('month', od)")
        t.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("od" -> $"odv", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        t.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("od" -> lit(null).cast("timestamp"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvgb_by_month")
        graft.server.GraftSql.sql(s,
          "SELECT CAST(CAST(m AS DATE) AS STRING) AS m, n, " +
            "CAST(total AS DOUBLE) AS total, " +
            "CAST(mx AS DOUBLE) AS mx FROM mvgb_by_month ORDER BY m")
      } finally graft.server.GraftServer.unregister("mvgb_ord")
    }),

    // q168's month rollup re-created WITH (layout = 'range') — state is
    // value-partitioned on the month STRING (one dir per month), so the
    // serving range read below (a full-year BETWEEN, and production
    // dashboards' narrower slices alike) lists a dir subset natively;
    // same mutation story, same oracle as q168 (minus the months the
    // range predicate trims — the oracle trims identically).
    "q174_sql_matview_range_layout" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvrl_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("od", "price"))
      graft.server.GraftServer.register("mvrl_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderdate".cast("timestamp").as("odv"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("od" -> $"odv", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvrl_by_month WITH " +
            "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
            "SELECT CAST(CAST(date_trunc('month', od) AS DATE) AS STRING)" +
            " AS m, COUNT(*) AS n, SUM(price) AS total, MAX(price) AS mx " +
            "FROM mvrl_ord WHERE price > 5000 " +
            "GROUP BY CAST(CAST(date_trunc('month', od) AS DATE) AS STRING)")
        t.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("od" -> $"odv", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        t.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("od" -> lit(null).cast("timestamp"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvrl_by_month")
        graft.server.GraftSql.sql(s,
          "SELECT m, n, CAST(total AS DOUBLE) AS total, " +
            "CAST(mx AS DOUBLE) AS mx FROM mvrl_by_month " +
            "WHERE m BETWEEN '1993-01-01' AND '1996-12-01' ORDER BY m")
      } finally graft.server.GraftServer.unregister("mvrl_ord")
    }),

    // q174's range layout with the NATIVE key type it was built for:
    // the month bucket stays DATE — no manual string cast — and the
    // serving read ranges over DATE literals (the write side formats
    // dirs as timezone-free ISO days, the prune rule mirrors date
    // literals through the same cast). Same mutation story as q174.
    "q175_sql_matview_range_date" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvrd_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("od", "price"))
      graft.server.GraftServer.register("mvrd_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderdate".cast("timestamp").as("odv"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("od" -> $"odv", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvrd_by_month WITH " +
            "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
            "SELECT CAST(date_trunc('month', od) AS DATE) AS m, " +
            "COUNT(*) AS n, SUM(price) AS total, MAX(price) AS mx " +
            "FROM mvrd_ord WHERE price > 5000 " +
            "GROUP BY CAST(date_trunc('month', od) AS DATE)")
        t.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("od" -> $"odv", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        t.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("od" -> lit(null).cast("timestamp"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvrd_by_month")
        graft.server.GraftSql.sql(s,
          "SELECT CAST(m AS STRING) AS m, n, " +
            "CAST(total AS DOUBLE) AS total, CAST(mx AS DOUBLE) AS mx " +
            "FROM mvrd_by_month WHERE m BETWEEN DATE'1993-01-01' AND " +
            "DATE'1996-12-01' ORDER BY m")
      } finally graft.server.GraftServer.unregister("mvrd_ord")
    }),

    // LEFT-join matview (r15): orders LEFT JOIN customer where some fks
    // DANGLE (no such customer) or are NULL — those facts serve as a
    // null-extended group instead of vanishing. The mutation story
    // walks the left-join-specific edges: a fact bump + delete wave,
    // then a customer DELETE wave that moves every referencing order
    // into the null-extended group with zero fact ops.
    "q176_sql_matview_left_join" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/mvlj_f_$base"; val ctmp = s"target/mvlj_c_$base"
      Seq(ftmp, ctmp).foreach(p =>
        TxLog.deleteRecursively(new java.io.File(p)))
      graft.server.GraftMatviews.reset()
      val fact = new GraftTable(s, ftmp, Seq("ck", "price"))
      val dcust = new GraftTable(s, ctmp, Seq("region"))
      graft.server.GraftServer.register("mvlj_ord", fact)
      graft.server.GraftServer.register("mvlj_cust", dcust)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("rg"))
        // %13 fks dangle (shifted past every real custkey), %17 are NULL
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          when($"o_orderkey" % 17 === 0, lit(null).cast("long"))
            .when($"o_orderkey" % 13 === 0, $"o_custkey" + 10000000L)
            .otherwise($"o_custkey").cast("long").as("k"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        dcust.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
        fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("ck" -> $"k", "price" -> $"p"), ts("2020-01-01 00:00:01"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvlj_rev WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT region, COUNT(*) AS n, SUM(price) AS total, " +
            "MAX(price) AS mx FROM mvlj_ord " +
            "LEFT JOIN mvlj_cust ON ck = mvlj_cust._id " +
            "WHERE price > 1000 GROUP BY region")
        fact.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("ck" -> $"k", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        fact.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("ck" -> lit(null).cast("long"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        // customer delete wave: their orders re-group to NULL region
        dcust.delete(cust.filter($"id" % 10 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> lit(null).cast("string")),
          ts("2020-01-02 00:00:02"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvlj_rev")
        // COALESCE sidesteps Spark-vs-DuckDB NULL ordering divergence
        graft.server.GraftSql.sql(s,
          "SELECT COALESCE(region, '(none)') AS region, n, " +
            "CAST(total AS DOUBLE) AS total, CAST(mx AS DOUBLE) AS mx " +
            "FROM mvlj_rev ORDER BY 1")
      } finally {
        graft.server.GraftServer.unregister("mvlj_ord")
        graft.server.GraftServer.unregister("mvlj_cust")
      }
    }),

    // q175's range layout with a TIMESTAMP_NTZ key — the third accepted
    // leading type. date_trunc returns a zone-carrying TIMESTAMP in
    // Spark (refused for range dirs), so the production spelling is
    // CAST(date_trunc(...) AS TIMESTAMP_NTZ): a zone-free wall-clock
    // month that formats as a lexicographic-safe ISO dir and range-
    // prunes through NTZ literals in the serving read. Same mutation
    // story as q174/q175.
    "q177_sql_matview_range_ntz" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvrn_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("od", "price"))
      graft.server.GraftServer.register("mvrn_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderdate".cast("timestamp_ntz").as("odv"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("od" -> $"odv", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvrn_by_month WITH " +
            "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
            "SELECT CAST(date_trunc('month', od) AS TIMESTAMP_NTZ) AS m, " +
            "COUNT(*) AS n, SUM(price) AS total, MAX(price) AS mx " +
            "FROM mvrn_ord WHERE price > 5000 " +
            "GROUP BY CAST(date_trunc('month', od) AS TIMESTAMP_NTZ)")
        t.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("od" -> $"odv", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        t.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("od" -> lit(null).cast("timestamp_ntz"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvrn_by_month")
        graft.server.GraftSql.sql(s,
          "SELECT CAST(m AS STRING) AS m, n, " +
            "CAST(total AS DOUBLE) AS total, CAST(mx AS DOUBLE) AS mx " +
            "FROM mvrn_by_month WHERE m BETWEEN " +
            "TIMESTAMP_NTZ'1993-01-01 00:00:00' AND " +
            "TIMESTAMP_NTZ'1996-12-01 00:00:00' ORDER BY m")
      } finally graft.server.GraftServer.unregister("mvrn_ord")
    }),

    // Mixed-spoke STAR (r15): customer is a LEFT spoke (NULL and
    // dangling fks keep their facts as null-extended rows), promo is
    // an INNER spoke, and the expression aggregate reads the INNER
    // dim's factor — so a null-extended fact still multiplies through.
    // Mutations: fact bump+delete, a promo factor change with zero
    // fact ops, and a customer DELETE wave that re-groups every
    // referencing order into the NULL region with zero fact ops.
    "q178_sql_matview_left_star" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/mvls_f_$base"; val ctmp = s"target/mvls_c_$base"
      val ptmp = s"target/mvls_p_$base"
      Seq(ftmp, ctmp, ptmp).foreach(p =>
        TxLog.deleteRecursively(new java.io.File(p)))
      graft.server.GraftMatviews.reset()
      val fact = new GraftTable(s, ftmp, Seq("cust", "promo", "price"))
      val dcust = new GraftTable(s, ctmp, Seq("region"))
      val dpromo = new GraftTable(s, ptmp, Seq("grp", "factor"))
      graft.server.GraftServer.register("mvls_ord", fact)
      graft.server.GraftServer.register("mvls_cust", dcust)
      graft.server.GraftServer.register("mvls_promo", dpromo)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("rg"))
        val promo = s.range(0, 10).select($"id",
          when($"id" < 5, lit("low")).otherwise(lit("high")).as("g"),
          ($"id" + 1).as("f"))
        // %13 fks dangle (shifted past every real custkey), %17 NULL
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          when($"o_orderkey" % 17 === 0, lit(null).cast("long"))
            .when($"o_orderkey" % 13 === 0, $"o_custkey" + 10000000L)
            .otherwise($"o_custkey").cast("long").as("ck"),
          ($"o_orderkey" % 10).cast("long").as("pk"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        dcust.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
        dpromo.put(promo, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "factor" -> $"f"), ts("2020-01-01 00:00:01"))
        fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "promo" -> $"pk", "price" -> $"p"),
          ts("2020-01-01 00:00:02"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvls_rev WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT region, grp, COUNT(*) AS n, " +
            "SUM(price * factor) AS rev " +
            "FROM mvls_ord LEFT JOIN mvls_cust ON cust = mvls_cust._id " +
            "JOIN mvls_promo ON promo = mvls_promo._id " +
            "WHERE price > 1000 GROUP BY region, grp")
        fact.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "promo" -> $"pk", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        fact.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("cust" -> lit(null).cast("long"),
            "promo" -> lit(null).cast("long"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        dpromo.put(Seq((3L, "low", 40L)).toDF("id", "g", "f"), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "factor" -> $"f"), ts("2020-01-02 00:00:02"))
        // customer delete wave: their orders re-group to NULL region
        dcust.delete(cust.filter($"id" % 10 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> lit(null).cast("string")),
          ts("2020-01-02 00:00:03"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvls_rev")
        graft.server.GraftSql.sql(s,
          "SELECT COALESCE(region, '(none)') AS region, grp, n, " +
            "CAST(rev AS DOUBLE) AS rev FROM mvls_rev ORDER BY 1, 2")
      } finally {
        graft.server.GraftServer.unregister("mvls_ord")
        graft.server.GraftServer.unregister("mvls_cust")
        graft.server.GraftServer.unregister("mvls_promo")
      }
    }),

    // DISTINCT aggregate over a LEFT spoke (r15): the exact pair aux
    // inherits the join type, so the null-extended group keeps its own
    // distinct set — dangling/NULL-fk orders contribute their codes to
    // the NULL region, and the customer delete wave MOVES whole
    // distinct sets between groups with zero fact ops.
    "q180_sql_matview_left_distinct" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/mvld_f_$base"; val ctmp = s"target/mvld_c_$base"
      Seq(ftmp, ctmp).foreach(p =>
        TxLog.deleteRecursively(new java.io.File(p)))
      graft.server.GraftMatviews.reset()
      val fact = new GraftTable(s, ftmp, Seq("ck", "code", "price"))
      val dcust = new GraftTable(s, ctmp, Seq("region"))
      graft.server.GraftServer.register("mvld_ord", fact)
      graft.server.GraftServer.register("mvld_cust", dcust)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("rg"))
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          when($"o_orderkey" % 17 === 0, lit(null).cast("long"))
            .when($"o_orderkey" % 13 === 0, $"o_custkey" + 10000000L)
            .otherwise($"o_custkey").cast("long").as("k"),
          ($"o_orderkey" % 5).cast("long").as("cd"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        dcust.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
        fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("ck" -> $"k", "code" -> $"cd", "price" -> $"p"),
          ts("2020-01-01 00:00:01"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvld_codes WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT region, COUNT(*) AS n, " +
            "COUNT(DISTINCT code) AS ndc, SUM(DISTINCT code) AS sdc, " +
            "SUM(price) AS total FROM mvld_ord " +
            "LEFT JOIN mvld_cust ON ck = mvld_cust._id " +
            "WHERE price > 1000 GROUP BY region")
        fact.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("ck" -> $"k", "code" -> $"cd", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        fact.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("ck" -> lit(null).cast("long"),
            "code" -> lit(null).cast("long"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        dcust.delete(cust.filter($"id" % 10 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> lit(null).cast("string")),
          ts("2020-01-02 00:00:02"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvld_codes")
        graft.server.GraftSql.sql(s,
          "SELECT COALESCE(region, '(none)') AS region, n, ndc, sdc, " +
            "CAST(total AS DOUBLE) AS total " +
            "FROM mvld_codes ORDER BY 1")
      } finally {
        graft.server.GraftServer.unregister("mvld_ord")
        graft.server.GraftServer.unregister("mvld_cust")
      }
    }),

    // Statistics tier (r15): VARIANCE/STDDEV maintain EXACTLY through
    // sum + sum-of-squares (a derived column) + non-null count — zero
    // new state mechanics, served by formula; MEDIAN/PERCENTILE_CONT
    // (exact) and APPROX_PERCENTILE ride the MIN/MAX touched-group
    // recompute (percentiles cannot subtract). The oracle mirrors the
    // serve formula's exact double arithmetic over DuckDB's exact
    // decimal sums and checks the approx median against the exact one
    // at the advertised tolerance (the q173 pattern).
    "q181_sql_matview_stats" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvvs_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "bal"))
      graft.server.GraftServer.register("mvvs_cust", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val c = T(s, dir, "customer").select(
          $"c_custkey".cast("long").as("id"),
          $"c_nationkey".cast("string").as("g"),
          when($"c_custkey" % 13 === 0, lit(null).cast("decimal(12,2)"))
            .otherwise($"c_acctbal".cast("decimal(12,2)")).as("b"))
        t.put(c, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"b"), ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvvs_stats WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT grp, COUNT(*) AS n, " +
            "VARIANCE(bal) AS vs, VAR_POP(bal) AS vp, " +
            "STDDEV(bal) AS sd, STDDEV_POP(bal) AS sp, " +
            "MEDIAN(bal) AS med, PERCENTILE_CONT(bal, 0.1) AS p10, " +
            "PERCENTILE_CONT(bal, 0.9) AS p90, " +
            "APPROX_PERCENTILE(bal, 0.5) AS amed " +
            "FROM mvvs_cust GROUP BY grp")
        // bump wave then delete wave — the touched groups' percentiles
        // recompute, the sums delta
        t.put(c.filter($"id" % 11 === 0)
            .withColumn("b2", ($"b" + 250).cast("decimal(12,2)")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"b2"), ts("2020-01-02 00:00:00"))
        t.delete(c.filter($"id" % 7 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "bal" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvvs_stats")
        // the approx-median check is RANK-windowed (percentile sketches
        // advertise rank error, not value error — and both engines'
        // sketches return a member value, not an interpolation): the
        // estimate must land between the exact p10 and p90, a ≥20-rank
        // margin on these ~50-row-per-nation groups
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, vs, vp, sd, sp, med, p10, p90, " +
            "(amed IS NULL AND med IS NULL) OR " +
            "(amed >= p10 AND amed <= p90) AS amed_ok " +
            "FROM mvvs_stats ORDER BY grp")
      } finally graft.server.GraftServer.unregister("mvvs_cust")
    }),

    // Statistics over a LEFT join (r15): STDDEV and exact percentiles
    // recompute ACROSS the join for groups a dim wave moves — including
    // the null-extended group fed by NULL/dangling fks.
    "q182_sql_matview_join_stats" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/mvjs_f_$base"; val ctmp = s"target/mvjs_c_$base"
      Seq(ftmp, ctmp).foreach(p =>
        TxLog.deleteRecursively(new java.io.File(p)))
      graft.server.GraftMatviews.reset()
      val fact = new GraftTable(s, ftmp, Seq("ck", "price"))
      val dcust = new GraftTable(s, ctmp, Seq("region"))
      graft.server.GraftServer.register("mvjs_ord", fact)
      graft.server.GraftServer.register("mvjs_cust", dcust)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("rg"))
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          when($"o_orderkey" % 17 === 0, lit(null).cast("long"))
            .when($"o_orderkey" % 13 === 0, $"o_custkey" + 10000000L)
            .otherwise($"o_custkey").cast("long").as("k"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        dcust.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
        fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("ck" -> $"k", "price" -> $"p"), ts("2020-01-01 00:00:01"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvjs_stats WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT region, COUNT(*) AS n, SUM(price) AS total, " +
            "STDDEV(price) AS sd, MEDIAN(price) AS med, " +
            "PERCENTILE_CONT(price, 0.9) AS p90 " +
            "FROM mvjs_ord LEFT JOIN mvjs_cust ON ck = mvjs_cust._id " +
            "GROUP BY region")
        // fact bump + delete, then the dim group-move wave (zero fact
        // ops): every moved region's stats recompute across the join
        fact.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("ck" -> $"k", "price" -> $"p2"), ts("2020-01-02 00:00:00"))
        fact.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("ck" -> lit(null).cast("long"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        dcust.put(cust.filter($"id" % 10 === 0)
            .withColumn("rg2", lit("99")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg2"), ts("2020-01-02 00:00:02"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvjs_stats")
        // sd rounds to 3 decimals on both sides: the sum of squares
        // here exceeds 2^53, and the oracle engine's decimal→double
        // cast double-rounds (int128 then scale division) where Spark's
        // is correctly rounded — a deterministic 1-ulp divergence the
        // rounding absorbs
        graft.server.GraftSql.sql(s,
          "SELECT COALESCE(region, '(none)') AS region, n, " +
            "CAST(total AS DOUBLE) AS total, ROUND(sd, 3) AS sd, " +
            "med, p90 FROM mvjs_stats ORDER BY 1")
      } finally {
        graft.server.GraftServer.unregister("mvjs_ord")
        graft.server.GraftServer.unregister("mvjs_cust")
      }
    }),

    // ANSI NULL arithmetic through the maintained state (r15): one
    // whole group's prices are NULL, so its SUM/AVG must serve NULL —
    // the state stores the additive identity 0 there and only the
    // ride-along non-null count can tell them apart (the star-fuzz-
    // found serve bug, pinned through the driver oracle). A NULL-update
    // wave then drains another group's non-null values entirely,
    // walking the cancellation edge: its stored sum really IS 0.
    "q179_sql_matview_sum_null" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvsn_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "price"))
      graft.server.GraftServer.register("mvsn_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        // '1-URGENT' orders carry NULL price from the start
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderpriority".as("g"),
          when($"o_orderpriority".startsWith("1"),
              lit(null).cast("decimal(12,2)"))
            .otherwise($"o_totalprice".cast("decimal(12,2)")).as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "price" -> $"p"), ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvsn_by_prio WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
            "SELECT grp, COUNT(*) AS n, COUNT(price) AS np, " +
            "SUM(price) AS total, AVG(price) AS av " +
            "FROM mvsn_ord GROUP BY grp")
        // '2-HIGH' loses every non-null price (NULL update) — the
        // stored sum cancels to 0, the serve must come back as NULL
        t.put(ord.filter($"g".startsWith("2")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g",
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:00"))
        // and an ordinary bump elsewhere keeps the mixed groups honest
        t.put(ord.filter($"id" % 7 === 0 && !$"g".startsWith("2")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("grp" -> $"g",
            "price" -> when($"p".isNotNull, $"p" + 1000).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvsn_by_prio")
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, np, CAST(total AS DOUBLE) AS total, av " +
            "FROM mvsn_by_prio ORDER BY grp")
      } finally graft.server.GraftServer.unregister("mvsn_ord")
    }),

    // r12 matview DDL growth, part 5: the STAR form — orders joined to
    // TWO dims (customer region, a promo-class dim keyed by
    // o_orderkey % 10) with an expression aggregate reading the SECOND
    // dim. Mutations hit every edge: fact bump+delete, a promo-factor
    // change with zero fact ops (second-spoke dim-touched), and a
    // customer region move.
    "q169_sql_star_matview" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/mvst_f_$base"; val ctmp = s"target/mvst_c_$base"
      val ptmp = s"target/mvst_p_$base"
      Seq(ftmp, ctmp, ptmp).foreach(p =>
        TxLog.deleteRecursively(new java.io.File(p)))
      graft.server.GraftMatviews.reset()
      val fact = new GraftTable(s, ftmp, Seq("cust", "promo", "price"))
      val dcust = new GraftTable(s, ctmp, Seq("region"))
      val dpromo = new GraftTable(s, ptmp, Seq("grp", "factor"))
      graft.server.GraftServer.register("mvst_ord", fact)
      graft.server.GraftServer.register("mvst_cust", dcust)
      graft.server.GraftServer.register("mvst_promo", dpromo)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("rg"))
        val promo = s.range(0, 10).select($"id",
          when($"id" < 5, lit("low")).otherwise(lit("high")).as("g"),
          ($"id" + 1).as("f"))
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_custkey".cast("long").as("ck"),
          ($"o_orderkey" % 10).cast("long").as("pk"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        dcust.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
        dpromo.put(promo, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "factor" -> $"f"), ts("2020-01-01 00:00:01"))
        fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "promo" -> $"pk", "price" -> $"p"),
          ts("2020-01-01 00:00:02"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvst_rev WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT region, grp, COUNT(*) AS n, " +
            "SUM(price * factor) AS rev " +
            "FROM mvst_ord JOIN mvst_cust ON cust = mvst_cust._id " +
            "JOIN mvst_promo ON promo = mvst_promo._id " +
            "WHERE price > 1000 GROUP BY region, grp")
        fact.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "promo" -> $"pk", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        fact.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("cust" -> lit(null).cast("long"),
            "promo" -> lit(null).cast("long"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        dpromo.put(Seq((3L, "low", 40L)).toDF("id", "g", "f"), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "factor" -> $"f"), ts("2020-01-02 00:00:02"))
        dcust.put(cust.filter($"id" % 10 === 0).withColumn("rg2", lit("99")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("region" -> $"rg2"), ts("2020-01-02 00:00:03"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvst_rev")
        graft.server.GraftSql.sql(s,
          "SELECT region, grp, n, CAST(rev AS DOUBLE) AS rev " +
            "FROM mvst_rev ORDER BY region, grp")
      } finally {
        graft.server.GraftServer.unregister("mvst_ord")
        graft.server.GraftServer.unregister("mvst_cust")
        graft.server.GraftServer.unregister("mvst_promo")
      }
    }),

    // r12 matview DDL growth, part 6: RESTART RECOVERY — the registry
    // is in-memory, the definition sidecar is not. The flow creates a
    // view, lands an unrefreshed tail, wipes the registry (simulated
    // JVM restart), then RESTORE re-registers from the `_ddl` sidecar:
    // the matching fingerprint adopts the surviving state and the
    // populating refresh folds exactly the tail that accumulated
    // while down.
    "q170_sql_matview_restore" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvrst_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "bal"))
      graft.server.GraftServer.register("mvrst_accts", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("g"),
          $"c_acctbal".cast("decimal(12,2)").as("m"))
        t.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"m"), ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvrst_by_nation WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT grp, COUNT(*) AS n, SUM(bal) AS total " +
            "FROM mvrst_accts WHERE bal > 0 GROUP BY grp")
        // tail lands while "down": bump + delete, never refreshed here
        t.put(cust.filter($"id" % 10 === 0)
            .withColumn("m2", ($"m" + 100).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"m2"), ts("2020-01-02 00:00:00"))
        t.delete(cust.filter($"id" % 13 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "bal" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftMatviews.reset() // simulated restart
        graft.server.GraftSql.sql(s, "RESTORE MATERIALIZED VIEWS")
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, CAST(total AS DOUBLE) AS total " +
            "FROM mvrst_by_nation ORDER BY grp")
      } finally graft.server.GraftServer.unregister("mvrst_accts")
    }),

    // r13 matview DDL growth: DISTINCT aggregates —
    // COUNT/SUM/AVG(DISTINCT code) maintained EXACTLY through an
    // auxiliary pair-level view (group key = grp + code, nested under
    // the main state, refreshed pinned to the main watermark) and
    // served by a read-time rollup of the surviving pairs. The
    // mutations drive every distinct-specific transition: a bump
    // crossing the WHERE boundary (codes enter/leave a group's
    // distinct set), a group MOVE relocating codes between groups, and
    // deletes that strip duplicate holders before the last one.
    "q171_sql_matview_distinct" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvdst_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "code", "bal"))
      graft.server.GraftServer.register("mvdst_accts", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("g"),
          when($"c_custkey" % 7 === 0, lit(null))
            .otherwise($"c_custkey" % 50).cast("long").as("cd"),
          $"c_acctbal".cast("decimal(12,2)").as("m"))
        t.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "code" -> $"cd", "bal" -> $"m"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvdst_by_nation WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT grp, COUNT(*) AS n, COUNT(DISTINCT code) AS nd, " +
            "SUM(DISTINCT code) AS sd, AVG(DISTINCT code) AS ad " +
            "FROM mvdst_accts WHERE bal > 0 GROUP BY grp")
        // bump every 10th (+100 crosses bal > 0 for negatives); the
        // composed payload keeps the %11 group move for overlap ids
        t.put(cust.filter($"id" % 10 === 0)
            .withColumn("g2",
              when($"id" % 11 === 0, lit("99")).otherwise($"g"))
            .withColumn("m2", ($"m" + 100).cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("grp" -> $"g2", "code" -> $"cd", "bal" -> $"m2"),
          ts("2020-01-02 00:00:00"))
        // group move: every 11th relocates to '99' (bump preserved on
        // the overlap so last-write-wins composes like the oracle)
        t.put(cust.filter($"id" % 11 === 0)
            .withColumn("m3", when($"id" % 10 === 0, $"m" + 100)
              .otherwise($"m").cast("decimal(12,2)")),
          $"id", lit("2000-06-01").cast("timestamp"), None,
          Seq("grp" -> lit("99"), "code" -> $"cd", "bal" -> $"m3"),
          ts("2020-01-02 00:00:01"))
        t.delete(cust.filter($"id" % 13 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "code" -> lit(null).cast("long"),
            "bal" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:02"))
        graft.server.GraftSql.sql(s,
          "REFRESH MATERIALIZED VIEW mvdst_by_nation")
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, nd, sd, ad FROM mvdst_by_nation ORDER BY grp")
      } finally graft.server.GraftServer.unregister("mvdst_accts")
    }),

    // The DISTINCT view's POINT-READ serve path (r14): the distinct
    // rollup is MATERIALIZED into the main state at refresh, so a
    // group-key read serves from the main state's pruned bucket dirs
    // and never scans the auxiliary pair state (MatviewSpec and
    // GraftMatviewsSpec lock the plan shape — one FileSourceScanExec,
    // numFiles ∝ the IN-list; this entry locks the VALUES end-to-end
    // through the SQL front door against the DuckDB oracle).
    "q172_sql_matview_distinct_serve" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvdsv_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "code", "bal"))
      graft.server.GraftServer.register("mvdsv_accts", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("g"),
          when($"c_custkey" % 7 === 0, lit(null))
            .otherwise($"c_custkey" % 50).cast("long").as("cd"),
          $"c_acctbal".cast("decimal(12,2)").as("m"))
        t.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "code" -> $"cd", "bal" -> $"m"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvdsv_by_nation WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT grp, COUNT(*) AS n, COUNT(DISTINCT code) AS nd, " +
            "SUM(DISTINCT code) AS sd FROM mvdsv_accts " +
            "WHERE bal > 0 GROUP BY grp")
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, nd, sd FROM mvdsv_by_nation " +
            "WHERE grp IN ('3', '7', '14') ORDER BY grp")
      } finally graft.server.GraftServer.unregister("mvdsv_accts")
    }),

    // APPROX_COUNT_DISTINCT in the matview DDL (r14): one mergeable
    // HLL sketch per group — state ∝ groups where the exact pair-level
    // machinery is ∝ distinct (group, value) pairs — maintained by
    // touched-group recompute (the MIN/MAX lifecycle), so the DELETE
    // below is absorbed exactly: no tombstoned value lingers in the
    // sketch. Served as the estimate; checked q67-style (each engine
    // compares ITS OWN approximation against the exact count within
    // tolerance — estimates differ across implementations, the
    // accuracy contract does not).
    "q173_sql_matview_approx_distinct" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvapd_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "code", "bal"))
      graft.server.GraftServer.register("mvapd_accts", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
          $"c_nationkey".cast("string").as("g"),
          ($"c_custkey" % 1000).cast("long").as("cd"),
          $"c_acctbal".cast("decimal(12,2)").as("m"))
        t.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "code" -> $"cd", "bal" -> $"m"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvapd_by_nation WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT grp, COUNT(*) AS n, APPROX_COUNT_DISTINCT(code) " +
            "AS apd FROM mvapd_accts WHERE bal > 0 GROUP BY grp")
        // deletes force the touched-group sketch recompute
        t.delete(cust.filter($"id" % 13 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "code" -> lit(null).cast("long"),
            "bal" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:00"))
        graft.server.GraftSql.sql(s,
          "REFRESH MATERIALIZED VIEW mvapd_by_nation")
        val exact = t.current().filter($"bal" > 0).groupBy($"grp")
          .agg(count_distinct($"code").as("nd_exact"))
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, apd FROM mvapd_by_nation").as("v")
          .join(exact.as("e"), col("v.grp") === col("e.grp"))
          .select(col("v.grp").as("grp"), col("v.n").as("n"),
            col("e.nd_exact").as("nd_exact"),
            (abs(col("v.apd") - col("e.nd_exact")) <=
              greatest(lit(2L), (col("e.nd_exact") * 0.05).cast("long")))
              .as("apd_ok"))
          .orderBy("grp")
      } finally graft.server.GraftServer.unregister("mvapd_accts")
    }),

    // JOIN matview (r7): orders ⋈ customers grouped by the CUSTOMER's
    // region — maintained incrementally from BOTH logs' tails by the
    // Δ(A⋈B) rules. The second refresh folds a fact tail (price bump +
    // deletes) AND a dim tail (every 10th customer relocates — its
    // orders re-group with zero fact ops, the join-IVM case)
    "q155_join_matview" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/jmv_f_$base"; val dtmp = s"target/jmv_d_$base"
      TxLog.deleteRecursively(new java.io.File(ftmp))
      TxLog.deleteRecursively(new java.io.File(dtmp))
      val fact = new GraftTable(s, ftmp, Seq("cust", "amt"))
      val dim = new GraftTable(s, dtmp, Seq("region"))
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
        $"c_nationkey".cast("string").as("rg"))
      val ord = T(s, dir, "orders").select($"o_orderkey".as("id"),
        $"o_custkey".cast("long").as("ck"),
        $"o_totalprice".cast("decimal(14,2)").as("m"))
      val mv = fact.matview("by_region", Seq("region"), Seq("amt"),
        ts("2030-01-01 00:00:00"), Seq(dim -> "cust"), nBuckets = Some(16))
      dim.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
      fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "amt" -> $"m"), ts("2020-01-01 00:00:01"))
      mv.refresh()
      // fact tail: +50 on every 20th order, delete every 31st
      fact.put(ord.filter($"id" % 20 === 0)
          .withColumn("m2", ($"m" + 50).cast("decimal(14,2)")),
        $"id", lit("2000-06-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "amt" -> $"m2"), ts("2020-01-02 00:00:00"))
      fact.delete(ord.filter($"id" % 31 === 0), $"id",
        lit("2000-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("decimal(14,2)")),
        ts("2020-01-02 00:00:01"))
      // dim tail: group move — every 10th customer relocates to '99'
      dim.put(cust.filter($"id" % 10 === 0).withColumn("rg2", lit("99")),
        $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("region" -> $"rg2"), ts("2020-01-02 00:00:02"))
      mv.refresh()
      mv.read()
        .select($"region", $"n", $"sum_amt".cast("double").as("sum_amt"))
        .orderBy("region")
    }),

    // JOIN matview with MIN/MAX (r8): same orders ⋈ customers shape as
    // q155 but the view also maintains extremes of the fact measure.
    // The second refresh's fact deletes strip group maxima AND the dim
    // group-move strips the old group's extreme with zero fact ops —
    // both exercise the touched-group re-read ACROSS the join
    "q156_join_matview_minmax" -> ((s, dir) => {
      import s.implicits._
      val base = new java.io.File(dir).getName
      val ftmp = s"target/jmvmm_f_$base"; val dtmp = s"target/jmvmm_d_$base"
      TxLog.deleteRecursively(new java.io.File(ftmp))
      TxLog.deleteRecursively(new java.io.File(dtmp))
      val fact = new GraftTable(s, ftmp, Seq("cust", "amt"))
      val dim = new GraftTable(s, dtmp, Seq("region"))
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      val cust = T(s, dir, "customer").select($"c_custkey".as("id"),
        $"c_nationkey".cast("string").as("rg"))
      val ord = T(s, dir, "orders").select($"o_orderkey".as("id"),
        $"o_custkey".cast("long").as("ck"),
        $"o_totalprice".cast("decimal(14,2)").as("m"))
      val mv = fact.matview("mm_region", Seq("region"), Seq("amt"),
        ts("2030-01-01 00:00:00"), Seq(dim -> "cust"), nBuckets = Some(16),
        minCols = Seq("amt"), maxCols = Seq("amt"))
      dim.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
      fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "amt" -> $"m"), ts("2020-01-01 00:00:01"))
      mv.refresh()
      // fact tail: +50 on every 20th order, delete every 31st (striking
      // group extremes); dim tail: every 10th customer relocates
      fact.put(ord.filter($"id" % 20 === 0)
          .withColumn("m2", ($"m" + 50).cast("decimal(14,2)")),
        $"id", lit("2000-06-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "amt" -> $"m2"), ts("2020-01-02 00:00:00"))
      fact.delete(ord.filter($"id" % 31 === 0), $"id",
        lit("2000-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("decimal(14,2)")),
        ts("2020-01-02 00:00:01"))
      dim.put(cust.filter($"id" % 10 === 0).withColumn("rg2", lit("99")),
        $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("region" -> $"rg2"), ts("2020-01-02 00:00:02"))
      mv.refresh()
      mv.read()
        .select($"region", $"n", $"sum_amt".cast("double").as("sum_amt"),
          $"min_amt".cast("double").as("min_amt"),
          $"max_amt".cast("double").as("max_amt"))
        .orderBy("region")
    }),

    // valid-time temporal join (SQL:2011 shape): order "activity"
    // intervals [orderdate, +60d) joined with lineitem shipping
    // intervals [shipdate, receiptdate) on the order key — overlap
    // filter inside the key group, output interval = intersection.
    // Dates serialize to strings for the cross-engine compare
    "q98_temporal_join" -> ((s, dir) => {
      import s.implicits._
      val o = T(s, dir, "orders").filter($"o_totalprice" > 250000)
        .select($"o_orderkey".as("k"),
          $"o_orderdate".as("_valid_from"),
          date_add($"o_orderdate", 60).as("_valid_to"),
          $"o_totalprice")
      val l = T(s, dir, "lineitem")
        .select($"l_orderkey".as("k"),
          $"l_shipdate".as("_valid_from"),
          date_add($"l_shipdate", 14).as("_valid_to"),
          $"l_quantity")
      Bitemporal.validTimeJoin(o, l, Seq("k"))
        .select($"k", $"_valid_from".cast("string").as("vf"),
          $"_valid_to".cast("string").as("vt"),
          $"o_totalprice", $"l_quantity")
        .orderBy("k", "vf", "vt", "l_quantity")
    }),

    // the bitemporal fold itself: op log → rectangle relation (scalable
    // append-only path: two lead() columns, one shuffle, codegen)
    "q52_bitemp_fold" -> ((s, dir) => {
      import s.implicits._
      Bitemporal.foldAppendOnly(orderOps(s, dir), Seq("price"))
        .orderBy($"_id", $"_system_from", $"_valid_from", $"_valid_to")
    }),

    // time travel: FOR SYSTEM_TIME AS OF 1998-01-01 FOR APPLICATION_TIME
    // AS OF 1997-01-01 — over the GENERAL fold (put/delete/erase +
    // interval splitting), cross-checking it against the same oracle
    "q53_bitemp_asof" -> ((s, dir) => {
      import s.implicits._
      Bitemporal.asOf(
        Bitemporal.fold(orderOps(s, dir), Seq("price")),
        validTime = lit("1997-01-01").cast("timestamp"),
        systemTime = lit("1998-01-01").cast("timestamp"))
        .orderBy($"_id")
    }),

    // UPDATE ... FOR PORTION OF valid-time: a finite-validity put splits
    // the previous version into up to two remnants (SQL:2011 portion
    // semantics, the interval-splitting hard part of SURVEY.md §7.3)
    "q54_bitemp_portion" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val firstTwo = T(s, dir, "orders")
        .withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_custkey")))
        .filter($"n" === 2)
      val ops = firstTwo.select(
        lit(Bitemporal.Put).as("_op"),
        $"o_custkey".as("_id"),
        $"rn".cast("long").as("_tx_id"),
        when($"rn" === 1, lit("2010-01-01")).otherwise(lit("2010-01-02"))
          .cast("timestamp").as("_system_from"),
        $"o_orderdate".as("_valid_from"),
        when($"rn" === 2, expr("o_orderdate + INTERVAL 30 DAY"))
          .otherwise(lit(null).cast("timestamp")).as("_valid_to"),
        $"o_totalprice".as("price"))
      Bitemporal.fold(ops, Seq("price"))
        .orderBy($"_id", $"_system_from", $"_valid_from", $"_valid_to")
    }),

    // read-your-writes: compact after tx0, then append two MORE txs and
    // read through readAll (base for untouched ids + re-fold of touched
    // ids) under a current basis — the live-tail path, never recompacted
    "q72_txlog_tail" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/txtail_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      val log = new TxLog(tmp)
      val cust = T(s, dir, "customer")
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      log.append(TxOps.put(cust, $"c_custkey", lit("2000-01-01").cast("timestamp"),
        None, Seq("bal" -> $"c_acctbal")), ts("2020-01-01 00:00:00"))
      log.compact(s, Seq("bal"))
      // tail: bump BUILDING balances, delete negative ones
      log.append(TxOps.put(cust.filter($"c_mktsegment" === "BUILDING"), $"c_custkey",
        lit("2001-01-01").cast("timestamp"), None,
        Seq("bal" -> ($"c_acctbal" + 500))), ts("2020-01-02 00:00:00"))
      log.append(TxOps.delete(cust.filter($"c_acctbal" < 0), $"c_custkey",
        lit("2001-01-01").cast("timestamp"), None,
        Seq("bal" -> lit(null).cast("double"))), ts("2020-01-03 00:00:00"))
      Bitemporal.asOf(log.readAll(s, Seq("bal")),
        validTime = lit("2002-01-01").cast("timestamp"),
        systemTime = lit("2020-06-01").cast("timestamp"))
        .select($"_id", $"bal")
        .orderBy($"_id")
    }),

    // storage round-trip: three transactions appended to a parquet tx
    // log (put all / delete negatives / re-put one segment), compacted to
    // a date-partitioned rectangle base, then read back under a basis —
    // put/delete + log + compaction + asOf end-to-end
    "q55_txlog_current" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/txlog_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      val log = new TxLog(tmp)
      val cust = T(s, dir, "customer")
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      log.append(TxOps.put(cust, $"c_custkey", lit("2000-01-01").cast("timestamp"),
        None, Seq("bal" -> $"c_acctbal")), ts("2020-01-01 00:00:00"))
      log.append(TxOps.delete(cust.filter($"c_acctbal" < 0), $"c_custkey",
        lit("2001-01-01").cast("timestamp"), None,
        Seq("bal" -> lit(null).cast("double"))), ts("2020-01-02 00:00:00"))
      log.append(TxOps.put(cust.filter($"c_mktsegment" === "BUILDING"), $"c_custkey",
        lit("2002-01-01").cast("timestamp"), None,
        Seq("bal" -> ($"c_acctbal" + 100))), ts("2020-01-03 00:00:00"))
      log.compact(s, Seq("bal"))
      Bitemporal.asOf(log.readBase(s),
        validTime = lit("2001-06-15").cast("timestamp"),
        systemTime = lit("2020-01-02 12:00:00").cast("timestamp"))
        .select($"_id", $"bal")
        .orderBy($"_id")
    }),

    // SQL DML end-to-end: the reference's four write statements
    // (INSERT / UPDATE / DELETE / ERASE — SURVEY.md §3.3) parsed by
    // BitemporalDml, compiled onto tx-log puts/deletes/erases, then
    // read back through the temporal-SQL sugar at an explicit basis.
    // DELETE binds over the post-update current state; ERASE only sees
    // rows still current, so already-deleted ids keep their history
    "q85_sql_dml" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/dml_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      val t = new GraftTable(s, tmp, Seq("bal"))
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      T(s, dir, "customer").createOrReplaceTempView("dml_cust")
      t.dml("acct", """INSERT INTO acct (_id, _valid_from, bal)
        SELECT c_custkey, TIMESTAMP '2000-01-01 00:00:00', c_acctbal
        FROM dml_cust""", ts("2020-01-01 00:00:00"))
      t.dml("acct", "UPDATE acct SET bal = bal + 500 WHERE bal < 0",
        ts("2020-01-02 00:00:00"))
      t.dml("acct", "DELETE FROM acct WHERE bal > 9000",
        ts("2020-01-03 00:00:00"))
      t.dml("acct", "ERASE FROM acct WHERE _id % 100 = 7",
        ts("2020-01-04 00:00:00"))
      t.compact()
      s.catalog.dropTempView("dml_cust")   // writes are applied eagerly
      t.sql("acct", """SELECT _id, bal FROM acct
          FOR SYSTEM_TIME AS OF '2020-06-01 00:00:00'
          FOR APPLICATION_TIME AS OF '2021-01-01 00:00:00'""")
        .orderBy($"_id")
    }),

    // SQL:2011 range travel: FOR SYSTEM_TIME FROM..TO (versions whose
    // system interval overlaps [a, b)) with FOR ALL APPLICATION_TIME
    // (full valid-time history of each) — the audit/history query shape
    "q86_temporal_range" -> ((s, dir) => {
      import s.implicits._
      BitemporalSql.sql(s, """
          SELECT _id, price, _valid_from, _valid_to, _system_from, _system_to
          FROM hist
          FOR SYSTEM_TIME FROM '1996-01-01 00:00:00' TO '1997-01-01 00:00:00'
          FOR ALL APPLICATION_TIME
          ORDER BY _id, _system_from, _valid_from, _valid_to""",
        Map("hist" -> Bitemporal.foldAppendOnly(orderOps(s, dir), Seq("price"))))
    }),

    // multi-statement atomic transaction (reference submit-tx: a tx is
    // a VECTOR of ops): same effects as q85's sequential txs where the
    // statements are independent — but UPDATE/DELETE here read the
    // PRE-tx snapshot, all effects land at ONE system time
    "q119_dml_tx" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/dmltx_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      val t = new GraftTable(s, tmp, Seq("bal"))
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      T(s, dir, "customer").createOrReplaceTempView("dmltx_cust")
      t.dml("acct", """INSERT INTO acct (_id, _valid_from, bal)
        SELECT c_custkey, TIMESTAMP '2000-01-01 00:00:00', c_acctbal
        FROM dmltx_cust""", ts("2020-01-01 00:00:00"))
      // one tx: both statements see the post-insert snapshot; their
      // predicates are disjoint so the union is overlap-free
      t.dmlTx("acct", Seq(
        "UPDATE acct SET bal = bal + 500 WHERE bal < 0",
        "DELETE FROM acct WHERE bal > 9000"),
        ts("2020-01-02 00:00:00"))
      t.compact()
      s.catalog.dropTempView("dmltx_cust")
      t.sql("acct", """SELECT _id, bal FROM acct
          FOR SYSTEM_TIME AS OF '2020-06-01 00:00:00'
          FOR APPLICATION_TIME AS OF '2021-01-01 00:00:00'""")
        .orderBy($"_id")
    }),

    // the chunk-metadata relation (core2.metadata analog) is itself
    // oracle-checked: DuckDB's parquet_metadata() reads the SAME
    // footers our distributed pass reads — per-file _id min/max/rows
    // over the compacted base must agree byte-for-byte
    "q122_chunk_metadata" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/metaq_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      val t = new GraftTable(s, tmp, Seq("bal"))
      def ts(x: String) = java.sql.Timestamp.valueOf(x)
      T(s, dir, "customer").createOrReplaceTempView("metaq_cust")
      t.dml("acct", """INSERT INTO acct (_id, _valid_from, bal)
        SELECT c_custkey, TIMESTAMP '2000-01-01 00:00:00', c_acctbal
        FROM metaq_cust""", ts("2020-01-01 00:00:00"))
      t.compact()
      s.catalog.dropTempView("metaq_cust")
      t.metadata()
        .filter($"column" === "_id" && $"file".contains("/base/"))
        .groupBy($"file")
        .agg(min($"min".cast("long")).as("min_id"),
          max($"max".cast("long")).as("max_id"),
          sum($"rows").as("n_rows"))
        .orderBy($"file")
    }),

    // SQL:2011 period PREDICATES as SQL text (reference grammar shape:
    // <table>.APPLICATION_TIME CONTAINS ts, <period> OVERLAPS <period>;
    // README.adoc:11) — PeriodSql expands them to sargable comparisons
    // before the parse, so they compose with the FOR ALL clauses
    "q118_period_sql" -> ((s, dir) => {
      BitemporalSql.sql(s, """
          SELECT _id, price, _valid_from, _valid_to, _system_from, _system_to
          FROM hist FOR ALL SYSTEM_TIME FOR ALL APPLICATION_TIME
          WHERE hist.APPLICATION_TIME CONTAINS TIMESTAMP '1996-06-01 00:00:00'
            AND hist.SYSTEM_TIME OVERLAPS
                PERIOD(TIMESTAMP '1996-01-01 00:00:00',
                       TIMESTAMP '1997-01-01 00:00:00')
          ORDER BY _id, _system_from, _valid_from, _valid_to""",
        Map("hist" -> Bitemporal.foldAppendOnly(orderOps(s, dir), Seq("price"))))
    }),

    // interval-weighted aggregation: time-weighted average order value
    // per customer over a 2-year window — each order's value counts in
    // proportion to how long its 90-day validity overlaps the window.
    // Whole-dollar values keep every product and sum integer-valued in
    // double (< 2^53), so the cross-engine hash is exact with no
    // rounding gymnastics
    "q141_time_weighted" -> ((s, dir) => {
      import s.implicits._
      val h = T(s, dir, "orders").select(
        $"o_custkey",
        $"o_orderdate".cast("timestamp").as("_valid_from"),
        expr("o_orderdate + INTERVAL 90 DAY").cast("timestamp").as("_valid_to"),
        expr("CAST(round(o_totalprice) AS BIGINT)").cast("double").as("dollars"))
      Bitemporal.timeWeighted(h,
          lit("1995-01-01 00:00:00").cast("timestamp"),
          lit("1997-01-01 00:00:00").cast("timestamp"),
          "dollars", Seq("o_custkey"))
        .select($"o_custkey", $"weighted_sum", $"covered_secs",
          Rounding.r($"time_weighted_avg", 6).as("time_weighted_avg"))
        .orderBy($"o_custkey")
    }),

    // the temporal-aggregation sweep: total open-order value (cents)
    // over TIME — one row per change point, piecewise-constant between
    // them. Exercises the GLOBAL (ungrouped) path: two-phase
    // distributed prefix sum, never a single-partition window
    "q142_timeline_sweep" -> ((s, dir) => {
      import s.implicits._
      val h = T(s, dir, "orders").select(
        $"o_orderdate".cast("timestamp").as("_valid_from"),
        expr("o_orderdate + INTERVAL 90 DAY").cast("timestamp").as("_valid_to"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      Bitemporal.timelineSweep(h, "cents")
        .select($"t", $"agg")
        .orderBy($"t")
    }),

    // system-time diff between two bases (the audit query): which ids'
    // visible version changed between 1996 and 1998, labeled
    // added/removed/updated with old and new payload side by side
    "q143_sys_diff" -> ((s, dir) => {
      import s.implicits._
      Bitemporal.sysDiff(
          Bitemporal.fold(orderOps(s, dir), Seq("price")),
          validTime = lit("1997-06-01 00:00:00").cast("timestamp"),
          s1 = lit("1996-01-01 00:00:00").cast("timestamp"),
          s2 = lit("1998-01-01 00:00:00").cast("timestamp"),
          payloadCols = Seq("price"))
        .orderBy($"_id")
    }),

    // KEYLESS interval overlap join (no equality key at all — the shape
    // Spark would otherwise plan as a cartesian product): high-value
    // order validity windows × heavy-lineitem ship windows, matched on
    // time overlap alone via binning; each pair emitted once
    // (first-shared-bin rule), output interval = intersection. The bin
    // width is AUTO-derived (r8: p50 of the 14/30-day length mix with
    // a mean/64 replication floor — lands near the old hand-picked 30d)
    "q144_interval_join" -> ((s, dir) => {
      import s.implicits._
      val a = T(s, dir, "orders").filter($"o_totalprice" > 495000)
        .select($"o_orderkey",
          $"o_orderdate".cast("timestamp").as("_valid_from"),
          expr("o_orderdate + INTERVAL 30 DAY").cast("timestamp").as("_valid_to"))
      val b = T(s, dir, "lineitem").filter($"l_quantity" === 50)
        .select($"l_orderkey", $"l_linenumber",
          $"l_shipdate".cast("timestamp").as("_valid_from"),
          expr("l_shipdate + INTERVAL 14 DAY").cast("timestamp").as("_valid_to"))
      Bitemporal.intervalJoin(a, b)
        .select($"o_orderkey", $"l_orderkey", $"l_linenumber",
          $"_valid_from".cast("string").as("vf"),
          $"_valid_to".cast("string").as("vt"))
        .orderBy($"o_orderkey", $"l_orderkey", $"l_linenumber")
    }),

    // valid-time COALESCING (period-algebra normalization): heavy
    // lineitems become per-order ship windows; windows of one order
    // that touch/overlap and agree on the payload merge to their
    // envelope — equal visibility, minimal rectangle count
    "q148_coalesce_valid" -> ((s, dir) => {
      import s.implicits._
      val rects = T(s, dir, "lineitem").filter($"l_quantity" >= 48)
        .select($"l_orderkey".as("_id"), $"l_returnflag".as("flag"),
          lit("1990-01-01 00:00:00").cast("timestamp").as("_system_from"),
          lit("9999-12-31 00:00:00").cast("timestamp").as("_system_to"),
          $"l_shipdate".cast("timestamp").as("_valid_from"),
          expr("l_shipdate + INTERVAL 30 DAY").cast("timestamp").as("_valid_to"))
      Bitemporal.coalesceValid(rects, Seq("flag"))
        .select($"_id", $"flag",
          $"_valid_from".cast("string").as("vf"),
          $"_valid_to".cast("string").as("vt"))
        .orderBy($"_id", $"flag", $"vf")
    }),

    // ANSI FILTER clause on matview aggregates (r15): each filtered
    // aggregate desugars onto the expression-aggregate machinery
    // (CASE-wrapped argument — every accepted aggregate ignores NULL
    // inputs, the exact rule FILTER is defined against), so the whole
    // family rides the unchanged Δ-rules: the filtered SUM gets the
    // ride-along non-null counter (ANSI NULL for a group with no
    // matching rows), the filtered COUNT(DISTINCT) gets its pair-level
    // aux over the conditional value. The oracle recomputes from
    // scratch with DuckDB's NATIVE FILTER clause — the desugar must be
    // observationally identical to the ANSI semantics, not merely
    // self-consistent. Mutations cross the filtered-set boundary in
    // both directions (a tag flip moves rows in, deletes drain rows
    // out).
    "q183_sql_matview_filter" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvfl_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "tag", "price"))
      graft.server.GraftServer.register("mvfl_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderpriority".as("g"),
          concat(lit("t"), ($"o_orderkey" % 3).cast("string")).as("tg"),
          when($"o_orderkey" % 13 === 0, lit(null).cast("decimal(12,2)"))
            .otherwise($"o_totalprice".cast("decimal(12,2)")).as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "tag" -> $"tg", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvfl_stats WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
            "SELECT grp, COUNT(*) AS n, " +
            "COUNT(*) FILTER (WHERE tag = 't0') AS n0, " +
            "SUM(price) FILTER (WHERE tag = 't0') AS s0, " +
            "AVG(price) FILTER (WHERE tag <> 't1') AS a01, " +
            "MIN(price) FILTER (WHERE tag = 't1') AS mn1, " +
            "MAX(price) FILTER (WHERE tag = 't2') AS mx2, " +
            "COUNT(DISTINCT tag) FILTER (WHERE price > 100000) AS dt " +
            "FROM mvfl_ord GROUP BY grp")
        // bump wave: every 7th order re-prices AND flips into the t0
        // filtered set; delete wave drains every 11th
        t.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)"))
            .withColumn("tg2", lit("t0")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "tag" -> $"tg2", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        t.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "tag" -> lit(null).cast("string"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvfl_stats")
        graft.server.GraftSql.sql(s,
          "SELECT grp, n, n0, CAST(s0 AS DOUBLE) AS s0, a01, " +
            "CAST(mn1 AS DOUBLE) AS mn1, CAST(mx2 AS DOUBLE) AS mx2, dt " +
            "FROM mvfl_stats ORDER BY grp")
      } finally graft.server.GraftServer.unregister("mvfl_ord")
    }),

    // Transparent aggregate navigation (r15): a PLAIN GROUP BY over
    // the BASE table — the query never names the view — served from a
    // fresh `rewrite = 'trusted'` matview's state (GraftMvNav: same
    // definition, watermark-fresh, exact-typed sums, schema-identical;
    // an unrefreshed view falls back to the base plan). The entry
    // ASSERTS the rewrite mechanically (the executed plan must scan
    // matview state, not the tx log) so a silently-degraded navigator
    // fails loudly instead of passing through the base path; the
    // DuckDB oracle recomputes the answer from the raw fixture — the
    // rewrite must be observationally invisible. The second query
    // rolls a (priority × month) view up to priority alone: SUM(n),
    // typed SUM of sums, MIN/MAX of extremes re-aggregated from
    // ∝-groups state.
    "q184_sql_matview_navigate" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvnv_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "od", "price"))
      graft.server.GraftServer.register("mvnv_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderpriority".as("g"),
          $"o_orderdate".cast("timestamp").as("odv"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "od" -> $"odv", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvnv_agg WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16, " +
            "rewrite = 'trusted') AS " +
            "SELECT grp, date_trunc('month', od) AS m, COUNT(*) AS n, " +
            "SUM(price) AS s, COUNT(price) AS c, MIN(price) AS mn, " +
            "MAX(price) AS mx FROM mvnv_ord GROUP BY grp, " +
            "date_trunc('month', od)")
        // mutation waves, then REFRESH — navigation only serves fresh
        t.put(ord.filter($"id" % 7 === 0)
            .withColumn("p2", ($"p" + 1000).cast("decimal(12,2)")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "od" -> $"odv", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        t.delete(ord.filter($"id" % 11 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "od" -> lit(null).cast("timestamp"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:01"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvnv_agg")
        // the check reads the OPTIMIZED LOGICAL plan (stable under AQE
        // — the physical tree hides scans inside AdaptiveSparkPlan
        // until execution)
        def assertNav(df: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val hit = df.queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources
                .LogicalRelation => r.relation
          }.exists {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation =>
              h.location.rootPaths.exists(_.toString.contains("matview"))
            case _ => false
          }
          require(hit, "aggregate navigation did not fire — the plan " +
            "reads the base log:\n" +
            df.queryExecution.optimizedPlan.toString.take(1500))
          df
        }
        // the ROLLUP shape: group subset (priority alone) re-aggregated
        // from the (priority × month) state
        val roll = assertNav(graft.server.GraftSql.sql(s,
          "SELECT grp, COUNT(*) AS n, SUM(price) AS total, " +
            "MIN(price) AS lo, MAX(price) AS hi " +
            "FROM mvnv_ord GROUP BY grp"))
        roll.select($"grp", $"n",
          $"total".cast("double").as("total"),
          $"lo".cast("double").as("lo"),
          $"hi".cast("double").as("hi")).orderBy($"grp")
      } finally graft.server.GraftServer.unregister("mvnv_ord")
    }),

    // Navigation predicate SUBSUMPTION (r16): the actual dashboard
    // workload — the query's WHERE is the view's WHERE plus extra
    // top-level AND conjuncts referencing only the view's GROUP BY
    // columns. The residual applies over the served state (group
    // columns serve verbatim, so filtering served groups IS filtering
    // base rows — the predicate commutes with GROUP BY exactly) and
    // COMPOSES with the range/bucket prune rule: the entry asserts the
    // navigated plan (a) scans matview state and (b) reads ONE leading-
    // key dir of five (numFiles == 1) — a group-pinned dashboard query
    // over a 100 TB fact becomes a one-directory state read. The
    // pinned value ('1-URGENT') never appears in the view DDL.
    "q185_sql_matview_subsume" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvps_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "od", "price"))
      graft.server.GraftServer.register("mvps_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderpriority".as("g"),
          $"o_orderdate".cast("timestamp").as("odv"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "od" -> $"odv", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvps_agg WITH " +
            "(valid_at = '2030-01-01 00:00:00', layout = 'range', " +
            "rewrite = 'trusted') AS " +
            "SELECT grp, date_trunc('month', od) AS m, COUNT(*) AS n, " +
            "SUM(price) AS s, MIN(price) AS mn " +
            "FROM mvps_ord GROUP BY grp, date_trunc('month', od)")
        // one mutation wave so the serve is post-maintenance state
        t.delete(ord.filter($"id" % 13 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "od" -> lit(null).cast("timestamp"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:00"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvps_agg")
        val q = "SELECT date_trunc('month', od) AS m, COUNT(*) AS n, " +
          "SUM(price) AS total, MIN(price) AS lo FROM mvps_ord " +
          "WHERE grp = '1-URGENT' GROUP BY date_trunc('month', od)"
        // the prune probe runs AQE-off (the rollup shuffles, and
        // AdaptiveSparkPlanExec hides scan leaves until execution) and
        // materializes once so numFiles is the real read
        val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val df =
          try {
            val d = graft.server.GraftSql.sql(s, q)
            val hit = d.queryExecution.optimizedPlan.collect {
              case r: org.apache.spark.sql.execution.datasources
                  .LogicalRelation => r.relation
            }.exists {
              case h: org.apache.spark.sql.execution.datasources
                  .HadoopFsRelation =>
                h.location.rootPaths.exists(_.toString.contains("matview"))
              case _ => false
            }
            require(hit,
              "predicate-subsumption navigation did not fire:\n" +
                d.queryExecution.optimizedPlan.toString.take(1500))
            d.collect(): Unit // materialize scan metrics
            val scans = d.queryExecution.executedPlan.collectLeaves()
              .collect {
                case f: org.apache.spark.sql.execution
                    .FileSourceScanExec => f
              }
            require(scans.nonEmpty &&
              scans.head.metrics("numFiles").value == 1,
              "the residual group pin must prune to ONE leading-key " +
                "dir, read " +
                s"${scans.headOption.map(_.metrics("numFiles").value)}")
            d
          } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
        df.select(date_format($"m", "yyyy-MM").as("m"), $"n",
          $"total".cast("double").as("total"),
          $"lo".cast("double").as("lo")).orderBy($"m")
      } finally graft.server.GraftServer.unregister("mvps_ord")
    }),

    // HAVING navigation (r16): a GROUP-BY-subset query WITH a HAVING
    // over aggregates — including one the select list does not project
    // (COUNT(*)) — navigates: the rollup re-aggregates ∝-groups state
    // and the HAVING applies over the re-aggregation, exactly the
    // base plan's post-filter. The oracle recomputes from scratch with
    // DuckDB's own HAVING.
    "q186_sql_matview_having" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvhv_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "od", "price"))
      graft.server.GraftServer.register("mvhv_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderpriority".as("g"),
          $"o_orderdate".cast("timestamp").as("odv"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "od" -> $"odv", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvhv_agg WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16, " +
            "rewrite = 'trusted') AS " +
            "SELECT grp, date_trunc('month', od) AS m, COUNT(*) AS n, " +
            "SUM(price) AS s, MIN(price) AS mn " +
            "FROM mvhv_ord GROUP BY grp, date_trunc('month', od)")
        t.put(ord.filter($"id" % 9 === 0)
            .withColumn("p2", ($"p" + 500).cast("decimal(12,2)")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "od" -> $"odv", "price" -> $"p2"),
          ts("2020-01-02 00:00:00"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvhv_agg")
        val q = "SELECT grp, SUM(price) AS total, MIN(price) AS lo " +
          "FROM mvhv_ord GROUP BY grp " +
          "HAVING COUNT(*) > 100 AND grp <> '3-MEDIUM'"
        val df = graft.server.GraftSql.sql(s, q)
        val hit = df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources
              .LogicalRelation => r.relation
        }.exists {
          case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation =>
            h.location.rootPaths.exists(_.toString.contains("matview"))
          case _ => false
        }
        require(hit, "HAVING navigation did not fire:\n" +
          df.queryExecution.optimizedPlan.toString.take(1500))
        df.select($"grp", $"total".cast("double").as("total"),
          $"lo".cast("double").as("lo")).orderBy($"grp")
      } finally graft.server.GraftServer.unregister("mvhv_ord")
    }),

    // bucket_key (r16): hash-layout state bucketed on a group-key
    // SUBSET — the (priority × month) view bucketed on priority alone
    // serves the group-pinned month rollup (navigated from the BASE
    // table via residual subsumption) from ONE dir of 16 at any key
    // type/cardinality, the hash complement of q185's range layout.
    // Asserted mechanically: navigation fired AND numFiles == 1.
    "q187_sql_matview_bucket_key" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvbk_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "od", "price"))
      graft.server.GraftServer.register("mvbk_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderpriority".as("g"),
          $"o_orderdate".cast("timestamp").as("odv"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "od" -> $"odv", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvbk_agg WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16, " +
            "bucket_key = 'grp', rewrite = 'trusted') AS " +
            "SELECT grp, date_trunc('month', od) AS m, COUNT(*) AS n, " +
            "SUM(price) AS s, MAX(price) AS mx " +
            "FROM mvbk_ord GROUP BY grp, date_trunc('month', od)")
        t.delete(ord.filter($"id" % 17 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "od" -> lit(null).cast("timestamp"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:00"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvbk_agg")
        val q = "SELECT date_trunc('month', od) AS m, COUNT(*) AS n, " +
          "SUM(price) AS total, MAX(price) AS hi FROM mvbk_ord " +
          "WHERE grp = '2-HIGH' GROUP BY date_trunc('month', od)"
        val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val df =
          try {
            val d = graft.server.GraftSql.sql(s, q)
            d.collect(): Unit // ONE action, then read scan metrics
            val scans = d.queryExecution.executedPlan.collectLeaves()
              .collect {
                case f: org.apache.spark.sql.execution
                    .FileSourceScanExec => f
              }
            require(scans.nonEmpty && scans.head.relation.location
                .rootPaths.exists(_.toString.contains("matview")),
              "bucket_key navigation did not fire:\n" +
                d.queryExecution.executedPlan.toString.take(1500))
            require(scans.head.metrics("numFiles").value == 1,
              "the subset-key pin must prune to ONE dir of 16, read " +
                s"${scans.headOption.map(_.metrics("numFiles").value)}")
            d
          } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
        df.select(date_format($"m", "yyyy-MM").as("m"), $"n",
          $"total".cast("double").as("total"),
          $"hi".cast("double").as("hi")).orderBy($"m")
      } finally graft.server.GraftServer.unregister("mvbk_ord")
    }),

    // DISTINCT rollup navigation (r16): COUNT(DISTINCT cust) across
    // merged groups is NOT additive, so the navigator re-aggregates the
    // view's auxiliary PAIR state (the exact distinct (group, value)
    // pairs every DISTINCT aggregate maintains) and LEFT JOINs it onto
    // the main-state rollup. The residual `grp = '1-URGENT'` applies to
    // BOTH subqueries, so MvBucketPrune reads ONE subset-keyed dir of
    // 16 on the main scan AND one on the aux scan — asserted
    // mechanically (two one-file scans, one under `_dist`).
    "q188_sql_matview_distinct_rollup" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvdr_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "od", "cust", "price"))
      graft.server.GraftServer.register("mvdr_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderpriority".as("g"),
          $"o_orderdate".cast("timestamp").as("odv"),
          $"o_custkey".cast("long").as("ck"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "od" -> $"odv", "cust" -> $"ck",
            "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvdr_agg WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 16, " +
            "bucket_key = 'grp', rewrite = 'trusted') AS " +
            "SELECT grp, date_trunc('month', od) AS m, COUNT(*) AS n, " +
            "SUM(price) AS s, COUNT(DISTINCT cust) AS dc " +
            "FROM mvdr_ord GROUP BY grp, date_trunc('month', od)")
        // a delete wave so the aux rollup must ignore dead pairs
        t.delete(ord.filter($"id" % 13 === 0), $"id",
          lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "od" -> lit(null).cast("timestamp"),
            "cust" -> lit(null).cast("long"),
            "price" -> lit(null).cast("decimal(12,2)")),
          ts("2020-01-02 00:00:00"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvdr_agg")
        val q = "SELECT date_trunc('month', od) AS m, COUNT(*) AS n, " +
          "SUM(price) AS total, COUNT(DISTINCT cust) AS ncust " +
          "FROM mvdr_ord WHERE grp = '1-URGENT' " +
          "GROUP BY date_trunc('month', od)"
        val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val df =
          try {
            val d = graft.server.GraftSql.sql(s, q)
            d.collect(): Unit // ONE action, then read scan metrics
            val scans = d.queryExecution.executedPlan.collectLeaves()
              .collect {
                case f: org.apache.spark.sql.execution
                    .FileSourceScanExec => f
              }
            val mvScans = scans.filter(_.relation.location.rootPaths
              .exists(_.toString.contains("matview")))
            require(mvScans.size == 2 &&
                mvScans.exists(_.relation.location.rootPaths
                  .exists(_.toString.contains("_dist"))),
              "DISTINCT-rollup navigation must read main AND aux pair " +
                "state:\n" + d.queryExecution.executedPlan.toString
                  .take(1500))
            mvScans.foreach(f => require(
              f.metrics("numFiles").value == 1,
              "the subset-key pin must prune EACH state scan to one " +
                s"dir of 16, read ${f.metrics("numFiles").value}"))
            d
          } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
        df.select(date_format($"m", "yyyy-MM").as("m"), $"n",
          $"total".cast("double").as("total"), $"ncust")
          .orderBy($"m")
      } finally graft.server.GraftServer.unregister("mvdr_ord")
    }),

    // GLOBAL-aggregate navigation (r16): the dashboard KPI query —
    // `SELECT COUNT(*), SUM(price), COUNT(DISTINCT cust) FROM orders`,
    // no GROUP BY at all — navigates as the degenerate rollup: every
    // view group merges into ONE output row (COUNT coalesced so an
    // empty state would serve ANSI 0), and the DISTINCT constituent
    // re-aggregates the aux pair state. Asserted mechanically: the
    // plan reads matview state (main AND `_dist` aux), never the base
    // tx log.
    "q189_sql_matview_global_kpi" -> ((s, dir) => {
      import s.implicits._
      val tmp = s"target/mvgk_${new java.io.File(dir).getName}"
      TxLog.deleteRecursively(new java.io.File(tmp))
      graft.server.GraftMatviews.reset()
      val t = new GraftTable(s, tmp, Seq("grp", "cust", "price"))
      graft.server.GraftServer.register("mvgk_ord", t)
      try {
        def ts(x: String) = java.sql.Timestamp.valueOf(x)
        val ord = T(s, dir, "orders").select(
          $"o_orderkey".cast("long").as("id"),
          $"o_orderpriority".as("g"),
          $"o_custkey".cast("long").as("ck"),
          $"o_totalprice".cast("decimal(12,2)").as("p"))
        t.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "cust" -> $"ck", "price" -> $"p"),
          ts("2020-01-01 00:00:00"))
        graft.server.GraftSql.sql(s,
          "CREATE MATERIALIZED VIEW mvgk_agg WITH " +
            "(valid_at = '2030-01-01 00:00:00', buckets = 8, " +
            "rewrite = 'trusted') AS " +
            "SELECT grp, COUNT(*) AS n, SUM(price) AS s, " +
            "COUNT(DISTINCT cust) AS dc FROM mvgk_ord GROUP BY grp")
        // an update wave (price bumps move sums; repeat customers keep
        // the distinct pairs honest) so the serve is maintained state
        t.put(ord.filter($"id" % 7 === 0)
            .withColumn("p", ($"p" + lit(100)).cast("decimal(12,2)")),
          $"id", lit("2000-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "cust" -> $"ck", "price" -> $"p"),
          ts("2020-01-02 00:00:00"))
        graft.server.GraftSql.sql(s, "REFRESH MATERIALIZED VIEW mvgk_agg")
        val q = "SELECT COUNT(*) AS n, SUM(price) AS total, " +
          "COUNT(DISTINCT cust) AS ncust FROM mvgk_ord"
        val d = graft.server.GraftSql.sql(s, q)
        val rels = d.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources
              .LogicalRelation => r.relation
        }.collect {
          case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => h.location.rootPaths.map(_.toString)
        }.flatten
        require(rels.exists(_.contains("matview")) &&
            rels.exists(_.contains("_dist")) &&
            !rels.exists(p => p.contains("/log/") || p.endsWith("/log")),
          "the global KPI must navigate onto main + aux state, never " +
            "the base tx log:\n" +
            d.queryExecution.optimizedPlan.toString.take(1500))
        d.select($"n", $"total".cast("double").as("total"), $"ncust")
      } finally graft.server.GraftServer.unregister("mvgk_ord")
    })
  )

  val oracle: Map[String, String] = Map(

    "q98_temporal_join" -> """
      SELECT o_orderkey AS k,
             CAST(greatest(o_orderdate, l_shipdate) AS VARCHAR) AS vf,
             CAST(least(CAST(o_orderdate + INTERVAL 60 DAY AS DATE),
                        CAST(l_shipdate + INTERVAL 14 DAY AS DATE)) AS VARCHAR) AS vt,
             o_totalprice, l_quantity
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_totalprice > 250000
        AND o_orderdate < CAST(l_shipdate + INTERVAL 14 DAY AS DATE)
        AND l_shipdate < CAST(o_orderdate + INTERVAL 60 DAY AS DATE)
      ORDER BY k, vf, vt, l_quantity""",
    "q52_bitemp_fold" -> s"""
      WITH $rectsCte
      SELECT _id, price, _valid_from, _valid_to, _system_from, _system_to
      FROM rects ORDER BY _id, _system_from, _valid_from, _valid_to""",

    "q53_bitemp_asof" -> s"""
      WITH $rectsCte
      SELECT _id, price, _valid_from, _valid_to, _system_from, _system_to
      FROM rects
      WHERE _system_from <= TIMESTAMP '1998-01-01' AND TIMESTAMP '1998-01-01' < _system_to
        AND _valid_from  <= TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-01-01' < _valid_to
      ORDER BY _id""",

    "q54_bitemp_portion" -> s"""
      WITH ranked AS (
        SELECT o_custkey AS _id, o_orderdate AS d, o_totalprice AS price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders),
      pair AS (
        SELECT a._id, a.d AS d1, a.price AS p1, b.d AS d2, b.price AS p2
        FROM ranked a JOIN ranked b ON a._id = b._id AND a.rn = 1 AND b.rn = 2),
      rects AS (
        SELECT _id, p1 AS price, d1 AS _valid_from, $sentSql AS _valid_to,
               TIMESTAMP '2010-01-01' AS _system_from, TIMESTAMP '2010-01-02' AS _system_to
        FROM pair
        UNION ALL  -- left remnant of the base version
        SELECT _id, p1, d1, d2, TIMESTAMP '2010-01-02', $sentSql FROM pair WHERE d1 < d2
        UNION ALL  -- the updated portion
        SELECT _id, p2, d2, d2 + INTERVAL 30 DAY, TIMESTAMP '2010-01-02', $sentSql FROM pair
        UNION ALL  -- right remnant of the base version
        SELECT _id, p1, d2 + INTERVAL 30 DAY, $sentSql, TIMESTAMP '2010-01-02', $sentSql FROM pair)
      SELECT _id, price, _valid_from, _valid_to, _system_from, _system_to
      FROM rects ORDER BY _id, _system_from, _valid_from, _valid_to""",

    "q55_txlog_current" -> """
      SELECT c_custkey AS _id, c_acctbal AS bal FROM customer
      WHERE c_acctbal >= 0 ORDER BY _id""",

    // current state after the tail: the delete (latest tx) removes every
    // negative balance — including BUILDING ones whose bumped put it
    // supersedes; surviving BUILDING customers show +500 from the 2001
    // put, everyone else the original balance
    "q72_txlog_tail" -> """
      SELECT c_custkey AS _id,
             CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 500
                  ELSE c_acctbal END AS bal
      FROM customer
      WHERE c_acctbal >= 0
      ORDER BY _id""",

    // end state at the read basis: +500 where the update hit (negatives),
    // minus post-update balances > 9000 (the DELETE), minus _id % 100 = 7
    // (the ERASE — it binds after the delete, but at this basis the
    // difference is invisible: deleted rows are absent either way)
    "q85_sql_dml" -> """
      WITH s1 AS (
        SELECT c_custkey AS _id,
               CASE WHEN c_acctbal < 0 THEN c_acctbal + 500
                    ELSE c_acctbal END AS bal
        FROM customer)
      SELECT _id, bal FROM s1
      WHERE NOT bal > 9000 AND _id % 100 <> 7
      ORDER BY _id""",

    // overlap with [a, b): _system_from < b AND _system_to > a
    "q86_temporal_range" -> s"""
      WITH $rectsCte
      SELECT _id, price, _valid_from, _valid_to, _system_from, _system_to
      FROM rects
      WHERE _system_from < TIMESTAMP '1997-01-01 00:00:00'
        AND _system_to   > TIMESTAMP '1996-01-01 00:00:00'
      ORDER BY _id, _system_from, _valid_from, _valid_to""",

    // DuckDB reads the same footers our distributed pass read. The
    // fixture path is relative to the oracle's working dir (/root/repo),
    // matching the Spark side's target/ path
    "q122_chunk_metadata" -> """
      SELECT file_name AS file,
             CAST(min(CAST(stats_min_value AS BIGINT)) AS BIGINT) AS min_id,
             CAST(max(CAST(stats_max_value AS BIGINT)) AS BIGINT) AS max_id,
             CAST(sum(num_values) AS BIGINT) AS n_rows
      FROM parquet_metadata('/root/repo/target/metaq_sf0.01/base/*/*.parquet')
      WHERE path_in_schema = '_id'
      GROUP BY file_name
      ORDER BY file""",

    // from-scratch recompute of the maintained view: every 13th account
    // deleted, every remaining 10th account +100, grouped by nation
    "q138_matview" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal
                 FROM customer),
      eff AS (SELECT grp,
                     CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal
              FROM c WHERE k % 13 <> 0)
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bal) AS DOUBLE) AS sum_bal
      FROM eff GROUP BY grp ORDER BY grp""",

    // the DDL-text route must reproduce q138's state exactly
    "q160_sql_matview_ddl" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal
                 FROM customer),
      eff AS (SELECT grp,
                     CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal
              FROM c WHERE k % 13 <> 0)
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bal) AS DOUBLE) AS sum_bal
      FROM eff GROUP BY grp ORDER BY grp""",

    // from-scratch recompute of the COUNT(col)/AVG/WHERE view: bump
    // every 10th (+100 crosses the bal > 0 boundary for negative
    // balances), drop every 13th, filter, then count/sum/avg — avg is
    // served as double(exact decimal sum) / non-null count, the same
    // IEEE division both engines perform
    "q164_sql_matview_avg" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
                        CASE WHEN c_custkey % 3 = 0 THEN NULL
                             ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS score
                 FROM customer),
      eff AS (SELECT grp,
                     CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal,
                     score
              FROM c WHERE k % 13 <> 0),
      vis AS (SELECT * FROM eff WHERE bal > 0)
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(count(score) AS BIGINT) AS n_score,
             CAST(sum(bal) AS DOUBLE) AS sum_bal,
             CAST(sum(bal) AS DOUBLE) / count(bal) AS avg_bal
      FROM vis GROUP BY grp ORDER BY grp""",

    // from-scratch recompute of the r12 join COUNT(col)/AVG/WHERE
    // view: effective orders (bump applied, deletes removed) filtered
    // by the predicate, joined to effective regions (group move
    // applied) — avg replayed as double(exact decimal sum) / non-null
    // count, the same IEEE division the served view performs
    "q165_sql_join_matview_avg" -> """
      WITH cd AS (SELECT c_custkey AS k,
                    CASE WHEN c_custkey % 10 = 0 THEN '99'
                         ELSE CAST(c_nationkey AS VARCHAR) END AS region
                  FROM customer),
      oe AS (SELECT o_custkey AS ck,
                    CASE WHEN o_orderkey % 20 = 0
                         THEN CAST(o_totalprice AS DECIMAL(14,2)) + 100000
                         ELSE CAST(o_totalprice AS DECIMAL(14,2)) END AS amt,
                    CASE WHEN o_orderkey % 3 = 0 THEN NULL
                         ELSE CAST(o_totalprice AS DECIMAL(14,2)) END AS score
             FROM orders WHERE o_orderkey % 31 <> 0),
      vis AS (SELECT * FROM oe WHERE amt > 50000)
      SELECT region, CAST(count(*) AS BIGINT) AS n,
             CAST(count(score) AS BIGINT) AS n_score,
             CAST(sum(amt) AS DOUBLE) AS sum_amt,
             CAST(sum(amt) AS DOUBLE) / count(amt) AS avg_amt
      FROM vis JOIN cd ON vis.ck = cd.k
      GROUP BY region ORDER BY region""",

    // from-scratch recompute of the multi-column-group + HAVING view:
    // the HAVING replays as a WHERE over the grouped subquery — the
    // same observable relation the read-time filter serves
    "q166_sql_matview_multi" -> """
      WITH cd AS (SELECT c_custkey AS k,
                    CASE WHEN c_custkey % 10 = 0 THEN '99'
                         ELSE CAST(c_nationkey AS VARCHAR) END AS region
                  FROM customer),
      oe AS (SELECT o_custkey AS ck, o_orderpriority AS prio,
                    CASE WHEN o_orderkey % 20 = 0
                         THEN CAST(o_totalprice AS DECIMAL(14,2)) + 100000
                         ELSE CAST(o_totalprice AS DECIMAL(14,2)) END AS amt
             FROM orders WHERE o_orderkey % 31 <> 0),
      vis AS (SELECT * FROM oe WHERE amt > 50000),
      g AS (SELECT region, prio, count(*) AS n, sum(amt) AS s
            FROM vis JOIN cd ON vis.ck = cd.k GROUP BY region, prio)
      SELECT region, prio, CAST(n AS BIGINT) AS n,
             CAST(s AS DOUBLE) AS sum_amt
      FROM g WHERE n > 50 ORDER BY region, prio""",

    // from-scratch recompute of the expression-aggregate view: the
    // derived column replays as a projected expression, avg as
    // double(exact decimal sum) / non-null count — the same IEEE
    // division the served view performs
    "q167_sql_matview_expr" -> """
      WITH ord AS (SELECT o_orderkey AS id,
                          o_orderstatus AS status, o_orderpriority AS prio,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p,
                          CAST(CAST(o_orderkey % 10 AS DOUBLE) / 100.0
                               AS DECIMAL(12,2)) AS d
                   FROM orders),
      eff AS (SELECT status, prio,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p, d
              FROM ord WHERE id % 11 <> 0),
      vis AS (SELECT status, prio, p * (1 - d) AS e FROM eff WHERE p > 1000)
      SELECT status, prio, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(e) AS DOUBLE) AS rev,
             CAST(sum(e) AS DOUBLE) / count(e) AS avg_rev,
             CAST(max(e) AS DOUBLE) AS max_rev
      FROM vis GROUP BY status, prio ORDER BY status, prio""",

    // from-scratch recompute of the star view: both dims replayed at
    // their final state (promo 3's factor bumped, moved customers
    // re-regioned), the expression aggregate as a projected product
    "q169_sql_star_matview" -> """
      WITH cd AS (SELECT c_custkey AS k,
                    CASE WHEN c_custkey % 10 = 0 THEN '99'
                         ELSE CAST(c_nationkey AS VARCHAR) END AS region
                  FROM customer),
      pd AS (SELECT i AS pk,
                    CASE WHEN i < 5 THEN 'low' ELSE 'high' END AS grp,
                    CASE WHEN i = 3 THEN 40 ELSE i + 1 END AS factor
             FROM (SELECT UNNEST(range(0, 10)) AS i)),
      oe AS (SELECT o_custkey AS ck, o_orderkey % 10 AS pk,
                    CASE WHEN o_orderkey % 7 = 0
                         THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1000
                         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p
             FROM orders WHERE o_orderkey % 11 <> 0),
      vis AS (SELECT * FROM oe WHERE p > 1000)
      SELECT region, grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p * factor) AS DOUBLE) AS rev
      FROM vis JOIN cd ON vis.ck = cd.k JOIN pd ON vis.pk = pd.pk
      GROUP BY region, grp ORDER BY region, grp""",

    // from-scratch recompute of the restored view's served state (bump
    // applied, deletes removed, WHERE sieved) — the restore must land
    // on exactly this relation
    "q170_sql_matview_restore" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal
                 FROM customer),
      eff AS (SELECT grp,
                     CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal
              FROM c WHERE k % 13 <> 0),
      vis AS (SELECT * FROM eff WHERE bal > 0)
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bal) AS DOUBLE) AS total
      FROM vis GROUP BY grp ORDER BY grp""",

    // from-scratch recompute of the DISTINCT-aggregate view: composed
    // mutations (bump, group move, delete) then the sieve, then
    // count/sum/avg over the DISTINCT codes per group — avg replayed
    // as double(sum distinct) / count distinct, the same IEEE division
    // the served view performs
    "q171_sql_matview_distinct" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp0,
                        CASE WHEN c_custkey % 7 = 0 THEN NULL
                             ELSE c_custkey % 50 END AS code,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal
                 FROM customer),
      eff AS (SELECT CASE WHEN k % 11 = 0 THEN '99' ELSE grp0 END AS grp,
                     code,
                     CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal
              FROM c WHERE k % 13 <> 0),
      vis AS (SELECT * FROM eff WHERE bal > 0)
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT code) AS BIGINT) AS nd,
             CAST(sum(DISTINCT code) AS BIGINT) AS sd,
             CAST(sum(DISTINCT code) AS DOUBLE) / count(DISTINCT code) AS ad
      FROM vis GROUP BY grp ORDER BY grp""",

    // the point-read slice of the distinct view (no mutations: the
    // serve path itself is what this entry checks)
    "q172_sql_matview_distinct_serve" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp,
                        CASE WHEN c_custkey % 7 = 0 THEN NULL
                             ELSE c_custkey % 50 END AS code,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal
                 FROM customer),
      vis AS (SELECT * FROM c WHERE bal > 0)
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT code) AS BIGINT) AS nd,
             CAST(sum(DISTINCT code) AS BIGINT) AS sd
      FROM vis WHERE grp IN ('3', '7', '14')
      GROUP BY grp ORDER BY grp""",

    // q67-style accuracy contract: the oracle compares DUCKDB's own
    // approx_count_distinct against the exact count with the same
    // tolerance — both engines' booleans come out true when their
    // sketches meet the advertised error bound
    "q173_sql_matview_approx_distinct" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp,
                        c_custkey % 1000 AS code,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal
                 FROM customer),
      eff AS (SELECT * FROM c WHERE k % 13 <> 0),
      vis AS (SELECT * FROM eff WHERE bal > 0)
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT code) AS BIGINT) AS nd_exact,
             abs(approx_count_distinct(code) - count(DISTINCT code))
               <= greatest(2, CAST(count(DISTINCT code) * 0.05 AS BIGINT))
               AS apd_ok
      FROM vis GROUP BY grp ORDER BY grp""",

    // from-scratch recompute of the month-bucketed rollup
    "q168_sql_matview_bucket" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderdate AS od,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT od,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0),
      vis AS (SELECT * FROM eff WHERE p > 5000)
      SELECT CAST(CAST(date_trunc('month', od) AS DATE) AS VARCHAR) AS m,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(max(p) AS DOUBLE) AS mx
      FROM vis GROUP BY 1 ORDER BY 1""",

    // q168's recompute trimmed to the range read's month window
    "q174_sql_matview_range_layout" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderdate AS od,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT od,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0),
      vis AS (SELECT * FROM eff WHERE p > 5000)
      SELECT CAST(CAST(date_trunc('month', od) AS DATE) AS VARCHAR) AS m,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(max(p) AS DOUBLE) AS mx
      FROM vis
      GROUP BY 1 HAVING CAST(CAST(date_trunc('month', od) AS DATE) AS VARCHAR)
        BETWEEN '1993-01-01' AND '1996-12-01'
      ORDER BY 1""",

    "q176_sql_matview_left_join" -> """
      WITH ord AS (SELECT o_orderkey AS id,
                          CASE WHEN o_orderkey % 17 = 0 THEN NULL
                               WHEN o_orderkey % 13 = 0
                                 THEN o_custkey + 10000000
                               ELSE o_custkey END AS ck,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT ck,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0),
      cust AS (SELECT c_custkey AS cid, CAST(c_nationkey AS VARCHAR) AS region
               FROM customer WHERE c_custkey % 10 <> 0),
      j AS (SELECT region, p FROM eff LEFT JOIN cust ON eff.ck = cust.cid
            WHERE p > 1000)
      SELECT COALESCE(region, '(none)') AS region,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(max(p) AS DOUBLE) AS mx
      FROM j GROUP BY 1 ORDER BY 1""",

    "q175_sql_matview_range_date" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderdate AS od,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT od,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0),
      vis AS (SELECT * FROM eff WHERE p > 5000)
      SELECT CAST(CAST(date_trunc('month', od) AS DATE) AS VARCHAR) AS m,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(max(p) AS DOUBLE) AS mx
      FROM vis
      GROUP BY 1 HAVING CAST(CAST(date_trunc('month', od) AS DATE) AS VARCHAR)
        BETWEEN '1993-01-01' AND '1996-12-01'
      ORDER BY 1""",

    // q175's recompute with the month kept as a wall-clock timestamp
    // (DuckDB's TIMESTAMP is zone-free, matching Spark's NTZ exactly)
    "q177_sql_matview_range_ntz" -> """
      WITH ord AS (SELECT o_orderkey AS id,
                          CAST(o_orderdate AS TIMESTAMP) AS od,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT od,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0),
      vis AS (SELECT * FROM eff WHERE p > 5000)
      SELECT strftime(date_trunc('month', od), '%Y-%m-%d %H:%M:%S') AS m,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(max(p) AS DOUBLE) AS mx
      FROM vis
      GROUP BY 1 HAVING strftime(date_trunc('month', od),
          '%Y-%m-%d %H:%M:%S')
        BETWEEN '1993-01-01 00:00:00' AND '1996-12-01 00:00:00'
      ORDER BY 1""",

    // q169's recompute with the customer spoke LEFT: dangling/NULL fks
    // keep their orders under the '(none)' region, the %10 customer
    // delete wave moves its orders there too
    "q178_sql_matview_left_star" -> """
      WITH cd AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS region
                  FROM customer WHERE c_custkey % 10 <> 0),
      pd AS (SELECT i AS pk,
                    CASE WHEN i < 5 THEN 'low' ELSE 'high' END AS grp,
                    CASE WHEN i = 3 THEN 40 ELSE i + 1 END AS factor
             FROM (SELECT UNNEST(range(0, 10)) AS i)),
      oe AS (SELECT CASE WHEN o_orderkey % 17 = 0 THEN NULL
                         WHEN o_orderkey % 13 = 0 THEN o_custkey + 10000000
                         ELSE o_custkey END AS ck,
                    o_orderkey % 10 AS pk,
                    CASE WHEN o_orderkey % 7 = 0
                         THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1000
                         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p
             FROM orders WHERE o_orderkey % 11 <> 0),
      vis AS (SELECT * FROM oe WHERE p > 1000)
      SELECT COALESCE(region, '(none)') AS region, grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p * factor) AS DOUBLE) AS rev
      FROM vis LEFT JOIN cd ON vis.ck = cd.k JOIN pd ON vis.pk = pd.pk
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // q176's left join with the distinct family recomputed from scratch
    "q180_sql_matview_left_distinct" -> """
      WITH ord AS (SELECT o_orderkey AS id,
                          CASE WHEN o_orderkey % 17 = 0 THEN NULL
                               WHEN o_orderkey % 13 = 0
                                 THEN o_custkey + 10000000
                               ELSE o_custkey END AS ck,
                          o_orderkey % 5 AS code,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT ck, code,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0),
      cust AS (SELECT c_custkey AS cid, CAST(c_nationkey AS VARCHAR) AS region
               FROM customer WHERE c_custkey % 10 <> 0),
      j AS (SELECT region, code, p
            FROM eff LEFT JOIN cust ON eff.ck = cust.cid
            WHERE p > 1000)
      SELECT COALESCE(region, '(none)') AS region,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT code) AS BIGINT) AS ndc,
             CAST(sum(DISTINCT code) AS BIGINT) AS sdc,
             CAST(sum(p) AS DOUBLE) AS total
      FROM j GROUP BY 1 ORDER BY 1""",

    // the statistics tier recomputed from scratch: the VARIANCE/STDDEV
    // columns mirror the serve formula's exact arithmetic — exact
    // decimal sums cast to double, then (Σx² − (Σx)²/n)/(n or n−1),
    // clamped at 0 — so both engines run the same IEEE operations on
    // the same exact inputs; exact percentiles use the standard
    // continuous interpolation both engines implement; the approx
    // median is checked against the exact one at a shared tolerance
    // (each engine uses its own sketch — the q173 pattern)
    "q181_sql_matview_stats" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp,
                        CASE WHEN c_custkey % 13 = 0 THEN NULL
                             ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS bal
                 FROM customer),
      eff AS (SELECT grp,
                     CASE WHEN k % 11 = 0
                          THEN CAST(bal + 250 AS DECIMAL(12,2))
                          ELSE bal END AS bal
              FROM c WHERE k % 7 <> 0),
      a AS (SELECT grp, count(*) AS n_all, count(bal) AS nn,
                   CAST(sum(bal) AS DOUBLE) AS s,
                   CAST(sum(bal * bal) AS DOUBLE) AS q,
                   quantile_cont(CAST(bal AS DOUBLE), 0.5) AS med,
                   quantile_cont(CAST(bal AS DOUBLE), 0.1) AS p10,
                   quantile_cont(CAST(bal AS DOUBLE), 0.9) AS p90,
                   approx_quantile(CAST(bal AS DOUBLE), 0.5) AS amed
            FROM eff GROUP BY grp)
      SELECT grp, CAST(n_all AS BIGINT) AS n,
             CASE WHEN nn > 1
                  THEN greatest(q - s*s/nn, 0) / (nn - 1) END AS vs,
             CASE WHEN nn > 0
                  THEN greatest(q - s*s/nn, 0) / nn END AS vp,
             CASE WHEN nn > 1
                  THEN sqrt(greatest(q - s*s/nn, 0) / (nn - 1)) END AS sd,
             CASE WHEN nn > 0
                  THEN sqrt(greatest(q - s*s/nn, 0) / nn) END AS sp,
             med, p10, p90,
             (amed IS NULL AND med IS NULL) OR
               (amed >= p10 AND amed <= p90) AS amed_ok
      FROM a ORDER BY grp""",

    // q182's LEFT-join statistics recomputed from scratch, same
    // formula-mirroring discipline; the '(none)' group collects the
    // NULL/dangling fks
    "q182_sql_matview_join_stats" -> """
      WITH cd AS (SELECT c_custkey AS k,
                    CASE WHEN c_custkey % 10 = 0 THEN '99'
                         ELSE CAST(c_nationkey AS VARCHAR) END AS region
                  FROM customer),
      ord AS (SELECT o_orderkey AS id,
                     CASE WHEN o_orderkey % 17 = 0 THEN NULL
                          WHEN o_orderkey % 13 = 0
                            THEN o_custkey + 10000000
                          ELSE o_custkey END AS ck,
                     CAST(o_totalprice AS DECIMAL(12,2)) AS p
              FROM orders),
      eff AS (SELECT ck,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0),
      j AS (SELECT region, p FROM eff LEFT JOIN cd ON eff.ck = cd.k),
      a AS (SELECT region, count(*) AS n_all, count(p) AS nn,
                   CAST(sum(p) AS DOUBLE) AS s,
                   CAST(sum(p * p) AS DOUBLE) AS q,
                   quantile_cont(CAST(p AS DOUBLE), 0.5) AS med,
                   quantile_cont(CAST(p AS DOUBLE), 0.9) AS p90
            FROM j GROUP BY region)
      SELECT COALESCE(region, '(none)') AS region,
             CAST(n_all AS BIGINT) AS n, s AS total,
             CASE WHEN nn > 1
                  THEN round(sqrt(greatest(q - s*s/nn, 0) / (nn - 1)), 3)
             END AS sd,
             med, p90
      FROM a ORDER BY region""",

    // all-NULL SUM/AVG groups recomputed from scratch: '1-URGENT' is
    // NULL from birth, '2-HIGH' drains to all-NULL via the update wave
    "q179_sql_matview_sum_null" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderpriority AS g,
                          CASE WHEN o_orderpriority LIKE '1%' THEN NULL
                               ELSE CAST(o_totalprice AS DECIMAL(12,2))
                          END AS p
                   FROM orders),
      eff AS (SELECT g,
                     CASE WHEN g LIKE '2%' THEN NULL
                          WHEN id % 7 = 0 AND p IS NOT NULL
                            THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord)
      SELECT g AS grp, CAST(count(*) AS BIGINT) AS n,
             CAST(count(p) AS BIGINT) AS np,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(sum(p) AS DOUBLE) / count(p) AS av
      FROM eff GROUP BY g ORDER BY g""",

    // from-scratch recompute of the min/max view's final state
    "q149_matview_minmax" -> """
      WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS VARCHAR) AS grp,
                        CAST(c_acctbal AS DECIMAL(12,2)) AS bal
                 FROM customer),
      eff AS (SELECT grp,
                     CASE WHEN k % 11 = 0 THEN bal + 250 ELSE bal END AS bal
              FROM c WHERE k % 7 <> 0)
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(min(bal) AS DOUBLE) AS min_bal,
             CAST(max(bal) AS DOUBLE) AS max_bal
      FROM eff GROUP BY grp ORDER BY grp""",

    // from-scratch recompute of the join view's final state: effective
    // customer regions (group move applied) joined to effective orders
    // (price bump applied, deletes removed)
    "q155_join_matview" -> """
      WITH cd AS (SELECT c_custkey AS k,
                    CASE WHEN c_custkey % 10 = 0 THEN '99'
                         ELSE CAST(c_nationkey AS VARCHAR) END AS region
                  FROM customer),
      oe AS (SELECT o_custkey AS ck,
                    CASE WHEN o_orderkey % 20 = 0
                         THEN CAST(o_totalprice AS DECIMAL(14,2)) + 50
                         ELSE CAST(o_totalprice AS DECIMAL(14,2)) END AS amt
             FROM orders WHERE o_orderkey % 31 <> 0)
      SELECT region, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(amt) AS DOUBLE) AS sum_amt
      FROM oe JOIN cd ON oe.ck = cd.k
      GROUP BY region ORDER BY region""",

    // from-scratch recompute of the join min/max view's final state
    "q156_join_matview_minmax" -> """
      WITH cd AS (SELECT c_custkey AS k,
                    CASE WHEN c_custkey % 10 = 0 THEN '99'
                         ELSE CAST(c_nationkey AS VARCHAR) END AS region
                  FROM customer),
      oe AS (SELECT o_custkey AS ck,
                    CASE WHEN o_orderkey % 20 = 0
                         THEN CAST(o_totalprice AS DECIMAL(14,2)) + 50
                         ELSE CAST(o_totalprice AS DECIMAL(14,2)) END AS amt
             FROM orders WHERE o_orderkey % 31 <> 0)
      SELECT region, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(amt) AS DOUBLE) AS sum_amt,
             CAST(min(amt) AS DOUBLE) AS min_amt,
             CAST(max(amt) AS DOUBLE) AS max_amt
      FROM oe JOIN cd ON oe.ck = cd.k
      GROUP BY region ORDER BY region""",

    // same algebra as q85 minus the erase: update-then-delete over the
    // insert snapshot (the predicates are disjoint, so one-tx snapshot
    // semantics and sequential semantics agree — by construction)
    "q119_dml_tx" -> """
      WITH s1 AS (
        SELECT c_custkey AS _id,
               CASE WHEN c_acctbal < 0 THEN c_acctbal + 500
                    ELSE c_acctbal END AS bal
        FROM customer)
      SELECT _id, bal FROM s1
      WHERE NOT bal > 9000
      ORDER BY _id""",

    // the period predicates' defined expansions, written out by hand
    "q118_period_sql" -> s"""
      WITH $rectsCte
      SELECT _id, price, _valid_from, _valid_to, _system_from, _system_to
      FROM rects
      WHERE _valid_from <= TIMESTAMP '1996-06-01 00:00:00'
        AND TIMESTAMP '1996-06-01 00:00:00' < _valid_to
        AND _system_from < TIMESTAMP '1997-01-01 00:00:00'
        AND TIMESTAMP '1996-01-01 00:00:00' < _system_to
      ORDER BY _id, _system_from, _valid_from, _valid_to""",

    // overlap-clamped weights in seconds, spelled out by hand
    "q141_time_weighted" -> """
      WITH iv AS (SELECT o_custkey,
                         o_orderdate::TIMESTAMP AS vf,
                         (o_orderdate + INTERVAL 90 DAY)::TIMESTAMP AS vt,
                         CAST(CAST(round(o_totalprice) AS BIGINT) AS DOUBLE) AS dollars
                  FROM orders),
      o AS (SELECT o_custkey, dollars,
                   CAST(date_diff('second',
                     greatest(vf, TIMESTAMP '1995-01-01 00:00:00'),
                     least(vt, TIMESTAMP '1997-01-01 00:00:00')) AS DOUBLE) AS w
            FROM iv
            WHERE vf < TIMESTAMP '1997-01-01 00:00:00'
              AND TIMESTAMP '1995-01-01 00:00:00' < vt)
      SELECT o_custkey,
             sum(dollars * w) AS weighted_sum,
             sum(w) AS covered_secs,
             floor((sum(dollars * w) / sum(w)) * 1000000 + 0.5) / 1000000
               AS time_weighted_avg
      FROM o GROUP BY o_custkey ORDER BY o_custkey""",

    // ±value events at interval endpoints, running sum over sorted
    // change points
    "q142_timeline_sweep" -> """
      WITH iv AS (SELECT o_orderdate::TIMESTAMP AS vf,
                         (o_orderdate + INTERVAL 90 DAY)::TIMESTAMP AS vt,
                         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                  FROM orders),
      ev AS (SELECT vf AS t, CAST(cents AS DOUBLE) AS d FROM iv
             UNION ALL
             SELECT vt AS t, -CAST(cents AS DOUBLE) AS d FROM iv),
      del AS (SELECT t, sum(d) AS delta FROM ev GROUP BY t)
      SELECT t, sum(delta) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS agg
      FROM del ORDER BY t""",

    // the two basis snapshots re-derived from the rectangle CTE, full
    // outer join on _id, change kind by presence/null-safe inequality
    "q143_sys_diff" -> s"""
      WITH $rectsCte,
      s1 AS (SELECT _id, price FROM rects
             WHERE _system_from <= TIMESTAMP '1996-01-01 00:00:00'
               AND TIMESTAMP '1996-01-01 00:00:00' < _system_to
               AND _valid_from <= TIMESTAMP '1997-06-01 00:00:00'
               AND TIMESTAMP '1997-06-01 00:00:00' < _valid_to),
      s2 AS (SELECT _id, price FROM rects
             WHERE _system_from <= TIMESTAMP '1998-01-01 00:00:00'
               AND TIMESTAMP '1998-01-01 00:00:00' < _system_to
               AND _valid_from <= TIMESTAMP '1997-06-01 00:00:00'
               AND TIMESTAMP '1997-06-01 00:00:00' < _valid_to),
      d AS (SELECT coalesce(s1._id, s2._id) AS _id,
                   s1.price AS old_price, s2.price AS new_price,
                   CASE WHEN s1._id IS NULL THEN 'added'
                        WHEN s2._id IS NULL THEN 'removed'
                        WHEN s1.price IS DISTINCT FROM s2.price
                          THEN 'updated' END AS change
            FROM s1 FULL OUTER JOIN s2 ON s1._id = s2._id)
      SELECT _id, old_price, new_price, change
      FROM d WHERE change IS NOT NULL ORDER BY _id""",

    // the same overlap join as a plain theta join (DuckDB's IEJoin
    // handles it natively — the contrast IS the point: Spark needs the
    // binning strategy, the result sets must be identical)
    "q144_interval_join" -> """
      WITH a AS (SELECT o_orderkey,
                        o_orderdate::TIMESTAMP AS vf,
                        (o_orderdate + INTERVAL 30 DAY)::TIMESTAMP AS vt
                 FROM orders WHERE o_totalprice > 495000),
      b AS (SELECT l_orderkey, l_linenumber,
                   l_shipdate::TIMESTAMP AS vf,
                   (l_shipdate + INTERVAL 14 DAY)::TIMESTAMP AS vt
            FROM lineitem WHERE l_quantity = 50)
      SELECT a.o_orderkey, b.l_orderkey, b.l_linenumber,
             CAST(greatest(a.vf, b.vf) AS VARCHAR) AS vf,
             CAST(least(a.vt, b.vt) AS VARCHAR) AS vt
      FROM a, b
      WHERE a.vf < b.vt AND b.vf < a.vt
      ORDER BY a.o_orderkey, b.l_orderkey, b.l_linenumber""",

    // the same gaps-and-islands: island starts where valid-from clears
    // the running max of previous valid-tos, islands aggregate to
    // their envelope
    "q148_coalesce_valid" -> """
      WITH r AS (SELECT l_orderkey AS _id, l_returnflag AS flag,
                        l_shipdate::TIMESTAMP AS vf,
                        (l_shipdate + INTERVAL 30 DAY)::TIMESTAMP AS vt
                 FROM lineitem WHERE l_quantity >= 48),
      m AS (SELECT *, max(vt) OVER (PARTITION BY _id, flag ORDER BY vf, vt
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS runmax FROM r),
      i AS (SELECT *, sum(CASE WHEN runmax IS NULL OR vf > runmax
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY _id, flag ORDER BY vf, vt
                            ROWS UNBOUNDED PRECEDING) AS island FROM m)
      SELECT _id, flag, CAST(min(vf) AS VARCHAR) AS vf,
             CAST(max(vt) AS VARCHAR) AS vt
      FROM i GROUP BY _id, flag, island
      ORDER BY _id, flag, vf""",

    // q183's FILTER aggregates recomputed from scratch with DuckDB's
    // NATIVE FILTER clause over the effective rows (bump wave applied,
    // deletes removed) — the engine's CASE-desugar must land on the
    // same values the ANSI clause defines. AVG mirrors the serve's
    // exact arithmetic (exact decimal sum cast to double, divided by
    // the filtered non-null count), guarded like the serve for a group
    // with no matching rows.
    "q183_sql_matview_filter" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderpriority AS g,
                          't' || CAST(o_orderkey % 3 AS VARCHAR) AS tag,
                          CASE WHEN o_orderkey % 13 = 0 THEN NULL
                               ELSE CAST(o_totalprice AS DECIMAL(12,2))
                          END AS p
                   FROM orders),
      eff AS (SELECT g,
                     CASE WHEN id % 7 = 0 THEN 't0' ELSE tag END AS tag,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0)
      SELECT g AS grp, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE tag = 't0') AS BIGINT) AS n0,
             CAST(sum(p) FILTER (WHERE tag = 't0') AS DOUBLE) AS s0,
             CASE WHEN count(p) FILTER (WHERE tag <> 't1') > 0
                  THEN CAST(sum(p) FILTER (WHERE tag <> 't1') AS DOUBLE)
                       / count(p) FILTER (WHERE tag <> 't1') END AS a01,
             CAST(min(p) FILTER (WHERE tag = 't1') AS DOUBLE) AS mn1,
             CAST(max(p) FILTER (WHERE tag = 't2') AS DOUBLE) AS mx2,
             CAST(count(DISTINCT tag) FILTER (WHERE p > 100000)
                  AS BIGINT) AS dt
      FROM eff GROUP BY g ORDER BY g""",

    // q184's navigated rollup recomputed from scratch: effective rows
    // (bump applied, deletes removed) aggregated by priority alone —
    // DuckDB neither knows nor cares that the engine answered from
    // (priority × month) matview state; the rewrite must be invisible
    "q184_sql_matview_navigate" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderpriority AS g,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT g,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 1000 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord WHERE id % 11 <> 0)
      SELECT g AS grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(min(p) AS DOUBLE) AS lo,
             CAST(max(p) AS DOUBLE) AS hi
      FROM eff GROUP BY g ORDER BY g""",

    // q185's group-pinned dashboard query recomputed from scratch:
    // effective rows (deletes removed), pinned to one priority,
    // aggregated by month — DuckDB neither knows nor cares that the
    // engine served it from ONE range dir of the (priority × month)
    // matview state
    "q185_sql_matview_subsume" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderpriority AS g,
                          CAST(o_orderdate AS TIMESTAMP) AS od,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT g, od, p FROM ord WHERE id % 13 <> 0)
      SELECT strftime(date_trunc('month', od), '%Y-%m') AS m,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(min(p) AS DOUBLE) AS lo
      FROM eff WHERE g = '1-URGENT'
      GROUP BY 1 ORDER BY m""",

    // q186's rolled-up HAVING recomputed from scratch (bump wave
    // applied) with DuckDB's native HAVING
    "q186_sql_matview_having" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderpriority AS g,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT g,
                     CASE WHEN id % 9 = 0 THEN CAST(p + 500 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord)
      SELECT g AS grp, CAST(sum(p) AS DOUBLE) AS total,
             CAST(min(p) AS DOUBLE) AS lo
      FROM eff GROUP BY g
      HAVING count(*) > 100 AND g <> '3-MEDIUM'
      ORDER BY grp""",

    // q187's subset-bucketed pinned rollup recomputed from scratch
    // (delete wave removed) — DuckDB neither knows nor cares that the
    // engine read one `_bucket` dir of 16
    "q187_sql_matview_bucket_key" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderpriority AS g,
                          CAST(o_orderdate AS TIMESTAMP) AS od,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT g, od, p FROM ord WHERE id % 17 <> 0)
      SELECT strftime(date_trunc('month', od), '%Y-%m') AS m,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(max(p) AS DOUBLE) AS hi
      FROM eff WHERE g = '2-HIGH'
      GROUP BY 1 ORDER BY m""",

    // q188's DISTINCT rollup recomputed from scratch (delete wave
    // removed) — DuckDB's COUNT(DISTINCT) over the surviving rows IS
    // the definition the aux-pair re-aggregation must match
    "q188_sql_matview_distinct_rollup" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_orderpriority AS g,
                          CAST(o_orderdate AS TIMESTAMP) AS od,
                          o_custkey AS ck,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT g, od, ck, p FROM ord WHERE id % 13 <> 0)
      SELECT strftime(date_trunc('month', od), '%Y-%m') AS m,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(count(DISTINCT ck) AS BIGINT) AS ncust
      FROM eff WHERE g = '1-URGENT'
      GROUP BY 1 ORDER BY m""",

    // q189's global KPI recomputed from scratch (price-bump wave
    // applied): one row, no GROUP BY — DuckDB's own global aggregate
    "q189_sql_matview_global_kpi" -> """
      WITH ord AS (SELECT o_orderkey AS id, o_custkey AS ck,
                          CAST(o_totalprice AS DECIMAL(12,2)) AS p
                   FROM orders),
      eff AS (SELECT ck,
                     CASE WHEN id % 7 = 0 THEN CAST(p + 100 AS DECIMAL(12,2))
                          ELSE p END AS p
              FROM ord)
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p) AS DOUBLE) AS total,
             CAST(count(DISTINCT ck) AS BIGINT) AS ncust
      FROM eff"""
  )
}
