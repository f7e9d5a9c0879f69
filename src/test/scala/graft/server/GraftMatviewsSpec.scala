package graft.server

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Materialized-view DDL as SQL text: create (populates), refresh
  * (incremental), query by name (current state), aliases, the join
  * form, drop, and the rejection of non-maintainable shapes. */
class GraftMatviewsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def freshTable(payload: Seq[String]): graft.GraftTable = {
    val dir = java.nio.file.Files.createTempDirectory("mv_ddl").toString
    new graft.GraftTable(spark, dir, payload)
  }

  test("CREATE/REFRESH/SELECT/DROP round trip with aliases") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    GraftServer.register("mvaccts", t)
    try {
      t.put(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
          .toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))

      val created = GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_bal WITH (valid_at = '2030-01-01 " +
          "00:00:00', buckets = 4) AS SELECT grp, COUNT(*) AS n, " +
          "SUM(bal) AS total FROM mvaccts GROUP BY grp").collect()
      assert(created.length == 1 && created(0).getString(0) == "mv_bal")

      // CREATE populates: queryable immediately, aliases served
      val r1 = GraftSql.sql(spark,
        "SELECT grp, n, total FROM mv_bal ORDER BY grp").collect()
      assert(r1.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq(("a", 2L, 30L), ("b", 1L, 5L)))

      // new tx folded by REFRESH only
      t.put(Seq((4L, "b", 7L)).toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-02 00:00:00"))
      val stale = GraftSql.sql(spark,
        "SELECT n FROM mv_bal WHERE grp = 'b'").collect()
      assert(stale(0).getLong(0) == 1L, "unrefreshed view serves old state")
      val ref = GraftSql.sql(spark,
        "REFRESH MATERIALIZED VIEW mv_bal").collect()
      assert(ref(0).getString(0) == "mv_bal" && ref(0).getLong(1) >= 1L)
      val r2 = GraftSql.sql(spark,
        "SELECT n, total FROM mv_bal WHERE grp = 'b'").collect()
      assert(r2(0).getLong(0) == 2L && r2(0).getLong(1) == 12L)

      // composes with ordinary SQL around the name
      val top = GraftSql.sql(spark,
        "SELECT grp FROM mv_bal ORDER BY total DESC LIMIT 1").collect()
      assert(top(0).getString(0) == "a")

      val dropped = GraftSql.sql(spark,
        "DROP MATERIALIZED VIEW mv_bal").collect()
      assert(dropped(0).getBoolean(1))
      assert(intercept[Exception](GraftSql.sql(spark,
        "REFRESH MATERIALIZED VIEW mv_bal"))
        .getMessage.contains("unknown materialized view"))
    } finally {
      GraftServer.unregister("mvaccts")
      GraftMatviews.reset()
    }
  }

  test("DROP invalidates the view in OTHER sessions too (no stale serve)") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    GraftServer.register("mvdropx", t)
    try {
      t.put(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_dropx WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT grp, COUNT(*) AS n " +
        "FROM mvdropx GROUP BY grp").collect()

      // a SECOND isolated session references the view — the parser hook
      // registers a temp view THERE (the Connect per-client situation)
      val other = spark.newSession()
      assert(GraftSql.sql(other,
        "SELECT count(*) FROM mv_dropx").collect()(0).getLong(0) == 2L)
      assert(other.catalog.tableExists("mv_dropx"))

      // DROP in the first session must not leave the other session
      // silently serving the dropped view's last state: the next
      // statement referencing the name THERE drops the stale temp view
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_dropx").collect()
      assert(intercept[Exception](GraftSql.sql(other,
        "SELECT count(*) FROM mv_dropx").collect())
        .getMessage.toLowerCase.contains("mv_dropx"))
      assert(!other.catalog.tableExists("mv_dropx"))

      // …but a SAME-NAMED temp view the user creates afterwards is the
      // user's own — later references must leave it alone (the drop
      // fires once per drop generation)
      other.sql("CREATE OR REPLACE TEMPORARY VIEW mv_dropx AS SELECT 7 AS x")
      assert(GraftSql.sql(other,
        "SELECT x FROM mv_dropx").collect()(0).getInt(0) == 7)
    } finally {
      GraftServer.unregister("mvdropx")
      GraftMatviews.reset()
    }
  }

  test("a user's own temp view created right after DROP survives the " +
      "FIRST graft reference (stale cleanup drops only tagged views)") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    GraftServer.register("mvdropy", t)
    try {
      t.put(Seq((1L, "a", 10L)).toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_dropy WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT grp, COUNT(*) AS n " +
        "FROM mvdropy GROUP BY grp").collect()
      val other = spark.newSession()
      assert(GraftSql.sql(other,
        "SELECT n FROM mv_dropy").collect()(0).getLong(0) == 1L)

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_dropy").collect()
      // BEFORE any graft-routed statement references the name in the
      // other session, the user replaces it through a NON-graft path
      // (DataFrame API — no SQL parse, no parser hook): the stale
      // cloned registration is gone, the name is now the user's
      other.range(1).selectExpr("7 AS x").createOrReplaceTempView("mv_dropy")
      // the FIRST graft reference after the drop must inspect, see no
      // matview tag, and leave the user's view alone — the pre-r12 code
      // dropped it here because the generation was still unseen
      assert(GraftSql.sql(other,
        "SELECT x FROM mv_dropy").collect()(0).getInt(0) == 7)
      // …and keeps leaving it alone on later statements
      assert(GraftSql.sql(other,
        "SELECT x FROM mv_dropy").collect()(0).getInt(0) == 7)
    } finally {
      GraftServer.unregister("mvdropy")
      GraftMatviews.reset()
    }
  }

  test("JOIN matview: fact JOIN dim ON fk = dim._id, min/max columns") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "amt"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("mvorders", fact)
    GraftServer.register("mvcust", dim)
    try {
      dim.put(Seq((1L, "EU"), (2L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq((10L, 1L, 100L), (11L, 1L, 50L), (12L, 2L, 70L))
          .toDF("id", "c", "a"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "amt" -> $"a"), ts("2024-01-01 00:00:00"))

      GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_reg WITH (valid_at = '2030-01-01 " +
          "00:00:00') AS SELECT region, COUNT(*) AS n, SUM(amt) AS total, " +
          "MIN(amt) AS lo, MAX(amt) AS hi " +
          "FROM mvorders JOIN mvcust ON cust = mvcust._id GROUP BY region")
      val r1 = GraftSql.sql(spark,
        "SELECT region, n, total, lo, hi FROM mv_reg ORDER BY region")
        .collect()
      assert(r1.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq ==
        Seq(("EU", 2L, 150L, 50L, 100L), ("US", 1L, 70L, 70L, 70L)))

      // a dim-side move refolds through the Δ rules on REFRESH
      dim.put(Seq((2L, "EU")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-02 00:00:00"))
      val ref = GraftSql.sql(spark,
        "REFRESH MATERIALIZED VIEW mv_reg").collect()
      assert(!ref(0).isNullAt(2), "join refresh reports the dim watermark")
      val r2 = GraftSql.sql(spark,
        "SELECT region, n, total FROM mv_reg ORDER BY region").collect()
      assert(r2.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq(("EU", 3L, 220L)))

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_reg")
    } finally {
      GraftServer.unregister("mvorders")
      GraftServer.unregister("mvcust")
      GraftMatviews.reset()
    }
  }

  test("COUNT(col)/AVG/WHERE: incrementally maintained through put/" +
      "update/group-move/predicate-crossing/delete/erase") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal", "score"))
    GraftServer.register("mvaccept", t)
    try {
      def rows(xs: Seq[(Long, String, Long, Option[Long])]) =
        xs.toDF("id", "g", "b", "sc")
      def putAll(xs: Seq[(Long, String, Long, Option[Long])], at: String) =
        t.put(rows(xs), $"id", lit("2020-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"b", "score" -> $"sc"), ts(at))

      putAll(Seq(
        (1L, "a", 100L, Some(10L)), (2L, "a", 5L, Some(20L)),
        (3L, "a", 40L, None), (4L, "b", 50L, Some(5L)),
        (5L, "b", 60L, None), (6L, "c", 30L, Some(3L))),
        "2024-01-01 00:00:00")

      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_acc WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n, COUNT(score) AS n_score, " +
        "SUM(bal) AS total, AVG(bal) AS avg_bal " +
        "FROM mvaccept WHERE bal > 10 GROUP BY grp")

      def read() = GraftSql.sql(spark,
        "SELECT grp, n, n_score, total, avg_bal FROM mv_acc ORDER BY grp")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSeq

      // id 2 (bal 5) fails the predicate; id 3/5 have NULL scores
      assert(read() == Seq(
        ("a", 2L, 1L, 140L, 70.0),
        ("b", 2L, 1L, 110L, 55.0),
        ("c", 1L, 1L, 30L, 30.0)))

      // the full mutation matrix, then ONE incremental refresh:
      //   id 2 ENTERS the predicate (bal 5→50)
      //   id 1 LEAVES it (bal 100→8)
      //   id 4 group-moves b→c
      //   id 3 score NULL→7 (COUNT(col) must notice)
      //   id 5 bal 60→12, score stays NULL
      putAll(Seq(
        (2L, "a", 50L, Some(20L)), (1L, "a", 8L, Some(10L)),
        (4L, "c", 50L, Some(5L)), (3L, "a", 40L, Some(7L)),
        (5L, "b", 12L, None)),
        "2024-01-02 00:00:00")
      //   id 6 deleted, id 5 erased → group b empties entirely
      t.delete(Seq((6L, "c")).toDF("id", "g"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> lit(null).cast("string"),
          "bal" -> lit(null).cast("long"),
          "score" -> lit(null).cast("long")),
        ts("2024-01-03 00:00:00"))
      t.erase(Seq((5L, "b")).toDF("id", "g"), $"id",
        Seq("grp" -> lit(null).cast("string"),
          "bal" -> lit(null).cast("long"),
          "score" -> lit(null).cast("long")),
        ts("2024-01-04 00:00:00"))

      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_acc").collect()
      // survivors: a = {id2 (50, 20), id3 (40, 7)}, c = {id4 (50, 5)};
      // b vanished (its only passing row was erased)
      assert(read() == Seq(
        ("a", 2L, 2L, 90L, 45.0),
        ("c", 1L, 1L, 50L, 50.0)))

      // refresh with nothing new: identical state (idempotence)
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_acc").collect()
      assert(read() == Seq(
        ("a", 2L, 2L, 90L, 45.0),
        ("c", 1L, 1L, 50L, 50.0)))

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_acc")
    } finally {
      GraftServer.unregister("mvaccept")
      GraftMatviews.reset()
    }
  }

  test("a dropped name reused for a view DERIVED from another live " +
      "matview survives (the tag VALUE must name the dropped view)") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    GraftServer.register("mvdropz", t)
    try {
      t.put(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_keepz WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT grp, COUNT(*) AS n " +
        "FROM mvdropz GROUP BY grp").collect()
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_gonez WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT grp, SUM(bal) AS t " +
        "FROM mvdropz GROUP BY grp").collect()
      val other = spark.newSession()
      assert(GraftSql.sql(other,
        "SELECT count(*) FROM mv_keepz").collect()(0).getLong(0) == 2L)
      assert(GraftSql.sql(other,
        "SELECT count(*) FROM mv_gonez").collect()(0).getLong(0) == 2L)

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_gonez").collect()
      // the user snapshots the LIVE view under the dropped name via a
      // non-graft path — the projection INHERITS mv_keepz's tag, but
      // the tag names mv_keepz, not mv_gonez: a contains-key check
      // would destroy this view; the value check must not
      other.table("mv_keepz").limit(1).createOrReplaceTempView("mv_gonez")
      assert(GraftSql.sql(other,
        "SELECT count(*) FROM mv_gonez").collect()(0).getLong(0) == 1L)
    } finally {
      GraftServer.unregister("mvdropz")
      GraftMatviews.reset()
    }
  }

  test("matview names inside a procedure's inline-subquery table arg " +
      "re-bind to CURRENT state") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    GraftServer.register("mvsub", t)
    try {
      t.put(Seq((1L, "a", 10L)).toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_subq WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT grp, COUNT(*) AS n " +
        "FROM mvsub GROUP BY grp").collect()
      def throughArg(): Long = GraftSql.sql(spark,
        "SELECT count(*) AS c FROM graft_token_stats(" +
          "'( SELECT grp AS doc_id, CAST(n AS STRING) AS text " +
          "FROM mv_subq )', 'doc_id', 'text')").collect()(0).getLong(0)
      assert(throughArg() == 1L)

      // new group lands, REFRESH folds it — and the ONLY reference to
      // the view is from inside the quoted subquery arg (masked in the
      // outer statement): the nested resolution must re-bind, not
      // serve the pre-refresh registration
      t.put(Seq((2L, "b", 20L)).toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_subq").collect()
      assert(throughArg() == 2L)

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_subq")
    } finally {
      GraftServer.unregister("mvsub")
      GraftMatviews.reset()
    }
  }

  test("JOIN form COUNT(col)/AVG/WHERE: maintained through fact " +
      "enter/leave/delete/erase and dim group-move/predicate-crossing") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "amt", "score"))
    val dim = freshTable(Seq("region", "tier"))
    GraftServer.register("jfact", fact)
    GraftServer.register("jdim", dim)
    try {
      def putFacts(xs: Seq[(Long, Long, Long, Option[Long])], at: String) =
        fact.put(xs.toDF("id", "c", "a", "sc"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("cust" -> $"c", "amt" -> $"a", "score" -> $"sc"), ts(at))
      def putDims(xs: Seq[(Long, String, Option[String])], at: String) =
        dim.put(xs.toDF("id", "r", "t"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("region" -> $"r", "tier" -> $"t"), ts(at))

      // dim 2 is tier 'X' (predicate-excluded), dim 3 has a NULL tier
      // (kept by the predicate, invisible to COUNT(tier))
      putDims(Seq(
        (1L, "EU", Some("g")), (2L, "EU", Some("X")),
        (3L, "US", None), (4L, "US", Some("g"))),
        "2024-01-01 00:00:00")
      putFacts(Seq(
        (10L, 1L, 100L, Some(10L)), (11L, 1L, 5L, Some(20L)),
        (12L, 2L, 70L, None), (13L, 3L, 40L, None),
        (14L, 4L, 50L, Some(5L)), (15L, 4L, 90L, Some(1L))),
        "2024-01-01 00:00:01")

      // WHERE mixes a FACT column (amt) and a DIM column (tier, with a
      // 3VL guard so NULL tiers stay members); COUNT(col) counts one
      // column per side; AVG rides SUM/COUNT; MIN/MAX exercise the
      // sieved touched-group re-read across the join
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_jacc WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, COUNT(*) AS n, COUNT(score) AS n_score, " +
        "COUNT(tier) AS n_tier, SUM(amt) AS total, AVG(amt) AS avg_amt, " +
        "MIN(amt) AS lo, MAX(amt) AS hi " +
        "FROM jfact JOIN jdim ON cust = jdim._id " +
        "WHERE amt > 10 AND (tier IS NULL OR tier <> 'X') " +
        "GROUP BY region")

      def read() = GraftSql.sql(spark,
        "SELECT region, n, n_score, n_tier, total, avg_amt, lo, hi " +
          "FROM mv_jacc ORDER BY region")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6),
          r.getLong(7))).toSeq

      // members: EU = {10}; 11 fails amt > 10, 12's dim is tier X;
      // US = {13 (null score/tier), 14, 15}
      assert(read() == Seq(
        ("EU", 1L, 1L, 1L, 100L, 100.0, 100L, 100L),
        ("US", 3L, 2L, 2L, 180L, 60.0, 40L, 90L)))

      // the matrix, then ONE incremental refresh:
      //   fact 11 ENTERS the predicate (amt 5→60)
      //   fact 10 LEAVES it (amt 100→8)
      //   fact 13 score NULL→7, amt 40→50 (COUNT(col) notices)
      //   dim 2 tier X→g: fact 12 enters with ZERO fact ops
      //   dim 3 region US→EU: fact 13 group-moves with ZERO fact ops
      //   fact 14 deleted, fact 15 erased → US empties entirely
      putFacts(Seq(
        (11L, 1L, 60L, Some(20L)), (10L, 1L, 8L, Some(10L)),
        (13L, 3L, 50L, Some(7L))),
        "2024-01-02 00:00:00")
      putDims(Seq((2L, "EU", Some("g")), (3L, "EU", None)),
        "2024-01-02 00:00:01")
      fact.delete(Seq((14L, 4L)).toDF("id", "c"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("long"),
          "score" -> lit(null).cast("long")),
        ts("2024-01-03 00:00:00"))
      fact.erase(Seq((15L, 4L)).toDF("id", "c"), $"id",
        Seq("cust" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("long"),
          "score" -> lit(null).cast("long")),
        ts("2024-01-04 00:00:00"))

      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_jacc").collect()
      // survivors, all EU: 11 (60, sc 20, tier g), 12 (70, NULL, g),
      // 13 (50, sc 7, NULL tier); US vanished (delete + erase)
      assert(read() == Seq(
        ("EU", 3L, 2L, 2L, 180L, 60.0, 50L, 70L)))

      // idempotence: refresh with nothing new
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_jacc").collect()
      assert(read() == Seq(
        ("EU", 3L, 2L, 2L, 180L, 60.0, 50L, 70L)))

      // …and the whole state matches a from-scratch recompute
      val scratch = fact.current()
        .select(col("cust"), col("amt"), col("score"))
        .join(dim.current().select(col("_id").as("did"),
          col("region"), col("tier")), col("cust") === col("did"))
        .filter(col("amt") > 10 &&
          (col("tier").isNull || col("tier") =!= "X"))
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"), count(col("score")).as("n_score"),
          count(col("tier")).as("n_tier"), sum(col("amt")).as("total"),
          avg(col("amt")).as("avg_amt"), min(col("amt")).as("lo"),
          max(col("amt")).as("hi"))
        .orderBy(col("region"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6),
          r.getLong(7))).toSeq
      assert(read() == scratch)

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_jacc")
    } finally {
      GraftServer.unregister("jfact")
      GraftServer.unregister("jdim")
      GraftMatviews.reset()
    }
  }

  test("multi-column GROUP BY + HAVING: single-table and join forms, " +
      "maintained through the mutation flow") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "kind", "amt"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("mgfact", fact)
    GraftServer.register("mgdim", dim)
    try {
      dim.put(Seq((1L, "EU"), (2L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq(
          (10L, 1L, "a", 100L), (11L, 1L, "a", 40L), (12L, 1L, "b", 70L),
          (13L, 2L, "a", 50L), (14L, 2L, "b", 90L), (15L, 2L, "b", 10L))
          .toDF("id", "c", "k", "a"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "kind" -> $"k", "amt" -> $"a"),
        ts("2024-01-01 00:00:01"))

      // single-table: TWO fact group columns + HAVING over an alias
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_mg1 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT cust, kind, COUNT(*) AS n, SUM(amt) AS total " +
        "FROM mgfact GROUP BY cust, kind HAVING total > 60")
      def read1() = GraftSql.sql(spark,
        "SELECT cust, kind, n, total FROM mv_mg1 ORDER BY cust, kind")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
      // (1,a)=140, (1,b)=70, (2,a)=50 OUT, (2,b)=100 over two rows
      assert(read1() == Seq((1L, "a", 2L, 140L), (1L, "b", 1L, 70L),
        (2L, "b", 2L, 100L)))

      // mutations: (2,a) ENTERS the HAVING gate (+20), (1,b) LEAVES it
      // (70→40), a brand-new (3,c) group appears
      fact.put(Seq((16L, 2L, "a", 20L), (12L, 1L, "b", 40L),
          (17L, 3L, "c", 999L)).toDF("id", "c", "k", "a"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "kind" -> $"k", "amt" -> $"a"),
        ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_mg1").collect()
      assert(read1() == Seq((1L, "a", 2L, 140L), (2L, "a", 2L, 70L),
        (2L, "b", 2L, 100L), (3L, "c", 1L, 999L)))

      // join form: group columns SPAN the sides (dim region, fact kind)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_mg2 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, kind, COUNT(*) AS n, SUM(amt) AS total, " +
        "AVG(amt) AS avg_amt FROM mgfact JOIN mgdim ON cust = mgdim._id " +
        "WHERE amt > 15 GROUP BY region, kind")
      def read2() = GraftSql.sql(spark,
        "SELECT region, kind, n, total, avg_amt FROM mv_mg2 " +
          "ORDER BY region, kind")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSeq
      // visible facts (amt > 15; cust 3 has no dim row):
      // EU/a: 10 (100), 11 (40), 16? cust2→US. EU: 12 (40, kind b)
      // US/a: 13 (50), 16 (20); US/b: 14 (90); 15 (10) fails WHERE
      assert(read2() == Seq(
        ("EU", "a", 2L, 140L, 70.0), ("EU", "b", 1L, 40L, 40.0),
        ("US", "a", 2L, 70L, 35.0), ("US", "b", 1L, 90L, 90.0)))

      // a dim group-move re-groups BOTH (region, kind) cells of cust 1
      // with zero fact ops
      dim.put(Seq((1L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-03 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_mg2").collect()
      assert(read2() == Seq(
        ("US", "a", 4L, 210L, 52.5), ("US", "b", 2L, 130L, 65.0)))

      // from-scratch parity for the join view's final state
      val scratch = fact.current().select(col("cust"), col("kind"), col("amt"))
        .join(dim.current().select(col("_id").as("did"), col("region")),
          col("cust") === col("did"))
        .filter(col("amt") > 15)
        .groupBy(col("region"), col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("amt")).as("total"),
          avg(col("amt")).as("avg_amt"))
        .orderBy(col("region"), col("kind"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSeq
      assert(read2() == scratch)

      // HAVING is validated like WHERE: nondeterministic/clock refuse
      val e = intercept[IllegalArgumentException](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_mg3 AS SELECT cust, COUNT(*) AS n " +
          "FROM mgfact GROUP BY cust HAVING n > rand()"))
      assert(e.getMessage.contains("HAVING") &&
        e.getMessage.toLowerCase.contains("deterministic"), e.getMessage)
      // …and a HAVING over a column the view does not serve fails at
      // CREATE with the analysis story, leaving no half-registered view
      val e2 = intercept[IllegalArgumentException](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_mg4 AS SELECT cust, COUNT(*) AS n " +
          "FROM mgfact GROUP BY cust HAVING no_such > 1"))
      assert(e2.getMessage.contains("HAVING"), e2.getMessage)
      assert(intercept[Exception](GraftSql.sql(spark,
        "REFRESH MATERIALIZED VIEW mv_mg4")).getMessage
        .contains("unknown materialized view"))

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_mg1")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_mg2")
    } finally {
      GraftServer.unregister("mgfact")
      GraftServer.unregister("mgdim")
      GraftMatviews.reset()
    }
  }

  test("expression aggregates: derived columns through the mutation " +
      "flow, both forms, dim-side expression inputs") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "qty", "price"))
    val dim = freshTable(Seq("region", "rate"))
    GraftServer.register("exfact", fact)
    GraftServer.register("exdim", dim)
    try {
      dim.put(Seq((1L, "EU", 2L), (2L, "US", 3L)).toDF("id", "r", "x"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r", "rate" -> $"x"), ts("2024-01-01 00:00:00"))
      fact.put(Seq(
          (10L, 1L, 2L, 10L), (11L, 1L, 3L, 20L),
          (12L, 2L, 1L, 5L), (13L, 2L, 4L, 8L))
          .toDF("id", "c", "q", "p"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "qty" -> $"q", "price" -> $"p"),
        ts("2024-01-01 00:00:01"))

      // single-table: SUM/AVG share one derived column; MAX exercises
      // the min/max fallback over a derived column
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_ex1 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT cust, COUNT(*) AS n, SUM(qty * price) AS rev, " +
        "AVG(qty * price) AS avg_rev, MAX(qty * price) AS max_rev " +
        "FROM exfact GROUP BY cust")
      def read1() = GraftSql.sql(spark,
        "SELECT cust, n, rev, avg_rev, max_rev FROM mv_ex1 ORDER BY cust")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq
      // cust1: 2*10 + 3*20 = 80; cust2: 1*5 + 4*8 = 37
      assert(read1() == Seq((1L, 2L, 80L, 40.0, 60L),
        (2L, 2L, 37L, 18.5, 32L)))

      // update drops cust1's max contributor (3*20 -> 3*2), delete
      // removes cust2's max row: both extremes must re-derive
      fact.put(Seq((11L, 1L, 3L, 2L)).toDF("id", "c", "q", "p"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "qty" -> $"q", "price" -> $"p"),
        ts("2024-01-02 00:00:00"))
      fact.delete(Seq(Tuple1(13L)).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "qty" -> lit(null).cast("long"),
          "price" -> lit(null).cast("long")),
        ts("2024-01-02 00:00:01"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_ex1").collect()
      assert(read1() == Seq((1L, 2L, 26L, 13.0, 20L),
        (2L, 1L, 5L, 5.0, 5L)))

      // join form: the expression reads BOTH sides (price * dim rate) —
      // a dim-side rate change must rescale every referencing fact's
      // contribution with zero fact ops
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_ex2 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, SUM(price * rate) AS wrev, COUNT(*) AS n " +
        "FROM exfact JOIN exdim ON cust = exdim._id GROUP BY region")
      def read2() = GraftSql.sql(spark,
        "SELECT region, wrev, n FROM mv_ex2 ORDER BY region")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      // EU: (10 + 2) * 2 = 24; US: 5 * 3 = 15
      assert(read2() == Seq(("EU", 24L, 2L), ("US", 15L, 1L)))
      dim.put(Seq((1L, "EU", 5L)).toDF("id", "r", "x"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r", "rate" -> $"x"), ts("2024-01-03 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_ex2").collect()
      assert(read2() == Seq(("EU", 60L, 2L), ("US", 15L, 1L)))

      // from-scratch parity for both final states
      val s1 = fact.current().groupBy(col("cust"))
        .agg(count(lit(1)).as("n"),
          sum(col("qty") * col("price")).as("rev"),
          avg(col("qty") * col("price")).as("avg_rev"),
          max(col("qty") * col("price")).as("max_rev"))
        .orderBy(col("cust")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq
      assert(read1() == s1)

      // rejection matrix: the argument obeys the WHERE rules, plus no
      // nesting, and an alias is mandatory (DISTINCT forms are
      // accepted since r13 — their matrix lives in the dedicated
      // DISTINCT tests)
      def bad(sql: String, needle: String): Unit = {
        val e = intercept[IllegalArgumentException](GraftSql.sql(spark, sql))
        assert(e.getMessage.contains(needle),
          s"'${e.getMessage}' should contain '$needle'")
      }
      bad("CREATE MATERIALIZED VIEW mv_exr1 AS SELECT cust, " +
        "SUM(qty * rand()) AS x FROM exfact GROUP BY cust",
        "non-deterministic")
      bad("CREATE MATERIALIZED VIEW mv_exr2 AS SELECT cust, " +
        "SUM(SUM(qty)) AS x FROM exfact GROUP BY cust",
        "nests an aggregate")
      bad("CREATE MATERIALIZED VIEW mv_exr3 AS SELECT cust, " +
        "SUM(qty * 2) FROM exfact GROUP BY cust", "AS alias")
      bad("CREATE MATERIALIZED VIEW mv_exr5 AS SELECT cust, " +
        "SUM(no_such + 1) AS x FROM exfact GROUP BY cust", "analyze")

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_ex1")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_ex2")
    } finally {
      GraftServer.unregister("exfact")
      GraftServer.unregister("exdim")
      GraftMatviews.reset()
    }
  }

  test("expression GROUP BY: time-bucketed rollup and a dim-side " +
      "bucket expression, maintained through mutations") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "ts", "amt"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("gxfact", fact)
    GraftServer.register("gxdim", dim)
    try {
      dim.put(Seq((1L, "eu-west"), (2L, "us-east")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq(
          (10L, 1L, "2024-01-05 10:00:00", 100L),
          (11L, 1L, "2024-01-20 10:00:00", 40L),
          (12L, 2L, "2024-02-02 10:00:00", 70L),
          (13L, 2L, "2024-02-27 10:00:00", 50L))
          .toDF("id", "c", "t", "a")
          .withColumn("t", $"t".cast("timestamp")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "ts" -> $"t", "amt" -> $"a"),
        ts("2024-03-01 00:00:00"))

      // single-table: month bucket + MAX exercising the mm fallback's
      // semi-join on a DERIVED group key
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_gx1 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT date_trunc('month', ts) AS m, COUNT(*) AS n, " +
        "SUM(amt) AS total, MAX(amt) AS mx " +
        "FROM gxfact GROUP BY date_trunc('month', ts)")
      def read1() = GraftSql.sql(spark,
        "SELECT CAST(m AS DATE) AS m, n, total, mx FROM mv_gx1 ORDER BY m")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getLong(2), r.getLong(3))).toSeq
      assert(read1() == Seq(("2024-01-01", 2L, 140L, 100L),
        ("2024-02-01", 2L, 120L, 70L)))

      // a row MOVES between buckets (ts update) — the old month loses
      // its max — and a delete empties nothing but shrinks February
      fact.put(Seq((10L, 1L, "2024-02-10 09:00:00", 100L))
          .toDF("id", "c", "t", "a")
          .withColumn("t", $"t".cast("timestamp")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "ts" -> $"t", "amt" -> $"a"),
        ts("2024-03-02 00:00:00"))
      fact.delete(Seq(Tuple1(13L)).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "ts" -> lit(null).cast("timestamp"),
          "amt" -> lit(null).cast("long")),
        ts("2024-03-02 00:00:01"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_gx1").collect()
      assert(read1() == Seq(("2024-01-01", 1L, 40L, 40L),
        ("2024-02-01", 2L, 170L, 100L)))

      // join form: bucket expression over the DIM side — a dim value
      // change re-buckets its facts with zero fact ops
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_gx2 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT substring(region, 1, 2) AS zone, COUNT(*) AS n, " +
        "SUM(amt) AS total FROM gxfact JOIN gxdim ON cust = gxdim._id " +
        "GROUP BY substring(region, 1, 2)")
      def read2() = GraftSql.sql(spark,
        "SELECT zone, n, total FROM mv_gx2 ORDER BY zone")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(read2() == Seq(("eu", 2L, 140L), ("us", 1L, 70L)))
      dim.put(Seq((1L, "ap-south")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-03-03 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_gx2").collect()
      assert(read2() == Seq(("ap", 2L, 140L), ("us", 1L, 70L)))

      // rejections: non-deterministic bucket, alias-less repetition
      def bad(sql: String, needle: String): Unit = {
        val e = intercept[IllegalArgumentException](GraftSql.sql(spark, sql))
        assert(e.getMessage.contains(needle),
          s"'${e.getMessage}' should contain '$needle'")
      }
      bad("CREATE MATERIALIZED VIEW mv_gxr1 AS SELECT COUNT(*) AS n " +
        "FROM gxfact GROUP BY rand()", "non-deterministic")
      bad("CREATE MATERIALIZED VIEW mv_gxr2 AS SELECT " +
        "date_trunc('month', ts), COUNT(*) AS n FROM gxfact " +
        "GROUP BY date_trunc('month', ts)", "AS alias")

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_gx1")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_gx2")
    } finally {
      GraftServer.unregister("gxfact")
      GraftServer.unregister("gxdim")
      GraftMatviews.reset()
    }
  }

  test("derived-expression hardening: literal whitespace survives, " +
      "failed CREATE leaves no state, timezone pin, ordinals refused") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("tag", "amt", "at"))
    GraftServer.register("hdfact", t)
    try {
      t.put(Seq((1L, "x  y", 10L, "2024-01-05 10:00:00"),
          (2L, "x y", 20L, "2024-02-05 10:00:00"),
          (3L, "z", 40L, "2024-02-06 10:00:00"))
          .toDF("id", "g", "a", "ts")
          .withColumn("ts", $"ts".cast("timestamp")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("tag" -> $"g", "amt" -> $"a", "at" -> $"ts"),
        ts("2024-03-01 00:00:00"))

      // whitespace inside a string LITERAL is data: the two-space
      // 'x  y' must keep matching after the naming normalization
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_hd1 WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT tag, " +
        "SUM(CASE WHEN tag = 'x  y' THEN amt ELSE 0 END) AS two_sp " +
        "FROM hdfact GROUP BY tag")
      val r = GraftSql.sql(spark,
        "SELECT tag, two_sp FROM mv_hd1 ORDER BY tag").collect()
        .map(x => (x.getString(0), x.getLong(1))).toSeq
      assert(r == Seq(("x  y", 10L), ("x y", 0L), ("z", 0L)))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_hd1")

      // a CREATE that fails AFTER populating (bad HAVING) must delete
      // its state: the retry with a different aggregate list would
      // otherwise fold incrementally against mismatched state columns
      intercept[IllegalArgumentException](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_hd2 AS SELECT tag, COUNT(*) AS n " +
          "FROM hdfact GROUP BY tag HAVING no_such > 1"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_hd2 AS " +
        "SELECT tag, SUM(amt) AS total FROM hdfact GROUP BY tag")
      assert(GraftSql.sql(spark,
        "SELECT sum(total) AS t FROM mv_hd2").collect()(0).getLong(0) == 70L)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_hd2")

      // timezone-aware derived group key: an incremental refresh under
      // a DIFFERENT session timezone is refused loudly (the state's
      // month buckets were computed under the pinned zone)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_hd3 WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS " +
        "SELECT date_trunc('month', at) AS m, COUNT(*) AS n " +
        "FROM hdfact GROUP BY date_trunc('month', at)")
      val tz0 = spark.conf.get("spark.sql.session.timeZone")
      t.put(Seq((4L, "w", 5L, "2024-02-07 10:00:00"))
          .toDF("id", "g", "a", "ts")
          .withColumn("ts", $"ts".cast("timestamp")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("tag" -> $"g", "amt" -> $"a", "at" -> $"ts"),
        ts("2024-03-02 00:00:00"))
      try {
        spark.conf.set("spark.sql.session.timeZone",
          if (tz0 == "America/New_York") "UTC" else "America/New_York")
        val e = intercept[IllegalStateException](GraftSql.sql(spark,
          "REFRESH MATERIALIZED VIEW mv_hd3"))
        assert(e.getMessage.contains("timezone"), e.getMessage)
      } finally spark.conf.set("spark.sql.session.timeZone", tz0)
      // back under the pinned zone the refresh folds normally
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_hd3").collect()
      assert(GraftSql.sql(spark,
        "SELECT sum(n) AS n FROM mv_hd3").collect()(0).getLong(0) == 4L)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_hd3")

      // GROUP BY ordinals: refused with the story, never a constant key
      val e2 = intercept[IllegalArgumentException](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_hd4 AS SELECT COUNT(*) AS n " +
          "FROM hdfact GROUP BY 1"))
      assert(e2.getMessage.contains("ordinal"), e2.getMessage)
    } finally {
      GraftServer.unregister("hdfact")
      GraftMatviews.reset()
    }
  }

  test("star matview: fact joined to TWO dims, maintained through " +
      "fact mutations and either dim's group-move/value-change") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "prod", "amt"))
    val dcust = freshTable(Seq("region"))
    val dprod = freshTable(Seq("cat", "rate"))
    GraftServer.register("stfact", fact)
    GraftServer.register("stcust", dcust)
    GraftServer.register("stprod", dprod)
    try {
      dcust.put(Seq((1L, "EU"), (2L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      dprod.put(Seq((10L, "hw", 2L), (11L, "sw", 3L)).toDF("id", "c", "x"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("cat" -> $"c", "rate" -> $"x"), ts("2024-01-01 00:00:01"))
      fact.put(Seq(
          (100L, 1L, 10L, 10L), (101L, 1L, 11L, 20L),
          (102L, 2L, 10L, 30L), (103L, 2L, 11L, 4L))
          .toDF("id", "c", "p", "a"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "prod" -> $"p", "amt" -> $"a"),
        ts("2024-01-01 00:00:02"))

      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_star WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, cat, COUNT(*) AS n, SUM(amt * rate) AS wamt, " +
        "MAX(amt) AS mx FROM stfact " +
        "JOIN stcust ON cust = stcust._id " +
        "JOIN stprod ON prod = stprod._id " +
        "WHERE amt > 5 GROUP BY region, cat")
      def read() = GraftSql.sql(spark,
        "SELECT region, cat, n, wamt, mx FROM mv_star ORDER BY region, cat")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      def scratch() = fact.current()
        .join(dcust.current().select(col("_id").as("cid"), col("region")),
          col("cust") === col("cid"))
        .join(dprod.current().select(col("_id").as("pid"), col("cat"),
          col("rate")), col("prod") === col("pid"))
        .filter(col("amt") > 5)
        .groupBy(col("region"), col("cat"))
        .agg(count(lit(1)).as("n"), sum(col("amt") * col("rate")).as("wamt"),
          max(col("amt")).as("mx"))
        .orderBy(col("region"), col("cat"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      // 103 (amt 4) fails the WHERE; EU/hw: 10*2, EU/sw: 20*3, US/hw: 30*2
      assert(read() == Seq(("EU", "hw", 1L, 20L, 10L),
        ("EU", "sw", 1L, 60L, 20L), ("US", "hw", 1L, 60L, 30L)))
      assert(read() == scratch())

      // SECOND dim value change, zero fact ops: sw rate 3 -> 5 must
      // re-scale every sw fact's derived contribution
      dprod.put(Seq((11L, "sw", 5L)).toDF("id", "c", "x"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cat" -> $"c", "rate" -> $"x"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_star").collect()
      assert(read() == Seq(("EU", "hw", 1L, 20L, 10L),
        ("EU", "sw", 1L, 100L, 20L), ("US", "hw", 1L, 60L, 30L)))
      assert(read() == scratch())

      // FIRST dim group move + fact mutations in one refresh: cust 1
      // relocates to US, fact 103 enters the WHERE (amt 4 -> 50),
      // fact 102 is deleted (US/hw loses its max)
      dcust.put(Seq((1L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-03 00:00:00"))
      fact.put(Seq((103L, 2L, 11L, 50L)).toDF("id", "c", "p", "a"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "prod" -> $"p", "amt" -> $"a"),
        ts("2024-01-03 00:00:01"))
      fact.delete(Seq(Tuple1(102L)).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "prod" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("long")),
        ts("2024-01-03 00:00:02"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_star").collect()
      assert(read() == scratch())
      assert(read() == Seq(("US", "hw", 1L, 20L, 10L),
        ("US", "sw", 2L, 350L, 50L)))

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_star")
    } finally {
      GraftServer.unregister("stfact")
      GraftServer.unregister("stcust")
      GraftServer.unregister("stprod")
      GraftMatviews.reset()
    }
  }

  test("star-review hardening: malformed JOINs refuse, definition " +
      "changes over the same state rebuild, timestamp group keys pin " +
      "the timezone") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "amt", "at"))
    val d = freshTable(Seq("region"))
    GraftServer.register("srfact", t)
    GraftServer.register("srdim", d)
    try {
      t.put(Seq((1L, 1L, 5L, "2024-01-05 10:00:00"),
          (2L, 1L, 30L, "2024-02-05 10:00:00"),
          (3L, 2L, 40L, "2024-02-06 10:00:00"))
          .toDF("id", "g", "a", "ts")
          .withColumn("ts", $"ts".cast("timestamp")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"a", "at" -> $"ts"),
        ts("2024-03-01 00:00:00"))
      d.put(Seq((1L, "EU"), (2L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-03-01 00:00:01"))

      def bad(sql: String, needle: String): Unit = {
        val e = intercept[IllegalArgumentException](GraftSql.sql(spark, sql))
        assert(e.getMessage.contains(needle),
          s"'${e.getMessage}' should contain '$needle'")
      }
      // a JOIN clause the parser cannot read must refuse, never
      // silently drop the spoke
      bad("CREATE MATERIALIZED VIEW mv_sr1 AS SELECT grp, COUNT(*) AS n " +
        "FROM srfact JOIN srdim GROUP BY grp", "unsupported JOIN syntax")
      bad("CREATE MATERIALIZED VIEW mv_sr1 AS SELECT region, COUNT(*) AS n " +
        "FROM srfact JOIN srdim ON grp = srdim._id JOIN nodim " +
        "GROUP BY region", "unsupported JOIN syntax")

      // DEFINITION change over the same state dir (simulated JVM
      // restart: registry wiped, state files remain): the re-CREATE's
      // populating refresh must discard and rebuild, not adopt
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_sr2 WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT grp, " +
        "SUM(amt) AS total FROM srfact WHERE amt > 10 GROUP BY grp")
      assert(GraftSql.sql(spark,
        "SELECT sum(total) AS t FROM mv_sr2").collect()(0).getLong(0) == 70L)
      GraftMatviews.reset() // registry gone, state dir survives
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_sr2 WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT grp, " +
        "SUM(amt) AS total FROM srfact WHERE amt > 35 GROUP BY grp")
      assert(GraftSql.sql(spark,
        "SELECT sum(total) AS t FROM mv_sr2").collect()(0).getLong(0) == 40L,
        "re-CREATE with a changed WHERE must rebuild, not adopt old state")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_sr2")

      // a PLAIN timestamp group column (no WHERE, no derived) is
      // timezone-sensitive through the bucket hash: pinned + refused
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_sr3 WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT at, COUNT(*) AS n " +
        "FROM srfact GROUP BY at")
      t.put(Seq((4L, 2L, 7L, "2024-02-07 10:00:00"))
          .toDF("id", "g", "a", "ts")
          .withColumn("ts", $"ts".cast("timestamp")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"a", "at" -> $"ts"),
        ts("2024-03-02 00:00:00"))
      val tz0 = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone",
          if (tz0 == "America/New_York") "UTC" else "America/New_York")
        val e = intercept[IllegalStateException](GraftSql.sql(spark,
          "REFRESH MATERIALIZED VIEW mv_sr3"))
        assert(e.getMessage.contains("timezone"), e.getMessage)
      } finally spark.conf.set("spark.sql.session.timeZone", tz0)
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_sr3").collect()
      assert(GraftSql.sql(spark,
        "SELECT sum(n) AS n FROM mv_sr3").collect()(0).getLong(0) == 4L)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_sr3")
    } finally {
      GraftServer.unregister("srfact")
      GraftServer.unregister("srdim")
      GraftMatviews.reset()
    }
  }

  test("SHOW / RESTORE MATERIALIZED VIEWS: definitions survive a " +
      "restart on disk and re-register by adopting the state") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "amt"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("rsfact", fact)
    GraftServer.register("rsdim", dim)
    try {
      dim.put(Seq((1L, "EU"), (2L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq((10L, 1L, 10L), (11L, 2L, 20L), (12L, 1L, 30L))
          .toDF("id", "c", "a"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "amt" -> $"a"), ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_rs1 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT cust, COUNT(*) AS n, SUM(amt) AS total " +
        "FROM rsfact GROUP BY cust")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_rs2 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, SUM(amt) AS total FROM rsfact " +
        "JOIN rsdim ON cust = rsdim._id GROUP BY region")

      val show = GraftSql.sql(spark, "SHOW MATERIALIZED VIEWS").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(show.keySet == Set("mv_rs1", "mv_rs2"))
      assert(show("mv_rs1").contains("valid_at = '2030-01-01") &&
        show("mv_rs1").contains("SUM(amt) AS total"),
        "SHOW serves the canonical pinned definition")

      // state file snapshot: a restore with no new txs must ADOPT the
      // state byte-for-byte (matching fingerprint -> no-op refresh),
      // never rebuild it
      val stateDir = new java.io.File(fact.tableDir, "matview/mv_rs1/state")
      def snap() = stateDir.listFiles().flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty).map(f =>
          (f.getPath, f.length, f.lastModified))).toSet
      val before = snap()

      GraftMatviews.reset() // simulated JVM restart: registry gone
      assert(GraftSql.sql(spark, "SHOW MATERIALIZED VIEWS").collect().isEmpty)
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored == Map("mv_rs1" -> "restored", "mv_rs2" -> "restored"),
        restored.toString)
      assert(snap() == before, "no-tail restore adopts state untouched")

      // both views serve, and a post-restart tail folds incrementally
      assert(GraftSql.sql(spark,
        "SELECT total FROM mv_rs1 WHERE cust = 1").collect()(0).getLong(0) == 40L)
      fact.put(Seq((13L, 2L, 5L)).toDF("id", "c", "a"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "amt" -> $"a"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_rs2").collect()
      assert(GraftSql.sql(spark,
        "SELECT total FROM mv_rs2 WHERE region = 'US'")
        .collect()(0).getLong(0) == 25L)

      // idempotent: a second RESTORE reports, not re-creates
      val again = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(again == Map("mv_rs1" -> "already registered",
        "mv_rs2" -> "already registered"), again.toString)

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_rs1")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_rs2")
      // DROP removes the definition too: nothing comes back
      assert(GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().isEmpty)

      // a TRANSIENT restore failure must stay RETRYABLE: a TZ-pinned
      // view with a pending tail refuses under a flipped session zone,
      // but the definition sidecar survives for the next attempt
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_rs3 WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT cust, " +
        "COUNT(*) AS n FROM rsfact WHERE amt > 1 GROUP BY cust")
      fact.put(Seq((14L, 1L, 7L)).toDF("id", "c", "a"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "amt" -> $"a"), ts("2024-01-03 00:00:00"))
      GraftMatviews.reset()
      val tz0 = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone",
          if (tz0 == "America/New_York") "UTC" else "America/New_York")
        val r = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
          .collect().map(x => (x.getString(0), x.getString(1))).toMap
        assert(r("mv_rs3").startsWith("failed:") &&
          r("mv_rs3").contains("timezone"), r.toString)
      } finally spark.conf.set("spark.sql.session.timeZone", tz0)
      val retry = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(x => (x.getString(0), x.getString(1))).toMap
      assert(retry("mv_rs3") == "restored", retry.toString)
      // cust 1 rows with amt > 1: ids 10 (amt 10), 12 (30), 14 (7)
      assert(GraftSql.sql(spark,
        "SELECT n FROM mv_rs3 WHERE cust = 1").collect()(0).getLong(0) == 3L)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_rs3")

      // a corrupted/foreign sidecar reports failed — never 'restored'
      val junkDir = new java.io.File(fact.tableDir, "matview/junkview")
      junkDir.mkdirs()
      java.nio.file.Files.write(
        junkDir.toPath.resolve("_ddl"), "not a create".getBytes("UTF-8"))
      val junk = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(x => (x.getString(0), x.getString(1))).toMap
      assert(junk("junkview").startsWith("failed: unparsable"), junk.toString)
    } finally {
      GraftServer.unregister("rsfact")
      GraftServer.unregister("rsdim")
      GraftMatviews.reset()
    }
  }

  test("a RESTORE that adopts a view rewrites no file under its state " +
      "dir, the _ddl sidecar included") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "amt"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("ddlfact", fact)
    GraftServer.register("ddldim", dim)
    try {
      dim.put(Seq((1L, "EU"), (2L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq((10L, 1L, 10L), (11L, 2L, 20L)).toDF("id", "c", "a"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "amt" -> $"a"), ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_ddl1 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT cust, SUM(amt) AS total FROM ddlfact GROUP BY cust")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_ddl2 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, SUM(amt) AS total FROM ddlfact " +
        "JOIN ddldim ON cust = ddldim._id GROUP BY region")
      val roots = Seq("matview/mv_ddl1", "join_matview/mv_ddl2")
        .map(java.nio.file.Paths.get(fact.tableDir, _))
      def files = roots.flatMap { r =>
        val w = java.nio.file.Files.walk(r)
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .toList
        } finally w.close()
      }
      assert(files.exists(_.getFileName.toString == "_ddl"))
      // an old mtime on every file: any rewrite shows, however coarse
      // the filesystem's clock
      val old = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
      files.foreach(java.nio.file.Files.setLastModifiedTime(_, old))
      def snap() = files.map(f => (f.toString,
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f)),
        java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet
      val before = snap()
      GraftMatviews.reset() // simulated JVM restart: registry gone
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored == Map("mv_ddl1" -> "restored", "mv_ddl2" -> "restored"),
        restored.toString)
      assert(snap() == before, "an adopting RESTORE rewrote a state file")
    } finally {
      Seq("mv_ddl1", "mv_ddl2").foreach(v =>
        GraftSql.sql(spark, s"DROP MATERIALIZED VIEW IF EXISTS $v"))
      GraftServer.unregister("ddlfact")
      GraftServer.unregister("ddldim")
    }
  }

  test("non-maintainable shapes are rejected, not snapshotted") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    GraftServer.register("mvrej", t)
    try {
      t.put(Seq((1L, "a", 1L)).toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))
      def bad(sql: String, needle: String): Unit = {
        val e = intercept[IllegalArgumentException](GraftSql.sql(spark, sql))
        assert(e.getMessage.toLowerCase.contains(needle.toLowerCase),
          s"$sql -> ${e.getMessage}")
      }
      // WHERE must be deterministic and row-local — subqueries and
      // random/clock functions are named in the refusal
      bad("CREATE MATERIALIZED VIEW v1 AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE bal > (SELECT 1) GROUP BY grp", "deterministic")
      bad("CREATE MATERIALIZED VIEW v2 AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE bal > rand() GROUP BY grp", "deterministic")
      bad("CREATE MATERIALIZED VIEW v2b AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE _valid_from < current_timestamp GROUP BY grp",
        "deterministic")
      // the validation is SEMANTIC (resolved Catalyst tree), so name
      // aliases and functions no blocklist ever listed are caught by
      // what they are: clock builders, Nondeterministic expressions,
      // arbitrary JVM reflection
      bad("CREATE MATERIALIZED VIEW v2c AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE curdate() > DATE'2020-01-01' GROUP BY grp",
        "deterministic")
      bad("CREATE MATERIALIZED VIEW v2d AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE monotonically_increasing_id() > 0 GROUP BY grp",
        "deterministic")
      bad("CREATE MATERIALIZED VIEW v2e AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE bal > unix_timestamp() GROUP BY grp",
        "deterministic")
      bad("CREATE MATERIALIZED VIEW v2f AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE spark_partition_id() = 0 GROUP BY grp",
        "deterministic")
      bad("CREATE MATERIALIZED VIEW v2g AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE java_method('java.lang.System', " +
        "'currentTimeMillis') > '0' GROUP BY grp", "deterministic")
      // an unresolvable column fails at CREATE with the analysis story,
      // not at the first refresh
      bad("CREATE MATERIALIZED VIEW v2h AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE no_such_col > 0 GROUP BY grp", "analyze")
      // session-ENVIRONMENT expressions fold to per-session literals
      // during analysis (invisible to the post-analysis walk) — caught
      // on the unresolved parse: each refreshing session would sieve
      // with its own constant
      bad("CREATE MATERIALIZED VIEW v2i AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE grp = current_user() GROUP BY grp",
        "session environment")
      bad("CREATE MATERIALIZED VIEW v2j AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE grp < version() GROUP BY grp",
        "session environment")
      bad("CREATE MATERIALIZED VIEW v2k AS SELECT grp, COUNT(*) " +
        "FROM mvrej WHERE grp = current_database() GROUP BY grp",
        "session environment")
      // expression aggregates are maintainable since r12 — but only
      // with an explicit alias (the expression is no column name)
      bad("CREATE MATERIALIZED VIEW v3 AS SELECT grp, SUM(bal + 1) " +
        "FROM mvrej GROUP BY grp", "AS alias")
      bad("CREATE MATERIALIZED VIEW v4 AS SELECT grp, COUNT(*) " +
        "FROM unregistered GROUP BY grp", "not registered")
      bad("CREATE MATERIALIZED VIEW v5 WITH (nope = 1) AS SELECT grp, " +
        "COUNT(*) FROM mvrej GROUP BY grp", "unknown WITH option")
      // a repeated GROUP BY column would double-count in the Δ key
      bad("CREATE MATERIALIZED VIEW v5b AS SELECT grp, COUNT(*) " +
        "FROM mvrej GROUP BY grp, grp", "duplicate GROUP BY")
      // the JOIN form accepts COUNT(col)/AVG/WHERE since r12 — an
      // unregistered dim is now the first refusal these shapes hit
      bad("CREATE MATERIALIZED VIEW v8 AS SELECT grp, COUNT(bal) " +
        "FROM mvrej JOIN nodim ON fk = nodim._id GROUP BY grp",
        "not registered")
      bad("CREATE MATERIALIZED VIEW v9 AS SELECT grp, COUNT(*) " +
        "FROM mvrej JOIN nodim ON fk = nodim._id WHERE bal > 0 GROUP BY grp",
        "not registered")
      // duplicate name
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW v6 WITH (valid_at = " +
        "'2030-01-01 00:00:00') AS SELECT grp, COUNT(*) AS n FROM mvrej " +
        "GROUP BY grp")
      bad("CREATE MATERIALIZED VIEW v6 AS SELECT grp, COUNT(*) FROM mvrej " +
        "GROUP BY grp", "already exists")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW v6")
      // empty source table: loud story, no half-registered view
      val empty = freshTable(Seq("grp"))
      GraftServer.register("mvempty", empty)
      try {
        val e = intercept[IllegalStateException](GraftSql.sql(spark,
          "CREATE MATERIALIZED VIEW v7 AS SELECT grp, COUNT(*) " +
            "FROM mvempty GROUP BY grp"))
        assert(e.getMessage.contains("never been refreshed"))
        assert(!GraftMatviews.registeredViews.contains("v7"))
      } finally GraftServer.unregister("mvempty")
    } finally {
      GraftServer.unregister("mvrej")
      GraftMatviews.reset()
    }
  }

  test("clause keywords inside string literals never mis-split the " +
      "DDL; INNER JOIN is the same join; RIGHT/FULL JOIN refuse") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    val d = freshTable(Seq("region"))
    GraftServer.register("mvlit", t)
    GraftServer.register("mvlitd", d)
    try {
      t.put(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "x GROUP BY y", 99L))
          .toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))
      d.put(Seq((10L, "EU")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:01"))

      // the WHERE literal carries every clause keyword the splitter
      // looks for — a literal-unaware split would shear the statement
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_lit WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT grp, COUNT(*) AS n, " +
        "SUM(bal) AS total FROM mvlit " +
        "WHERE grp <> 'x GROUP BY y' GROUP BY grp")
      val r = GraftSql.sql(spark,
        "SELECT grp, n, total FROM mv_lit ORDER BY grp").collect()
      assert(r.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq ==
        Seq(("a", 2L, 30L)),
        "the ' GROUP BY ' inside the literal is data, not a clause split")
      // and the sieve keeps maintaining through it
      t.put(Seq((4L, "a", 5L), (5L, "x GROUP BY y", 1L))
          .toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_lit").collect()
      val r2 = GraftSql.sql(spark,
        "SELECT n, total FROM mv_lit WHERE grp = 'a'").collect()
      assert(r2(0).getLong(0) == 3L && r2(0).getLong(1) == 35L)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_lit")

      // INNER JOIN spells the same (only) join the star form maintains
      val f = freshTable(Seq("fk", "bal"))
      GraftServer.register("mvlitf", f)
      try {
        f.put(Seq((1L, 10L, 7L), (2L, 10L, 3L)).toDF("id", "k", "m"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("fk" -> $"k", "bal" -> $"m"), ts("2024-01-01 00:00:02"))
        GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_lit2 WITH " +
          "(valid_at = '2030-01-01 00:00:00') AS SELECT region, " +
          "SUM(bal) AS total FROM mvlitf INNER JOIN mvlitd " +
          "ON fk = mvlitd._id GROUP BY region")
        val rj = GraftSql.sql(spark,
          "SELECT region, total FROM mv_lit2").collect()
        assert(rj.map(x => (x.getString(0), x.getLong(1))).toSeq ==
          Seq(("EU", 10L)))
        GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_lit2")

        // LEFT JOIN is maintainable (r15) — RIGHT/FULL still refuse
        val e = intercept[IllegalArgumentException](GraftSql.sql(spark,
          "CREATE MATERIALIZED VIEW mv_lit3 AS SELECT region, " +
            "SUM(bal) AS total FROM mvlitf RIGHT JOIN mvlitd " +
            "ON fk = mvlitd._id GROUP BY region"))
        assert(e.getMessage.contains("unsupported JOIN syntax"), e.getMessage)
        val e2 = intercept[IllegalArgumentException](GraftSql.sql(spark,
          "CREATE MATERIALIZED VIEW mv_lit4 AS SELECT region, " +
            "SUM(bal) AS total FROM mvlitf FULL OUTER JOIN mvlitd " +
            "ON fk = mvlitd._id GROUP BY region"))
        assert(e2.getMessage.contains("unsupported JOIN syntax"),
          e2.getMessage)
      } finally GraftServer.unregister("mvlitf")
    } finally {
      GraftServer.unregister("mvlit")
      GraftServer.unregister("mvlitd")
      GraftMatviews.reset()
    }
  }

  test("DISTINCT aggregates, single-table form: COUNT/SUM/AVG(DISTINCT)" +
      " maintained exactly through the pair-level aux view — parity " +
      "with a from-scratch recompute at every mutation") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "code", "amt"))
    GraftServer.register("dfact", t)
    try {
      def put(rows: Seq[(Long, String, java.lang.Long, Long)], at: String): Unit =
        t.put(rows.toDF("id", "g", "c", "m"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "code" -> $"c", "amt" -> $"m"), ts(at))
      def del(ids: Seq[Long], at: String): Unit =
        t.delete(ids.toDF("id"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "code" -> lit(null).cast("long"),
            "amt" -> lit(null).cast("long")), ts(at))

      // duplicate codes within a group, a NULL code, a row outside the
      // WHERE — the distinct counters must see values, not rows
      put(Seq((1L, "a", 10L, 5L), (2L, "a", 10L, 6L), (3L, "a", 20L, 7L),
        (4L, "b", 10L, 8L), (5L, "b", null, 9L), (6L, "b", 30L, -1L)),
        "2024-01-01 00:00:00")

      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_dist WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n, COUNT(DISTINCT code) AS nd, " +
        "SUM(DISTINCT code) AS sd, AVG(DISTINCT code) AS ad, " +
        "MIN(DISTINCT amt) AS mn " +
        "FROM dfact WHERE amt > 0 GROUP BY grp")

      def read(): Seq[(String, Long, Long, Any, Any, Long)] =
        GraftSql.sql(spark,
          "SELECT grp, n, nd, sd, ad, mn FROM mv_dist ORDER BY grp")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.get(3), r.get(4), r.getLong(5))).toSeq
      def scratch(): Seq[(String, Long, Long, Any, Any, Long)] =
        t.current().filter($"amt" > 0).groupBy($"grp")
          .agg(count(lit(1)).as("n"),
            count_distinct($"code").as("nd"),
            sum_distinct($"code").as("sd"),
            (sum_distinct($"code").cast("double") /
              count_distinct($"code")).as("ad"),
            min($"amt").as("mn"))
          .orderBy($"grp").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.get(3), r.get(4), r.getLong(5))).toSeq

      assert(read() == scratch())
      assert(read() == Seq(("a", 3L, 2L, 30L, 15.0, 5L),
        ("b", 2L, 1L, 10L, 10.0, 8L)),
        "NULL code never counts; the WHERE row is invisible")

      // 1. a row with an EXISTING code: n moves, nd/sd do not
      put(Seq((7L, "a", 20L, 4L)), "2024-01-02 00:00:00")
      // 2. delete ONE of two rows sharing code 10 in a: nd stays
      del(Seq(1L), "2024-01-02 00:00:01")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_dist").collect()
      assert(read() == scratch())

      // 3. delete the LAST row holding code 10 in a: the value leaves
      del(Seq(2L), "2024-01-03 00:00:00")
      // 4. group move: row 4 relocates b → a (code 10 re-enters a,
      //    leaves b entirely)
      put(Seq((4L, "a", 10L, 8L)), "2024-01-03 00:00:01")
      // 5. WHERE crossing: row 6 becomes visible (new code 30 in b)
      put(Seq((6L, "b", 30L, 2L)), "2024-01-03 00:00:02")
      // 6. NULL → non-NULL code
      put(Seq((5L, "b", 40L, 9L)), "2024-01-03 00:00:03")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_dist").collect()
      assert(read() == scratch())
      // refresh idempotence
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_dist").collect()
      assert(read() == scratch())

      // HAVING over a DISTINCT output column: served as the usual
      // read-time filter over the composite projection
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_dist_h WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(DISTINCT code) AS nd FROM dfact " +
        "WHERE amt > 0 GROUP BY grp HAVING nd >= 2")
      val hv = GraftSql.sql(spark,
        "SELECT grp, nd FROM mv_dist_h ORDER BY grp").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val hvWant = scratch().collect { case (g, _, nd, _, _, _) if nd >= 2 =>
        (g, nd) }
      assert(hv == hvWant, s"$hv vs $hvWant")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_dist_h")

      // COUNT(DISTINCT <string expression>): the rollup must not build
      // a SUM over a non-numeric argument (needSum=false path)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_dist2 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(DISTINCT concat('c', code)) AS ndc " +
        "FROM dfact WHERE amt > 0 GROUP BY grp")
      val got2 = GraftSql.sql(spark,
        "SELECT grp, ndc FROM mv_dist2 ORDER BY grp").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val want2 = t.current().filter($"amt" > 0).groupBy($"grp")
        .agg(count_distinct(concat(lit("c"), $"code")).as("ndc"))
        .orderBy($"grp").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got2 == want2)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_dist2")

      // crash skew: wipe the aux watermark (simulates a crash between
      // the aux and main refresh legs). The rollup is MATERIALIZED in
      // the main state, so reads never touch the aux — they keep
      // serving the last refresh's consistent values — and the next
      // REFRESH rebuilds the aux pinned to its recorded watermark.
      val auxRoot = java.nio.file.Paths.get(
        t.tableDir, "matview", "mv_dist", "_dist", "code")
      assert(java.nio.file.Files.exists(auxRoot.resolve("_watermark")))
      java.nio.file.Files.delete(auxRoot.resolve("_watermark"))
      assert(read() == scratch(),
        "reads serve the materialized rollup, aux skew is invisible")
      put(Seq((9L, "a", 60L, 2L)), "2024-01-04 00:00:00")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_dist").collect()
      assert(java.nio.file.Files.exists(auxRoot.resolve("_watermark")),
        "REFRESH re-established the aux watermark")
      assert(read() == scratch(), "refresh healed the skewed aux")

      // crash skew + a log truncation past the main watermark: reads
      // STILL serve the last refresh's state (the materialized rollup
      // needs no aux at serve time), and ONE REFRESH — which takes the
      // exact rebuild path past the truncation — re-converges the pair
      java.nio.file.Files.delete(auxRoot.resolve("_watermark"))
      val preTail = read()
      put(Seq((8L, "a", 50L, 3L)), "2024-01-05 00:00:00") // unrefreshed tail
      t.vacuumLog() // truncates past main's watermark
      assert(read() == preTail,
        "a skewed aux must not affect serving the refreshed state")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_dist").collect()
      assert(read() == scratch(),
        "one REFRESH must re-converge the pair after truncation skew")

      // a re-CREATE without the DISTINCT aggregates drops the orphaned
      // pair state
      GraftMatviews.reset() // simulated restart (state survives)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_dist WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n FROM dfact WHERE amt > 0 GROUP BY grp")
      assert(!java.nio.file.Files.exists(auxRoot),
        "orphaned _dist state must be cleaned by the re-CREATE")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_dist")
    } finally {
      GraftServer.unregister("dfact")
      GraftMatviews.reset()
    }
  }

  test("DISTINCT aggregates, star form: the pair view rides the " +
      "Δ(A⋈B) rules — dim group-moves relocate distinct sets with " +
      "zero fact ops") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "code", "amt"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("djfact", fact)
    GraftServer.register("djdim", dim)
    try {
      dim.put(Seq((1L, "EU"), (2L, "EU"), (3L, "US")).toDF("id", "r"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq(
          (10L, 1L, 100L, 5L), (11L, 1L, 100L, 6L), (12L, 2L, 200L, 7L),
          (13L, 3L, 100L, 8L), (14L, 3L, 300L, -2L))
          .toDF("id", "ck", "c", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "code" -> $"c", "amt" -> $"m"),
        ts("2024-01-01 00:00:01"))

      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_jdist WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, COUNT(*) AS n, COUNT(DISTINCT code) AS nd, " +
        "SUM(DISTINCT code) AS sd " +
        "FROM djfact JOIN djdim ON cust = djdim._id " +
        "WHERE amt > 0 GROUP BY region")

      def read(): Seq[(String, Long, Long, Long)] =
        GraftSql.sql(spark,
          "SELECT region, n, nd, sd FROM mv_jdist ORDER BY region")
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3))).toSeq
      def scratch(): Seq[(String, Long, Long, Long)] = {
        val f = fact.current().filter($"amt" > 0)
        val d = dim.current().select($"_id".cast("long").as("did"), $"region")
        f.join(d, $"cust" === $"did")
          .groupBy($"region")
          .agg(count(lit(1)).as("n"), count_distinct($"code").as("nd"),
            sum_distinct($"code").as("sd"))
          .orderBy($"region").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
      }

      assert(read() == scratch())
      assert(read() == Seq(("EU", 3L, 2L, 300L), ("US", 1L, 1L, 100L)))

      // dim group-move: customer 2 relocates EU → US with ZERO fact
      // ops — code 200 leaves EU's distinct set and enters US's
      dim.put(Seq((2L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_jdist").collect()
      assert(read() == scratch())
      assert(read() == Seq(("EU", 2L, 1L, 100L), ("US", 2L, 2L, 300L)))

      // fact delete of ONE duplicate-code row (nd stays), then the
      // last one (the value leaves); WHERE crossing brings a new code
      fact.delete(Seq(10L).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "code" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("long")), ts("2024-01-03 00:00:00"))
      fact.put(Seq((14L, 3L, 300L, 9L)).toDF("id", "ck", "c", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "code" -> $"c", "amt" -> $"m"),
        ts("2024-01-03 00:00:01"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_jdist").collect()
      assert(read() == scratch())
      fact.delete(Seq(11L).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "code" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("long")), ts("2024-01-04 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_jdist").collect()
      assert(read() == scratch())

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_jdist")
    } finally {
      GraftServer.unregister("djfact")
      GraftServer.unregister("djdim")
      GraftMatviews.reset()
    }
  }

  test("CREATE OR REPLACE swaps the definition (drop-then-create); " +
      "DROP IF EXISTS never errors") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    GraftServer.register("orfact", t)
    try {
      t.put(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
          .toDF("id", "g", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))

      // OR REPLACE with no existing view = plain CREATE
      GraftSql.sql(spark, "CREATE OR REPLACE MATERIALIZED VIEW mv_or " +
        "WITH (valid_at = '2030-01-01 00:00:00') AS " +
        "SELECT grp, COUNT(*) AS n FROM orfact GROUP BY grp")
      assert(GraftSql.sql(spark,
        "SELECT n FROM mv_or WHERE grp = 'a'").collect()(0).getLong(0) == 2L)

      // replace with the SAME definition: the state must be ADOPTED,
      // not rebuilt (idempotent deploy scripts re-run for free) —
      // asserted at the FILE level like the restore spec
      def stateFiles(): Seq[(String, Long)] = {
        val dir = java.nio.file.Paths.get(
          t.tableDir, "matview", "mv_or", "state")
        val listing = java.nio.file.Files.walk(dir)
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala.filter(p =>
            p.getFileName.toString.endsWith(".parquet"))
            .map(p => (p.toString,
              java.nio.file.Files.getLastModifiedTime(p).toMillis))
            .toList.sortBy(_._1)
        } finally listing.close()
      }
      val before = stateFiles()
      GraftSql.sql(spark, "CREATE OR REPLACE MATERIALIZED VIEW mv_or " +
        "WITH (valid_at = '2030-01-01 00:00:00') AS " +
        "SELECT grp, COUNT(*) AS n FROM orfact GROUP BY grp")
      assert(stateFiles() == before,
        "an unchanged replacement must ADOPT the state byte-for-byte")

      // a FAILED replacement must not destroy the serving view: the
      // old definition re-registers (typo-proof OR REPLACE)
      val bad = intercept[IllegalArgumentException](GraftSql.sql(spark,
        "CREATE OR REPLACE MATERIALIZED VIEW mv_or AS " +
          "SELECT grp, MODE(bal) AS m FROM orfact GROUP BY grp"))
      assert(bad.getMessage.contains("MODE") ||
        bad.getMessage.contains("select item"), bad.getMessage)
      assert(GraftSql.sql(spark,
        "SELECT n FROM mv_or WHERE grp = 'a'").collect()(0).getLong(0) == 2L,
        "the old view must keep serving after a rejected replacement")

      // the replacement swaps to a DIFFERENT definition; the old
      // name-state is replaced (plain CREATE of the same name refuses)
      GraftSql.sql(spark, "CREATE OR REPLACE MATERIALIZED VIEW mv_or " +
        "WITH (valid_at = '2030-01-01 00:00:00') AS " +
        "SELECT grp, SUM(bal) AS total FROM orfact GROUP BY grp")
      val r = GraftSql.sql(spark,
        "SELECT grp, total FROM mv_or ORDER BY grp").collect()
        .map(x => (x.getString(0), x.getLong(1))).toSeq
      assert(r == Seq(("a", 30L), ("b", 5L)))
      assert(intercept[IllegalArgumentException](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_or AS SELECT grp, COUNT(*) AS n " +
          "FROM orfact GROUP BY grp"))
        .getMessage.contains("already exists"))

      // DROP IF EXISTS: real drop reports true, unknown reports false
      assert(GraftSql.sql(spark,
        "DROP MATERIALIZED VIEW IF EXISTS mv_or").collect()(0).getBoolean(1))
      val none = GraftSql.sql(spark,
        "DROP MATERIALIZED VIEW IF EXISTS mv_or").collect()
      assert(!none(0).getBoolean(1), "unknown name must report false")
      // without IF EXISTS the unknown name still errors
      assert(intercept[IllegalArgumentException](GraftSql.sql(spark,
        "DROP MATERIALIZED VIEW mv_or"))
        .getMessage.contains("unknown materialized view"))

      // restart gap: DROP must reach a view the registry has FORGOTTEN
      // but RESTORE could resurrect (surviving state + _ddl on disk)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_or AS " +
        "SELECT grp, COUNT(*) AS n FROM orfact GROUP BY grp")
      GraftMatviews.reset() // simulated restart
      assert(GraftSql.sql(spark,
        "DROP MATERIALIZED VIEW IF EXISTS mv_or").collect()(0).getBoolean(1),
        "an on-disk pre-restart definition counts as existing")
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(_.getString(0)).toSeq
      assert(!restored.contains("mv_or"),
        "RESTORE must not resurrect the dropped view")
    } finally {
      GraftServer.unregister("orfact")
      GraftMatviews.reset()
    }
  }

  test("RESTORE adopts a DISTINCT view's pair state and folds only the " +
      "down-tail through the composite refresh") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "code"))
    GraftServer.register("dvfact", t)
    try {
      def put(rows: Seq[(Long, String, Long)], at: String): Unit =
        t.put(rows.toDF("id", "g", "c"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "code" -> $"c"), ts(at))
      put(Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "b", 20L)),
        "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_rd WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n, COUNT(DISTINCT code) AS nd " +
        "FROM dvfact GROUP BY grp")
      GraftMatviews.reset() // restart: registry gone, state + _ddl stay
      // down-tail: a NEW code in a, a duplicate of b's code
      put(Seq((4L, "a", 30L), (5L, "b", 20L)), "2024-01-02 00:00:00")
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored.get("mv_rd").contains("restored"), restored.toString)
      val r = GraftSql.sql(spark,
        "SELECT grp, n, nd FROM mv_rd ORDER BY grp").collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq
      assert(r == Seq(("a", 3L, 2L), ("b", 2L, 1L)),
        s"restore must fold the down-tail into BOTH states: $r")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_rd")
    } finally {
      GraftServer.unregister("dvfact")
      GraftMatviews.reset()
    }
  }

  test("bucket pruning reaches the SQL-served view: WHERE g = 'x' " +
      "lists one bucket dir out of nBuckets") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "bal"))
    GraftServer.register("bpfact", t)
    try {
      t.put(spark.range(400).select($"id",
          format_string("g%04d", $"id" % 100).as("g"),
          ($"id" % 7).as("m")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_bp WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
        "SELECT grp, COUNT(*) AS n, SUM(bal) AS total " +
        "FROM bpfact GROUP BY grp")
      val df = GraftSql.sql(spark,
        "SELECT grp, n, total FROM mv_bp WHERE grp = 'g0042'")
      val scans = df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.exists(_.partitionFilters
          .exists(_.references.exists(_.name == "_bucket"))),
        "the SQL-served temp view must bucket-prune through pushdown:\n" +
          df.queryExecution.executedPlan.toString.take(1500))
      val r = df.collect()
      assert(r.length == 1 && r(0).getLong(1) == 4L, r.mkString(","))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_bp")

      // DISTINCT view point read: the rollup is MATERIALIZED in the
      // main state, so the serving plan (a) bucket-prunes to ONE dir of
      // 16 exactly like a plain view and (b) never scans the auxiliary
      // pair state at all — the r13 design re-aggregated the full pair
      // state per read and could not prune it (partial key there)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_bpd WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
        "SELECT grp, COUNT(*) AS n, COUNT(DISTINCT bal) AS nd, " +
        "SUM(DISTINCT bal) AS sd FROM bpfact GROUP BY grp")
      val dfd = GraftSql.sql(spark,
        "SELECT grp, n, nd, sd FROM mv_bpd WHERE grp = 'g0042'")
      val scansD = dfd.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scansD.length == 1,
        "one state scan, zero aux scans:\n" +
          dfd.queryExecution.executedPlan.toString.take(1500))
      assert(!scansD.head.relation.location.rootPaths
          .exists(_.toString.contains("_dist")),
        "the serving scan must read the MAIN state, not the pair aux")
      assert(scansD.head.partitionFilters
          .exists(_.references.exists(_.name == "_bucket")),
        "the DISTINCT view's point read must bucket-prune")
      val rd = dfd.collect()
      // ids with id%100==42: 42,142,242,342 → bal = id%7 values
      assert(rd.length == 1 && rd(0).getLong(1) == 4L, rd.mkString(","))
      assert(scansD.head.metrics("numFiles").value == 1,
        s"expected ONE bucket file, read " +
          s"${scansD.head.metrics("numFiles").value} of 16")
      assert(rd(0).getLong(2) ==
        Seq(42L, 142L, 242L, 342L).map(_ % 7).distinct.size.toLong)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_bpd")
    } finally {
      GraftServer.unregister("bpfact")
      GraftMatviews.reset()
    }
  }

  test("continuous maintenance BY NAME drives the DISTINCT composite: " +
      "the pair view refreshes with the main through the stream trigger") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "code", "amt"))
    GraftServer.register("nmfact", t)
    try {
      def put(rows: Seq[(Long, String, Long, Long)], at: String): Unit =
        t.put(rows.toDF("id", "g", "c", "m"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "code" -> $"c", "amt" -> $"m"), ts(at))
      put(Seq((1L, "a", 10L, 5L), (2L, "a", 20L, 6L), (3L, "b", 10L, 7L)),
        "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_nm WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n, COUNT(DISTINCT code) AS nd " +
        "FROM nmfact WHERE amt > 0 GROUP BY grp")
      val schema = spark.read.option("mergeSchema", "true")
        .parquet(s"${t.tableDir}/log/tx_*").schema
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft_nm_ckpt").toString
      def drain(): Unit = {
        val q = graft.streaming.Streaming.maintainNamedMatview(spark,
          Seq(t.tableDir -> schema), "mv_nm",
          checkpoint = Some(ckpt), availableNow = true)
        q.awaitTermination()
      }
      def read(): Seq[(String, Long, Long)] =
        GraftSql.sql(spark, "SELECT grp, n, nd FROM mv_nm ORDER BY grp")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      def scratch(): Seq[(String, Long, Long)] =
        t.current().filter($"amt" > 0).groupBy($"grp")
          .agg(count(lit(1)).as("n"), count_distinct($"code").as("nd"))
          .orderBy($"grp").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

      // tail lands while the maintainer is down; one drain catches the
      // WHOLE composite up (main + pair aux through the DDL REFRESH)
      put(Seq((4L, "a", 30L, 8L), (5L, "b", 10L, 9L)), "2024-01-02 00:00:00")
      drain()
      assert(read() == scratch())
      assert(read() == Seq(("a", 3L, 3L), ("b", 2L, 1L)))
      // idempotent re-drain
      drain()
      assert(read() == scratch())
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_nm")
    } finally {
      GraftServer.unregister("nmfact")
      GraftMatviews.reset()
    }
  }

  test("a transiently failing re-CREATE over surviving state preserves " +
      "the '_ddl' sidecar — RESTORE stays possible") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("at"))
    GraftServer.register("pdfact", t)
    try {
      t.put(Seq((1L, "2024-02-05 10:00:00"), (2L, "2024-02-06 10:00:00"))
          .toDF("id", "ts").withColumn("ts", $"ts".cast("timestamp")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("at" -> $"ts"), ts("2024-03-01 00:00:00"))
      // timestamp group key: state pins the session timezone
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_pd WITH " +
        "(valid_at = '2030-01-01 00:00:00') AS SELECT at, COUNT(*) AS n " +
        "FROM pdfact GROUP BY at")
      val ddlFile = java.nio.file.Paths.get(
        t.tableDir, "matview", "mv_pd", "_ddl")
      assert(java.nio.file.Files.exists(ddlFile))
      val ddlBytes = java.nio.file.Files.readAllBytes(ddlFile).toSeq

      GraftMatviews.reset() // simulated restart: registry gone, disk stays
      // new tx so the re-CREATE's populating refresh takes the
      // incremental path (which checks the timezone pin)
      t.put(Seq((3L, "2024-02-07 10:00:00"))
          .toDF("id", "ts").withColumn("ts", $"ts".cast("timestamp")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("at" -> $"ts"), ts("2024-03-02 00:00:00"))
      val tz0 = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone",
          if (tz0 == "America/New_York") "UTC" else "America/New_York")
        val e = intercept[IllegalStateException](GraftSql.sql(spark,
          "CREATE MATERIALIZED VIEW mv_pd WITH " +
            "(valid_at = '2030-01-01 00:00:00') AS SELECT at, COUNT(*) " +
            "AS n FROM pdfact GROUP BY at"))
        assert(e.getMessage.contains("timezone"), e.getMessage)
      } finally spark.conf.set("spark.sql.session.timeZone", tz0)
      // the TRANSIENT failure's cleanup deleted the state — but not the
      // recovery path: the prior definition sidecar must survive it
      assert(java.nio.file.Files.exists(ddlFile),
        "create()'s failure cleanup must re-persist the prior _ddl")
      assert(java.nio.file.Files.readAllBytes(ddlFile).toSeq == ddlBytes)

      // and RESTORE (timezone back) rebuilds the view from the logs
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored.get("mv_pd").contains("restored"), restored.toString)
      assert(GraftSql.sql(spark,
        "SELECT sum(n) AS n FROM mv_pd").collect()(0).getLong(0) == 3L)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_pd")
    } finally {
      GraftServer.unregister("pdfact")
      GraftMatviews.reset()
    }
  }

  test("layout = 'range': state value-partitioned on the leading group " +
      "key — month-range reads list a strict dir subset, point reads " +
      "stay exact, non-string keys refuse") {
    val s = spark
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val t = freshTable(Seq("m", "code", "amt"))
    GraftServer.register("rngfact", t)
    try {
      def month(i: Long) = f"2024-${i + 1}%02d-01"
      // 360 rows over 12 months; gcd(12, 5) = 1 so every month sees
      // all 5 code residues
      t.put(spark.range(360).select($"id",
          expr("printf('2024-%02d-01', id % 12 + 1)").as("mm"),
          ($"id" % 5).as("c"), lit(1L).as("a")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("m" -> $"mm", "code" -> $"c", "amt" -> $"a"),
        ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_rng WITH " +
        "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
        "SELECT m, COUNT(*) AS n, SUM(amt) AS total, " +
        "COUNT(DISTINCT code) AS nd FROM rngfact GROUP BY m")

      // the state is one dir per month VALUE, not hash buckets
      val stateDir = java.nio.file.Paths.get(
        t.tableDir, "matview", "mv_rng", "state")
      def dirs(): Set[String] = {
        val l = java.nio.file.Files.list(stateDir)
        try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bucket=")).toSet
        finally l.close()
      }
      // dir values carry the 'k' prefix: an empty-string key must not
      // fall into Spark's null partition dir, and the null marker must
      // sort below every real key
      assert(dirs() == (0L until 12L).map(i => s"_bucket=k${month(i)}").toSet,
        dirs().toString)

      def scanOf(df: org.apache.spark.sql.DataFrame) = {
        // the ORDER BY adds an exchange, so AQE wraps the plan — unwrap
        val p = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.executedPlan
          case x => x
        }
        p.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.getOrElse(fail("no FileSourceScanExec leaf; plan:\n" +
          p.toString.take(2000)))
      }
      // RANGE read: three months of twelve → three dirs listed
      val range = GraftSql.sql(spark, "SELECT m, n, total, nd FROM mv_rng " +
        "WHERE m BETWEEN '2024-03-01' AND '2024-05-01' ORDER BY m")
      val rScan = scanOf(range)
      assert(rScan.partitionFilters
          .exists(_.references.exists(_.name == "_bucket")),
        "a range predicate on the leading key must become a partition " +
          s"filter:\n${range.queryExecution.executedPlan.toString.take(1200)}")
      val rRows = range.collect()
      assert(rRows.map(_.getString(0)).toSeq ==
        Seq("2024-03-01", "2024-04-01", "2024-05-01"))
      assert(rRows.forall(r => r.getLong(1) == 30L && r.getLong(3) == 5L),
        rRows.mkString(","))
      assert(rScan.metrics("numFiles").value == 3,
        s"3 month dirs of 12, read ${rScan.metrics("numFiles").value}")

      // POINT read parity: one dir
      val point = GraftSql.sql(spark,
        "SELECT n, nd FROM mv_rng WHERE m = '2024-07-01'")
      val pScan = scanOf(point)
      val pRows = point.collect()
      assert(pRows.length == 1 && pRows(0).getLong(0) == 30L &&
        pRows(0).getLong(1) == 5L)
      assert(pScan.metrics("numFiles").value == 1)

      // incrementality: a refresh touching ONE month leaves the other
      // dirs byte-identical and updates exactly that month (DISTINCT
      // rollup included — the range-layout aux prunes by month value)
      def snap(except: String): Set[(String, Long, Long)] = {
        val l = java.nio.file.Files.walk(stateDir)
        try l.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            !p.toString.contains(s"_bucket=$except"))
          .map(p => (p.toString, java.nio.file.Files.size(p),
            p.toFile.lastModified)).toSet
        finally l.close()
      }
      val before = snap("k2024-07-01")
      t.put(Seq((1000L, "2024-07-01", 9L, 5L)).toDF("id", "mm", "c", "a"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("m" -> $"mm", "code" -> $"c", "amt" -> $"a"),
        ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_rng").collect()
      assert(snap("k2024-07-01") == before,
        "untouched month dirs must not be rewritten")
      val after = GraftSql.sql(spark,
        "SELECT n, total, nd FROM mv_rng WHERE m = '2024-07-01'").collect()
      assert(after(0).getLong(0) == 31L && after(0).getLong(2) == 6L,
        after.mkString(","))

      // the canonical definition pins the layout: SHOW carries it and a
      // restart RESTORE adopts the value-partitioned state unchanged
      val shown = GraftSql.sql(spark, "SHOW MATERIALIZED VIEWS").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(shown("mv_rng").contains("layout = 'range'"), shown("mv_rng"))
      GraftMatviews.reset() // simulated restart
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored.get("mv_rng").contains("restored"), restored.toString)
      val after2 = GraftSql.sql(spark,
        "SELECT n, nd FROM mv_rng WHERE m = '2024-07-01'").collect()
      assert(after2(0).getLong(0) == 31L && after2(0).getLong(1) == 6L)
      // EMPTY-STRING and NULL keys are distinct groups, each with a
      // real dir (the prefix keeps '' out of __HIVE_DEFAULT_PARTITION__,
      // which Spark reads back as NULL — found by review); a point read
      // of '' prunes to ITS dir and serves its row
      t.put(Seq((2000L, "", 1L, 7L), (2001L, null: String, 2L, 8L))
          .toDF("id", "mm", "c", "a"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("m" -> $"mm", "code" -> $"c", "amt" -> $"a"),
        ts("2024-01-03 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_rng").collect()
      assert(dirs().contains("_bucket=k"), dirs().toString)
      val empty = GraftSql.sql(spark,
        "SELECT n, total, nd FROM mv_rng WHERE m = ''")
      val eScan = scanOf(empty)
      val eRows = empty.collect()
      assert(eRows.length == 1 && eRows(0).getLong(0) == 1L &&
        eRows(0).getLong(1) == 7L, eRows.mkString(","))
      assert(eScan.metrics("numFiles").value == 1,
        "the empty-string group prunes to its own dir")
      assert(GraftSql.sql(spark,
        "SELECT n FROM mv_rng WHERE m IS NULL").collect()(0).getLong(0) == 1L,
        "the NULL group survives in the marker dir")

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_rng")

      // a DERIVED (expression) leading key prunes too: the group col
      // is the content-addressed derived name internally, the user
      // filters the ALIAS — Catalyst pushes through the projection and
      // MvBucketPrune fires on the derived attribute (q174's shape)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_rng_e WITH " +
        "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
        "SELECT concat('m:', m) AS mk, COUNT(*) AS n FROM rngfact " +
        "GROUP BY concat('m:', m)")
      val ep = GraftSql.sql(spark,
        "SELECT mk, n FROM mv_rng_e " +
          "WHERE mk BETWEEN 'm:2024-03-01' AND 'm:2024-04-01' ORDER BY mk")
      val eps = scanOf(ep)
      val epr = ep.collect()
      assert(epr.map(_.getString(0)).toSeq ==
        Seq("m:2024-03-01", "m:2024-04-01"), epr.mkString(","))
      assert(eps.metrics("numFiles").value == 2,
        s"derived-key range read must prune: " +
          s"${eps.metrics("numFiles").value} files")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_rng_e")

      // a non-string leading key refuses loudly (lexicographic dir
      // order would not match numeric order)
      val e = intercept[Exception](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_rng_bad WITH " +
          "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
          "SELECT code, COUNT(*) AS n FROM rngfact GROUP BY code"))
      assert(e.getMessage.contains("STRING-, DATE- or TIMESTAMP_NTZ-typed"), e.getMessage)
      // ... and the failed CREATE left nothing registered
      assert(GraftSql.sql(spark, "SHOW MATERIALIZED VIEWS").collect().isEmpty)
    } finally {
      GraftServer.unregister("rngfact")
      GraftMatviews.reset()
    }
  }

  test("range-layout cardinality cap: an id-like key refuses loudly " +
      "instead of building one dir per value") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("k", "amt"))
    GraftServer.register("capfact", t)
    try {
      t.put(spark.range(10200).select($"id",
          format_string("u%06d", $"id").as("kk"), lit(1L).as("a")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("k" -> $"kk", "amt" -> $"a"), ts("2024-01-01 00:00:00"))
      val e = intercept[Exception](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_cap WITH " +
          "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
          "SELECT k, COUNT(*) AS n FROM capfact GROUP BY k"))
      assert(e.getMessage.contains("hash layout"), e.getMessage)
      assert(GraftSql.sql(spark, "SHOW MATERIALIZED VIEWS").collect().isEmpty)
    } finally {
      GraftServer.unregister("capfact")
      GraftMatviews.reset()
    }
  }

  test("LEFT JOIN matview DDL: NULL/dangling fks serve as a " +
      "null-extended group; a dim appearing or deleted re-groups facts " +
      "with zero fact ops; MIN/MAX and COUNT(DISTINCT) ride; " +
      "SHOW/RESTORE round-trips the LEFT spelling") {
    val s = spark
    import s.implicits._
    val f = freshTable(Seq("fk", "amt", "code"))
    val d = freshTable(Seq("region"))
    GraftServer.register("ljf", f)
    GraftServer.register("ljd", d)
    def served(): Map[String, (Long, Long, Long, Long)] =
      GraftSql.sql(spark,
        "SELECT region, n, total, mx, nd FROM mv_lj").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    try {
      d.put(Seq((1L, "EU")).toDF("id", "rg"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"rg"), ts("2024-01-01 00:00:00"))
      f.put(Seq((1L, Long.box(1L), 10L, "a"), (2L, Long.box(2L), 20L, "b"),
          (3L, null.asInstanceOf[java.lang.Long], 30L, "a"),
          (4L, Long.box(1L), 40L, "b"))
          .toDF("id", "k", "m", "c"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("fk" -> $"k", "amt" -> $"m", "code" -> $"c"),
        ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_lj WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 8) AS " +
        "SELECT region, COUNT(*) AS n, SUM(amt) AS total, " +
        "MAX(amt) AS mx, COUNT(DISTINCT code) AS nd " +
        "FROM ljf LEFT JOIN ljd ON fk = ljd._id GROUP BY region")
      // fact 2's fk dangles (no dim 2), fact 3's fk is NULL: both land
      // in the null-extended group
      assert(served() == Map("EU" -> ((2L, 50L, 40L, 2L)),
        (null: String) -> ((2L, 50L, 30L, 2L))), served().toString)

      // the dangling dim APPEARS: fact 2 moves NULL → US, no fact ops
      d.put(Seq((2L, "US")).toDF("id", "rg"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"rg"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_lj").collect()
      assert(served() == Map("EU" -> ((2L, 50L, 40L, 2L)),
        "US" -> ((1L, 20L, 20L, 1L)),
        (null: String) -> ((1L, 30L, 30L, 1L))), served().toString)

      // dim DELETE: facts 1/4 fall back to the null-extended group
      // (inner-join views would drop them) — MAX and the DISTINCT
      // rollup recompute for both touched groups
      d.delete(Seq(1L).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> lit(null).cast("string")),
        ts("2024-01-03 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_lj").collect()
      assert(served() == Map("US" -> ((1L, 20L, 20L, 1L)),
        (null: String) -> ((3L, 80L, 40L, 2L))), served().toString)

      // LEFT OUTER JOIN spelling parses to the same spoke
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_lj2 WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 8) AS " +
        "SELECT region, COUNT(*) AS n FROM ljf " +
        "LEFT OUTER JOIN ljd ON fk = ljd._id GROUP BY region")
      val lj2 = GraftSql.sql(spark,
        "SELECT region, n FROM mv_lj2").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(lj2 == Map("US" -> 1L, (null: String) -> 3L), lj2.toString)
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_lj2")

      // SHOW carries the LEFT spelling; a restart RESTORE re-parses it
      // and adopts the state
      val shown = GraftSql.sql(spark, "SHOW MATERIALIZED VIEWS").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(shown("mv_lj").toUpperCase.contains("LEFT JOIN"),
        shown("mv_lj"))
      GraftMatviews.reset() // simulated restart
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored.get("mv_lj").contains("restored"), restored.toString)
      assert(served() == Map("US" -> ((1L, 20L, 20L, 1L)),
        (null: String) -> ((3L, 80L, 40L, 2L))), served().toString)
    } finally {
      GraftServer.unregister("ljf")
      GraftServer.unregister("ljd")
      GraftMatviews.reset()
    }
  }

  test("layout = 'range' with a DATE leading key: a date_trunc month " +
      "bucket kept as DATE — no manual string cast — range-prunes " +
      "dirs; timestamp keys refuse with the AS DATE hint; " +
      "out-of-range dates refuse at build and refresh") {
    val s = spark
    import s.implicits._
    import scala.jdk.CollectionConverters._
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case x => x
      }
      p.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec leaf; plan:\n" +
        p.toString.take(2000)))
    }
    val t = freshTable(Seq("od", "code", "amt"))
    GraftServer.register("rngdfact", t)
    try {
      // 360 rows over the 12 months of 2024, od a TIMESTAMP
      t.put(spark.range(360).select($"id",
          expr("make_timestamp(2024, CAST(id % 12 + 1 AS INT), 15, " +
            "12, 0, 0)").as("tod"),
          ($"id" % 5).as("c"), lit(1L).as("a")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("od" -> $"tod", "code" -> $"c", "amt" -> $"a"),
        ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_rngd WITH " +
        "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
        "SELECT CAST(date_trunc('month', od) AS DATE) AS m, " +
        "COUNT(*) AS n, SUM(amt) AS total FROM rngdfact " +
        "GROUP BY CAST(date_trunc('month', od) AS DATE)")

      // dirs carry the prefixed ISO day form of the DATE value
      val stateDir = java.nio.file.Paths.get(
        t.tableDir, "matview", "mv_rngd", "state")
      val l = java.nio.file.Files.list(stateDir)
      val dirs =
        try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bucket=")).toSet
        finally l.close()
      assert(dirs == (1 to 12).map(i =>
        f"_bucket=k2024-$i%02d-01").toSet, dirs.toString)

      // DATE-range read: three months of twelve → three dirs listed
      val range = GraftSql.sql(spark, "SELECT CAST(m AS STRING) AS ms, " +
        "n, total FROM mv_rngd WHERE m BETWEEN DATE'2024-03-01' AND " +
        "DATE'2024-05-01' ORDER BY m")
      val rScan = scanOf(range)
      assert(rScan.partitionFilters
          .exists(_.references.exists(_.name == "_bucket")),
        "a DATE range predicate must become a partition filter:\n" +
          range.queryExecution.executedPlan.toString.take(1200))
      val rRows = range.collect()
      assert(rRows.map(_.getString(0)).toSeq ==
        Seq("2024-03-01", "2024-04-01", "2024-05-01"), rRows.mkString(","))
      assert(rRows.forall(_.getLong(1) == 30L), rRows.mkString(","))
      assert(rScan.metrics("numFiles").value == 3,
        s"3 month dirs of 12, read ${rScan.metrics("numFiles").value}")

      // point read on a DATE literal: one dir
      val point = GraftSql.sql(spark,
        "SELECT n FROM mv_rngd WHERE m = DATE'2024-07-01'")
      val pScan = scanOf(point)
      assert(point.collect().map(_.getLong(0)).toSeq == Seq(30L))
      assert(pScan.metrics("numFiles").value == 1)

      // incremental refresh parity on a DATE-keyed view
      t.put(Seq((1000L, "2024-07-20 08:00:00", 9L, 5L))
          .toDF("id", "tt", "c", "a")
          .select($"id", $"tt".cast("timestamp").as("tod"), $"c", $"a"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("od" -> $"tod", "code" -> $"c", "amt" -> $"a"),
        ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_rngd").collect()
      val after = GraftSql.sql(spark,
        "SELECT n, total FROM mv_rngd WHERE m = DATE'2024-07-01'")
        .collect()
      assert(after(0).getLong(0) == 31L && after(0).getLong(1) == 35L,
        after.mkString(","))

      // a TIMESTAMP leading key refuses, pointing at the DATE cast
      val e = intercept[Exception](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_rngd_bad WITH " +
          "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
          "SELECT date_trunc('month', od) AS m, COUNT(*) AS n " +
          "FROM rngdfact GROUP BY date_trunc('month', od)"))
      assert(e.getMessage.contains("AS DATE"), e.getMessage)

      // dates outside 0001-9999 refuse at REFRESH (ISO order breaks
      // past 4-digit years) — the pre-insert state is still served
      t.put(Seq((2000L, 3L, 7L)).toDF("id", "c", "a")
          .select($"id",
            expr("make_timestamp(10000, 1, 1, 0, 0, 0)").as("tod"),
            $"c", $"a"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("od" -> $"tod", "code" -> $"c", "amt" -> $"a"),
        ts("2024-01-03 00:00:00"))
      val e2 = intercept[Exception](GraftSql.sql(spark,
        "REFRESH MATERIALIZED VIEW mv_rngd").collect())
      assert(e2.getMessage.contains("0001-9999"), e2.getMessage)
      assert(GraftSql.sql(spark,
          "SELECT n FROM mv_rngd WHERE m = DATE'2024-07-01'")
        .collect()(0).getLong(0) == 31L)
    } finally {
      GraftServer.unregister("rngdfact")
      GraftMatviews.reset()
    }
  }

  test("TIMESTAMP_NTZ keys: zone-free wall clocks range-partition AND " +
      "hash-prune (the timezone exclusion is for zone-carrying " +
      "TIMESTAMP only)") {
    val s = spark
    import s.implicits._
    import scala.jdk.CollectionConverters._
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case x => x
      }
      p.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec leaf; plan:\n" +
        p.toString.take(2000)))
    }
    val t = freshTable(Seq("od", "amt"))
    GraftServer.register("ntzfact", t)
    try {
      // od is TIMESTAMP_NTZ: 240 rows over 12 months
      t.put(spark.range(240).select($"id",
          expr("CAST(make_timestamp(2024, CAST(id % 12 + 1 AS INT), " +
            "10, 6, 30, 0) AS TIMESTAMP_NTZ)").as("tod"),
          lit(1L).as("a")), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("od" -> $"tod", "amt" -> $"a"), ts("2024-01-01 00:00:00"))

      // RANGE layout on the NTZ key directly — no cast needed at all.
      // (date_trunc('month', ntz) returns zone-carrying TIMESTAMP in
      // Spark — its NTZ→TS conversion reads the session zone — and is
      // therefore REFUSED, which the tail of this test asserts.)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_ntz WITH " +
        "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
        "SELECT od AS m, COUNT(*) AS n FROM ntzfact GROUP BY od")
      val stateDir = java.nio.file.Paths.get(
        t.tableDir, "matview", "mv_ntz", "state")
      val l = java.nio.file.Files.list(stateDir)
      val dirs =
        try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bucket=")).toSet
        finally l.close()
      assert(dirs.size == 12 &&
        dirs.forall(_.matches("_bucket=k2024-\\d{2}-10 06%3A30%3A00")),
        dirs.toString)
      val range = GraftSql.sql(spark, "SELECT CAST(m AS STRING) AS ms, " +
        "n FROM mv_ntz WHERE m BETWEEN " +
        "TIMESTAMP_NTZ'2024-03-01 00:00:00' AND " +
        "TIMESTAMP_NTZ'2024-05-31 00:00:00' ORDER BY m")
      val rScan = scanOf(range)
      val rRows = range.collect()
      assert(rRows.length == 3 && rRows.forall(_.getLong(1) == 20L),
        rRows.mkString(","))
      assert(rScan.metrics("numFiles").value == 3,
        s"3 month dirs of 12, read ${rScan.metrics("numFiles").value}")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_ntz")

      // HASH layout with a plain NTZ group key: a point read prunes to
      // one bucket dir (TimestampType would be skipped — session-zone
      // string cast; NTZ's cast is zone-free, so the hash mirror is
      // sound)
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_ntzh WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
        "SELECT od, COUNT(*) AS n FROM ntzfact GROUP BY od")
      val point = GraftSql.sql(spark,
        "SELECT n FROM mv_ntzh WHERE od = " +
          "TIMESTAMP_NTZ'2024-03-10 06:30:00'")
      val pScan = scanOf(point)
      assert(point.collect().map(_.getLong(0)).toSeq == Seq(20L))
      assert(pScan.metrics("numFiles").value == 1,
        s"1 bucket of 16, read ${pScan.metrics("numFiles").value}")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_ntzh")

      // date_trunc over NTZ yields zone-carrying TIMESTAMP (the NTZ→TS
      // conversion reads the session zone) — the range layout refuses
      // it with the DATE-cast hint rather than partitioning on a
      // zone-dependent string
      val e = intercept[Exception](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_ntzbad WITH " +
          "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
          "SELECT date_trunc('month', od) AS m, COUNT(*) AS n " +
          "FROM ntzfact GROUP BY date_trunc('month', od)"))
      assert(e.getMessage.contains("AS DATE"), e.getMessage)
    } finally {
      GraftServer.unregister("ntzfact")
      GraftMatviews.reset()
    }
  }

  test("range-layout CUMULATIVE dir cap: refreshes each adding a few " +
      "new key values refuse once total state dirs would cross the " +
      "cap — the per-refresh affected count alone never trips it") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("k", "amt"))
    GraftServer.register("cumfact", t)
    val prevCap = graft.bitemporal.MvState.MaxRangeDirs
    graft.bitemporal.MvState.MaxRangeDirs = 5
    def putKeys(lo: Long, hi: Long, at: String): Unit =
      t.put(spark.range(lo, hi).select($"id",
          format_string("v%02d", $"id").as("kk"), lit(1L).as("a")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("k" -> $"kk", "amt" -> $"a"), ts(at))
    try {
      putKeys(0, 3, "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_cum WITH " +
        "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
        "SELECT k, COUNT(*) AS n FROM cumfact GROUP BY k")
      // +2 new values → union 5 == cap: allowed
      putKeys(3, 5, "2024-01-02 00:00:00")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_cum").collect()
      // +2 more → per-refresh affected is only 2 (the pre-r15 check
      // passed here forever), but existing 5 dirs ∪ 2 new = 7 > 5
      putKeys(5, 7, "2024-01-03 00:00:00")
      val e = intercept[Exception](GraftSql.sql(spark,
        "REFRESH MATERIALIZED VIEW mv_cum").collect())
      assert(e.getMessage.contains("grow state to 7") &&
        e.getMessage.contains("hash layout"), e.getMessage)
      // the refusal is pre-swap: the view still serves the last
      // successful refresh's state
      val rows = GraftSql.sql(spark,
        "SELECT k, n FROM mv_cum ORDER BY k").collect()
      assert(rows.length == 5 && rows.forall(_.getLong(1) == 1L),
        rows.mkString(","))
      // ROTATION at the cap: retiring as many old keys as the pending
      // tail adds keeps the post-swap count at the cap — the check
      // counts what the swap actually leaves, so this passes where a
      // pre-merge existing∪affected union would wedge the view forever
      t.delete(spark.range(0, 2).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("k" -> lit(null).cast("string"),
          "amt" -> lit(null).cast("long")), ts("2024-01-04 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_cum").collect()
      val rot = GraftSql.sql(spark,
        "SELECT k FROM mv_cum ORDER BY k").collect().map(_.getString(0))
      assert(rot.toSeq == Seq("v02", "v03", "v04", "v05", "v06"),
        rot.mkString(","))
    } finally {
      graft.bitemporal.MvState.MaxRangeDirs = prevCap
      GraftServer.unregister("cumfact")
      GraftMatviews.reset()
    }
  }

  test("a group column literally NAMED apd_/avgd_/cntd_-like is served " +
      "as itself — canonical prefixes never hijack user columns " +
      "(group canons carry the __group__ namespace)") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("apd_region", "code"))
    GraftServer.register("pfxfact", t)
    try {
      t.put(Seq((1L, "eu", 10L), (2L, "eu", 20L), (3L, "us", 10L))
          .toDF("id", "r", "c"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("apd_region" -> $"r", "code" -> $"c"),
        ts("2024-01-01 00:00:00"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_pfx WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT apd_region, COUNT(*) AS n, " +
        "APPROX_COUNT_DISTINCT(code) AS apd FROM pfxfact GROUP BY apd_region")
      val r = GraftSql.sql(spark,
        "SELECT apd_region, n, apd FROM mv_pfx ORDER BY apd_region")
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      assert(r.toSeq == Seq(("eu", 2L, 2L), ("us", 1L, 1L)), r.mkString(","))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_pfx")
    } finally {
      GraftServer.unregister("pfxfact")
      GraftMatviews.reset()
    }
  }

  test("APPROX_COUNT_DISTINCT matview: one HLL sketch per group, " +
      "maintained through inserts/updates/deletes via touched-group " +
      "recompute — no lingering tombstoned values") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "code", "amt"))
    GraftServer.register("apdfact", t)
    try {
      def put(rows: Seq[(Long, String, java.lang.Long, Long)], at: String): Unit =
        t.put(rows.toDF("id", "g", "c", "m"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "code" -> $"c", "amt" -> $"m"), ts(at))
      def del(ids: Seq[Long], at: String): Unit =
        t.delete(ids.toDF("id"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("grp" -> lit(null).cast("string"),
            "code" -> lit(null).cast("long"),
            "amt" -> lit(null).cast("long")), ts(at))
      put(Seq((1L, "a", 10L, 5L), (2L, "a", 10L, 6L), (3L, "a", 20L, 7L),
        (4L, "b", 10L, 8L), (5L, "b", null, 9L), (6L, "b", 30L, -1L)),
        "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_apd WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n, APPROX_COUNT_DISTINCT(code) AS apd " +
        "FROM apdfact WHERE amt > 0 GROUP BY grp")

      def read(): Map[String, (Long, Long)] = GraftSql.sql(spark,
        "SELECT grp, n, apd FROM mv_apd ORDER BY grp").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      def exact(): Map[String, (Long, Long)] =
        t.current().filter($"amt" > 0).groupBy($"grp")
          .agg(count(lit(1)).as("n"), count_distinct($"code").as("nd"))
          .collect().map(r =>
            r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      def assertClose(): Unit = {
        val (r, e) = (read(), exact())
        assert(r.keySet == e.keySet, s"$r vs $e")
        e.foreach { case (g, (n, nd)) =>
          assert(r(g)._1 == n, s"n mismatch for $g: $r vs $e")
          assert(math.abs(r(g)._2 - nd) <= math.max(1L, nd / 20),
            s"apd out of tolerance for $g: $r vs $e")
        }
      }
      assertClose()
      // tiny cardinalities sit in the sketch's exact (sparse) regime
      assert(read() == Map("a" -> (3L, 2L), "b" -> (2L, 1L)),
        "NULL code never counts; the WHERE row is invisible; small " +
          s"cardinalities are exact: ${read()}")

      // the delete case the sketch CANNOT absorb incrementally: code 20
      // leaves group a entirely — the touched-group recompute must
      // rebuild a's sketch without the tombstoned value
      del(Seq(3L), "2024-01-02 00:00:00")
      // and an update changing a value: row 4's code 10 -> 40 in b
      put(Seq((4L, "b", 40L, 8L)), "2024-01-02 00:00:01")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_apd").collect()
      assertClose()
      assert(read() == Map("a" -> (2L, 1L), "b" -> (2L, 1L)),
        s"deleted/updated values must leave the sketch: ${read()}")

      // an all-null-codes group serves 0, not NULL
      put(Seq((7L, "c", null, 3L)), "2024-01-03 00:00:00")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_apd").collect()
      assert(read()("c") == (1L, 0L), read().toString)

      // restart adoption: the definition round-trips through its _ddl
      GraftMatviews.reset()
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored.get("mv_apd").contains("restored"), restored.toString)
      assertClose()
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_apd")
    } finally {
      GraftServer.unregister("apdfact")
      GraftMatviews.reset()
    }
  }

  test("star form: APPROX_COUNT_DISTINCT and layout='range' exercise " +
      "the JOIN view's sketch recompute and value-partitioned state " +
      "through dim moves") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("cust", "code", "amt"))
    val dim = freshTable(Seq("mgrp"))
    GraftServer.register("srfact", fact)
    GraftServer.register("srdim", dim)
    try {
      // dim carries a STRING month-like group key (the range key)
      dim.put(Seq((1L, "2024-01"), (2L, "2024-01"), (3L, "2024-02"))
          .toDF("id", "g"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("mgrp" -> $"g"), ts("2024-01-01 00:00:00"))
      fact.put(Seq(
          (10L, 1L, 100L, 5L), (11L, 1L, 100L, 6L), (12L, 2L, 200L, 7L),
          (13L, 3L, 100L, 8L), (14L, 3L, 300L, 2L))
          .toDF("id", "ck", "c", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "code" -> $"c", "amt" -> $"m"),
        ts("2024-01-01 00:00:01"))

      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_sr WITH " +
        "(valid_at = '2030-01-01 00:00:00', layout = 'range') AS " +
        "SELECT mgrp, COUNT(*) AS n, APPROX_COUNT_DISTINCT(code) AS apd, " +
        "COUNT(DISTINCT code) AS nd " +
        "FROM srfact JOIN srdim ON cust = srdim._id GROUP BY mgrp")

      def read(): Seq[(String, Long, Long, Long)] =
        GraftSql.sql(spark,
          "SELECT mgrp, n, apd, nd FROM mv_sr ORDER BY mgrp")
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3))).toSeq
      def scratch(): Seq[(String, Long, Long, Long)] = {
        val f = fact.current()
        val d = dim.current().select($"_id".cast("long").as("did"), $"mgrp")
        f.join(d, $"cust" === $"did").groupBy($"mgrp")
          .agg(count(lit(1)).as("n"), count_distinct($"code").as("nd"))
          .orderBy($"mgrp").collect()
          // small cardinalities sit in the sketch's exact regime, so
          // apd == nd here — asserted deliberately
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(2))).toSeq
      }
      assert(read() == scratch())
      assert(read() == Seq(("2024-01", 3L, 2L, 2L), ("2024-02", 2L, 2L, 2L)))

      // the state is VALUE-partitioned on the dim-side group key
      val stateDir = java.nio.file.Paths.get(
        fact.tableDir, "join_matview", "mv_sr", "state")
      val l = java.nio.file.Files.list(stateDir)
      val dirs = try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bucket=")).toSet
      } finally l.close()
      assert(dirs == Set("_bucket=k2024-01", "_bucket=k2024-02"), dirs)

      // range read prunes to one month dir
      val point = GraftSql.sql(spark,
        "SELECT n, apd FROM mv_sr WHERE mgrp >= '2024-02'")
      val scan = point.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      val pr = point.collect()
      assert(pr.length == 1 && pr(0).getLong(0) == 2L)
      assert(scan.metrics("numFiles").value == 1,
        "the >= bound must prune to the one matching month dir")

      // dim group-move: customer 2 relocates 2024-01 → 2024-02 with
      // zero fact ops — the sketch RECOMPUTES for both touched months
      // (code 200 leaves January's set entirely), the DISTINCT pair
      // aux rides along, and only the touched VALUE dirs swap
      dim.put(Seq((2L, "2024-02")).toDF("id", "g"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("mgrp" -> $"g"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_sr").collect()
      assert(read() == scratch())
      assert(read() == Seq(("2024-01", 2L, 1L, 1L), ("2024-02", 3L, 3L, 3L)))

      // delete the last holder of code 300: both sketch and pair state
      // must drop the value
      fact.delete(Seq(14L).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "code" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("long")), ts("2024-01-03 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_sr").collect()
      assert(read() == scratch())
      assert(read() == Seq(("2024-01", 2L, 1L, 1L), ("2024-02", 2L, 2L, 2L)))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_sr")
    } finally {
      GraftServer.unregister("srfact")
      GraftServer.unregister("srdim")
      GraftMatviews.reset()
    }
  }

  test("DROP also sweeps a stale same-name on-disk definition under a " +
      "DIFFERENT table root — RESTORE must not resurrect it") {
    val s = spark
    import s.implicits._
    val t1 = freshTable(Seq("grp", "bal"))
    val t2 = freshTable(Seq("grp", "bal"))
    GraftServer.register("swtab1", t1)
    GraftServer.register("swtab2", t2)
    try {
      Seq(t1, t2).foreach(t =>
        t.put(Seq((1L, "a", 10L)).toDF("id", "g", "m"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("grp" -> $"g", "bal" -> $"m"), ts("2024-01-01 00:00:00")))
      // OLD life: the view lived on swtab2
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_sw WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 2) AS " +
        "SELECT grp, COUNT(*) AS n FROM swtab2 GROUP BY grp")
      val staleDdl = java.nio.file.Paths.get(
        t2.tableDir, "matview", "mv_sw", "_ddl")
      assert(java.nio.file.Files.exists(staleDdl))
      GraftMatviews.reset() // restart: registry forgets, disk survives

      // NEW life: same name, different table root — now registered
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_sw WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 2) AS " +
        "SELECT grp, SUM(bal) AS total FROM swtab1 GROUP BY grp")
      assert(java.nio.file.Files.exists(staleDdl),
        "precondition: the old life's _ddl is still on disk")

      // DROP must take BOTH: the registered view AND the stale on-disk
      // definition (a `||` between the two checks skipped the sweep)
      val dropped = GraftSql.sql(spark,
        "DROP MATERIALIZED VIEW mv_sw").collect()
      assert(dropped(0).getBoolean(1))
      assert(!java.nio.file.Files.exists(staleDdl),
        "the stale _ddl under the other table root must be swept")
      assert(GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().isEmpty, "nothing may resurrect a dropped name")
    } finally {
      GraftServer.unregister("swtab1")
      GraftServer.unregister("swtab2")
      GraftMatviews.reset()
    }
  }

  test("SUM over an all-NULL group serves ANSI NULL, not the state's " +
      "additive-identity 0 — including after a cancellation round-trip " +
      "where the stored sum genuinely IS 0") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "amt"))
    GraftServer.register("sn_tab", t)
    def put(rows: Seq[(Long, String, java.lang.Long)], at: String): Unit =
      t.put(rows.toDF("id", "g", "m")
          .select($"id", $"g", $"m".cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts(at))
    try {
      // group a: every amt NULL; group b: mixed
      put(Seq((1L, "a", null), (2L, "a", null),
        (3L, "b", Long.box(7L)), (4L, "b", null)), "2024-01-01 00:00:00")
      GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_sn WITH (valid_at = '2030-01-01 " +
          "00:00:00', buckets = 4) AS SELECT grp, COUNT(*) AS n, " +
          "SUM(amt) AS s, AVG(amt) AS av FROM sn_tab GROUP BY grp")
      def row(g: String): org.apache.spark.sql.Row =
        GraftSql.sql(spark,
          s"SELECT n, s, av FROM mv_sn WHERE grp = '$g'").collect()(0)
      val a0 = row("a")
      assert(a0.getLong(0) == 2L && a0.isNullAt(1) && a0.isNullAt(2),
        s"all-NULL group must serve SUM/AVG NULL, got $a0")
      val b0 = row("b")
      assert(b0.getLong(0) == 2L &&
        b0.getDecimal(1).compareTo(new java.math.BigDecimal("7")) == 0,
        s"mixed group keeps its real sum, got $b0")

      // a non-null value lands → SUM materializes...
      put(Seq((5L, "a", Long.box(11L))), "2024-01-02 00:00:00")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_sn")
      val a1 = row("a")
      assert(a1.getLong(0) == 3L &&
        a1.getDecimal(1).compareTo(new java.math.BigDecimal("11")) == 0,
        s"got $a1")

      // ...and retracts: the stored sum is now literally 0 — only the
      // ride-along non-null count can tell this apart from SUM(0)
      t.delete(Seq(5L).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> lit(null).cast("string"),
          "amt" -> lit(null).cast("decimal(12,2)")),
        ts("2024-01-03 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_sn")
      val a2 = row("a")
      assert(a2.getLong(0) == 2L && a2.isNullAt(1) && a2.isNullAt(2),
        s"post-retraction all-NULL group must return to NULL, got $a2")

      // a genuine zero stays 0, never masked to NULL
      put(Seq((6L, "a", Long.box(0L))), "2024-01-04 00:00:00")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_sn")
      val a3 = row("a")
      assert(!a3.isNullAt(1) &&
        a3.getDecimal(1).compareTo(java.math.BigDecimal.ZERO) == 0,
        s"SUM of a real 0 serves 0, got $a3")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_sn")
    } finally {
      GraftServer.unregister("sn_tab")
      GraftMatviews.reset()
    }
  }

  test("statistics tier, single-table: VARIANCE/STDDEV family " +
      "(exactly incremental via sum + sum-of-squares + count) and " +
      "MEDIAN/PERCENTILE_CONT/APPROX_PERCENTILE (touched-group " +
      "recompute) through inserts, updates and deletes") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "amt"))
    GraftServer.register("st_tab", t)
    def put(rows: Seq[(Long, String, java.lang.Long)], at: String): Unit =
      t.put(rows.toDF("id", "g", "m")
          .select($"id", $"g", $"m".cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts(at))
    def del(ids: Seq[Long], at: String): Unit =
      t.delete(ids.toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> lit(null).cast("string"),
          "amt" -> lit(null).cast("decimal(12,2)")), ts(at))
    try {
      put(Seq((1L, "a", Long.box(10L)), (2L, "a", Long.box(20L)),
        (3L, "a", Long.box(40L)), (4L, "b", Long.box(7L)),
        (5L, "b", null), (6L, "c", null)), "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_stats WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n, " +
        "VARIANCE(amt) AS vs, VAR_POP(amt) AS vp, " +
        "STDDEV(amt) AS sd, STDDEV_POP(amt) AS sp, " +
        "MEDIAN(amt) AS med, PERCENTILE_CONT(amt, 0.9) AS p90, " +
        "APPROX_PERCENTILE(amt, 0.5) AS amed " +
        "FROM st_tab GROUP BY grp")

      // from-scratch truth over the CURRENT visible rows — variance via
      // Spark's own aggregates (different algorithm: tolerance), exact
      // percentiles via the same `percentile` the state recompute uses
      // (bit parity expected)
      def truth(): Map[String, org.apache.spark.sql.Row] =
        t.current().groupBy($"grp").agg(
          count(lit(1)).as("n"),
          var_samp($"amt".cast("double")).as("vs"),
          var_pop($"amt".cast("double")).as("vp"),
          stddev($"amt".cast("double")).as("sd"),
          stddev_pop($"amt".cast("double")).as("sp"),
          expr("percentile(cast(amt as double), 0.5)").as("med"),
          expr("percentile(cast(amt as double), 0.9)").as("p90"),
          expr("percentile_approx(cast(amt as double), 0.5, 10000)")
            .as("amed"))
          .collect().map(r => r.getString(0) -> r).toMap
      def served(): Map[String, org.apache.spark.sql.Row] =
        GraftSql.sql(spark,
          "SELECT grp, n, vs, vp, sd, sp, med, p90, amed FROM mv_stats")
          .collect().map(r => r.getString(0) -> r).toMap
      def close(a: Double, b: Double): Boolean =
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(a.abs, b.abs))
      def check(): Unit = {
        val (sv, tr) = (served(), truth())
        assert(sv.keySet == tr.keySet, s"$sv vs $tr")
        tr.foreach { case (g, e) =>
          val r = sv(g)
          assert(r.getLong(1) == e.getLong(1), s"n for $g: $r vs $e")
          // vs/vp/sd/sp at tolerance (formula vs Welford)
          Seq(2 -> 2, 3 -> 3, 4 -> 4, 5 -> 5).foreach { case (i, j) =>
            assert(r.isNullAt(i) == e.isNullAt(j) &&
              (r.isNullAt(i) || close(r.getDouble(i), e.getDouble(j))),
              s"stat col $i for $g: $r vs $e")
          }
          // exact percentiles: same function, same members → equal
          Seq(6 -> 6, 7 -> 7).foreach { case (i, j) =>
            assert(r.isNullAt(i) == e.isNullAt(j) &&
              (r.isNullAt(i) || r.getDouble(i) == e.getDouble(j)),
              s"percentile col $i for $g: $r vs $e")
          }
          // approx median: the state must equal the from-scratch
          // percentile_approx of the same members — same engine, same
          // function, deterministic (the sketch picks a member value,
          // so a value-tolerance against the INTERPOLATED median would
          // be the wrong property)
          assert(r.isNullAt(8) == e.isNullAt(8) &&
            (r.isNullAt(8) || r.getDouble(8) == e.getDouble(8)),
            s"approx median for $g: $r vs $e")
        }
      }
      check()
      // ANSI semantics at the edges: single-value group b → var_samp
      // NULL, var_pop 0; all-NULL group c → everything NULL
      locally {
        val sv = served()
        assert(sv("b").isNullAt(2) && sv("b").getDouble(3) == 0.0, sv("b").toString)
        assert((2 to 8).forall(sv("c").isNullAt), sv("c").toString)
      }

      // update moves a value (40 → 100), delete removes one, an insert
      // gives the all-NULL group real values — every lifecycle edge
      put(Seq((3L, "a", Long.box(100L))), "2024-01-02 00:00:00")
      del(Seq(2L), "2024-01-02 00:00:01")
      put(Seq((7L, "c", Long.box(5L)), (8L, "c", Long.box(9L))),
        "2024-01-02 00:00:02")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_stats").collect()
      check()

      // retraction back to all-NULL: group c loses its values again —
      // the percentile overlay must serve NULL, not stale state
      del(Seq(7L, 8L), "2024-01-03 00:00:00")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_stats").collect()
      check()
      assert((2 to 8).forall(served()("c").isNullAt))

      // restart adoption round-trips the statistics definition
      GraftMatviews.reset()
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored.get("mv_stats").contains("restored"), restored.toString)
      check()
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_stats")

      // rejections: DISTINCT variance, median with a fraction,
      // out-of-range percentile fraction
      Seq(
        "SELECT grp, STDDEV(DISTINCT amt) AS x FROM st_tab GROUP BY grp",
        "SELECT grp, MEDIAN(amt, 0.3) AS x FROM st_tab GROUP BY grp",
        "SELECT grp, PERCENTILE_CONT(amt, 1.5) AS x FROM st_tab GROUP BY grp")
        .foreach { sel =>
          val e = intercept[IllegalArgumentException] {
            GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_bad AS " + sel)
          }
          assert(e.getMessage != null, sel)
        }
    } finally {
      GraftServer.unregister("st_tab")
      GraftMatviews.reset()
    }
  }

  test("statistics tier numeric contract: VARIANCE/STDDEV over a " +
      "FLOAT/DOUBLE argument refuses at CREATE with a cast hint (the " +
      "sum-of-squares serve formula catastrophically cancels on " +
      "floating input); the DECIMAL cast of the same column is " +
      "accepted") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "dval"))
    GraftServer.register("vg_tab", t)
    try {
      t.put(Seq((1L, "a", 1.5), (2L, "a", 2.5), (3L, "b", 4.0))
          .toDF("id", "g", "d"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "dval" -> $"d"), ts("2024-01-01 00:00:00"))
      // a raw double column, and a double-typed expression, both refuse
      Seq("STDDEV(dval) AS x", "VARIANCE(dval * 2) AS x")
        .foreach { item =>
          val e = intercept[IllegalArgumentException] {
            GraftSql.sql(spark, "CREATE MATERIALIZED VIEW vg_bad WITH " +
              "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
              s"SELECT grp, $item FROM vg_tab GROUP BY grp")
          }
          assert(e.getMessage.contains("FLOAT/DOUBLE") &&
            e.getMessage.contains("DECIMAL"), s"$item → ${e.getMessage}")
        }
      // the hinted cast is accepted and maintains through a mutation
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW vg_ok WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, STDDEV(CAST(dval AS DECIMAL(20,4))) AS sd " +
        "FROM vg_tab GROUP BY grp")
      t.put(Seq((4L, "b", 6.0)).toDF("id", "g", "d"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "dval" -> $"d"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW vg_ok").collect()
      val got = GraftSql.sql(spark,
        "SELECT grp, sd FROM vg_ok ORDER BY grp").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val want = t.current()
        .groupBy(col("grp"))
        .agg(stddev(col("dval").cast("decimal(20,4)")).as("sd"))
        .orderBy(col("grp")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == want.map(_._1))
      got.zip(want).foreach { case ((_, g), (_, w)) =>
        assert(math.abs(g - w) < 1e-9, s"$g vs $w")
      }
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW vg_ok")
    } finally {
      GraftServer.unregister("vg_tab")
      GraftMatviews.reset()
    }
  }

  test("statistics tier, join form: STDDEV over an expression and " +
      "MEDIAN over a fact measure survive a dim group-move (crossed " +
      "touched-group recompute, zero fact ops)") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("fk", "qty"))
    val dim = freshTable(Seq("region"))
    GraftServer.register("stj_fact", fact)
    GraftServer.register("stj_dim", dim)
    try {
      dim.put(Seq((10L, "east"), (20L, "west")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq((1L, 10L, 2L), (2L, 10L, 4L), (3L, 10L, 9L),
          (4L, 20L, 5L), (5L, 20L, 7L)).toDF("id", "k", "q")
          .select($"id", $"k", $"q".cast("decimal(10,2)").as("q")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("fk" -> $"k", "qty" -> $"q"), ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_stj WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, COUNT(*) AS n, " +
        "STDDEV(qty * 2) AS sdq2, MEDIAN(qty) AS med " +
        "FROM stj_fact JOIN stj_dim ON fk = stj_dim._id GROUP BY region")

      def truth(): Map[String, (Long, Option[Double], Option[Double])] = {
        val j = fact.current().join(dim.current()
            .select(col("_id").as("did"), col("region")),
          col("fk") === col("did"))
        j.groupBy(col("region")).agg(
          count(lit(1)).as("n"),
          stddev((col("qty") * 2).cast("double")).as("sd"),
          expr("percentile(cast(qty as double), 0.5)").as("med"))
          .collect().map(r => r.getString(0) -> ((r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      }
      def served(): Map[String, (Long, Option[Double], Option[Double])] =
        GraftSql.sql(spark,
          "SELECT region, n, sdq2, med FROM mv_stj").collect()
          .map(r => r.getString(0) -> ((r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      def check(): Unit = {
        val (sv, tr) = (served(), truth())
        assert(sv.keySet == tr.keySet, s"$sv vs $tr")
        tr.foreach { case (g, (n, sd, med)) =>
          val (rn, rsd, rmed) = sv(g)
          assert(rn == n, s"$g: $sv vs $tr")
          assert(sd.isDefined == rsd.isDefined &&
            sd.zip(rsd).forall { case (a, b) =>
              math.abs(a - b) <= 1e-9 * math.max(1.0, a.abs) },
            s"$g stddev: $sv vs $tr")
          assert(med == rmed, s"$g median: $sv vs $tr")
        }
      }
      check()

      // the group-move: dim 10 relocates east → west with ZERO fact
      // ops; both groups' medians and stddevs must recompute
      dim.put(Seq((10L, "west")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_stj").collect()
      check()
      assert(served().keySet == Set("west"), served().toString)

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_stj")
    } finally {
      GraftServer.unregister("stj_fact")
      GraftServer.unregister("stj_dim")
      GraftMatviews.reset()
    }
  }

  test("FILTER (WHERE …) aggregates: the ANSI clause desugars onto " +
      "expression aggregates (CASE-wrapped argument) and maintains " +
      "every aggregate family through the mutation lifecycle") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "tag", "amt"))
    GraftServer.register("flt_tab", t)
    def put(rows: Seq[(Long, String, String, java.lang.Long)],
            at: String): Unit =
      t.put(rows.toDF("id", "g", "tg", "m")
          .select($"id", $"g", $"tg",
            $"m".cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "tag" -> $"tg", "amt" -> $"m"), ts(at))
    def del(ids: Seq[Long], at: String): Unit =
      t.delete(ids.toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> lit(null).cast("string"),
          "tag" -> lit(null).cast("string"),
          "amt" -> lit(null).cast("decimal(12,2)")), ts(at))
    try {
      put(Seq((1L, "a", "x", Long.box(10L)), (2L, "a", "x", Long.box(20L)),
        (3L, "a", "y", Long.box(40L)), (4L, "b", "y", Long.box(7L)),
        (5L, "b", "x", null), (6L, "c", "y", Long.box(3L))),
        "2024-01-01 00:00:00")
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_flt WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT grp, COUNT(*) AS n, " +
        "COUNT(*) FILTER (WHERE tag = 'x') AS nx, " +
        "SUM(amt) FILTER (WHERE tag = 'x') AS sx, " +
        "AVG(amt) FILTER (WHERE amt > 8) AS abig, " +
        "MIN(amt) FILTER (WHERE tag = 'y') AS mny, " +
        "COUNT(DISTINCT amt) FILTER (WHERE tag = 'x') AS dx, " +
        "STDDEV(amt) FILTER (WHERE tag = 'x') AS sdx, " +
        "MEDIAN(amt) FILTER (WHERE tag = 'x') AS medx, " +
        "PERCENTILE_CONT(amt, 0.9) FILTER (WHERE tag = 'x') AS p90x, " +
        "SUM(amt) AS s_all " +
        "FROM flt_tab GROUP BY grp")

      // from-scratch truth through Spark's OWN FILTER clause — the
      // desugar must be observationally identical to the native ANSI
      // semantics, not merely self-consistent
      def truth(): Map[String, org.apache.spark.sql.Row] = {
        t.current().createOrReplaceTempView("flt_truth")
        spark.sql(
          """SELECT grp, count(*) AS n,
             count(*) FILTER (WHERE tag = 'x') AS nx,
             CAST(sum(amt) FILTER (WHERE tag = 'x') AS DOUBLE) AS sx,
             avg(CAST(amt AS DOUBLE)) FILTER (WHERE amt > 8) AS abig,
             CAST(min(amt) FILTER (WHERE tag = 'y') AS DOUBLE) AS mny,
             count(DISTINCT amt) FILTER (WHERE tag = 'x') AS dx,
             stddev(CAST(amt AS DOUBLE)) FILTER (WHERE tag = 'x') AS sdx,
             percentile(CAST(amt AS DOUBLE), 0.5)
               FILTER (WHERE tag = 'x') AS medx,
             percentile(CAST(amt AS DOUBLE), 0.9)
               FILTER (WHERE tag = 'x') AS p90x,
             CAST(sum(amt) AS DOUBLE) AS s_all
             FROM flt_truth GROUP BY grp""")
          .collect().map(r => r.getString(0) -> r).toMap
      }
      def served(): Map[String, org.apache.spark.sql.Row] =
        GraftSql.sql(spark,
          "SELECT grp, n, nx, CAST(sx AS DOUBLE) AS sx, abig, " +
            "CAST(mny AS DOUBLE) AS mny, dx, sdx, medx, p90x, " +
            "CAST(s_all AS DOUBLE) AS s_all FROM mv_flt")
          .collect().map(r => r.getString(0) -> r).toMap
      def close(a: Double, b: Double): Boolean =
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(a.abs, b.abs))
      def check(): Unit = {
        val (sv, tr) = (served(), truth())
        assert(sv.keySet == tr.keySet, s"$sv vs $tr")
        tr.foreach { case (g, e) =>
          val r = sv(g)
          (1 to 10).foreach { i =>
            assert(r.isNullAt(i) == e.isNullAt(i),
              s"null mismatch col $i for $g: $r vs $e")
            if (!r.isNullAt(i)) (r.get(i), e.get(i)) match {
              case (a: Long, b: Long) => assert(a == b, s"col $i $g: $r vs $e")
              case (a: Double, b: Double) =>
                assert(close(a, b), s"col $i $g: $r vs $e")
              case (a, b) => assert(a == b, s"col $i $g: $r vs $e")
            }
          }
        }
      }
      check()
      // ANSI edges on the initial state: group c has no 'x' rows at all
      // → every filtered aggregate NULL (and the filtered COUNTs 0)
      locally {
        val c = served()("c")
        assert(c.getLong(2) == 0L && c.getLong(6) == 0L, c.toString)
        assert(Seq(3, 4, 7, 8, 9).forall(c.isNullAt), c.toString)
      }

      // lifecycle: tag flip moves row 3 into the filtered set, a bump
      // re-prices row 1, a delete drains row 2, and group c gains
      // then loses its first 'x' row (filtered-set birth + death)
      put(Seq((3L, "a", "x", Long.box(40L)),
        (1L, "a", "x", Long.box(15L)),
        (7L, "c", "x", Long.box(9L))), "2024-01-02 00:00:00")
      del(Seq(2L), "2024-01-02 00:00:01")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_flt").collect()
      check()
      del(Seq(7L), "2024-01-03 00:00:00")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_flt").collect()
      check()
      assert(Seq(3, 4, 7, 8, 9).forall(served()("c").isNullAt))

      // restart adoption round-trips the desugared definition
      GraftMatviews.reset()
      val restored = GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(restored.get("mv_flt").contains("restored"), restored.toString)
      check()
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_flt")

      // rejections: alias mandatory, predicate row-local rules apply
      // (the WHERE sieve's messages), malformed clause forms
      Seq(
        "SELECT grp, SUM(amt) FILTER (WHERE tag = 'x') FROM flt_tab " +
          "GROUP BY grp" -> "alias",
        "SELECT grp, SUM(amt) FILTER (WHERE rand() > 0.5) AS x " +
          "FROM flt_tab GROUP BY grp" -> "non-deterministic",
        "SELECT grp, SUM(amt) FILTER (WHERE amt > (SELECT 1)) AS x " +
          "FROM flt_tab GROUP BY grp" -> "",
        "SELECT grp, SUM(amt) FILTER (tag = 'x') AS x FROM flt_tab " +
          "GROUP BY grp" -> "FILTER (WHERE",
        "SELECT grp, grp FILTER (WHERE tag = 'x') AS x FROM flt_tab " +
          "GROUP BY grp" -> "aggregate call")
        .foreach { case (sel, needle) =>
          val e = intercept[IllegalArgumentException] {
            GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_badf AS " + sel)
          }
          assert(needle.isEmpty || e.getMessage.contains(needle),
            s"$sel => ${e.getMessage}")
        }
    } finally {
      GraftServer.unregister("flt_tab")
      GraftMatviews.reset()
    }
  }

  test("FILTER on the join form: the predicate may cross the join edge " +
      "(fact measure filtered by a dim attribute) and survives a dim " +
      "group-move") {
    val s = spark
    import s.implicits._
    val fact = freshTable(Seq("fk", "qty"))
    val dim = freshTable(Seq("region", "tier"))
    GraftServer.register("fj_fact", fact)
    GraftServer.register("fj_dim", dim)
    try {
      dim.put(Seq((10L, "east", "gold"), (20L, "west", "std"),
          (30L, "east", "std")).toDF("id", "r", "t"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r", "tier" -> $"t"), ts("2024-01-01 00:00:00"))
      fact.put(Seq((1L, 10L, 2L), (2L, 10L, 4L), (3L, 20L, 9L),
          (4L, 30L, 5L), (5L, 20L, 7L)).toDF("id", "k", "q"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("fk" -> $"k", "qty" -> $"q"), ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_fj WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, COUNT(*) AS n, " +
        "SUM(qty) FILTER (WHERE tier = 'gold') AS sgold, " +
        "COUNT(*) FILTER (WHERE qty > 4) AS nbig " +
        "FROM fj_fact JOIN fj_dim ON fk = fj_dim._id GROUP BY region")

      def truth(): Map[String, (Long, Option[Long], Long)] = {
        val j = fact.current().join(dim.current()
            .select(col("_id").as("did"), col("region"), col("tier")),
          col("fk") === col("did"))
        j.groupBy(col("region")).agg(
          count(lit(1)).as("n"),
          sum(when(col("tier") === "gold", col("qty"))).as("sg"),
          count(when(col("qty") > 4, lit(1))).as("nb"))
          .collect().map(r => r.getString(0) -> ((r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            r.getLong(3)))).toMap
      }
      def served(): Map[String, (Long, Option[Long], Long)] =
        GraftSql.sql(spark,
          "SELECT region, n, sgold, nbig FROM mv_fj").collect()
          .map(r => r.getString(0) -> ((r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            r.getLong(3)))).toMap
      assert(served() == truth(), s"${served()} vs ${truth()}")

      // tier flip (dim 20 → gold) moves rows INTO the filtered set
      // with zero fact ops; dim 10 also changes region (group move)
      dim.put(Seq((20L, "west", "gold"), (10L, "west", "gold"))
          .toDF("id", "r", "t"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r", "tier" -> $"t"), ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_fj").collect()
      assert(served() == truth(), s"${served()} vs ${truth()}")
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_fj")
    } finally {
      GraftServer.unregister("fj_fact")
      GraftServer.unregister("fj_dim")
      GraftMatviews.reset()
    }
  }

  test("bucket_key: state bucketed on a group-key SUBSET — the " +
      "group-pinned read and the NAVIGATED rollup both read ONE dir of " +
      "16 at any key cardinality; maintenance and RESTORE keep the " +
      "layout; misuse refuses with the reason") {
    val s = spark
    import s.implicits._
    val t = freshTable(Seq("grp", "sub", "amt"))
    GraftServer.register("bk_t", t)
    def expected(g: String): Seq[(String, Long, Long, Long)] =
      t.current().filter(col("grp") === g).groupBy(col("sub"))
        .agg(count(lit(1)).as("n"), sum(col("amt")).as("s"),
          countDistinct(col("amt")).as("d"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .toSeq.sortBy(_._1)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    try {
      t.put((1 to 96).map(i =>
          (i.toLong, s"g${i % 8}", s"s${i % 3}", (i * 2).toLong))
          .toDF("id", "g", "u", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "amt" -> $"m"),
        ts("2024-01-01 00:00:00"))
      // COUNT(DISTINCT …) rides along: its auxiliary pair view must
      // bucket on the parent's EFFECTIVE bucket key (grp alone), or the
      // refresh's rollup prune would hash a different domain and
      // silently drop pairs
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_bk WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 16, " +
        "bucket_key = 'grp', rewrite = 'trusted') AS " +
        "SELECT grp, sub, COUNT(*) AS n, SUM(amt) AS s, " +
        "COUNT(DISTINCT amt) AS d FROM bk_t GROUP BY grp, sub")

      // DIRECT pinned read: equality on the bucket key alone prunes —
      // whole-key bucketing could not (sub is unpinned). ONE action
      // before reading metrics (actions reset them).
      val direct = GraftSql.sql(spark,
        "SELECT sub, n, s, d FROM mv_bk WHERE grp = 'g3'")
      val dRows = direct.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .toSeq.sortBy(_._1)
      val dScan = scanOf(direct)
      assert(dScan.nonEmpty && dScan.head.partitionFilters
          .exists(_.references.exists(_.name == "_bucket")),
        "the subset-key equality must become a partition filter:\n" +
          direct.queryExecution.executedPlan.toString.take(1200))
      assert(dScan.head.metrics("numFiles").value == 1,
        s"ONE dir of 16, read ${dScan.head.metrics("numFiles").value}")
      assert(dRows == expected("g3"), s"$dRows vs ${expected("g3")}")

      // NAVIGATED rollup over the BASE table: residual pin + GROUP BY
      // subset → the same one-dir read (AQE off: the rollup shuffles,
      // and AdaptiveSparkPlanExec hides scan leaves)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val nav = GraftSql.sql(spark, "SELECT sub, COUNT(*) AS n, " +
          "SUM(amt) AS s FROM bk_t WHERE grp = 'g3' GROUP BY sub")
        val nRows = nav.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSeq.sortBy(_._1)
        val nScan = scanOf(nav)
        assert(nScan.nonEmpty && nScan.head.relation.location.rootPaths
            .exists(_.toString.contains("matview")),
          "the rollup must navigate onto view state:\n" +
            nav.queryExecution.executedPlan.toString.take(1200))
        assert(nScan.head.metrics("numFiles").value == 1,
          s"navigated one-dir read, got " +
            s"${nScan.head.metrics("numFiles").value}")
        // (COUNT(DISTINCT) rightly never rolls up — the navigated
        // query asks only for n and s)
        assert(nRows == expected("g3").map(r => (r._1, r._2, r._3)))
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

      // maintenance: a mutation wave refreshes correctly under the
      // subset layout (affected buckets hash the same subset)
      t.put(Seq((3L, "g3", "s0", 999L), (99L, "g3", "s2", 7L))
          .toDF("id", "g", "u", "m"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "sub" -> $"u", "amt" -> $"m"),
        ts("2024-01-02 00:00:00"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_bk").collect()
      val after = GraftSql.sql(spark,
        "SELECT sub, n, s, d FROM mv_bk WHERE grp = 'g3'").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .toSeq.sortBy(_._1)
      assert(after == expected("g3"), s"$after vs ${expected("g3")}")

      // RESTORE round-trips the layout: the canonical DDL carries
      // bucket_key, the fingerprint adopts the on-disk state, and the
      // pinned read still prunes to one dir
      GraftMatviews.reset()
      GraftSql.sql(spark, "RESTORE MATERIALIZED VIEWS").collect()
      val shown = GraftSql.sql(spark, "SHOW MATERIALIZED VIEWS")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(shown.contains("mv_bk") &&
        shown("mv_bk").contains("bucket_key = 'grp'"), shown.toString)
      val restored = GraftSql.sql(spark,
        "SELECT sub, n, s, d FROM mv_bk WHERE grp = 'g3'")
      val rRows = restored.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .toSeq.sortBy(_._1)
      val rScan = scanOf(restored)
      assert(rScan.head.metrics("numFiles").value == 1)
      assert(rRows == expected("g3"))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_bk")

      // refusals: unknown column; derived-expression groups have no
      // user-writable name; range layout must keep the leading key
      val e1 = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_bad WITH " +
          "(bucket_key = 'nope') AS SELECT grp, COUNT(*) AS n " +
          "FROM bk_t GROUP BY grp")
      }
      assert(e1.getMessage.contains("bucket_key column 'nope'"),
        e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_bad WITH " +
          "(layout = 'range', bucket_key = 'sub') AS " +
          "SELECT grp, sub, COUNT(*) AS n FROM bk_t GROUP BY grp, sub")
      }
      assert(e2.getMessage.contains("LEADING group column"),
        e2.getMessage)
    } finally {
      GraftServer.unregister("bk_t")
      GraftMatviews.reset()
    }
  }
}
