package graft.server

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.bitemporal.Matview

/** What a view refresh derives, and how often. A full rebuild — a
  * CREATE's first build, and every refresh once VACUUM has truncated a
  * log — derives a star's member relation once and shares it with its
  * DISTINCT auxes, and an incremental refresh shares its delta legs the
  * same way; a single-table view, the star with no spokes, keeps its
  * access to `_id` and the temporal columns; every state write keeps
  * one file per bucket directory however few tasks write it; and what a
  * rebuild, refresh or multi-statement tx checkpoints, it releases. */
class MvSharedRebuildSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private val validAt = ts("2030-01-01 00:00:00")

  private def freshTable(payload: Seq[String]): (graft.GraftTable, String) = {
    val dir = Files.createTempDirectory("mv_share").toString
    (new graft.GraftTable(spark, dir, payload), dir)
  }

  /** parquet data files per `_bucket=` directory anywhere under `root` */
  private def filesPerBucket(root: Path): Map[Path, Int] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("_bucket="))
      .map(d => d -> Files.list(d).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet")))
      .toMap
    finally s.close()
  }

  private def assertOneFilePerBucket(root: Path): Unit = {
    val counts = filesPerBucket(root)
    assert(counts.nonEmpty, s"no bucket dirs under $root")
    val bad = counts.filter(_._2 != 1)
    assert(bad.isEmpty, s"bucket dirs without exactly one file: $bad")
  }

  /** Member relations the rebuilds derived while `body` ran. */
  private def derivations(body: => Unit): Seq[String] = {
    val metaLen = "spark.sql.maxMetadataStringLength"
    val prevLen = spark.conf.get(metaLen)
    Matview.capturedPlans.synchronized(Matview.capturedPlans.clear())
    Matview.capturePlans = true
    try { spark.conf.set(metaLen, "16384"); body }
    finally {
      Matview.capturePlans = false
      spark.conf.set(metaLen, prevLen)
    }
    Matview.capturedPlans.synchronized(Matview.capturedPlans.toList)
  }

  test("star rebuild shares one member relation with its DISTINCT auxes " +
      "(fact, dim and expression arguments) through fact and dim VACUUM") {
    val s = spark
    import s.implicits._
    val (fact, fdir) = freshTable(Seq("cust", "code", "amt"))
    val (dim, _) = freshTable(Seq("region", "tier"))
    GraftServer.register("shfact", fact)
    GraftServer.register("shdim", dim)
    try {
      def putDims(rows: Seq[(Long, String, String)], at: String): Unit =
        dim.put(rows.toDF("id", "r", "t"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("region" -> $"r", "tier" -> $"t"), ts(at)): Unit
      def putFacts(rows: Seq[(Long, Long, Long, Long)], at: String): Unit =
        fact.put(rows.toDF("id", "ck", "c", "m"), $"id",
          lit("2020-01-01").cast("timestamp"), None,
          Seq("cust" -> $"ck", "code" -> $"c", "amt" -> $"m"), ts(at)): Unit
      putDims(Seq((1L, "EU", "gold"), (2L, "EU", "silver"),
        (3L, "US", "gold")), "2024-01-01 00:00:00")
      putFacts(Seq((10L, 1L, 100L, 5L), (11L, 1L, 100L, 6L),
        (12L, 2L, 200L, 7L), (13L, 3L, 100L, 8L), (14L, 3L, 300L, -2L)),
        "2024-01-01 00:00:01")

      def read(): Seq[Seq[String]] =
        GraftSql.sql(spark, "SELECT region, n, nd, nt, s2 FROM mv_share " +
          "ORDER BY region").collect().map(_.toSeq.map(String.valueOf)).toSeq
      def scratch(): Seq[Seq[String]] = {
        val f = fact.current().filter($"amt" > 0)
        val d = dim.current()
          .select($"_id".cast("long").as("did"), $"region", $"tier")
        f.join(d, $"cust" === $"did").groupBy($"region")
          .agg(count(lit(1)), count_distinct($"code"),
            count_distinct($"tier"), sum_distinct($"amt" * 2))
          .orderBy($"region").collect()
          .map(_.toSeq.map(String.valueOf)).toSeq
      }
      val stateRoot = java.nio.file.Paths.get(fdir, "join_matview")
      def refresh(): Seq[String] = derivations {
        GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_share").collect()
      }

      // the first build: three auxes, one derivation
      val built = derivations {
        GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_share WITH " +
          "(valid_at = '2030-01-01 00:00:00', buckets = 16) AS " +
          "SELECT region, COUNT(*) AS n, COUNT(DISTINCT code) AS nd, " +
          "COUNT(DISTINCT tier) AS nt, SUM(DISTINCT amt * 2) AS s2 " +
          "FROM shfact JOIN shdim ON cust = shdim._id " +
          "WHERE amt > 0 GROUP BY region")
      }
      assert(built.size == 1, s"first build derived ${built.size} times")
      assert(read() == scratch())
      assert(read() == Seq(Seq("EU", "3", "2", "2", "36"),
        Seq("US", "1", "1", "1", "16")))
      assertOneFilePerBucket(stateRoot)

      // fact ops (a code change, a WHERE crossing, a delete), then
      // VACUUM the fact log: the refresh is a full rebuild, and the one
      // derivation reads the compacted fact base once
      putFacts(Seq((11L, 1L, 400L, 6L), (14L, 3L, 300L, 9L)),
        "2024-01-02 00:00:00")
      fact.delete(Seq(13L).toDF("id"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> lit(null).cast("long"),
          "code" -> lit(null).cast("long"),
          "amt" -> lit(null).cast("long")), ts("2024-01-02 00:00:01"))
      fact.vacuumLog()
      val afterFact = refresh()
      assert(afterFact.size == 1,
        s"fact-VACUUM rebuild derived ${afterFact.size} times")
      val baseScans = afterFact.head.sliding(s"$fdir/base".length)
        .count(_ == s"$fdir/base")
      assert(baseScans == 1, s"fact base scanned $baseScans times")
      assert(read() == scratch())
      assertOneFilePerBucket(stateRoot)

      // dim group-move and tier change with no fact op, then VACUUM the
      // dim log: every later refresh rebuilds through the dim truncation
      putDims(Seq((2L, "US", "bronze"), (3L, "US", "silver")),
        "2024-01-03 00:00:00")
      dim.vacuumLog()
      val afterDim = refresh()
      assert(afterDim.size == 1,
        s"dim-VACUUM rebuild derived ${afterDim.size} times")
      assert(read() == scratch())
      assertOneFilePerBucket(stateRoot)
      putFacts(Seq((15L, 2L, 500L, 4L)), "2024-01-04 00:00:00")
      assert(refresh().size == 1)
      assert(read() == scratch())
      assertOneFilePerBucket(stateRoot)

      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_share")
    } finally {
      GraftServer.unregister("shfact")
      GraftServer.unregister("shdim")
      GraftMatviews.reset()
    }
  }

  test("star incremental refresh shares its delta legs with the " +
      "DISTINCT auxes: the fact's touched history is derived once") {
    val s = spark
    import s.implicits._
    val (fact, fdir) = freshTable(Seq("cust", "code", "amt"))
    val (dim, _) = freshTable(Seq("region"))
    GraftServer.register("sdfact", fact)
    GraftServer.register("sddim", dim)
    try {
      dim.put(Seq((1L, "EU"), (2L, "US"), (3L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None, Seq("region" -> $"r"),
        ts("2024-01-01 00:00:00"))
      fact.put(Seq((10L, 1L, 100L, 5L), (11L, 1L, 100L, 6L),
          (12L, 2L, 200L, 7L), (13L, 3L, 100L, 8L)).toDF("id", "ck", "c", "m"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "code" -> $"c", "amt" -> $"m"),
        ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_sd WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, COUNT(*) AS n, COUNT(DISTINCT code) AS nd, " +
        "SUM(DISTINCT amt) AS sa FROM sdfact JOIN sddim ON cust = sddim._id " +
        "GROUP BY region")
      def read(): Seq[Seq[String]] =
        GraftSql.sql(spark, "SELECT region, n, nd, sa FROM mv_sd " +
          "ORDER BY region").collect().map(_.toSeq.map(String.valueOf)).toSeq
      def scratch(): Seq[Seq[String]] = {
        val d = dim.current().select($"_id".cast("long").as("did"), $"region")
        fact.current().join(d, $"cust" === $"did").groupBy($"region")
          .agg(count(lit(1)), count_distinct($"code"), sum_distinct($"amt"))
          .orderBy($"region").collect()
          .map(_.toSeq.map(String.valueOf)).toSeq
      }
      assert(read() == scratch())

      // fact-only ops: the parent folds the touched ids' history once,
      // and both auxes adopt its legs instead of deriving their own
      fact.dml("sdfact", "UPDATE sdfact SET code = 300L WHERE _id = 10",
        ts("2024-01-02 00:00:00"))
      fact.dml("sdfact", "DELETE FROM sdfact WHERE _id = 13",
        ts("2024-01-02 00:00:01"))
      val histories = derivations {
        GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_sd").collect()
      }.count(_.contains(s"$fdir/log"))
      assert(histories == 1, s"fact history derived $histories times")
      assert(read() == scratch())
      assert(read() == Seq(Seq("EU", "2", "2", "11"), Seq("US", "1", "1", "7")))

      // fact and dim ops in one refresh: still exact
      dim.put(Seq((3L, "EU")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None, Seq("region" -> $"r"),
        ts("2024-01-03 00:00:00"))
      fact.dml("sdfact", "INSERT INTO sdfact (_id, cust, code, amt) " +
        "VALUES (14, 3L, 100L, 9L), (15, 2L, 200L, 7L)", ts("2024-01-03 00:00:01"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_sd").collect()
      assert(read() == scratch())
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_sd")
    } finally {
      GraftServer.unregister("sdfact")
      GraftServer.unregister("sddim")
      GraftMatviews.reset()
    }
  }

  test("single-table view: a WHERE on _valid_from and a GROUP BY over " +
      "_id match a recompute through CREATE, UPDATE, DELETE and REFRESH") {
    val s = spark
    import s.implicits._
    val (t, _) = freshTable(Seq("g", "v"))
    GraftServer.register("vfsingle", t)
    try {
      t.put(Seq((1L, 5L), (2L, 6L), (3L, 7L), (4L, 8L), (5L, 9L))
          .toDF("id", "v"), $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("g" -> lit("x"), "v" -> $"v"), ts("2024-01-01 00:00:00"))
      // valid from 2025-06: outside the view's WHERE from the start
      t.put(Seq((6L, 1L)).toDF("id", "v"), $"id",
        lit("2025-06-01").cast("timestamp"), None,
        Seq("g" -> lit("x"), "v" -> $"v"), ts("2024-01-01 00:00:01"))
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_vf WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT _id % 3 AS b, COUNT(*) AS n, SUM(v) AS s FROM vfsingle " +
        "WHERE _valid_from < '2025-01-01' GROUP BY _id % 3")
      def read(): Seq[Seq[String]] =
        GraftSql.sql(spark, "SELECT b, n, s FROM mv_vf ORDER BY b").collect()
          .map(_.toSeq.map(String.valueOf)).toSeq
      def scratch(): Seq[Seq[String]] =
        graft.bitemporal.Bitemporal.asOf(t.rectangles(), lit(validAt),
            lit(ts("9998-01-01 00:00:00")))
          .filter($"_valid_from" < lit("2025-01-01").cast("timestamp"))
          .groupBy(($"_id" % 3).as("b")).agg(count(lit(1)), sum($"v"))
          .orderBy($"b").collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(read() == scratch())
      assert(read() == Seq(Seq("0", "1", "7"), Seq("1", "2", "13"),
        Seq("2", "2", "15")))

      // an update that stays in the WHERE, one whose new version leaves
      // it (valid from 2025-06), a delete and an insert
      t.dml("vfsingle", "UPDATE vfsingle SET v = v + 100 WHERE _id = 1",
        ts("2024-01-02 00:00:00"))
      t.dml("vfsingle", "UPDATE vfsingle SET v = 0L WHERE _id = 2",
        ts("2025-06-01 00:00:00"))
      t.dml("vfsingle", "DELETE FROM vfsingle WHERE _id = 3",
        ts("2025-06-01 00:00:01"))
      t.dml("vfsingle", "INSERT INTO vfsingle (_id, _valid_from, g, v) " +
        "VALUES (7, TIMESTAMP '2024-02-01 00:00:00', 'x', 20L)",
        ts("2025-06-01 00:00:02"))
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_vf").collect()
      assert(read() == scratch())
      assert(read() == Seq(Seq("1", "3", "133"), Seq("2", "1", "9")))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_vf")
    } finally {
      GraftServer.unregister("vfsingle")
      GraftMatviews.reset()
    }
  }

  test("state writes with buckets > shuffle partitions keep one file " +
      "per bucket dir: first build, incremental refresh, rebuild") {
    val s = spark
    import s.implicits._
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt < 16)
    val (t, dir) = freshTable(Seq("g", "v"))
    def put(rows: Seq[(Long, String, Long)], at: String): Unit =
      t.put(rows.toDF("id", "g", "v"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("g" -> $"g", "v" -> $"v"), ts(at)): Unit
    put((1L to 40L).map(i => (i, s"g${i % 30}", i)), "2024-01-01 00:00:00")
    val mv = t.matview("lay", Seq("g"), Seq("v"), validAt, nBuckets = Some(16))
    val stateDir = java.nio.file.Paths.get(dir, "matview", "lay", "state")
    def truth: Map[String, (Long, Long)] = t.current().groupBy($"g")
      .agg(count(lit(1)), sum($"v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def served: Map[String, (Long, Long)] = mv.read().collect()
      .map(r => r.getString(r.fieldIndex("g")) ->
        (r.getLong(r.fieldIndex("n")), r.getLong(r.fieldIndex("sum_v"))))
      .toMap

    mv.refresh()
    assertOneFilePerBucket(stateDir)
    assert(filesPerBucket(stateDir).size > 4,
      "more bucket dirs than write tasks")
    put(Seq((41L, "g1", 100L), (2L, "g7", 5L)), "2024-01-02 00:00:00")
    mv.refresh()
    assertOneFilePerBucket(stateDir)
    assert(served == truth)
    t.vacuumLog()
    put(Seq((42L, "g3", 7L)), "2024-01-03 00:00:00")
    mv.refresh()
    assertOneFilePerBucket(stateDir)
    assert(served == truth)
  }

  test("no graft checkpoint outlives a DISTINCT star CREATE, a " +
      "3-statement tx or a refresh") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val name = org.apache.spark.sql.graftbridge.RddBridge.CheckpointName
    def held(): Set[Int] = sc.getPersistentRDDs.collect {
      case (id, r) if r.name == name => id
    }.toSet
    val (fact, _) = freshTable(Seq("cust", "code"))
    val (dim, _) = freshTable(Seq("region"))
    GraftServer.register("relfact", fact)
    GraftServer.register("reldim", dim)
    try {
      dim.put(Seq((1L, "EU"), (2L, "US")).toDF("id", "r"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("region" -> $"r"), ts("2024-01-01 00:00:00"))
      fact.put(Seq((10L, 1L, 7L), (11L, 2L, 8L), (12L, 2L, 9L))
          .toDF("id", "ck", "c"), $"id",
        lit("2020-01-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "code" -> $"c"), ts("2024-01-01 00:00:01"))
      val before = held()
      GraftSql.sql(spark, "CREATE MATERIALIZED VIEW mv_rel WITH " +
        "(valid_at = '2030-01-01 00:00:00', buckets = 4) AS " +
        "SELECT region, COUNT(*) AS n, COUNT(DISTINCT code) AS nd " +
        "FROM relfact JOIN reldim ON cust = reldim._id GROUP BY region")
      assert(held() -- before == Set.empty, "CREATE left a checkpoint")
      fact.dmlTx("relfact", Seq(
        "UPDATE relfact SET code = 70 WHERE _id = 10",
        "DELETE FROM relfact WHERE _id = 11",
        "INSERT INTO relfact (_id, cust, code) VALUES (13, 1, 9)"),
        ts("2024-01-02 00:00:00"))
      assert(held() -- before == Set.empty, "the tx left a checkpoint")
      GraftSql.sql(spark, "REFRESH MATERIALIZED VIEW mv_rel").collect()
      assert(held() -- before == Set.empty, "the refresh left a checkpoint")
      assert(GraftSql.sql(spark, "SELECT region, n, nd FROM mv_rel " +
          "ORDER BY region").collect().map(_.toSeq).toSeq ==
        Seq(Seq("EU", 2L, 2L), Seq("US", 1L, 1L)))
      GraftSql.sql(spark, "DROP MATERIALIZED VIEW mv_rel")
    } finally {
      GraftServer.unregister("relfact")
      GraftServer.unregister("reldim")
      GraftMatviews.reset()
    }
  }

  test("a column named _sign is refused: DDL and constructors, both " +
      "view kinds") {
    val (signed, _) = freshTable(Seq("g", "_sign"))
    val (fact, _) = freshTable(Seq("cust", "amt"))
    val (dim, _) = freshTable(Seq("region", "_SIGN"))
    GraftServer.register("sgsingle", signed)
    GraftServer.register("sgfact", fact)
    GraftServer.register("sgdim", dim)
    try {
      val e1 = intercept[IllegalArgumentException](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_sg1 WITH " +
          "(valid_at = '2030-01-01 00:00:00') AS SELECT g, COUNT(*) AS n " +
          "FROM sgsingle GROUP BY g"))
      assert(e1.getMessage.contains("reserved"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](GraftSql.sql(spark,
        "CREATE MATERIALIZED VIEW mv_sg2 WITH " +
          "(valid_at = '2030-01-01 00:00:00') AS SELECT region, COUNT(*) AS n " +
          "FROM sgfact JOIN sgdim ON cust = sgdim._id GROUP BY region"))
      assert(e2.getMessage.contains("reserved"), e2.getMessage)
      val e3 = intercept[IllegalArgumentException](
        signed.matview("sg3", Seq("g"), Nil, validAt))
      assert(e3.getMessage.contains("reserved"), e3.getMessage)
      val (dim2, _) = freshTable(Seq("region"))
      val e4 = intercept[IllegalArgumentException](
        fact.matview("sg4", Seq("region"), Nil, validAt, Seq(dim2 -> "cust"),
          derived = Seq("_sign" -> "amt * 2")))
      assert(e4.getMessage.contains("reserved"), e4.getMessage)
    } finally {
      Seq("sgsingle", "sgfact", "sgdim").foreach(GraftServer.unregister)
      GraftMatviews.reset()
    }
  }
}
