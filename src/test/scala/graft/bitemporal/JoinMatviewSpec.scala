package graft.bitemporal

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTable, TestSpark}

/** Join-IVM parity: every refresh of the fact⋈dim aggregate view must
  * land on exactly the state a from-scratch recompute of the join
  * would produce — including the case with NO fact ops at all (a dim
  * group-move re-groups every referencing fact), which is the part
  * single-table IVM can't express. */
class JoinMatviewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val validAt = ts("2030-01-01 00:00:00")
  private val sysProbe = ts("9998-01-01 00:00:00")
  private var sysTick = 0
  private def sys(): Timestamp = { sysTick += 1; ts(f"2020-01-01 00:00:$sysTick%02d") }

  private def fresh(): (GraftTable, GraftTable, String) = {
    val fdir = java.nio.file.Files.createTempDirectory("graft_jmv_f").toString
    val ddir = java.nio.file.Files.createTempDirectory("graft_jmv_d").toString
    (new GraftTable(spark, fdir, Seq("cust", "amt")),
      new GraftTable(spark, ddir, Seq("region")), fdir)
  }

  /** Ground truth: full recompute of the join view from both tables. */
  private def recompute(fact: GraftTable, dim: GraftTable)
      : Map[String, (Long, java.math.BigDecimal)] = {
    val vf = Bitemporal.asOf(fact.rectangles(), lit(validAt), lit(sysProbe))
      .select($"cust", $"amt")
    val vd = Bitemporal.asOf(dim.rectangles(), lit(validAt), lit(sysProbe))
      .select($"_id".cast("long").as("_did"), $"region")
    vf.join(vd, $"cust".cast("long") === $"_did")
      .groupBy($"region").agg(count(lit(1)).as("n"), sum($"amt").as("s"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2)))
      .toMap
  }

  private def viewState(mv: JoinMatview): Map[String, (Long, java.math.BigDecimal)] =
    mv.read().collect()
      .map(r => (r.getString(r.fieldIndex("region")),
        (r.getLong(r.fieldIndex("n")),
          r.getDecimal(r.fieldIndex("sum_amt")))))
      .toMap

  private def assertParity(mv: JoinMatview, fact: GraftTable,
                           dim: GraftTable): Unit = {
    val want = recompute(fact, dim)
    val got = viewState(mv)
    assert(got.keySet == want.keySet, s"groups: $got vs $want")
    want.foreach { case (g, (n, s)) =>
      val (gn, gs) = got(g)
      assert(gn == n, s"group $g count: $gn != $n")
      assert(gs.compareTo(s) == 0, s"group $g sum: $gs != $s")
    }
  }

  private def putDims(dim: GraftTable, rows: Seq[(Long, String)]): Unit =
    dim.put(rows.toDF("id", "rg"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("region" -> $"rg"), sys()): Unit

  private def putFacts(fact: GraftTable,
                       rows: Seq[(Long, Long, String)]): Unit =
    fact.put(rows.toDF("id", "c", "m"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("cust" -> $"c", "amt" -> $"m".cast("decimal(12,2)")), sys()): Unit

  test("join view parity: fact ops, dim group-move, deletes, both tails") {
    val (fact, dim, _) = fresh()
    val mv = fact.joinMatview("by_region", dim, "cust", "region",
      Seq("amt"), validAt, nBuckets = 8)

    putDims(dim, Seq((1L, "east"), (2L, "east"), (3L, "west")))
    putFacts(fact, Seq((10L, 1L, "10.00"), (11L, 1L, "20.00"),
      (12L, 2L, "5.50"), (13L, 3L, "7.25")))
    mv.refresh()
    assertParity(mv, fact, dim)

    // fact-only tail: insert + value update + delete
    putFacts(fact, Seq((14L, 3L, "100.00"))) // new fact
    putFacts(fact, Seq((10L, 1L, "11.00"))) // update amt
    fact.delete(Seq(12L).toDF("id"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("cust" -> lit(null).cast("long"),
        "amt" -> lit(null).cast("decimal(12,2)")), sys())
    mv.refresh()
    assertParity(mv, fact, dim)

    // dim-only tail: GROUP MOVE — dim 1 relocates east → west; facts
    // 10/11 re-group with zero fact ops (the join-IVM case)
    putDims(dim, Seq((1L, "west")))
    mv.refresh()
    assertParity(mv, fact, dim)
    assert(viewState(mv)("west")._1 == 4L, viewState(mv))

    // dim delete: inner join drops dim 2's facts from the view
    dim.delete(Seq(2L).toDF("id"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("region" -> lit(null).cast("string")), sys())
    mv.refresh()
    assertParity(mv, fact, dim)

    // BOTH tails in one refresh: new dim + facts referencing it + a
    // second group move back
    putDims(dim, Seq((4L, "north"), (1L, "east")))
    putFacts(fact, Seq((15L, 4L, "1.25"), (16L, 4L, "2.75")))
    mv.refresh()
    assertParity(mv, fact, dim)
    assert(viewState(mv)("north") == ((2L, new java.math.BigDecimal("4.00"))))

    // fact erase (history removal) folds through refresh too
    fact.erase(Seq(13L).toDF("id"), $"id",
      Seq("cust" -> lit(null).cast("long"),
        "amt" -> lit(null).cast("decimal(12,2)")), sys())
    mv.refresh()
    assertParity(mv, fact, dim)

    // no-op refresh: watermarks already current
    val w = mv.watermarks
    assert(mv.refresh() == w)
  }

  test("LEFT-join view parity: NULL and dangling fks ride as " +
      "null-extended rows; a dim put/delete moves facts between the " +
      "matched and null-extended groups with zero fact ops") {
    val (fact, dim, _) = fresh()
    val mv = fact.starMatview("left_by_region", Seq(dim -> "cust"),
      Seq("region"), Seq("amt"), validAt, nBuckets = 8,
      leftJoins = Seq(true))
    def recomputeLeft(): Map[String, (Long, java.math.BigDecimal)] = {
      val vf = Bitemporal.asOf(fact.rectangles(), lit(validAt), lit(sysProbe))
        .select($"cust", $"amt")
      val vd = Bitemporal.asOf(dim.rectangles(), lit(validAt), lit(sysProbe))
        .select($"_id".cast("long").as("_did"), $"region")
      vf.join(vd, $"cust".cast("long") === $"_did", "left")
        .groupBy($"region").agg(count(lit(1)).as("n"), sum($"amt").as("s"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2)))
        .toMap
    }
    def assertLeftParity(): Unit = {
      val want = recomputeLeft()
      val got = viewState(mv)
      assert(got.keySet == want.keySet, s"groups: $got vs $want")
      want.foreach { case (g, (n, s)) =>
        val (gn, gs) = got(g)
        assert(gn == n, s"group $g count: $gn != $n")
        assert(gs.compareTo(s) == 0, s"group $g sum: $gs != $s")
      }
    }
    def putFactsN(rows: Seq[(Long, Option[Long], String)]): Unit =
      fact.put(rows.map(r => (r._1, r._2.map(Long.box).orNull, r._3))
          .toDF("id", "c", "m"), $"id",
        lit("2000-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "amt" -> $"m".cast("decimal(12,2)")),
        sys()): Unit

    putDims(dim, Seq((10L, "EU"), (20L, "US")))
    // fact 3 has a NULL fk, fact 4 a DANGLING one (no dim 99 yet)
    putFactsN(Seq((1L, Some(10L), "5.00"), (2L, Some(20L), "7.00"),
      (3L, None, "1.00"), (4L, Some(99L), "2.00")))
    mv.refresh()
    assertLeftParity()
    assert(viewState(mv)(null) == ((2L, new java.math.BigDecimal("3.00"))),
      viewState(mv).toString)

    // the dangling dim APPEARS: fact 4 moves NULL-group → AP with zero
    // fact ops (the left-join twist on the dim-touched case)
    putDims(dim, Seq((99L, "AP")))
    mv.refresh()
    assertLeftParity()
    assert(viewState(mv)("AP") == ((1L, new java.math.BigDecimal("2.00"))))
    assert(viewState(mv)(null)._1 == 1L)

    // dim group-move still re-groups matched facts
    putDims(dim, Seq((20L, "EU")))
    mv.refresh()
    assertLeftParity()

    // dim DELETE: fact 1 falls back to the null-extended group instead
    // of leaving the view (the inner-join behavior)
    dim.delete(Seq(10L).toDF("id"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("region" -> lit(null).cast("string")), sys())
    mv.refresh()
    assertLeftParity()
    assert(viewState(mv)(null) == ((2L, new java.math.BigDecimal("6.00"))),
      viewState(mv).toString)

    // fact ops inside the null-extended group: value update + delete
    putFactsN(Seq((3L, None, "1.50")))
    fact.delete(Seq(4L).toDF("id"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("cust" -> lit(null).cast("long"),
        "amt" -> lit(null).cast("decimal(12,2)")), sys())
    mv.refresh()
    assertLeftParity()

    // both tails at once: dim 10 resurrects while a new dangling fact
    // arrives
    putDims(dim, Seq((10L, "EU")))
    putFactsN(Seq((5L, Some(77L), "9.00")))
    mv.refresh()
    assertLeftParity()
    assert(viewState(mv)(null) == ((2L, new java.math.BigDecimal("10.50"))),
      viewState(mv).toString)

    // no-op refresh
    val w = mv.watermarks
    assert(mv.refresh() == w)
  }

  test("incrementality: a refresh touching one group rewrites only its bucket") {
    val (fact, dim, fdir) = fresh()
    // many groups so they land in distinct buckets
    val n = 24
    putDims(dim, (1L to n.toLong).map(i => (i, s"r$i")))
    putFacts(fact, (1L to n.toLong).map(i => (100 + i, i, "10.00")))
    val mv = fact.joinMatview("by_region", dim, "cust", "region",
      Seq("amt"), validAt, nBuckets = 16)
    mv.refresh()

    // bucket dirs live under the fact table's dir/join_matview/<name>/state
    val stateDir = new java.io.File(s"$fdir/join_matview/by_region/state")
    def bucketMtimes(): Map[String, Long] =
      stateDir.listFiles().filter(_.getName.startsWith("_bucket="))
        .flatMap(d => d.listFiles().map(f =>
          s"${d.getName}/${f.getName}" -> f.lastModified())).toMap

    val before = bucketMtimes()
    Thread.sleep(1100) // parquet mtime granularity
    putFacts(fact, Seq((999L, 1L, "5.00"))) // touches group r1 only
    mv.refresh()
    val after = bucketMtimes()
    assertParity(mv, fact, dim)
    // a rewritten bucket swaps in files with NEW names: changed = any
    // key added, removed, or re-timestamped, in either direction
    val changed = (after.keySet ++ before.keySet).filter(k =>
      before.get(k) != after.get(k))
    val changedBuckets = changed.map(_.split("/")(0))
    assert(changedBuckets.size <= 2, s"buckets rewritten: $changedBuckets")
    val untouched = before.keySet -- changed
    assert(untouched.nonEmpty, "some buckets must survive untouched")
    untouched.foreach(k => assert(before(k) == after(k)))
  }

  test("continuous maintenance: EITHER log's new txs trigger refresh to parity") {
    val (fact, dim, fdir) = fresh()
    val ddir = {
      // dim's dir isn't returned by fresh(); recover it from the log
      // files the put below creates — simpler: make a dedicated pair
      java.nio.file.Files.createTempDirectory("graft_jmv_d2").toString
    }
    val dim2 = new GraftTable(spark, ddir, Seq("region"))
    putDims(dim2, Seq((1L, "east"), (2L, "west")))
    putFacts(fact, Seq((10L, 1L, "10.00"), (11L, 2L, "20.00")))
    val mv = fact.joinMatview("live", dim2, "cust", "region",
      Seq("amt"), validAt, nBuckets = 4)
    val fSchema = spark.read.option("mergeSchema", "true")
      .parquet(s"$fdir/log/tx_*").schema
    val dSchema = spark.read.option("mergeSchema", "true")
      .parquet(s"$ddir/log/tx_*").schema
    val ckpt = java.nio.file.Files.createTempDirectory("graft_jmv_ckpt").toString
    def drain(): Unit = {
      val q = graft.streaming.Streaming.maintainJoinMatview(spark,
        fdir, fSchema, ddir, dSchema, mv,
        checkpoint = Some(ckpt), availableNow = true)
      q.awaitTermination()
    }
    drain()
    assertParity(mv, fact, dim2)

    // while the maintainer is DOWN: a fact tx AND a dim group-move;
    // the restarted maintainer folds both (batches may straddle logs)
    putFacts(fact, Seq((12L, 1L, "5.00")))
    putDims(dim2, Seq((2L, "east")))
    drain()
    assertParity(mv, fact, dim2)

    // dim-ONLY tail: the dim stream alone must trigger the refresh
    putDims(dim2, Seq((1L, "west")))
    drain()
    assertParity(mv, fact, dim2)

    // idempotence: nothing new → state unchanged
    val before = viewState(mv)
    drain()
    assert(viewState(mv) == before)
  }

  test("empty join results never poison the state (schema sidecar)") {
    // first build with DANGLING fks: nothing matches → the state dir
    // has no parquet data files; reads and refreshes must keep working
    val (fact, dim, _) = fresh()
    putDims(dim, Seq((1L, "east")))
    putFacts(fact, Seq((10L, 777L, "10.00"))) // fk 777 matches no dim
    val mv = fact.joinMatview("empty", dim, "cust", "region",
      Seq("amt"), validAt, nBuckets = 4)
    mv.refresh()
    assert(mv.read().collect().isEmpty)
    mv.refresh() // second refresh over empty state: no crash, no-op
    assert(mv.read().collect().isEmpty)

    // facts arrive that DO match → incremental refresh fills the view
    putFacts(fact, Seq((11L, 1L, "5.00")))
    mv.refresh()
    assertParity(mv, fact, dim)

    // then every matching fact leaves → all buckets empty again
    fact.delete(Seq(11L).toDF("id"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("cust" -> lit(null).cast("long"),
        "amt" -> lit(null).cast("decimal(12,2)")), sys())
    mv.refresh()
    assert(mv.read().collect().isEmpty)
    mv.refresh()
    assert(mv.read().collect().isEmpty)
  }

  /** Ground truth including extremes. */
  private def recomputeMM(fact: GraftTable, dim: GraftTable)
      : Map[String, (Long, java.math.BigDecimal, java.math.BigDecimal,
        java.math.BigDecimal)] = {
    val vf = Bitemporal.asOf(fact.rectangles(), lit(validAt), lit(sysProbe))
      .select($"cust", $"amt")
    val vd = Bitemporal.asOf(dim.rectangles(), lit(validAt), lit(sysProbe))
      .select($"_id".cast("long").as("_did"), $"region")
    vf.join(vd, $"cust".cast("long") === $"_did")
      .groupBy($"region").agg(count(lit(1)).as("n"), sum($"amt").as("s"),
        min($"amt").as("mn"), max($"amt").as("mx"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2), r.getDecimal(3), r.getDecimal(4)))
      .toMap
  }

  private def assertParityMM(mv: JoinMatview, fact: GraftTable,
                             dim: GraftTable): Unit = {
    val want = recomputeMM(fact, dim)
    val got = mv.read().collect()
      .map(r => r.getString(r.fieldIndex("region")) ->
        (r.getLong(r.fieldIndex("n")),
          r.getDecimal(r.fieldIndex("sum_amt")),
          r.getDecimal(r.fieldIndex("min_amt")),
          r.getDecimal(r.fieldIndex("max_amt"))))
      .toMap
    assert(got.keySet == want.keySet, s"groups: $got vs $want")
    want.foreach { case (g, (n, s, mn, mx)) =>
      val (gn, gs, gmn, gmx) = got(g)
      assert(gn == n, s"group $g count: $gn != $n")
      assert(gs.compareTo(s) == 0, s"group $g sum: $gs != $s")
      assert(gmn.compareTo(mn) == 0, s"group $g min: $gmn != $mn")
      assert(gmx.compareTo(mx) == 0, s"group $g max: $gmx != $mx")
    }
  }

  test("join view MIN/MAX: touched-group re-read across the join stays " +
      "exact through extreme-removal on either side") {
    val (fact, dim, _) = fresh()
    val mv = fact.joinMatview("mm", dim, "cust", "region",
      Seq("amt"), validAt, nBuckets = 8,
      minCols = Seq("amt"), maxCols = Seq("amt"))

    putDims(dim, Seq((1L, "east"), (2L, "east"), (3L, "west")))
    putFacts(fact, Seq((10L, 1L, "10.00"), (11L, 1L, "99.00"),
      (12L, 2L, "5.50"), (13L, 3L, "7.25"), (14L, 3L, "70.00")))
    mv.refresh()
    assertParityMM(mv, fact, dim)

    // FACT side strips extremes: delete east's max (11), update west's
    // min upward (13) — neither is derivable from stored state
    fact.delete(Seq(11L).toDF("id"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("cust" -> lit(null).cast("long"),
        "amt" -> lit(null).cast("decimal(12,2)")), sys())
    putFacts(fact, Seq((13L, 3L, "80.00")))
    mv.refresh()
    assertParityMM(mv, fact, dim)

    // DIM side strips an extreme with ZERO fact ops: dim 2 (holder of
    // east's current max 5.50 after the delete... make it the max
    // first) — put a big fact on dim 2, refresh, then MOVE dim 2 west:
    // east loses its max purely through the dim log
    putFacts(fact, Seq((15L, 2L, "500.00")))
    mv.refresh()
    assertParityMM(mv, fact, dim)
    putDims(dim, Seq((2L, "west")))
    mv.refresh()
    assertParityMM(mv, fact, dim)

    // dim delete: east's remaining facts (dim 1) keep extremes exact
    dim.delete(Seq(2L).toDF("id"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("region" -> lit(null).cast("string")), sys())
    mv.refresh()
    assertParityMM(mv, fact, dim)

    // both tails at once: new dim + facts + an erase of a current max
    putDims(dim, Seq((4L, "north"), (2L, "east")))
    putFacts(fact, Seq((16L, 4L, "3.00"), (17L, 4L, "4.00")))
    fact.erase(Seq(14L).toDF("id"), $"id",
      Seq("cust" -> lit(null).cast("long"),
        "amt" -> lit(null).cast("decimal(12,2)")), sys())
    mv.refresh()
    assertParityMM(mv, fact, dim)

    // restart + truncation: rebuild path carries the extremes too
    fact.compact(); fact.vacuumLog()
    putFacts(fact, Seq((18L, 1L, "0.50")))
    val mv2 = fact.joinMatview("mm", dim, "cust", "region",
      Seq("amt"), validAt, nBuckets = 8,
      minCols = Seq("amt"), maxCols = Seq("amt"))
    mv2.refresh()
    assertParityMM(mv2, fact, dim)
  }

  test("fk-clustered fact base: dim-touched refresh pushes a literal In " +
      "that prunes fact files") {
    val fdir = java.nio.file.Files.createTempDirectory("graft_jmv_fc").toString
    val ddir = java.nio.file.Files.createTempDirectory("graft_jmv_fcd").toString
    // the fact table clusters its base by the fk column — the turnkey
    // form of the mitigation JoinMatview's cost model documents
    val fact = new GraftTable(spark, fdir, Seq("cust", "amt"),
      clusterBy = Seq("cust"))
    val dim = new GraftTable(spark, ddir, Seq("region"))
    putDims(dim, (1L to 16L).map(i => (i, s"r${i % 4}")))
    putFacts(fact, (1L to 4096L).map(i => (1000 + i, (i % 16) + 1, "1.00")))
    // shrink the write targets so the base splits into several files
    // (parallelismFirst coalesces down to minPartitionSize, so that is
    // the one that must shrink — same as GraftTableSpec's pruning test)
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "4096"))
    try fact.compact()
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    // footer proof (ZOrderSpec pattern): base files carry TIGHT fk
    // stats — most files' [min,max] exclude any single fk value
    val baseFiles = ChunkMetadata.forPaths(spark, Seq(s"$fdir/base"))
      .filter(col("column") === "cust")
      .groupBy(col("file"))
      .agg(min(col("min").cast("long")).as("mn"),
        max(col("max").cast("long")).as("mx"))
    val total = baseFiles.count().toDouble
    assert(total >= 4, s"need a multi-file base to prove pruning, got $total")
    val admit = baseFiles.filter(col("mn") <= 5 && col("mx") >= 5)
      .count().toDouble
    assert(admit / total <= 0.5,
      s"fk-clustered base must prune: $admit of $total files admit cust=5")

    val mv = fact.joinMatview("fc", dim, "cust", "region",
      Seq("amt"), validAt, nBuckets = 4)
    mv.refresh()
    assertParity(mv, fact, dim)

    // dim-ONLY group move; capture the refresh's delta plan (the
    // checkpoint runs as a bare RDD job, invisible to listeners — the
    // JoinMatview test hook snapshots the executed plan instead) and
    // assert the fact side is filtered by a PUSHED literal In(cust),
    // which the parquet reader turns into footer-stat skipping over the
    // clustered files — not a semi-join that scans every fact file
    putDims(dim, Seq((5L, "moved")))
    val metaLen = "spark.sql.maxMetadataStringLength"
    val prevLen = spark.conf.get(metaLen)
    JoinMatview.capturedPlans.synchronized(JoinMatview.capturedPlans.clear())
    JoinMatview.capturePlans = true
    try {
      spark.conf.set(metaLen, "16384") // default 100 truncates PushedFilters
      mv.refresh()
    } finally {
      JoinMatview.capturePlans = false
      spark.conf.set(metaLen, prevLen)
    }
    assertParity(mv, fact, dim)
    // a 1-element In may fold to EqualTo; both are pushed predicates
    val factScans = JoinMatview.capturedPlans.synchronized {
      JoinMatview.capturedPlans.filter(p => p.contains(s"$fdir/base") &&
        (p.contains("In(cust") || p.contains("EqualTo(cust")))
    }
    assert(factScans.nonEmpty,
      "no refresh delta plan pushed In/EqualTo(cust, ...) into the fact base scan")
  }

  test("star refresh ORs both dims' touched-id predicates into ONE " +
      "pushed fact filter") {
    val s = spark
    import s.implicits._
    val fdir = java.nio.file.Files.createTempDirectory("graft_star_f").toString
    val d1 = new GraftTable(spark,
      java.nio.file.Files.createTempDirectory("graft_star_d1").toString,
      Seq("region"))
    val d2 = new GraftTable(spark,
      java.nio.file.Files.createTempDirectory("graft_star_d2").toString,
      Seq("cat"))
    val fact = new GraftTable(spark, fdir, Seq("cust", "prod", "amt"))
    putDims(d1, Seq((1L, "east"), (2L, "west"), (3L, "north")))
    d2.put(Seq((10L, "hw"), (11L, "sw")).toDF("id", "c"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("cat" -> $"c"), sys()): Unit
    fact.put((1L to 40L).map(i => (i, i % 3 + 1, 10L + i % 2, i))
        .toDF("id", "c", "p", "m"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("cust" -> $"c", "prod" -> $"p",
        "amt" -> $"m".cast("decimal(12,2)")), sys()): Unit
    val mv = fact.starMatview("star_pred", Seq(d1 -> "cust", d2 -> "prod"),
      Seq("region", "cat"), Seq("amt"), validAt, nBuckets = 4)
    mv.refresh()

    // one refresh with BOTH dims touched (zero fact ops): the affected
    // facts must come from a SINGLE disjunction filter over the fact
    // relation — In(cust,...) OR In(prod,...) in one plan — not two
    // passes unioned
    putDims(d1, Seq((2L, "moved")))
    d2.put(Seq((11L, "svc")).toDF("id", "c"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("cat" -> $"c"), sys()): Unit
    val metaLen = "spark.sql.maxMetadataStringLength"
    val prevLen = spark.conf.get(metaLen)
    JoinMatview.capturedPlans.synchronized(JoinMatview.capturedPlans.clear())
    JoinMatview.capturePlans = true
    try {
      spark.conf.set(metaLen, "16384")
      mv.refresh()
    } finally {
      JoinMatview.capturePlans = false
      spark.conf.set(metaLen, prevLen)
    }
    def hasPred(p: String, c: String) =
      p.contains(s"In($c") || p.contains(s"EqualTo($c") ||
        p.contains(s"$c#") && p.contains(" OR ")
    val both = JoinMatview.capturedPlans.synchronized {
      JoinMatview.capturedPlans.filter(p =>
        hasPred(p, "cust") && hasPred(p, "prod"))
    }
    assert(both.nonEmpty,
      "no delta plan carries BOTH dims' touched predicates in one pass: " +
        JoinMatview.capturedPlans.synchronized(
          JoinMatview.capturedPlans.mkString("\n---\n")).take(2000))

    // and the result is exactly the from-scratch star
    val got = mv.read().collect()
      .map(r => ((r.getString(r.fieldIndex("region")),
        r.getString(r.fieldIndex("cat"))),
        (r.getLong(r.fieldIndex("n")),
          r.getDecimal(r.fieldIndex("sum_amt"))))).toMap
    val vf = Bitemporal.asOf(fact.rectangles(), lit(validAt), lit(sysProbe))
    val v1 = Bitemporal.asOf(d1.rectangles(), lit(validAt), lit(sysProbe))
      .select($"_id".cast("long").as("k1"), $"region")
    val v2 = Bitemporal.asOf(d2.rectangles(), lit(validAt), lit(sysProbe))
      .select($"_id".cast("long").as("k2"), $"cat")
    val want = vf.join(v1, $"cust".cast("long") === $"k1")
      .join(v2, $"prod".cast("long") === $"k2")
      .groupBy($"region", $"cat")
      .agg(count(lit(1)).as("n"), sum($"amt").as("s"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDecimal(3)))).toMap
    assert(got.keySet == want.keySet, s"$got vs $want")
    want.foreach { case (k, (n, sm)) =>
      assert(got(k)._1 == n && got(k)._2.compareTo(sm) == 0, s"group $k")
    }
  }

  test("many star refreshes keep the state's decimal type fixed (no widening)") {
    // the delta's sum type is the pinned state type: an uncapped
    // delta/merge +/- widens decimal precision by one per refresh, and
    // once the parquet byte width changes older bucket files no longer
    // read. Every refresh after the first build touches ONE group.
    val (fact, dim, _) = fresh()
    putDims(dim, Seq((1L, "east"), (2L, "west")))
    putFacts(fact, Seq((10L, 2L, "3.00")))
    val mv = fact.starMatview("tight_star", Seq(dim -> "cust"),
      Seq("region"), Seq("amt"), validAt, nBuckets = 2)
    (1 to 5).foreach { i =>
      putFacts(fact, Seq((i.toLong, 1L, f"$i%d.25")))
      mv.refresh()
      assertParity(mv, fact, dim)
      val dt = mv.read().schema("sum_amt").dataType
      assert(dt == org.apache.spark.sql.types.DecimalType(22, 2),
        s"refresh $i: $dt")
    }
  }

  test("restart recovers watermarks; truncation switches to exact rebuild") {
    val (fact, dim, fdir) = fresh()
    putDims(dim, Seq((1L, "east"), (2L, "west")))
    putFacts(fact, Seq((10L, 1L, "10.00"), (11L, 2L, "20.00")))
    val mv = fact.joinMatview("jv", dim, "cust", "region",
      Seq("amt"), validAt, nBuckets = 4)
    mv.refresh()
    assertParity(mv, fact, dim)

    // fresh instance over the same state dir: watermarks recovered,
    // refresh is a no-op, read serves
    val mv2 = fact.joinMatview("jv", dim, "cust", "region",
      Seq("amt"), validAt, nBuckets = 4)
    assert(mv2.watermarks == mv.watermarks)
    assertParity(mv2, fact, dim)
    // state adoption lock: the definition fingerprint and the "wf wd"
    // watermark file keep the bytes deployed state dirs carry — a change
    // to either would make every existing view discard and rebuild
    val root = java.nio.file.Paths.get(fdir, "join_matview", "jv")
    def sidecar(f: String) =
      new String(java.nio.file.Files.readAllBytes(root.resolve(f)), "UTF-8")
    assert(sidecar("_def") == "eecd51df6c77dca82183a3238fdbf3dd")
    val (wf, wd) = mv2.watermarks
    assert(sidecar("_watermark") == s"$wf $wd")

    // vacuum the FACT log (compact + truncate): the incremental delta
    // can no longer see touched ids' history → refresh must take the
    // exact rebuild path and still land on parity
    putFacts(fact, Seq((12L, 1L, "1.00")))
    fact.compact()
    fact.vacuumLog()
    putFacts(fact, Seq((13L, 2L, "2.00")))
    mv2.refresh()
    assertParity(mv2, fact, dim)
  }
}
