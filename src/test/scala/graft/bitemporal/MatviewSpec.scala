package graft.bitemporal

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTable, TestSpark}

/** Incremental matview: every refresh must land on exactly the state a
  * from-scratch recompute would produce (parity), while rewriting only
  * the buckets whose groups changed (incrementality). */
class MatviewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val validAt = ts("2030-01-01 00:00:00")

  private def freshTable(): (GraftTable, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mv").toString
    (new GraftTable(spark, dir, Seq("grp", "amt")), dir)
  }

  /** Ground truth: full recompute of the view from the table. */
  private def recompute(t: GraftTable): Map[String, (Long, java.math.BigDecimal)] =
    Bitemporal.asOf(t.rectangles(), lit(validAt), lit(ts("9998-01-01 00:00:00")))
      .groupBy($"grp").agg(count(lit(1)).as("n"), sum($"amt").as("s"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2)))
      .toMap

  private def viewState(mv: Matview): Map[String, (Long, java.math.BigDecimal)] =
    mv.read().collect()
      .map(r => (r.getString(r.fieldIndex("grp")),
        (r.getLong(r.fieldIndex("n")), r.getDecimal(r.fieldIndex("sum_amt")))))
      .toMap

  private def assertParity(mv: Matview, t: GraftTable): Unit = {
    val want = recompute(t)
    val got = viewState(mv)
    assert(got.keySet == want.keySet, s"groups: $got vs $want")
    want.foreach { case (g, (n, s)) =>
      val (gn, gs) = got(g)
      assert(gn == n, s"group $g count: $gn != $n")
      assert(gs.compareTo(s) == 0, s"group $g sum: $gs != $s")
    }
  }

  private def amt(x: String) = lit(x).cast("decimal(12,2)")

  test("refresh parity through put / update / group-move / delete / erase") {
    val (t, _) = freshTable()
    val mv = t.matview("by_grp", "grp", Seq("amt"), validAt, nBuckets = 8)

    // tx1: initial population, three groups
    t.put(Seq((1L, "a", "10.00"), (2L, "a", "20.00"), (3L, "b", "5.50"),
        (4L, "c", "7.25")).toDF("id", "g", "m"),
      $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-01 00:00:00"))
    assert(mv.refresh() == 0L)
    assertParity(mv, t)

    // tx2: in-place update (id 1 amount), group move (id 3 b -> c)
    t.put(Seq((1L, "a", "11.00"), (3L, "c", "6.00")).toDF("id", "g", "m"),
      $"id", lit("2020-06-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-02 00:00:00"))
    mv.refresh()
    assertParity(mv, t)
    // group b is gone entirely (its only member moved to c)
    assert(!viewState(mv).contains("b"))

    // tx3: delete id 2, erase id 4
    t.delete(Seq(2L).toDF("id"), $"id", lit("2020-01-01").cast("timestamp"),
      None, Seq("grp" -> lit(null).cast("string"),
        "amt" -> lit(null).cast("decimal(12,2)")),
      ts("2024-01-03 00:00:00"))
    t.erase(Seq(4L).toDF("id"), $"id",
      Seq("grp" -> lit(null).cast("string"),
        "amt" -> lit(null).cast("decimal(12,2)")),
      ts("2024-01-04 00:00:00"))
    mv.refresh()
    assertParity(mv, t)
    assert(viewState(mv).keySet == Set("a", "c"))

    // idle refresh: watermark unchanged, state unchanged
    val before = viewState(mv)
    val w = mv.watermark
    assert(mv.refresh() == w)
    assert(viewState(mv) == before)
  }

  test("MIN/MAX parity through put / update / group-move / delete / erase") {
    // extremes are NOT self-maintainable: deleting the max forces the
    // group re-read fallback — exactly the cases exercised here
    val (t, _) = freshTable()
    val mv = t.matview("mm_grp", "grp", Seq("amt"), validAt, nBuckets = 8,
      minCols = Seq("amt"), maxCols = Seq("amt"))

    def recomputeMm(): Map[String, (java.math.BigDecimal, java.math.BigDecimal)] =
      Bitemporal.asOf(t.rectangles(), lit(validAt), lit(ts("9998-01-01 00:00:00")))
        .groupBy($"grp").agg(min($"amt").as("mn"), max($"amt").as("mx"))
        .collect()
        .map(r => r.getString(0) -> (r.getDecimal(1), r.getDecimal(2))).toMap
    def viewMm(): Map[String, (java.math.BigDecimal, java.math.BigDecimal)] =
      mv.read().collect()
        .map(r => (r.getString(r.fieldIndex("grp")),
          (r.getDecimal(r.fieldIndex("min_amt")),
            r.getDecimal(r.fieldIndex("max_amt"))))).toMap
    def assertMmParity(): Unit = {
      val want = recomputeMm(); val got = viewMm()
      assert(got.keySet == want.keySet, s"groups: $got vs $want")
      want.foreach { case (g, (mn, mx)) =>
        val (gmn, gmx) = got(g)
        assert(gmn.compareTo(mn) == 0, s"group $g min: $gmn != $mn")
        assert(gmx.compareTo(mx) == 0, s"group $g max: $gmx != $mx")
      }
    }

    // tx1: a {10, 20, 30}; b {5}; c {7}
    t.put(Seq((1L, "a", "10.00"), (2L, "a", "20.00"), (5L, "a", "30.00"),
        (3L, "b", "5.50"), (4L, "c", "7.25")).toDF("id", "g", "m"),
      $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-01 00:00:00"))
    mv.refresh()
    assertMmParity()
    assertParity(mv, t) // count/sum still exact alongside

    // tx2: DELETE the max of a (id 5, 30.00) — pure re-read territory;
    // move b's only member to c (b disappears, c's min drops)
    t.delete(Seq(5L).toDF("id"), $"id", lit("2020-01-01").cast("timestamp"),
      None, Seq("grp" -> lit(null).cast("string"),
        "amt" -> lit(null).cast("decimal(12,2)")),
      ts("2024-01-02 00:00:00"))
    t.put(Seq((3L, "c", "6.00")).toDF("id", "g", "m"),
      $"id", lit("2020-06-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-03 00:00:00"))
    mv.refresh()
    assertMmParity()
    assert(viewMm()("a")._2.compareTo(new java.math.BigDecimal("20.00")) == 0,
      "deleting the max must surface the runner-up")
    assert(!viewMm().contains("b"))

    // tx3: update a's min downward; erase c's id 4 (c's max falls to 6)
    t.put(Seq((1L, "a", "1.00")).toDF("id", "g", "m"),
      $"id", lit("2020-06-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-04 00:00:00"))
    t.erase(Seq(4L).toDF("id"), $"id",
      Seq("grp" -> lit(null).cast("string"),
        "amt" -> lit(null).cast("decimal(12,2)")),
      ts("2024-01-05 00:00:00"))
    mv.refresh()
    assertMmParity()
    assertParity(mv, t)

    // idle refresh leaves extremes intact
    val before = viewMm()
    mv.refresh()
    assert(viewMm() == before)
  }

  test("refresh rewrites only the buckets of changed groups") {
    val (t, dir) = freshTable()
    // many groups spread over many buckets
    val mv = t.matview("by_grp", "grp", Seq("amt"), validAt, nBuckets = 16)
    t.put(spark.range(200).select($"id", concat(lit("g"), $"id" % 40).as("g"),
        lit("1.00").cast("decimal(12,2)").as("m")),
      $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
    mv.refresh()
    val stateDir = java.nio.file.Paths.get(dir, "matview", "by_grp", "state")
    def mtimes(): Map[String, Long] = {
      val s = java.nio.file.Files.list(stateDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.startsWith("_bucket="))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      } finally s.close()
    }
    val nonEmptyBuckets = mtimes().size
    assert(nonEmptyBuckets > 4, s"want spread groups, got $nonEmptyBuckets buckets")
    val before = mtimes()
    Thread.sleep(1100) // parquet mtime granularity
    // touch ONE group (one id of g7)
    t.put(Seq((7L, "g7", "2.00")).toDF("id", "g", "m"),
      $"id", lit("2021-01-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-02 00:00:00"))
    mv.refresh()
    assertParity(mv, t)
    val after = mtimes()
    val rewritten = after.filter { case (k, v) => before.get(k).forall(_ != v) }
    assert(rewritten.size == 1,
      s"one group changed, but rewrote buckets: ${rewritten.keys}")
  }

  test("continuous maintenance: stream-triggered refresh reaches parity; restart is idempotent") {
    val (t, dir) = freshTable()
    val mv = t.matview("live", "grp", Seq("amt"), validAt, nBuckets = 4)
    t.put(Seq((1L, "a", "10.00"), (2L, "b", "20.00")).toDF("id", "g", "m"),
      $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-01 00:00:00"))
    val schema = t.rectangles().sparkSession.read
      .option("mergeSchema", "true").parquet(s"$dir/log/tx_*").schema
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mv_ckpt").toString

    // drain available txs through the maintainer, then stop
    def drain(): Unit = {
      val q = graft.streaming.Streaming.maintainMatview(spark, dir, schema,
        mv, checkpoint = Some(ckpt), availableNow = true)
      q.awaitTermination()
    }
    drain()
    assertParity(mv, t)
    // state adoption lock: the definition fingerprint and the watermark
    // file keep the bytes deployed state dirs carry — a change to either
    // would make every existing view discard its state and rebuild
    val root = java.nio.file.Paths.get(dir, "matview", "live")
    def sidecar(f: String) =
      new String(java.nio.file.Files.readAllBytes(root.resolve(f)), "UTF-8")
    assert(sidecar("_def") == "aa341ae7ba4a19acaff250f21e61f583")
    assert(sidecar("_watermark") == mv.watermark.toString)

    // more txs while the maintainer is DOWN; a restarted maintainer
    // catches up from the view's own watermark (no double counting even
    // though the stream checkpoint and view watermark are independent)
    t.put(Seq((1L, "a", "11.00"), (3L, "c", "7.00")).toDF("id", "g", "m"),
      $"id", lit("2020-06-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-02 00:00:00"))
    drain()
    assertParity(mv, t)

    // an extra drain with nothing new must not change the state
    val before = viewState(mv)
    drain()
    assert(viewState(mv) == before)
  }

  test("many refreshes keep the state's decimal type fixed (no widening)") {
    // regression: delta/merge +/- used to widen decimal precision by
    // one per refresh; once the parquet FIXED_LEN byte width crossed a
    // boundary (p=24), reading older bucket files against the wider
    // inferred schema failed. Ten refreshes on ONE group cross every
    // boundary if widening recurs.
    val (t, _) = freshTable()
    val mv = t.matview("tight", "grp", Seq("amt"), validAt, nBuckets = 2)
    (1 to 10).foreach { i =>
      t.put(Seq((i.toLong, "g", f"$i%d.00")).toDF("id", "g", "m"),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
        ts(f"2024-01-01 00:00:$i%02d"))
      mv.refresh()
      assertParity(mv, t)
    }
    val dt = mv.read().schema("sum_amt").dataType
    assert(dt == org.apache.spark.sql.types.DecimalType(22, 2), dt.toString)
  }

  test("state files are SORTED by group within buckets: a point read " +
      "decodes matching row groups, not the whole state") {
    val (t, _) = freshTable()
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    // tiny row groups so footer min/max pruning is observable at test
    // scale (production row groups are 128 MB — same mechanics)
    hc.set("parquet.block.size", "65536")
    try {
      val mv = t.matview("sorted1", "grp", Seq("amt"), validAt, nBuckets = 1)
      val rows = spark.range(120000).select($"id",
        format_string("g%07d", $"id").as("g"),
        ($"id" % 97).cast("decimal(12,2)").as("m"))
      t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
      mv.refresh()
      var records = 0L
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          synchronized { records += e.taskMetrics.inputMetrics.recordsRead }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = mv.read().filter($"grp" === "g0001234").collect()
        assert(r.length == 1 && r(0).getAs[java.math.BigDecimal]("sum_amt")
          .longValueExact() == 1234 % 97)
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var last = -1L
        while (System.nanoTime() < deadline && records != last) {
          last = records; Thread.sleep(300)
        }
        assert(records > 0, "listener saw no input metrics")
        assert(records <= 40000,
          s"point read decoded $records of 120000 state rows — the " +
            "within-bucket group sort (row-group min/max pruning) is lost")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally oldBlock match {
      case Some(v) => hc.set("parquet.block.size", v)
      case None => hc.unset("parquet.block.size")
    }
  }

  test("MvBucketPrune: a full-group-key equality reads ONE bucket dir " +
      "(partition pruning via the optimizer rule); partial keys and " +
      "timestamp keys do not prune") {
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    def bucketPruned(df: org.apache.spark.sql.DataFrame): Boolean =
      scanOf(df).partitionFilters
        .exists(_.references.exists(_.name == "_bucket"))

    val (t, _) = freshTable()
    val mv = t.matview("pruned1", "grp", Seq("amt"), validAt, nBuckets = 16)
    val rows = spark.range(800).select($"id",
      format_string("g%04d", $"id" % 200).as("g"),
      lit("2.00").cast("decimal(12,2)").as("m"))
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
    mv.refresh()

    val probe = mv.read().filter($"grp" === "g0042")
    assert(bucketPruned(probe),
      "full-group-key equality must add a _bucket partition filter")
    val res = probe.collect()
    assert(res.length == 1 &&
      res(0).getAs[Long]("n") == 4L, res.mkString(","))
    val scan = scanOf(probe)
    assert(res.nonEmpty) // action ran; metrics populated
    assert(scan.metrics("numFiles").value == 1,
      s"expected ONE bucket file, read ${scan.metrics("numFiles").value} " +
        "(every one of the 16 buckets is non-empty at 200 groups)")

    // IN-lists prune to the candidate buckets (cross product, capped)
    val inProbe = mv.read().filter($"grp".isin("g0042", "g0043", "g0044"))
    assert(bucketPruned(inProbe), "IN-list must bucket-prune")
    assert(inProbe.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("g0042", "g0043", "g0044"))
    // 11+ values: Catalyst's OptimizeIn converts to InSet before the
    // rule runs — the InSet branch must prune them too
    val bigIn = (0 until 20).map(i => f"g$i%04d")
    val inSetProbe = mv.read().filter($"grp".isin(bigIn: _*))
    assert(bucketPruned(inSetProbe),
      "an InSet-converted IN-list (11..64 values) must bucket-prune")
    assert(inSetProbe.collect().map(_.getString(0)).sorted.toSeq == bigIn)
    // past the combo cap the rule stands down (plain data filter)
    assert(!bucketPruned(mv.read().filter(
      $"grp".isin((0 until 70).map(i => f"g$i%04d"): _*))))

    // range/partial predicates cannot prune (the hash covers the key)
    assert(!bucketPruned(mv.read().filter($"grp" > "g0042")))

    // multi-column key: both equalities prune, one does not
    val mv2 = t.matviewN("pruned2", Seq("grp", "amt"), Nil, validAt, 8)
    mv2.refresh()
    // the literal must compare in the column's own type: a string-vs-
    // decimal equality wraps the ATTRIBUTE in a cast and (correctly)
    // defeats the extraction — same-type equality prunes
    val amtLit = lit("2.00").cast("decimal(12,2)")
    assert(bucketPruned(
      mv2.read().filter($"grp" === "g0042" && $"amt" === amtLit)))
    assert(!bucketPruned(mv2.read().filter($"grp" === "g0042")))
    assert(mv2.read().filter($"grp" === "g0042" && $"amt" === amtLit)
      .collect().length == 1)

    // timestamp group keys hash through a session-timezone-dependent
    // cast — the reading session may differ from the writing one: skip
    val t3dir = java.nio.file.Files.createTempDirectory("graft_mv3").toString
    val t3 = new GraftTable(spark, t3dir, Seq("at", "amt"))
    t3.put(spark.range(10).select($"id",
        lit("2024-02-05 10:00:00").cast("timestamp").as("ts"),
        lit("1.00").cast("decimal(12,2)").as("m")),
      $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("at" -> $"ts", "amt" -> $"m"), ts("2024-03-01 00:00:00"))
    val mv3 = t3.matview("pruned3", "at", Seq("amt"), validAt, 8)
    mv3.refresh()
    val p3 = mv3.read()
      .filter($"at" === lit("2024-02-05 10:00:00").cast("timestamp"))
    assert(!bucketPruned(p3),
      "timestamp keys must not bucket-prune (timezone-dependent hash)")
    assert(p3.collect().length == 1)
  }

  test("definition-mismatch discard removes the schema/tz sidecars: a " +
      "failed rebuild reads as 'has no state', never the OLD columns") {
    val (t, dir) = freshTable()
    val mv = t.matview("by_grp_sc", "grp", Seq("amt"), validAt, nBuckets = 4)
    t.put(Seq((1L, "a", "10.00"), (2L, "b", "20.00")).toDF("id", "g", "m"),
      $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m".cast("decimal(12,2)")),
      ts("2024-01-01 00:00:00"))
    mv.refresh()
    val root = java.nio.file.Paths.get(dir, "matview", "by_grp_sc")
    assert(java.nio.file.Files.exists(root.resolve("_schema")))

    // same state dir, CHANGED definition whose rebuild cannot analyze:
    // the discard must take the '_schema' (and '_tz') sidecars with the
    // data — a survivor would let read() serve the OLD definition's
    // column set while no state exists
    val bad = t.matviewN("by_grp_sc", Seq("grp"), Seq("d1"), validAt, 4,
      derived = Seq("d1" -> "no_such_col * 2"))
    intercept[Exception](bad.refresh())
    assert(!java.nio.file.Files.exists(root.resolve("_schema")),
      "stale _schema must be discarded with the state")
    assert(!java.nio.file.Files.exists(root.resolve("_tz")))
    val e = intercept[IllegalStateException](bad.read().collect())
    assert(e.getMessage.contains("has no state"), e.getMessage)

    // the original definition still rebuilds cleanly from the logs
    mv.refresh()
    assertParity(mv, t)
  }

  test("MIN/MAX member re-read ships the touched groups as a LITERAL " +
      "predicate pushed to the base scan — the semi-join only appears " +
      "past the inline cap") {
    val metaLen = "spark.sql.maxMetadataStringLength"
    val prevLen = spark.conf.get(metaLen)
    spark.conf.set(metaLen, "4000")
    MvState.capturedMemberPlans.synchronized(
      MvState.capturedMemberPlans.clear())
    MvState.captureMemberPlans = true
    try {
      val (t, _) = freshTable()
      val mv = t.matview("mm_push", "grp", Nil, validAt, nBuckets = 4,
        maxCols = Seq("amt"))
      t.put(spark.range(200).select($"id",
          format_string("g%03d", $"id" % 50).as("g"),
          lit("1.00").cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
      // the production steady state: a COMPACTED base — the untouched
      // ids' member rows come from base parquet, which is where the
      // literal predicate can actually push (the tail refold is a
      // typed MapGroups boundary no filter can cross)
      t.compact()
      mv.refresh() // first build — no member re-read
      // touch TWO groups
      t.put(Seq((0L, "g000", "9.00"), (1L, "g001", "8.00"))
          .toDF("id", "g", "m").select($"id", $"g",
            $"m".cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-02 00:00:00"))
      mv.refresh()
      val plans = MvState.capturedMemberPlans.synchronized {
        MvState.capturedMemberPlans.toList
      }
      assert(plans.nonEmpty, "the mm member re-read must capture a plan")
      val (branch, p) = plans.last
      assert(branch == "inline",
        s"2 touched groups must inline, not '$branch'")
      assert(p.contains("In(grp, [g000,g001]") ||
          p.contains("In(grp, [g001,g000]"),
        s"the literal group IN must reach the BASE scan's " +
          s"PushedFilters:\n${p.take(2000)}")
      // the recomputed extremes are exact
      val got = mv.read().filter($"grp".isin("g000", "g001", "g002"))
        .collect().map(r =>
          r.getString(0) -> r.getAs[java.math.BigDecimal]("max_amt")).toMap
      assert(got("g000").compareTo(new java.math.BigDecimal("9.00")) == 0 &&
        got("g001").compareTo(new java.math.BigDecimal("8.00")) == 0 &&
        got("g002").compareTo(new java.math.BigDecimal("1.00")) == 0, got)

      // past the cap: the semi-join is the plan (correctness unchanged)
      MvState.capturedMemberPlans.synchronized(
        MvState.capturedMemberPlans.clear())
      val (t2, _) = freshTable()
      val mv2 = t2.matviewN("mm_push2", Seq("grp", "amt"), Nil, validAt, 4,
        maxCols = Seq("amt"))
      // multi-col key -> tuple cap (100); touch 150 distinct tuples
      t2.put(spark.range(300).select($"id",
          format_string("h%03d", $"id" % 150).as("g"),
          ($"id" % 150).cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
      mv2.refresh()
      t2.put(spark.range(150).select($"id",
          format_string("h%03d", $"id" % 150).as("g"),
          (($"id" % 150) + 1).cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-02 00:00:00"))
      mv2.refresh()
      val plans2 = MvState.capturedMemberPlans.synchronized {
        MvState.capturedMemberPlans.toList
      }
      assert(plans2.exists(_._1 == "semi"),
        s"past the tuple cap the member restriction must semi-join, " +
          s"got branches: ${plans2.map(_._1)}")
    } finally {
      MvState.captureMemberPlans = false
      spark.conf.set(metaLen, prevLen)
    }
  }

  test("a percentile-ONLY view rides the same member-re-read lifecycle " +
      "as MIN/MAX: touched groups inline as a literal predicate on the " +
      "base scan, untouched groups keep their stored value") {
    MvState.capturedMemberPlans.synchronized(
      MvState.capturedMemberPlans.clear())
    MvState.captureMemberPlans = true
    try {
      val (t, _) = freshTable()
      val mv = t.matviewN("pct_push", Seq("grp"), Nil, validAt, 4,
        pcts = Seq(MvPct("amt", 0.5, approx = false)))
      t.put(spark.range(200).select($"id",
          format_string("g%03d", $"id" % 50).as("g"),
          ($"id" % 7).cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
      t.compact()
      mv.refresh() // first build — no member re-read
      assert(MvState.capturedMemberPlans.synchronized {
        MvState.capturedMemberPlans.isEmpty
      }, "the first build must not pay the member re-read")
      t.put(Seq((0L, "g000", "99.00")).toDF("id", "g", "m")
          .select($"id", $"g", $"m".cast("decimal(12,2)").as("m")),
        $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-02 00:00:00"))
      mv.refresh()
      val plans = MvState.capturedMemberPlans.synchronized {
        MvState.capturedMemberPlans.toList
      }
      assert(plans.nonEmpty && plans.last._1 == "inline",
        s"a pct-only refresh must take the inline member path, got " +
          s"${plans.map(_._1)}")
      // exactness: the touched group's median recomputed from members,
      // an untouched group still serving its stored value
      val truth = t.current()
        .filter($"grp".isin("g000", "g001"))
        .groupBy($"grp")
        .agg(expr("percentile(cast(amt as double), 0.5)").as("p"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = mv.read().filter($"grp".isin("g000", "g001"))
        .collect().map(r =>
          r.getString(0) -> r.getAs[Double]("pct_5000_amt")).toMap
      assert(got == truth, s"$got vs $truth")
    } finally {
      MvState.captureMemberPlans = false
    }
  }

  test("ensurePruneRule under concurrency: appends are never lost, " +
      "third-party rules survive, the rule lands exactly once") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    object ThirdParty
        extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
      def apply(p: LogicalPlan): LogicalPlan = p
    }
    val before = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        Seq(ThirdParty) // fresh slate + a pre-existing third-party rule
      val n = 16
      val start = new java.util.concurrent.CountDownLatch(1)
      val done = new java.util.concurrent.CountDownLatch(n)
      val failures = new java.util.concurrent.atomic.AtomicInteger
      (1 to n).foreach { _ =>
        new Thread(() => {
          try { start.await(); MvState.ensurePruneRule(spark) }
          catch { case _: Throwable => failures.incrementAndGet(): Unit }
          finally done.countDown()
        }).start()
      }
      start.countDown()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(failures.get() == 0)
      val after = spark.experimental.extraOptimizations
      assert(after.contains(ThirdParty),
        "a pre-existing third-party rule must survive concurrent hooks")
      assert(after.count(_ == graft.plans.MvBucketPrune) == 1,
        s"exactly one MvBucketPrune expected, got: $after")
    } finally spark.experimental.extraOptimizations = before
  }

  test("range layout refuses a bucket key that does not lead with the " +
      "leading group column — the partition value and the _schema " +
      "GroupsKey stamp must name the SAME column or pruning is unsound") {
    // the DDL path always satisfies this (aux bucketCols are a group
    // prefix); the guard closes the private-API hole where
    // MvBucketPrune.pruneRange would translate predicates on the wrong
    // column
    val dir = java.nio.file.Files.createTempDirectory("graft_mv_rng").toString
    val t = new GraftTable(spark, dir, Seq("a", "b"))
    val e = intercept[IllegalArgumentException] {
      t.matviewAt(java.nio.file.Paths.get(dir, "matview", "bad"),
        Seq("a", "b"), validAt, 8, None, Nil,
        bucketCols = Seq("b"), rangeLayout = true)
    }
    assert(e.getMessage.contains("leading group column"), e.getMessage)
    // star/join form shares the guard
    val dimDir = java.nio.file.Files.createTempDirectory("graft_mv_dim")
    val dim = new GraftTable(spark, dimDir.toString, Seq("d"))
    val e2 = intercept[IllegalArgumentException] {
      t.starMatviewAt(java.nio.file.Paths.get(dir, "matview", "bad2"),
        Seq((dim, "b")), Seq("a", "d"), validAt, 8, None, Nil,
        bucketCols = Seq("d"), rangeLayout = true)
    }
    assert(e2.getMessage.contains("leading group column"), e2.getMessage)
  }
}
