package graft.bitemporal

import java.time.{Instant, ZoneOffset}
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Property tests for the bitemporal fold: random op logs are folded to
  * rectangles, and EVERY (id, valid-time, system-time) point in a small
  * universe is checked against an independent naive Scala oracle that
  * replays the op log directly (never touching the fold's algorithm).
  * This is the test-first plan of SURVEY.md §7.3 for the interval-
  * splitting hard part.
  */
class BitemporalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** deterministic property sampling (no scalatest-scalacheck bridge in
    * the offline cache): draw `n` cases from `gen` with fixed seeds */
  private def forSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  // ---- op-log model ------------------------------------------------------
  sealed trait Op { def id: Long }
  case class Put(id: Long, vf: Long, vt: Option[Long], p: String) extends Op
  case class Del(id: Long, vf: Long, vt: Option[Long]) extends Op
  case class Erase(id: Long) extends Op

  private val genOp: Gen[Op] = for {
    id <- Gen.choose(1L, 3L)
    vf <- Gen.choose(0L, 7L)
    len <- Gen.choose(1L, 8L)
    vt <- Gen.option(Gen.const(vf + len))
    op <- Gen.frequency(
      (7, Gen.const(Put(id, vf, vt, s"p$id-$vf-$len"))),
      (2, Gen.const(Del(id, vf, vt))),
      (1, Gen.const(Erase(id))))
  } yield op

  private val genLog: Gen[List[Op]] = Gen.choose(1, 12).flatMap(Gen.listOfN(_, genOp))

  private def ts(sec: Long): Timestamp = Timestamp.from(Instant.ofEpochSecond(sec))
  private def micros(sec: Long): Long = sec * 1000000L

  private val opSchema = StructType(Seq(
    StructField("_op", StringType), StructField("_id", LongType),
    StructField("_tx_id", LongType), StructField("_system_from", TimestampType),
    StructField("_valid_from", TimestampType), StructField("_valid_to", TimestampType),
    StructField("p", StringType)))

  /** ops indexed by position; op i gets sys time = i seconds, tx id = i. */
  private def toDf(log: List[Op]) = {
    val rows = log.zipWithIndex.map {
      case (Put(id, vf, vt, p), i) =>
        Row("put", id, i.toLong, ts(i.toLong), ts(vf), vt.map(ts).orNull, p)
      case (Del(id, vf, vt), i) =>
        Row("delete", id, i.toLong, ts(i.toLong), ts(vf), vt.map(ts).orNull, null)
      case (Erase(id), i) =>
        Row("erase", id, i.toLong, ts(i.toLong), ts(0L), null, null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), opSchema)
  }

  /** Naive oracle: payload visible for id at valid-point v, system-point s.
    * Erase wipes ALL history before it (even retroactively); then ops with
    * sys <= s replay in order over the single valid-point v. */
  private def naive(log: List[Op], id: Long, v: Long, s: Long): Option[String] = {
    val lastErase = log.zipWithIndex.collect {
      case (Erase(`id`), i) => i
    }.lastOption.getOrElse(-1)
    var cur: Option[String] = None
    log.zipWithIndex.drop(lastErase + 1).takeWhile(_._2 <= s).foreach {
      case (Put(`id`, vf, vt, p), _) =>
        if (v >= vf && v < vt.getOrElse(Long.MaxValue)) cur = Some(p)
      case (Del(`id`, vf, vt), _) =>
        if (v >= vf && v < vt.getOrElse(Long.MaxValue)) cur = None
      case _ =>
    }
    cur
  }

  private case class Rect(id: Long, p: String, vf: Long, vt: Long, sf: Long, st: Long)

  private def foldToRects(log: List[Op], appendOnly: Boolean = false): Seq[Rect] = {
    val f = if (appendOnly) Bitemporal.foldAppendOnly(toDf(log), Seq("p"))
            else Bitemporal.fold(toDf(log), Seq("p"))
    f.collect().map { r =>
      def m(i: Int): Long = r.getAs[java.time.LocalDateTime](i)
        .toInstant(ZoneOffset.UTC).getEpochSecond * 1000000L +
        r.getAs[java.time.LocalDateTime](i).getNano / 1000L
      Rect(r.getLong(0), r.getString(1), m(2), m(3), m(4), m(5))
    }.toSeq
  }

  private def visible(rects: Seq[Rect], id: Long, v: Long, s: Long): Seq[String] =
    rects.filter(r => r.id == id &&
      r.vf <= micros(v) && micros(v) < r.vt &&
      r.sf <= micros(s) && micros(s) < r.st).map(_.p)

  test("fold matches the naive oracle at every point; rectangles never overlap") {
    forSamples(genLog, 12) { log =>
      val rects = foldToRects(log)
      for (id <- 1L to 3L; v <- 0L to 16L; s <- 0L until log.length.toLong) {
        val vis = visible(rects, id, v, s)
        assert(vis.length <= 1,
          s"overlapping rectangles for id=$id v=$v s=$s in $log")
        assert(vis.headOption == naive(log, id, v, s),
          s"mismatch id=$id v=$v s=$s log=$log rects=$rects")
      }
    }
  }

  test("asOf(now) == latest put state (no erase, unbounded puts)") {
    val log = List(
      Put(1, 0, None, "a"), Put(1, 3, None, "b"),
      Put(2, 1, None, "x"), Del(2, 0, None), Put(2, 5, None, "y"))
    val rects = foldToRects(log)
    // now: far future valid + system
    assert(visible(rects, 1, 15, 4) == Seq("b"))
    assert(visible(rects, 2, 15, 4) == Seq("y"))
  }

  private val genAppendOnlyLog: Gen[List[Op]] = for {
    n <- Gen.choose(1, 10)
    kinds <- Gen.listOfN(n, Gen.frequency((8, Gen.const(true)), (2, Gen.const(false))))
    // vf nondecreasing per id, vt unbounded: the foldAppendOnly contract
    steps <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 2L), Gen.choose(0L, 2L)))
  } yield {
    val vfs = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    kinds.zip(steps).zipWithIndex.map { case ((isPut, (id, dv)), i) =>
      vfs(id) += dv
      if (isPut) Put(id, vfs(id), None, s"p$i") else Del(id, vfs(id), None)
    }
  }

  test("compact returns the max tx id actually folded (id gaps tolerated)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("txlog_gap").toString
    val log = new TxLog(dir)
    val rows = Seq((1L, 1.0)).toDF("id", "v")
    (0 to 2).foreach { i =>
      log.append(TxOps.put(rows, $"id", lit("2000-01-01").cast("timestamp"),
        None, Seq("v" -> ($"v" + i))), ts(100L * (i + 1)))
    }
    // id gap: tx 1 removed; the watermark must be the max FOLDED id (2),
    // not a directory-size count (which would report 1 and re-fold tx 2
    // as unapplied tail forever)
    TxLog.deleteRecursively(
      new java.io.File(s"$dir/log/tx_${"%09d".format(1)}.parquet"))
    val last = log.compact(spark, Seq("v"))
    assert(last == 2L)
    // readAll at that watermark: empty tail, serves purely from base
    val cur = Bitemporal.currentState(log.readAll(spark, Seq("v")))
      .select($"_id", $"v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(cur.toSet == Set((1L, 3.0))) // tx2's put (v+2) is the latest
  }

  test("incremental compaction == full compaction, erase in the tail included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def rects(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val log = new TxLog(
      java.nio.file.Files.createTempDirectory("txinc_inc").toString)
    val rows = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
    log.append(TxOps.put(rows, $"id", lit("2000-01-01").cast("timestamp"),
      None, Seq("v" -> $"v")), ts(100))
    log.compact(spark, Seq("v"))
    // tail: update id 1, erase id 2 — id 3 untouched (base-served)
    log.append(TxOps.put(rows.filter($"id" === 1), $"id",
      lit("2001-01-01").cast("timestamp"), None,
      Seq("v" -> ($"v" + 10))), ts(200))
    log.append(TxOps.erase(rows.filter($"id" === 2), $"id",
      Seq("v" -> lit(null).cast("double"))), ts(300))
    // a base exists, so this folds the tail from state
    assert(log.compact(spark, Seq("v")) == 2L)
    val inc = rects(log.readBase(spark).drop("_sys_date"))
    // the reference: the whole log folded at once (a full compaction)
    val full = rects(Bitemporal.fold(log.read(spark), Seq("v")))
    assert(inc == full)
    // erase took effect and the update folded
    assert(!inc.exists(_.head == 2L))
    assert(inc.exists(r => r.head == 1L && r(1) == 11.0))
    assert(inc.exists(r => r.head == 3L && r(1) == 3.0))
  }

  test("asOf over a compacted TxLog base prunes partitions by _sys_date") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("txlog_prune").toString
    val log = new TxLog(dir)
    val rows = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    log.append(TxOps.put(rows, $"id", lit("2000-01-01").cast("timestamp"),
      None, Seq("v" -> $"v")), ts(0))
    log.append(TxOps.put(rows, $"id", lit("2001-01-01").cast("timestamp"),
      None, Seq("v" -> ($"v" + 1))), Timestamp.from(Instant.ofEpochSecond(200000)))
    log.compact(spark, Seq("v"))
    val q = Bitemporal.asOf(log.readBase(spark),
      validTime = lit("2000-06-01").cast("timestamp"),
      systemTime = lit("1970-01-01 12:00:00").cast("timestamp"))
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters: ["), physical)
    assert(physical.contains("_sys_date"), physical)
    // only the first tx (1970-01-01) is visible at that basis
    assert(q.select($"_id", $"v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSet == Set((1L, 1.0), (2L, 2.0)))
    // and the pruned scan reads strictly fewer partitions than exist
    assert(!q.columns.contains("_sys_date"))
  }

  test("readAll: base + unapplied tail == full re-fold (read-your-writes)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("txlog_tail").toString
    val log = new TxLog(dir)
    val rows = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
    log.append(TxOps.put(rows, $"id", lit("2000-01-01").cast("timestamp"),
      None, Seq("v" -> $"v")), ts(100))
    log.compact(spark, Seq("v"))
    // tail: update id 1, delete id 2 — id 3 untouched
    log.append(TxOps.put(rows.filter($"id" === 1), $"id",
      lit("2002-01-01").cast("timestamp"), None,
      Seq("v" -> ($"v" + 10))), ts(200))
    log.append(TxOps.delete(rows.filter($"id" === 2), $"id",
      lit("2003-01-01").cast("timestamp"), None,
      Seq("v" -> lit(null).cast("double"))), ts(300))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("_id", "v", "_valid_from", "_valid_to", "_system_from", "_system_to")
        .collect().map(_.toSeq).toSet
    val incremental = canon(log.readAll(spark, Seq("v")))
    val full = canon(Bitemporal.fold(log.read(spark), Seq("v")))
    assert(incremental == full)
    // and with an empty tail it is exactly the base
    log.compact(spark, Seq("v"))
    assert(canon(log.readAll(spark, Seq("v"))) == full)
  }

  test("schemaless log: a tx may introduce new payload columns (mergeSchema)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("txlog_dyn").toString
    val log = new TxLog(dir)
    // tx0 documents carry only `a`; tx1 documents carry a and a NEW `b`
    log.append(TxOps.put(Seq((1L, 10.0)).toDF("id", "a"), $"id",
      lit("2000-01-01").cast("timestamp"), None, Seq("a" -> $"a")), ts(100))
    log.append(TxOps.put(Seq((2L, 20.0, "x")).toDF("id", "a", "b"), $"id",
      lit("2000-01-01").cast("timestamp"), None,
      Seq("a" -> $"a", "b" -> $"b")), ts(200))
    val merged = log.read(spark)
    assert(merged.columns.contains("b"))
    val rects = Bitemporal.fold(merged, Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(rects == Set((1L, 10.0, None), (2L, 20.0, Some("x"))))
  }

  test("foldAppendOnly rejects contract violations instead of mis-folding") {
    // erase op
    assertThrows[Exception] {
      foldToRects(List(Put(1, 0, None, "a"), Erase(1)), appendOnly = true)
    }
    // finite valid-to
    assertThrows[Exception] {
      foldToRects(List(Put(1, 0, Some(5), "a")), appendOnly = true)
    }
    // out-of-order valid-from per id (the third contract condition: an
    // out-of-order put is clipped only by its lead -> wrong rectangles)
    assertThrows[Exception] {
      foldToRects(List(Put(1, 10, None, "a"), Put(1, 5, None, "b")),
        appendOnly = true)
    }
  }

  test("validTimeJoin matches a naive interval-intersection oracle (differential)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    (1 to 6).foreach { _ =>
      def side(tag: String) = Seq.fill(10)((rnd.nextInt(3).toLong, {
        val f = rnd.nextInt(20); (f, f + 1 + rnd.nextInt(8))
      })).zipWithIndex.map { case ((k, (f, t)), i) => (k, f, t, s"$tag$i") }
      val as = side("a"); val bs = side("b")
      val naive = for {
        (ka, fa, ta, pa) <- as; (kb, fb, tb, pb) <- bs
        if ka == kb && fa < tb && fb < ta
      } yield (ka, math.max(fa, fb), math.min(ta, tb), pa, pb)
      val got = Bitemporal.validTimeJoin(
          as.toDF("k", "_valid_from", "_valid_to", "pa"),
          bs.toDF("k", "_valid_from", "_valid_to", "pb"), Seq("k"))
        .select(col("k"), col("_valid_from"), col("_valid_to"), col("pa"), col("pb"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getString(3), r.getString(4))).toSet
      assert(got == naive.toSet, s"as=$as bs=$bs")
    }
  }

  test("validTimeJoin: half-open overlap, intersected output interval") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def d(s: String) = java.sql.Date.valueOf(s)
    val a = Seq((1L, d("2020-01-01"), d("2020-02-01"), "A"))
      .toDF("k", "_valid_from", "_valid_to", "pa")
    val b = Seq(
      (1L, d("2020-02-01"), d("2020-03-01"), "touch"), // touching: NO join
      (1L, d("2020-01-15"), d("2020-03-01"), "over"),  // overlap
      (2L, d("2020-01-10"), d("2020-01-20"), "key"))   // other key
      .toDF("k", "_valid_from", "_valid_to", "pb")
    val got = Bitemporal.validTimeJoin(a, b, Seq("k"))
      .select(col("k"), col("_valid_from").cast("string"),
        col("_valid_to").cast("string"), col("pa"), col("pb"))
      .collect().map(_.toSeq).toSet
    assert(got == Set(
      Seq(1L, "2020-01-15", "2020-02-01", "A", "over")))
  }

  test("foldAppendOnly == fold on append-only logs") {
    forSamples(genAppendOnlyLog, 12) { log =>
      val general = foldToRects(log).toSet
      val fast = foldToRects(log, appendOnly = true).toSet
      assert(fast == general, s"log=$log")
    }
  }

  test("applyOps (fold from state) == full fold at EVERY split point") {
    // the property that makes tail-only compaction safe: folding a
    // prefix, re-entering its rectangles as state, and applying the
    // suffix ops must equal folding the whole log — across random logs
    // with puts/portion-deletes/erases and every possible watermark
    forSamples(genLog, 10) { log =>
      val whole = foldToRects(log).toSet
      (1 until log.length).foreach { split =>
        val stateDf = Bitemporal.fold(toDf(log.take(split)), Seq("p"))
        val opsDf = toDf(log).filter(
          org.apache.spark.sql.functions.col("_tx_id") >= split)
        val viaState = Bitemporal.applyOps(stateDf, opsDf, Seq("p"))
          .collect().map { r =>
            def m(i: Int): Long = r.getAs[java.time.LocalDateTime](i)
              .toInstant(ZoneOffset.UTC).getEpochSecond * 1000000L +
              r.getAs[java.time.LocalDateTime](i).getNano / 1000L
            Rect(r.getLong(0), r.getString(1), m(2), m(3), m(4), m(5))
          }.toSet
        assert(viaState == whole,
          s"split=$split log=$log\nviaState=$viaState\nwhole=$whole")
      }
    }
  }

  test("coalesceValid: touching/overlapping same-payload rectangles merge, nothing else") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val sent = t(999999L)
    val rows = Seq(
      // id 1, payload a: [0,10)+[10,20) touch -> [0,20); [25,30) gap stays
      (1L, "a", t(0), sent, t(0), t(10)),
      (1L, "a", t(0), sent, t(10), t(20)),
      (1L, "a", t(0), sent, t(25), t(30)),
      // id 1, payload b: different payload never merges with a
      (1L, "b", t(0), sent, t(20), t(25)),
      // id 2: overlapping same payload -> envelope
      (2L, "a", t(0), sent, t(60), t(75)),
      (2L, "a", t(0), sent, t(70), t(80)),
      // id 2: same valid adjacency but DIFFERENT system interval — kept
      (2L, "a", t(5), sent, t(80), t(90)))
      .toDF("_id", "flag", "_system_from", "_system_to",
        "_valid_from", "_valid_to")
    val got = Bitemporal.coalesceValid(rows, Seq("flag"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime / 1000, r.getTimestamp(4).getTime / 1000,
        r.getTimestamp(5).getTime / 1000)).toSet
    assert(got == Set(
      (1L, "a", 0L, 0L, 20L), (1L, "a", 0L, 25L, 30L),
      (1L, "b", 0L, 20L, 25L),
      (2L, "a", 0L, 60L, 80L), (2L, "a", 5L, 80L, 90L)))
  }

  test("timeWeighted: overlap-clamped seconds, versions outside the window drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val h = Seq(
      // id 1: 10.0 for 2 days in-window, then 20.0 for 1 day in-window
      (1L, ts("2020-01-01 00:00:00"), ts("2020-01-03 00:00:00"), 10.0),
      (1L, ts("2020-01-03 00:00:00"), ts("2020-01-10 00:00:00"), 20.0),
      // id 2: interval straddles the window start — clamped to 1 day
      (2L, ts("2019-12-25 00:00:00"), ts("2020-01-02 00:00:00"), 5.0),
      // id 3: fully before the window — contributes nothing
      (3L, ts("2019-01-01 00:00:00"), ts("2019-06-01 00:00:00"), 99.0))
      .toDF("id", "_valid_from", "_valid_to", "v")
    val got = Bitemporal.timeWeighted(h,
        lit("2020-01-01 00:00:00").cast("timestamp"),
        lit("2020-01-04 00:00:00").cast("timestamp"), "v", Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val day = 86400.0
    assert(got.toSeq == Seq(
      (1L, 10.0 * 2 * day + 20.0 * 1 * day, 3 * day,
        (10.0 * 2 + 20.0) / 3),
      (2L, 5.0 * 1 * day, 1 * day, 5.0)))
  }

  test("timelineSweep: global two-phase prefix sum == naive event sweep") {
    import spark.implicits._
    // deterministic pseudo-random intervals, enough rows to span many
    // range partitions (the offset path must actually compose them)
    val rows = (0 until 5000).map { i =>
      val from = (i * 2654435761L) % 1000
      val len = 1 + (i * 40503L) % 97
      (new java.sql.Timestamp(from * 1000L),
        new java.sql.Timestamp((from + len) * 1000L),
        (i % 11).toDouble - 3.0)
    }
    val h = rows.toDF("_valid_from", "_valid_to", "v")
    val got = Bitemporal.timelineSweep(h, "v")
      .orderBy("t").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getDouble(1)))
    // naive oracle
    val events = rows.flatMap { case (f, t, v) =>
      Seq((f.getTime, v), (t.getTime, -v)) }
    val expect = events.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
      .scanLeft((0L, 0.0)) { case ((_, acc), (t, d)) => (t, acc + d) }
      .drop(1)
    assert(got.length == expect.length)
    got.zip(expect).foreach { case ((tg, ag), (te, ae)) =>
      assert(tg == te && math.abs(ag - ae) < 1e-6, s"at t=$tg: $ag vs $ae")
    }
  }

  test("intervalJoin == naive cartesian overlap join (differential, each pair once)") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // adversarial widths: intervals from a fraction of a bin to many
    // bins wide, plus empty intervals that must drop
    val rnd = new scala.util.Random(11)
    val aRows = (0 until 120).map { i =>
      val f = rnd.nextInt(10000); val len = rnd.nextInt(400) - 2
      (i.toLong, ts(f), ts(f + len))
    }
    val bRows = (0 until 150).map { i =>
      val f = rnd.nextInt(10000); val len = rnd.nextInt(90) - 2
      (i.toLong, ts(f), ts(f + len))
    }
    val a = aRows.toDF("aid", "_valid_from", "_valid_to")
    val b = bRows.toDF("bid", "_valid_from", "_valid_to")
    for (binSeconds <- Seq(7L, 100L, 5000L)) {
      val got = Bitemporal.intervalJoin(a, b, binSeconds)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.distinct.length,
        s"bin=$binSeconds: pair emitted more than once")
      val expect = for {
        (ai, af, at) <- aRows if af.before(at)
        (bi, bf, bt) <- bRows if bf.before(bt)
        if af.before(bt) && bf.before(at)
      } yield (ai, bi)
      assert(got.toSet == expect.toSet,
        s"bin=$binSeconds: ${got.length} vs ${expect.length} pairs")
    }
  }

  test("intervalJoin auto bin width: parity at 3 length distributions, " +
      "tail replication capped") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rnd = new scala.util.Random(23)
    def naive(aRows: Seq[(Long, java.sql.Timestamp, java.sql.Timestamp)],
              bRows: Seq[(Long, java.sql.Timestamp, java.sql.Timestamp)]) =
      (for {
        (ai, af, at) <- aRows if af.before(at)
        (bi, bf, bt) <- bRows if bf.before(bt)
        if af.before(bt) && bf.before(at)
      } yield (ai, bi)).toSet
    def check(label: String,
              aRows: Seq[(Long, java.sql.Timestamp, java.sql.Timestamp)],
              bRows: Seq[(Long, java.sql.Timestamp, java.sql.Timestamp)]): Unit = {
      val a = aRows.toDF("aid", "_valid_from", "_valid_to")
      val b = bRows.toDF("bid", "_valid_from", "_valid_to")
      val got = Bitemporal.intervalJoin(a, b) // binSeconds omitted: auto
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.distinct.length, s"$label: duplicate pairs")
      assert(got.toSet == naive(aRows, bRows), s"$label: pair set differs")
    }
    // 1. uniform-ish: lengths cluster around one scale
    check("uniform",
      (0 until 80).map { i =>
        val f = rnd.nextInt(10000); (i.toLong, ts(f), ts(f + 50 + rnd.nextInt(100))) },
      (0 until 90).map { i =>
        val f = rnd.nextInt(10000); (i.toLong, ts(f), ts(f + 50 + rnd.nextInt(100))) })
    // 2. heavy-tailed mixture: mostly seconds, a few huge spans — the
    // case where bin = p50 alone would explode the tail's replication;
    // the p95/64 floor must keep it bounded
    val mixA = (0 until 100).map { i =>
      val f = rnd.nextInt(100000)
      val len = if (i % 25 == 0) 500000 + rnd.nextInt(100000) else 1 + rnd.nextInt(5)
      (i.toLong, ts(f), ts(f + len))
    }
    val mixB = (0 until 100).map { i =>
      val f = rnd.nextInt(100000)
      (i.toLong, ts(f), ts(f + 1 + rnd.nextInt(10)))
    }
    check("heavy-tail", mixA, mixB)
    val autoMix = Bitemporal.autoBinSeconds(
      mixA.toDF("aid", "_valid_from", "_valid_to"),
      mixB.toDF("bid", "_valid_from", "_valid_to"))
    // p50 is a few seconds but the tail spans ~500k: the mean/64 floor
    // must bound TOTAL replication at ~65x the row count (a p50-only
    // width would emit ~200k replicas per tail row)
    val lens = (mixA ++ mixB).map { case (_, f, t) =>
      (t.getTime - f.getTime) / 1000L }.filter(_ > 0)
    val totalReplicas = lens.map(_ / autoMix + 1).sum
    assert(totalReplicas <= 66L * lens.size,
      s"auto width $autoMix: $totalReplicas replicas for ${lens.size} rows")
    // 3. constant lengths incl. empties (must drop, not bin)
    check("constant",
      (0 until 60).map { i =>
        val f = rnd.nextInt(5000)
        (i.toLong, ts(f), ts(f + (if (i % 10 == 0) 0 else 30))) },
      (0 until 60).map { i =>
        val f = rnd.nextInt(5000); (i.toLong, ts(f), ts(f + 30)) })
  }

  test("timelineSweep grouped: per-key window, no offset pass") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val h = Seq(
      ("a", ts(0), ts(10), 1.0), ("a", ts(5), ts(15), 2.0),
      ("b", ts(0), ts(20), 7.0))
      .toDF("k", "_valid_from", "_valid_to", "v")
    val got = Bitemporal.timelineSweep(h, "v", Seq("k"))
      .orderBy("k", "t").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("a", 0L, 1.0), ("a", 5L, 3.0), ("a", 10L, 2.0), ("a", 15L, 0.0),
      ("b", 0L, 7.0), ("b", 20L, 0.0)))
  }
}
