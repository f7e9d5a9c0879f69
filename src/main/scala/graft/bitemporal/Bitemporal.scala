package graft.bitemporal

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bitemporal versioning: every record carries a system-time interval
  * (when the database believed it) and a valid-time interval (when it is
  * true in the modeled world). This is the reference engine's defining
  * capability (xtdb/core2, /root/reference/README.adoc:11: "system time"
  * + "validity/effectivity" versioning).
  *
  * Representation: a *rectangle* relation with convention columns
  * `_id, _valid_from, _valid_to, _system_from, _system_to` (half-open
  * `[from, to)` intervals, far-future sentinel `9999-12-31` instead of
  * NULL so range predicates stay sargable and parquet min/max stats prune
  * files — SURVEY.md §1.4). The reference resolves visibility with an
  * in-memory kd-tree + grid file (core2.temporal); here the same job is
  * done by sargable filters over the rectangle table, which Catalyst
  * pushes into the parquet scan — at 100 TB, partitioning the rectangle
  * table by `date(_system_from)` makes `asOf` prune to a handful of
  * partitions.
  *
  * Two folds turn an op log (put/delete/erase) into rectangles:
  *
  *   - [[foldAppendOnly]] — pure window-function plan (one shuffle on
  *     `_id`, whole-stage codegen, spillable) for the dominant ingest
  *     pattern: valid-from monotone per id, unbounded valid-to. This is
  *     the 100 TB path.
  *   - [[fold]] — the fully general algorithm (arbitrary valid-time
  *     portions, interval splitting, erase) as a per-id sorted fold.
  *     One shuffle on `_id` (sort-based grouping, spills); per-id state
  *     is O(live versions). Genuine imperative per-group logic, the one
  *     place the DataFrame algebra can't express the semantics.
  */
object Bitemporal {

  /** `9999-12-31T00:00:00Z` in epoch micros — the far-future sentinel. */
  val SentinelMicros: Long =
    java.time.Instant.parse("9999-12-31T00:00:00Z").getEpochSecond * 1000000L

  val sentinelTs: Column = timestamp_micros(lit(SentinelMicros))

  /** The sentinel in the NTZ flavor [[fold]]'s output carries. */
  val sentinelNtz: Column =
    timestamp_micros(lit(SentinelMicros)).cast("timestamp_ntz")

  val Put = "put"
  val Delete = "delete"
  val Erase = "erase"

  /** Normalize an op log to the internal micros representation.
    * Expected input columns: `_id` (long-castable), `_op`
    * (put|delete|erase), `_tx_id` (orders ops per id; any long-castable),
    * `_system_from` (timestamp), `_valid_from` (timestamp), `_valid_to`
    * (timestamp, NULL = unbounded), plus payload columns. */
  // fixture timestamps are TIMESTAMP_NTZ; session TZ is UTC, so the
  // NTZ↔TZ casts here are value-preserving
  private def micros(c: Column): Column = unix_micros(c.cast("timestamp"))

  private def prep(ops: DataFrame, payload: Seq[Column]): DataFrame =
    ops.select(
      col("_id").cast("long").as("_id"),
      col("_op").as("_op"),
      col("_tx_id").cast("long").as("_tx"),
      micros(col("_system_from")).as("_sys"),
      micros(col("_valid_from")).as("_vf"),
      coalesce(micros(col("_valid_to")), lit(SentinelMicros)).as("_vt"),
      struct(payload: _*).as("_p"))

  private def ntz(c: Column): Column = timestamp_micros(c).cast("timestamp_ntz")

  private def unpack(folded: DataFrame): DataFrame =
    folded.select(col("_id"), col("_p.*"),
      ntz(col("_vf")).as("_valid_from"),
      ntz(col("_vt")).as("_valid_to"),
      ntz(col("_sf")).as("_system_from"),
      ntz(col("_st")).as("_system_to"))

  /** General bitemporal fold: op log → rectangles.
    *
    * Per id, in `(_system_from, _tx_id)` order, a set of *current
    * segments* (valid-time intervals of the latest system version) is
    * maintained; a put/delete over `[pf, pt)` closes the overlapped part
    * of each current segment at this op's system time (emitting its
    * finished rectangle) and re-opens the non-overlapped remnants —
    * interval splitting, the SQL:2011 `FOR PORTION OF` semantics. Erase
    * removes the id's entire history (the one retroactive operation,
    * matching core2's GDPR-style erase). Surviving segments emit with
    * `system_to = sentinel`.
    */
  def fold(ops: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val p = prep(ops, payloadCols.map(col))
    val spark = p.sparkSession
    import spark.implicits._
    p.groupByKey(_.getLong(0))
      .flatMapSortedGroups($"_sys", $"_tx")((id: Long, it: Iterator[Row]) =>
        foldId(id, it))(Encoders.row(foldedSchema(p.schema("_p").dataType)))
      .transform(unpack)
  }

  /** [[fold]]'s per-group output: `(_id, _p, _vf, _vt, _sf, _st)`, the
    * four instants in epoch micros. */
  private def foldedSchema(payloadType: DataType): StructType = StructType(Seq(
    StructField("_id", LongType, nullable = false),
    StructField("_p", payloadType),
    StructField("_vf", LongType, nullable = false),
    StructField("_vt", LongType, nullable = false),
    StructField("_sf", LongType, nullable = false),
    StructField("_st", LongType, nullable = false)))

  private final case class Seg(vf: Long, vt: Long, p: Row, sf: Long)

  /** The fold of ONE id: its ops in [[prep]]'s row layout, sorted by
    * `(_sys, _tx)`, to its rectangles in [[foldedSchema]]'s layout. The
    * distributed [[fold]] runs it per sorted group; the driver-side
    * point path ([[applyOpsLocal]]) runs it on one id's collected rows. */
  private def foldId(id: Long, it: Iterator[Row]): Seq[Row] = {
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Row]
    var segs = List.empty[Seg]
    it.foreach { r =>
      val op = r.getString(1)
      val sys = r.getLong(3)
      val pf = r.getLong(4)
      val pt = r.getLong(5)
      op match {
        case Erase =>
          // erase drops the id's full history, including already
          // emitted rectangles — the single physically-destructive op
          emitted.clear(); segs = Nil
        case _ if pf >= pt => // empty portion: no-op
        case _ =>
          val (hit, keep) = segs.partition(s => s.vf < pt && pf < s.vt)
          var next = keep
          hit.foreach { s =>
            // close the whole segment's system version at `sys`...
            if (sys > s.sf) emitted += Row(id, s.p, s.vf, s.vt, s.sf, sys)
            // ...and re-open the valid-time remnants outside [pf, pt)
            if (s.vf < pf) next ::= Seg(s.vf, pf, s.p, sys)
            if (s.vt > pt) next ::= Seg(pt, s.vt, s.p, sys)
          }
          if (op == Put) next ::= Seg(pf, pt, r.getStruct(6), sys)
          segs = next
      }
    }
    segs.foreach(s => emitted += Row(id, s.p, s.vf, s.vt, s.sf, SentinelMicros))
    emitted.toSeq
  }

  /** Append-only fold — the scalable special case: every op's valid
    * interval is `[vf, ∞)` with `vf` nondecreasing per id in
    * `(_system_from, _tx_id)` order (the natural shape of event-sourced
    * ingest, where facts arrive in application-time order).
    *
    * Then each put is clipped by at most the NEXT op of the same id, so
    * the whole fold is two `lead()` window columns + a union — pure
    * codegen, one shuffle, no per-group state. Emits per put:
    *   1. `[vf, ∞) × [sys, nextSys)` — as believed until superseded
    *   2. `[vf, nextVf) × [nextSys, ∞)` — the clipped version thereafter
    * (degenerate intervals skipped). Deletes emit nothing but clip.
    * Erase is not representable here — use [[fold]].
    */
  def foldAppendOnly(ops: DataFrame, payloadCols: Seq[String]): DataFrame = {
    // Contract violations (erase ops, finite valid-to) would not error —
    // they would produce plausible-looking WRONG rectangles (dropped
    // erases, valid-to widened to the sentinel). Validate distributed:
    // assert_true raises on the first violating row, coalesce(NULL,true)
    // keeps the filter transparent otherwise.
    val p = prep(ops, payloadCols.map(col))
      .filter(coalesce(assert_true(
        col("_op") =!= Erase && col("_vt") === SentinelMicros,
        lit("foldAppendOnly contract: no erase ops, unbounded valid-to " +
          "only — use Bitemporal.fold for the general case")), lit(true)))
    val w = Window.partitionBy(col("_id")).orderBy(col("_sys"), col("_tx"))
    // The third contract condition — _valid_from nondecreasing per id —
    // is checked in the SAME window pass (lag over the identical spec
    // costs nothing extra): an out-of-order put is clipped only by its
    // lead, never by earlier overlapping ops, i.e. wrong rectangles.
    val x = p
      .withColumn("_nvf", lead(col("_vf"), 1).over(w))
      .withColumn("_nsys", lead(col("_sys"), 1).over(w))
      .withColumn("_pvf", lag(col("_vf"), 1).over(w))
      .filter(coalesce(assert_true(
        col("_pvf").isNull || col("_vf") >= col("_pvf"),
        lit("foldAppendOnly contract: _valid_from must be nondecreasing " +
          "per id in (_system_from, _tx_id) order — use Bitemporal.fold " +
          "for out-of-order valid time")), lit(true)))
      .drop("_pvf")
    val sent = lit(SentinelMicros)
    // One pass: each put yields ≤2 rectangles (its own system interval +
    // the remnant closed by the successor's valid-from). A union of two
    // filtered branches would re-run the scan+shuffle+window per branch
    // (Catalyst has no cross-branch CSE) — struct-explode keeps the fold
    // at exactly one shuffle.
    def rect(vf: Column, vt: Column, sf: Column, st: Column) =
      struct(vf.as("_vf"), vt.as("_vt"), sf.as("_sf"), st.as("_st"))
    unpack(x.filter(col("_op") === Put)
      .select(col("_id"), col("_p"), explode(array_compact(array(
        when(coalesce(col("_nsys"), sent) > col("_sys"),
          rect(col("_vf"), sent, col("_sys"), coalesce(col("_nsys"), sent))),
        when(col("_nvf").isNotNull && col("_nvf") > col("_vf"),
          rect(col("_vf"), col("_nvf"), col("_nsys"), sent))))).as("_r"))
      .select(col("_id"), col("_p"), col("_r._vf").as("_vf"),
        col("_r._vt").as("_vt"), col("_r._sf").as("_sf"),
        col("_r._st").as("_st")))
  }

  /** Bitemporal visibility filter — the reference's *basis*
    * (`FOR SYSTEM_TIME AS OF s FOR APPLICATION_TIME AS OF v`). Sargable:
    * all four comparisons reach the parquet scan and prune row groups.
    * When the input carries a `_sys_date` partition column (a compacted
    * [[TxLog]] base), an equivalent predicate on it is added so Catalyst
    * prunes whole PARTITIONS (`PartitionFilters` in the scan) — rows
    * written after the basis can never be visible at it. */
  def asOf(rectangles: DataFrame, validTime: Column, systemTime: Column): DataFrame = {
    val visible = rectangles.filter(
      col("_system_from") <= systemTime && systemTime < col("_system_to") &&
        col("_valid_from") <= validTime && validTime < col("_valid_to"))
    if (rectangles.columns.contains("_sys_date"))
      visible.filter(col("_sys_date") <= to_date(systemTime)).drop("_sys_date")
    else visible
  }

  /** Snapshot of the latest known state: system = valid = now. */
  def currentState(rectangles: DataFrame): DataFrame = {
    val now = current_timestamp()
    asOf(rectangles, now, now)
  }

  /** Valid-time history as currently believed (latest system version). */
  def currentHistory(rectangles: DataFrame, systemTime: Column): DataFrame =
    rectangles.filter(
      col("_system_from") <= systemTime && systemTime < col("_system_to"))

  /** Valid-time INNER join — the SQL:2011 temporal-join shape: rows of
    * `a` and `b` with equal `keys` and OVERLAPPING half-open
    * `[_valid_from, _valid_to)` intervals; the output interval is the
    * INTERSECTION. `b`'s temporal columns (and any payload name clash)
    * take `suffix`.
    *
    * Scale: an ordinary equi-join shuffle on the keys — the overlap
    * predicate evaluates inside each key group, never a range
    * cross-product. Cost envelope identical to any keyed join; a
    * skewed key takes [[graft.ra.RA.saltedJoin]] the same way. */
  def validTimeJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
                    suffix: String = "_r"): DataFrame = {
    val tcols = Seq("_valid_from", "_valid_to")
    require((tcols ++ keys).forall(a.columns.contains) &&
      (tcols ++ keys).forall(b.columns.contains),
      s"validTimeJoin: both sides need ${keys.mkString(", ")} and $tcols")
    val bR = b.columns.foldLeft(b) { (df, c) =>
      if (keys.contains(c)) df
      else if (tcols.contains(c) || a.columns.contains(c))
        df.withColumnRenamed(c, c + suffix)
      else df
    }
    a.join(bR, keys)
      .filter(col("_valid_from") < col("_valid_to" + suffix) &&
        col("_valid_from" + suffix) < col("_valid_to"))
      .withColumn("_valid_from",
        greatest(col("_valid_from"), col("_valid_from" + suffix)))
      .withColumn("_valid_to",
        least(col("_valid_to"), col("_valid_to" + suffix)))
      .drop("_valid_from" + suffix, "_valid_to" + suffix)
  }

  /** Valid-time COALESCING — the period-algebra normalization SQL:2011
    * left out and every temporal paper asks for: merge rectangles of
    * one id that are ADJACENT OR OVERLAPPING in valid time and agree on
    * payload and system interval, so a history fragmented by repeated
    * same-value portion writes reads back as the minimal rectangle set
    * (equal visibility at every bitemporal point, fewer rows).
    *
    * Gaps-and-islands over `(id, system interval, payload)` groups: one
    * window pass ordered by valid-from (island starts where valid-from
    * exceeds the running max of previous valid-tos), one aggregation to
    * the islands' envelopes. Scale: window + agg both partition by the
    * group key — no self-join, no collect. */
  def coalesceValid(rects: DataFrame, payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = (Seq("_id", "_system_from", "_system_to") ++ payloadCols).map(col)
    val w = Window.partitionBy(grp: _*).orderBy(col("_valid_from"), col("_valid_to"))
    val runMax = max(col("_valid_to"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    rects
      .withColumn("_new", when(
        runMax.isNull || col("_valid_from") > runMax, 1).otherwise(0))
      .withColumn("_island", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(grp :+ col("_island"): _*)
      .agg(min(col("_valid_from")).as("_valid_from"),
        max(col("_valid_to")).as("_valid_to"))
      .drop("_island")
      .select(rects.columns.map(col): _*)
  }

  /** FOLD FROM STATE — apply an op batch to an ALREADY-FOLDED rectangle
    * relation without replaying history: true incremental maintenance
    * of the bitemporal relation, the step that makes compaction cost
    * ∝ tail instead of ∝ touched ids' full history (an id written
    * daily for 10 years re-folds 3650 ops today; from state it folds
    * its CURRENT segments + today's ops).
    *
    * Correctness: [[fold]]'s per-id running state is exactly its list
    * of open segments, and each open segment is reconstructible from
    * its output rectangle — a `system_to = sentinel` rectangle
    * `[vf, vt) × [sf, ∞)` re-enters the fold as a pseudo-put of
    * `[vf, vt)` at system time `sf` (tx −1, so it sorts before any
    * real op at the same instant). Current rectangles of one id are
    * valid-time disjoint, so folding the pseudo-puts alone reproduces
    * the open-segment state bit-for-bit; folding them WITH the new ops
    * is then identical to folding the id's full history plus the ops.
    * Closed rectangles are already-emitted output: they pass through
    * untouched — except for ids the batch ERASES, whose entire emitted
    * history drops (the fold's `emitted.clear()`), matching the
    * reference's retroactive erase.
    *
    * Contract (same as the log's): system times are monotonic — an op
    * batch never carries a system time earlier than the state's open
    * segments. */
  def applyOps(state: DataFrame, ops: DataFrame,
               payloadCols: Seq[String]): DataFrame = {
    val open = state.filter(col("_system_to") === sentinelNtz)
    val closed = state.filter(col("_system_to") =!= sentinelNtz)
    val erased = ops.filter(col("_op") === Erase)
      .select(col("_id").cast("long").as("_id")).distinct()
    val pseudo = open.select(
      lit(Put).as("_op") +: col("_id") +: lit(-1L).as("_tx_id") +:
        (Seq("_system_from", "_valid_from", "_valid_to") ++ payloadCols)
          .map(col): _*)
    val refolded = fold(
      pseudo.unionByName(ops.select(pseudo.columns.map(col): _*)),
      payloadCols)
    closed.join(erased, Seq("_id"), "left_anti")
      .select(refolded.columns.map(col): _*)
      .unionByName(refolded)
  }

  // ---- the driver-side point path: [[applyOps]] over a few ids ----

  /** Ops in the point path's collected layout: [[prep]]'s columns plus
    * a NULL `_st`. `payload` are the payload columns, typed and aliased. */
  private[graft] def pointOps(ops: DataFrame, payload: Seq[Column]): DataFrame =
    prep(ops, payload).withColumn("_st", lit(null).cast("long"))

  /** Rectangles in the point path's collected layout: a NULL `_op` and
    * `_tx`, the four instants in micros (`_system_from` as `_sys`,
    * `_system_to` as `_st`). Union-compatible with [[pointOps]]. */
  private[graft] def pointRects(rects: DataFrame, payload: Seq[Column]): DataFrame =
    rects.select(
      col("_id").cast("long").as("_id"),
      lit(null).cast("string").as("_op"),
      lit(null).cast("long").as("_tx"),
      micros(col("_system_from")).as("_sys"),
      micros(col("_valid_from")).as("_vf"),
      micros(col("_valid_to")).as("_vt"),
      struct(payload: _*).as("_p"),
      micros(col("_system_to")).as("_st"))

  /** [[applyOps]] on the driver, over collected [[pointRects]] and
    * [[pointOps]] rows of a few ids; returns their rectangles in
    * [[foldedSchema]]'s layout. Same per-id semantics: an id without
    * ops keeps its rectangles; otherwise its closed rectangles pass
    * through unless an op erases the id, its open ones re-enter as
    * pseudo-puts at tx −1, and [[foldId]] folds them with the ops in
    * `(_sys, _tx)` order. */
  private[graft] def applyOpsLocal(rows: Seq[Row]): Seq[Row] =
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap { case (id, rs) =>
      val (rects, ops) = rs.partition(_.isNullAt(1))
      def folded(r: Row) =
        Row(id, r.get(6), r.getLong(4), r.getLong(5), r.getLong(3), r.getLong(7))
      if (ops.isEmpty) rects.map(folded)
      else {
        val (open, closed) = rects.partition(_.getLong(7) == SentinelMicros)
        val kept =
          if (ops.exists(_.getString(1) == Erase)) Nil else closed.map(folded)
        val pseudo = open.map(r =>
          Row(id, Put, -1L, r.getLong(3), r.getLong(4), r.getLong(5), r.get(6)))
        kept ++ foldId(id,
          (pseudo ++ ops).sortBy(r => (r.getLong(3), r.getLong(2))).iterator)
      }
    }

  /** [[applyOpsLocal]]'s rows as a local relation with [[fold]]'s output
    * columns. `nullable` makes every column nullable, as [[fold]]'s
    * output becomes in a union with a parquet read. */
  private[graft] def localRectangles(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[Row], payloadType: StructType, nullable: Boolean): DataFrame = {
    val sc = foldedSchema(payloadType)
    import scala.jdk.CollectionConverters._
    unpack(spark.createDataFrame(rows.asJava,
      if (nullable) StructType(sc.fields.map(_.copy(nullable = true))) else sc))
  }

  /** KEYLESS interval overlap join — the range-join shape open-source
    * Spark has no native strategy for (a naive formulation plans a
    * cartesian product with an overlap filter). Implemented by TIME
    * BINNING: each interval explodes to the fixed-width bins it
    * touches, the join is an ordinary `_bin` equi-join, the exact
    * overlap predicate filters inside each bin, and a pair is emitted
    * exactly once — in the first bin both intervals share, which is
    * the bin of `greatest(a.from, b.from)` (both contain that instant
    * whenever they overlap), so no distinct pass is ever needed.
    * Output matches [[validTimeJoin]]: intersected interval, `b`'s
    * clashes suffixed.
    *
    * Scale: shuffle ≈ Σ(interval length / binWidth + 1) rows per side —
    * `binWidth` trades replication (long intervals touch many bins)
    * against per-bin join density (short bins spread hot periods over
    * more reducers). Pick it near the TYPICAL interval length; a
    * handful of replicas per row keeps the join linear where the naive
    * plan is quadratic. Empty intervals (from >= to) are dropped, as
    * the half-open semantics dictate.
    *
    * `binSeconds = 0` (the default) AUTO-PICKS the width from a
    * one-pass [[autoBinSeconds]] sketch of both sides' interval
    * lengths — at 100× data a hand-picked constant silently rots
    * (too small → the long tail explodes replication; too big → hot
    * periods collapse into few dense bins), while the distribution
    * tracks the data. */
  def intervalJoin(a: DataFrame, b: DataFrame, binSeconds: Long = 0L,
                   suffix: String = "_r"): DataFrame = {
    val tcols = Seq("_valid_from", "_valid_to")
    require(tcols.forall(a.columns.contains) &&
      tcols.forall(b.columns.contains),
      s"intervalJoin: both sides need $tcols")
    require(binSeconds >= 0, "intervalJoin: binSeconds must be positive (0 = auto)")
    val bs = if (binSeconds > 0) binSeconds else autoBinSeconds(a, b)
    val bw = bs * 1000000L // micros per bin
    def bins(df: DataFrame) = df
      .filter(col("_valid_from") < col("_valid_to"))
      .withColumn("_bin", explode(sequence(
        // explicit cast through "timestamp": NTZ rectangle inputs (fold
        // output) bin identically to the LTZ paths used by
        // timeWeighted/resampleLocf instead of relying on implicit
        // NTZ→LTZ coercion inside unix_micros
        floor(unix_micros(col("_valid_from").cast("timestamp")) / bw).cast("long"),
        floor((unix_micros(col("_valid_to").cast("timestamp")) - 1) / bw).cast("long"))))
    val bPrep = b.columns.foldLeft(b) { (df, c) =>
      if (!tcols.contains(c) && a.columns.contains(c))
        df.withColumnRenamed(c, c + suffix)
      else df
    }
    val bBinned = bins(bPrep)
      .withColumnRenamed("_valid_from", "_valid_from" + suffix)
      .withColumnRenamed("_valid_to", "_valid_to" + suffix)
    bins(a).join(bBinned, "_bin")
      .filter(col("_valid_from") < col("_valid_to" + suffix) &&
        col("_valid_from" + suffix) < col("_valid_to"))
      .filter(col("_bin") === floor(
        unix_micros(greatest(col("_valid_from"), col("_valid_from" + suffix))
          .cast("timestamp")) / bw).cast("long"))
      .withColumn("_valid_from",
        greatest(col("_valid_from"), col("_valid_from" + suffix)))
      .withColumn("_valid_to",
        least(col("_valid_to"), col("_valid_to" + suffix)))
      .drop("_bin", "_valid_from" + suffix, "_valid_to" + suffix)
  }

  /** Auto bin width for [[intervalJoin]]: one distributed aggregation
    * pass over BOTH sides' interval lengths (seconds). The width is the
    * approximate p50 ("near the typical length" — a typical row then
    * spans 1–2 bins) floored by mean/64, which caps TOTAL replication:
    * Σ(lenᵢ/bin) ≤ 64·n whenever bin ≥ mean/64, so the shuffle volume
    * stays ∝ the input even when the length distribution mixes
    * mostly-seconds rows with multi-year outliers (a p50-only width
    * would explode each outlier into len/p50 — potentially millions —
    * of replica rows, invisible to any mid quantile). Cost: one
    * aggregation job column-pruned to the two timestamps. */
  def autoBinSeconds(a: DataFrame, b: DataFrame): Long = {
    def lens(df: DataFrame) = df
      .filter(col("_valid_from") < col("_valid_to"))
      .select(((unix_micros(col("_valid_to").cast("timestamp")) -
        unix_micros(col("_valid_from").cast("timestamp"))) / 1000000L)
        .cast("long").as("_len"))
    val r = lens(a).unionByName(lens(b))
      .agg(percentile_approx(col("_len"), lit(0.5), lit(5000)).as("p50"),
        avg(col("_len")).as("mean"))
      .head
    if (r.isNullAt(0)) 86400L // both sides empty: any width works
    else math.max(1L,
      math.max(r.getLong(0), (r.getDouble(1) / 64.0).toLong))
  }

  /** System-time DIFF between two bases — the audit question "what did
    * the database learn between s1 and s2?" (at valid time `validTime`):
    * one row per id whose visible version differs between the bases,
    * labeled `added` / `removed` / `updated`, with the old and new
    * payload side by side. The reference's tx-log consumers answer this
    * by replaying the log; over rectangles it is two basis filters and
    * one full outer join.
    *
    * Scale: both snapshot scans are sargable (the [[asOf]] predicates
    * reach the parquet stats, `_sys_date` partitions prune) and the
    * join is an ordinary `_id` equi-join — broadcastable when one basis
    * is close to the other (the diff of a day touches a day's ids). */
  def sysDiff(rectangles: DataFrame, validTime: Column,
              s1: Column, s2: Column,
              payloadCols: Seq[String]): DataFrame = {
    def side(sys: Column, tag: String) =
      asOf(rectangles, validTime, sys).select(
        col("_id") +: lit(true).as(s"_in$tag") +:
          payloadCols.map(c => col(c).as(s"$tag$c")): _*)
    val changed = payloadCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    side(s1, "old_").join(side(s2, "new_"), Seq("_id"), "full_outer")
      .withColumn("change",
        when(col("_inold_").isNull, "added")
          .when(col("_innew_").isNull, "removed")
          .when(changed, "updated"))
      .filter(col("change").isNotNull)
      .drop("_inold_", "_innew_")
  }

  /** Interval-weighted aggregation over a valid-time history — "what
    * was the average X over [from, to)", where a version counts in
    * proportion to how long it was valid inside the window (the
    * temporal-AVG every bitemporal store gets asked for; plain AVG
    * over versions would weight a 1-day blip equally with a 10-year
    * steady state). Returns, per `byCols` group: `weighted_sum`
    * (Σ value·overlap-seconds), `covered_secs` (Σ overlap-seconds) and
    * `time_weighted_avg` (their ratio).
    *
    * Scale: a sargable overlap filter + one map-side-combined hash
    * aggregation — the same envelope as any groupBy; no window, no
    * self-join, no sort. */
  def timeWeighted(history: DataFrame, from: Column, to: Column,
                   valueCol: String, byCols: Seq[String]): DataFrame = {
    val w = (unix_micros(least(col("_valid_to"), to).cast("timestamp")) -
      unix_micros(greatest(col("_valid_from"), from).cast("timestamp")))
      .cast("double") / lit(1e6)
    history.filter(col("_valid_from") < to && from < col("_valid_to"))
      .withColumn("_w", w)
      .groupBy(byCols.map(col): _*)
      .agg(sum(col(valueCol) * col("_w")).as("weighted_sum"),
        sum(col("_w")).as("covered_secs"))
      .withColumn("time_weighted_avg",
        col("weighted_sum") / col("covered_secs"))
  }

  /** Piecewise-constant aggregate timeline (the classic temporal
    * aggregation / sweep operator): every interval contributes +value
    * at `_valid_from` and −value at `_valid_to`; the running total over
    * the sorted change points is SUM(value) over each elementary
    * interval. Output: one row per distinct change point `t` with
    * `agg` = the sum valid over [t, next change point).
    *
    * Scale — the hard case is the GLOBAL timeline (empty `byCols`),
    * where a naive window would move every change point to ONE
    * partition. This uses the textbook two-phase distributed prefix
    * sum instead: range-repartition the per-t deltas by `t`, compute
    * each range's local prefix sums in parallel (window partitioned by
    * the range id), and add per-range offsets — the cumulative sums of
    * the ranges' totals, a #partitions-sized relation computed with one
    * tiny aggregation and collected (bounded by the shuffle-partition
    * count, like AQE's own stats — never O(data)). With `byCols` the
    * window partitions by the group key directly and no offset pass is
    * needed. */
  def timelineSweep(history: DataFrame, valueCol: String,
                    byCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val events = history.select(
      (byCols.map(col) :+ explode(array(
        struct(col("_valid_from").as("t"),
          col(valueCol).cast("double").as("d")),
        struct(col("_valid_to").as("t"),
          (-col(valueCol)).cast("double").as("d")))).as("_e")): _*)
      .select(byCols.map(col) :+ col("_e.t").as("t") :+
        col("_e.d").as("d"): _*)
    val deltas = events.groupBy(byCols.map(col) :+ col("t"): _*)
      .agg(sum(col("d")).as("_delta"))
    if (byCols.nonEmpty) {
      val w = Window.partitionBy(byCols.map(col): _*).orderBy(col("t"))
      deltas.withColumn("agg", sum(col("_delta")).over(w)).drop("_delta")
    } else {
      val ranged = deltas.repartitionByRange(col("t"))
        .sortWithinPartitions(col("t"))
        .withColumn("_pid", spark_partition_id())
        .localCheckpoint() // pin range placement: _pid must mean the same
                           // partition in both reads below
      val totals = ranged.groupBy(col("_pid"))
        .agg(sum(col("_delta")).as("_tot"))
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
        .sortBy(_._1)
      val offsets = totals.map(_._1)
        .zip(totals.map(_._2).scanLeft(0.0)(_ + _))
      val spark = history.sparkSession
      import spark.implicits._
      val offDf = offsets.toSeq.toDF("_pid", "_off")
      val w = Window.partitionBy(col("_pid")).orderBy(col("t"))
      ranged.join(broadcast(offDf), Seq("_pid"))
        .withColumn("agg", sum(col("_delta")).over(w) + col("_off"))
        .drop("_pid", "_delta", "_off")
    }
  }
}
