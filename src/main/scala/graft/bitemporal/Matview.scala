package graft.bitemporal

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate view over a bitemporal tx log —
  * COUNT/SUM (and anything derivable: AVG) per group at a FIXED
  * bitemporal basis, kept current by folding only the log TAIL into
  * stored per-group state instead of recomputing the aggregate.
  *
  * Classic self-maintainable IVM, shaped for the 100 TB tier:
  *
  *   - refresh work ∝ the tail: tail tx files are file-pruned by the
  *     watermark (never listed, let alone read, for old txs); the
  *     touched ids' PRIOR contribution re-folds only their history
  *     rows (sargable `_id` semi-join over the sorted, bloom-filtered
  *     log — the same point-read path `entity()` uses);
  *   - state writes ∝ touched GROUPS: state is hash-bucketed on the
  *     group key and only buckets holding a changed group are
  *     rewritten (temp-write + directory swap, the
  *     [[TxLog.compactIncremental]] pattern) — a refresh that touches
  *     3 groups rewrites ≤ 3 of [[nBuckets]] bucket directories;
  *   - no driver-side data: the only collects are the affected bucket
  *     ids (≤ nBuckets longs) and the watermark.
  *
  * The basis (`validAt`, system = latest) is fixed at construction so
  * incrementality is sound: a row's visibility at the basis changes
  * only through new transactions, never through wall-clock drift.
  * COUNT/SUM are self-maintainable; MIN/MAX are NOT under
  * deletes/updates (the classic IVM restriction) and are served by the
  * documented fallback: each refresh recomputes extremes for the
  * TOUCHED GROUPS ONLY by re-reading their member rows at the basis
  * (group predicate pushed into the base scan). A COUNT/SUM-only view
  * never pays that read — refresh stays ∝ tail.
  * For exact parity with a from-scratch recompute use exact-typed sum
  * columns (integral/DECIMAL): incremental float sums differ from
  * recomputed ones in the last bits, decimals never do.
  *
  * This class derives a refresh's member rectangles; the aggregate,
  * the delta merge and the state store are [[MvCore]]'s.
  */
final class Matview private[graft] (
    spark: SparkSession, log: TxLog, stateRoot: Path,
    payloadCols: Seq[String], groupCols: Seq[String], sumCols: Seq[String],
    validAt: Timestamp, nBuckets: Int,
    minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
    cntCols: Seq[String] = Nil, whereSql: Option[String] = None,
    derived: Seq[(String, String)] = Nil,
    distincts: Seq[MvDistinct] = Nil,
    bucketCols: Seq[String] = Nil,
    hllCols: Seq[String] = Nil,
    rangeLayout: Boolean = false,
    pcts: Seq[MvPct] = Nil) {
  // DERIVED columns (name -> row-local deterministic SQL expression
  // over the payload) extend the aggregable surface to expression
  // aggregates — SUM(a*b) maintains exactly like SUM(c)
  private val aggable = payloadCols ++ derived.map(_._1)
  require(sumCols.forall(aggable.contains),
    s"sum columns $sumCols must be payload or derived columns $aggable")
  require((minCols ++ maxCols).forall(aggable.contains),
    s"min/max columns ${minCols ++ maxCols} must be payload or derived columns $aggable")

  private val core = new MvCore(spark, stateRoot, aggable, groupCols,
    sumCols, minCols, maxCols, cntCols, hllCols, pcts, distincts,
    bucketCols, nBuckets, rangeLayout, whereSql, derived, validAt,
    fpPayload = payloadCols)

  /** Last tx id folded into the state, -1 before the first refresh. */
  def watermark: Long = core.watermarks(1).head

  /** Is the state CURRENT — would a refresh be a no-op? See
    * [[MvCore.isFresh]]. */
  def isFresh: Boolean = core.isFresh(Seq(log))

  private def readTx(files: Seq[Path]): DataFrame =
    TxLog.readMerged(spark, files.map(_.toString))

  /** Fold every tx past the watermark into the state. Returns the new
    * watermark (= old one when the log has nothing new). Once the log
    * has been truncated ([[TxLog.truncate]]) every refresh is an exact
    * full rebuild — see [[MvCore.needsRebuild]]. */
  def refresh(): Long = refreshUpTo(None)

  /** [[refresh]] bounded to fold NO tx past `pin` — the DISTINCT serve
    * path refreshes its auxiliary pair-level view pinned to the main
    * view's just-recorded watermark, so both states always describe
    * the same log prefix (a tx landing between the two refreshes stays
    * wholly in the next one). A pin at or below the current watermark
    * is a no-op. */
  private[graft] def refreshUpTo(pin: Option[Long],
      sharedIn: Option[MvShared] = None): Long =
    MaintainerLease.withLease(
      java.nio.file.Paths.get(log.dir), "matview-refresh") {
      Checkpoints.scoped(refreshHeld(pin, sharedIn, _))
    }

  /** [[refreshUpTo]]'s body, under the lease; every local checkpoint it
    * takes goes into `cps` and is released when it returns. */
  private def refreshHeld(pin: Option[Long], sharedIn: Option[MvShared],
                          cps: Checkpoints): Long = {
    core.dropIfRedefined()
    val w = watermark
    val truncated = log.truncatedUpTo()
    val files0 = log.txFiles()
    val lastAll =
      (files0.map(TxLog.txIdOf) ++ truncated).maxOption.getOrElse(-1L)
    // under a pin, every relation this refresh folds must stop at it —
    // the file set, the tail, and the touched ids' history alike
    val last = pin.fold(lastAll)(p => math.min(p, lastAll))
    if (last <= w) return w
    val files = files0.filter(TxLog.txIdOf(_) <= last)
    if (truncated.isEmpty && files.isEmpty) return w
    // first build, or any refresh of a truncated log: one full fold of
    // the rectangles (base + tail), pinned to the watermark being
    // recorded — a tx committing mid-rebuild stays ABOVE it
    if (core.needsRebuild(Seq(log), Seq(w))) {
      core.rebuild(Seq(last), sharedIn, cps)(core.prep(core.visible(
        log.readAllAuto(spark, payloadCols, upToTx = last))))
      return last
    }

    // Old and new contributions from ONE full-history fold of the
    // touched ids: the old rectangles fold once (the `_tx_id ≤ w`
    // filter prunes tail files via their constant-_tx_id footer stats)
    // and checkpoint; the new side derives by FOLD FROM STATE:
    // applyOps(old rectangles, tail ops) — the exact-equivalence
    // contract BitemporalSpec locks ("applyOps == full fold at EVERY
    // split point"). The tail is bounded to `last`, so a concurrently
    // landing tx stays wholly in the NEXT refresh.
    //
    // An aux refresh driven by its parent over the SAME log at the SAME
    // watermarks adopts the parent's relations outright (sharedIn); any
    // watermark drift (post-restore, def-change rebuild) self-derives.
    val (touched, oldRect, newRect) = sharedIn match {
      case Some(sd: MvSharedDelta) if sd.baseW == w && sd.last == last =>
        (sd.touched, sd.oldRect, sd.newRect)
      case _ =>
        val tail = readTx(log.txFilesAfter(w).filter(TxLog.txIdOf(_) <= last))
        val tch = tail.select(col("_id").cast("long").as("_id")).distinct()
        val all = readTx(files)
        val hist = all.join(tch, all("_id").cast("long") === tch("_id"),
          "left_semi")
        val oldCp = cps.pin(
          Bitemporal.fold(hist.filter(col("_tx_id") <= w), payloadCols))
        // schemaless normalization for the tail ops (refoldTouched's
        // contract): a short tail may lack payload columns older txs
        // carried
        val tailOps = payloadCols.foldLeft(tail)((d, c) =>
          if (d.columns.contains(c)) d
          else d.withColumn(c, lit(null).cast(oldCp.schema(c).dataType)))
        (tch, oldCp, Bitemporal.applyOps(oldCp, tailOps, payloadCols))
    }
    // with DISTINCT auxes the new-side rectangles are consumed by this
    // refresh's delta AND by every aux's (shared) delta — pin them once
    // so the applyOps fold runs one time, not once per consumer
    val newRectS =
      if (distincts.isEmpty || sharedIn.nonEmpty) newRect
      else cps.pin(newRect)
    core.applyDelta(core.visible(newRectS), core.visible(oldRect),
      core.visible(log.readAllAuto(spark, payloadCols, upToTx = last)),
      Seq(last), Some(MvSharedDelta(w, last, touched, oldRect, newRectS)),
      cps)
    last
  }

  /** The maintained view: (group, n, sum_*) — read-only, no recompute.
    * RAW-STATE semantics: a `sum_c` column stores the additive identity
    * 0 for a group whose every input is NULL (delta merges coalesce
    * through 0). Callers that need ANSI SUM (NULL for all-NULL groups)
    * must also maintain `cnt_c` via `cntCols` and mask on it — the SQL
    * DDL layer (GraftMatviews ServeCol.Sum) does exactly that. */
  def read(): DataFrame = read(spark)

  /** [[read]] bound to an EXPLICIT session — the SQL front doors serve
    * isolated per-client sessions (Spark Connect clones session state),
    * and a DataFrame is session-bound, so serving a view inside a
    * client's session needs the read built THERE. State files are
    * shared; only the plan binding differs. */
  def read(session: SparkSession): DataFrame = core.read(session)

  /** [[read]] WITH the `_bucket` partition column — the parent view's
    * rollup scan prunes on it (aux pair views only). */
  private[graft] def readRaw(session: SparkSession): DataFrame =
    core.readRaw(session)
}

/** One DISTINCT aggregate argument's maintenance hooks, supplied by the
  * composition layer (the DDL front door) that owns the auxiliary
  * pair-level view. The MAIN view's refresh drives the aux: it pins the
  * aux to the exact watermark(s) this refresh will record, then rolls
  * the aux pair state up into materialized `cntd_<arg>` /
  * `sumd_<arg>` columns of the MAIN state — so reads serve from the
  * main state alone (∝ groups, bucket-prunable) and never touch the
  * pair state. The aux stays the source of truth for EXACT distinct
  * under deletes; the rollup columns are a derived cache maintained in
  * the same bucket-scoped swap as every other state column.
  *
  * Contract: the aux is a view over the main view's logs (and join) at
  * the same basis under the same WHERE, grouped by the main groups plus
  * the argument, with derived columns taken from the main view's — so
  * the main view's derived relations are the aux's too. It MUST be
  * bucketed on the main view's group columns (the parent-key prefix)
  * with the SAME bucket count — that makes the
  * aux's `_bucket` of a pair equal the main `_bucket` of its group, so
  * the incremental rollup scan partition-prunes to exactly the
  * refresh's affected buckets. [[graft.server.GraftMatviews]] creates
  * every aux that way. */
private[graft] final case class MvDistinct(
    arg: String,
    /** build the SUM side only when SUM/AVG(DISTINCT arg) is served —
      * sum over a non-numeric argument would fail analysis. */
    needSum: Boolean,
    /** the aux pair state (groups…, arg, n, _bucket) — WITH _bucket. */
    readAux: SparkSession => DataFrame,
    /** refresh the aux pinned to exactly these watermarks
      * ([[Matview]]: length 1; [[JoinMatview]]: fact +: dims). The
      * second argument optionally shares the parent refresh's derived
      * relations: [[MvSharedDelta]] on a single-table incremental
      * refresh, [[MvSharedBuild]] on a rebuild of either kind. */
    refreshAuxTo: (Seq[Long], Option[MvShared]) => Unit) {
  def cntAlias: String = s"cntd_$arg"
  def sumAlias: String = s"sumd_$arg"
  def aliases: Seq[String] =
    cntAlias +: (if (needSum) Seq(sumAlias) else Nil)
}

/** A parent refresh's derived relations handed to its DISTINCT auxes
  * over the SAME logs — the aux adopts them instead of re-deriving
  * (watermark-gated; on any drift the aux derives its own). */
private[graft] sealed trait MvShared

/** The parent refresh's derived incremental-delta relations, handed to
  * each DISTINCT aux over the SAME tx log so the aux does not re-read
  * the tail and re-fold the touched ids' history once per argument:
  * `baseW`/`last` gate adoption (the aux self-derives on any watermark
  * drift), `touched` the tail's id set, `oldRect` the touched ids'
  * rectangles at `baseW` (checkpointed by the parent), `newRect` the
  * same ids' rectangles at `last` (checkpointed when auxes exist). */
private[graft] final case class MvSharedDelta(
    baseW: Long, last: Long, touched: DataFrame,
    oldRect: DataFrame, newRect: DataFrame) extends MvShared

/** A parent rebuild's prepped member relation (visible at the basis,
  * sieved, derived columns attached; a star's keep lists widened by
  * every DISTINCT argument) at the per-log watermarks `lasts` (a star's
  * fact first, then one per dim), checkpointed by the parent when auxes
  * exist. An aux rebuilding at the same watermarks groups it by
  * `groups :+ arg` instead of reading the logs again — sound because an
  * aux reads the same logs at the same basis under the same WHERE, and
  * its derived columns are the parent's (the [[MvDistinct]] contract). */
private[graft] final case class MvSharedBuild(
    lasts: Seq[Long], members: DataFrame) extends MvShared

/** The local checkpoints one refresh, rebuild or tx takes, released
  * together when it ends: a first build's table-sized checkpoint would
  * otherwise hold executor storage until the context cleaner happens to
  * notice it is unreachable. Only frames pinned HERE are released —
  * relations adopted from a parent refresh belong to the parent's
  * scope, which outlives the aux refresh it drives. */
private[graft] final class Checkpoints {
  import org.apache.spark.sql.graftbridge.RddBridge
  private val held = scala.collection.mutable.Buffer.empty[DataFrame]

  /** Local-checkpoint `df` in one job; held until [[releaseAll]]. */
  def pin(df: DataFrame): DataFrame = {
    val cp = RddBridge.localCheckpointWithCount(df)._1
    held += cp; cp
  }

  /** Checkpoint a view delta (which carries `_bucket`) and, in the same
    * job, collect its affected buckets and touched group tuples up to
    * their caps — `None` past a cap. Returns (checkpoint, rows, buckets,
    * group tuples). */
  def pinDelta(delta: DataFrame, nBuckets: Int, groupCols: Seq[String])
      : (DataFrame, Long, Option[Seq[Any]],
         Option[Seq[org.apache.spark.sql.Row]]) = {
    val out = RddBridge.localCheckpointWithStats(
      delta, delta.schema.fieldIndex("_bucket"),
      math.max(nBuckets, MvState.MaxRangeDirs + 1),
      groupCols.map(delta.schema.fieldIndex),
      if (groupCols.size == 1) MvState.MaxInlineGroups
      else MvState.MaxInlineGroupTuples)
    held += out._1; out
  }

  def releaseAll(): Unit = { held.foreach(RddBridge.release); held.clear() }
}

private[graft] object Checkpoints {
  /** Run `body` with a fresh scope, releasing it however `body` ends. */
  def scoped[T](body: Checkpoints => T): T = {
    val cps = new Checkpoints
    try body(cps) finally cps.releaseAll()
  }
}

/** One percentile aggregate: MEDIAN / PERCENTILE_CONT (`approx =
  * false`, exact — Spark's `percentile`, the standard continuous
  * interpolation) or APPROX_PERCENTILE (`approx = true`, Spark's
  * `percentile_approx` — bounded memory for huge groups, the scale
  * path). The state stores the per-group percentile VALUE (double),
  * recomputed for touched groups on the MIN/MAX lifecycle: percentiles
  * cannot subtract, so incremental merging is structurally impossible —
  * the touched-group recompute keeps deletes/updates EXACT for the
  * aggregate's own semantics. The argument casts to double up front
  * (both engines' percentile families are double-valued). */
private[graft] final case class MvPct(
    arg: String, p: Double, approx: Boolean) {
  /** basis points — a collision-free integer encoding of p for state
    * column names (0.5 -> 5000) */
  def bp: Int = math.round(p * 10000).toInt
  def alias: String = (if (approx) "apct_" else "pct_") + bp + "_" + arg
  def fpPart: String = s"$arg@$bp" + (if (approx) "~" else "")
  def agg: Column =
    if (approx)
      expr(s"percentile_approx(cast(`$arg` as double), $p, 10000)")
    else expr(s"percentile(cast(`$arg` as double), $p)")
}

/** State-store helpers behind [[MvCore]], shared by both view kinds. */
private[graft] object MvState {

  /** The materialized rollup column names `distincts` contribute to the
    * main state, in stable order. */
  def distinctAliases(distincts: Seq[MvDistinct]): Seq[String] =
    distincts.flatMap(_.aliases)

  /** Per-group rollup of one aux pair state: the pairs that still exist
    * (`n > 0`) with a non-null argument, counted (and summed) per MAIN
    * group. `buckets` partition-prunes the aux scan to the refresh's
    * affected buckets — sound because the aux is bucketed on the
    * parent-key prefix with the main view's bucket count (the
    * [[MvDistinct]] contract). */
  private def rollup(aux: DataFrame, groupCols: Seq[String],
      d: MvDistinct, buckets: Seq[Any]): DataFrame = {
    val scoped = aux.filter(col("_bucket").isin(buckets: _*))
    val aggs = count(lit(1)).as(d.cntAlias) +:
      (if (d.needSum) Seq(sum(col(d.arg)).as(d.sumAlias)) else Nil)
    scoped.filter(col("n") > 0 && col(d.arg).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The rollup columns of ALL groups, aggregated straight from a
    * COMPLETE member relation — the full-build / rebuild paths, which
    * hold every member anyway: COUNT/SUM(DISTINCT arg) per group equal
    * the aux pair state's rollup (pairs with n > 0 and a non-null
    * argument) without reading that state back. COUNT of zero distinct
    * values is 0, SUM is NULL (SQL semantics). */
  def distinctAggs(distincts: Seq[MvDistinct]): Seq[Column] =
    distincts.flatMap(d => count_distinct(col(d.arg)).as(d.cntAlias) +:
      (if (d.needSum) Seq(sum_distinct(col(d.arg)).as(d.sumAlias))
       else Nil))

  /** Attach `bucket` as `_bucket` to a full aggregate whose rollup
    * columns come last, keeping the state's column order (rollups
    * after `_bucket`). */
  def withBucket(agg: DataFrame, bucket: Column,
                 distincts: Seq[MvDistinct]): DataFrame = {
    val dd = distinctAliases(distincts)
    agg.select(agg.columns.toSeq.filterNot(dd.contains).map(col) ++
      (bucket.as("_bucket") +: dd.map(col)): _*)
  }

  /** Overlay rollups for the TOUCHED groups onto the merged state slice
    * (which must already carry the rollup columns, ridden along from
    * stored state): touched groups take the freshly recomputed rollup —
    * including 0/NULL when their last pair vanished — untouched groups
    * in an affected bucket keep their stored values. The same
    * flag-not-coalesce discipline as the MIN/MAX merge: a touched
    * group's legitimate NULL must not fall back to stale state. */
  def overlayDistinct(merged: DataFrame, groupCols: Seq[String],
      touched: DataFrame, affected: Seq[Any],
      distincts: Seq[MvDistinct], spark: SparkSession): DataFrame =
    distincts.foldLeft(merged) { (acc0, d) =>
      val keep = acc0.columns.toSeq
      val acc = acc0.as("b")
      val roll = rollup(d.readAux(spark), groupCols, d, affected)
      val rKey = groupCols.map(g =>
        col(s"tg.$g") <=> col(s"rr.$g")).reduce(_ && _)
      // every touched group gets a row, present in the rollup or not
      val tr = touched.as("tg").join(roll.as("rr"), rKey, "left")
        .select(groupCols.map(g => col(s"tg.$g").as(g)) ++
          (lit(true).as("_dd") +:
            coalesce(col(s"rr.${d.cntAlias}"), lit(0L)).as(d.cntAlias) +:
            (if (d.needSum) Seq(col(s"rr.${d.sumAlias}").as(d.sumAlias))
             else Nil)): _*)
      val cond = groupCols.map(g =>
        col(s"b.$g") <=> col(s"r.$g")).reduce(_ && _)
      acc.join(tr.as("r"), cond, "left").select(
        keep.map {
          case c if c == d.cntAlias =>
            when(col("_dd") === true, col(s"r.${d.cntAlias}"))
              .otherwise(col(s"b.$c")).as(c)
          case c if d.needSum && c == d.sumAlias =>
            when(col("_dd") === true, col(s"r.${d.sumAlias}"))
              .otherwise(col(s"b.$c")).as(c)
          case c => col(s"b.$c")
        }: _*)
    }
  /** Sieve (the view's WHERE) then attach the derived expression
    * columns — the row-local preparation every aggregation path of
    * both view kinds shares. One definition, because it feeds the
    * group-key/bucket formula below: the two must never drift apart
    * between the view kinds. */
  def prep(df: DataFrame, whereSql: Option[String],
           derived: Seq[(String, String)]): DataFrame =
    derived.foldLeft(whereSql.map(w => df.filter(expr(w))).getOrElse(df)) {
      case (d, (n, e)) => d.withColumn(n, expr(e))
    }

  /** Hash bucket of the group key (null-safe: null groups get a real
    * bucket, not a hive default partition). The single-column formula
    * is kept BIT-IDENTICAL to the pre-r12 one so existing state dirs
    * keep their bucket assignment; multi-column keys concat with a
    * \u0001 separator. */
  /** Formula constants shared with [[graft.plans.MvBucketPrune]], which
    * rebuilds the same hash over PREDICATE LITERALS — the two sides
    * must never drift or pruning would silently read the wrong bucket. */
  val NullGroupMarker = "\\u0000:null-group"
  val GroupKeySep = "\u0001"

  def bucketCol(groupCols: Seq[String], nBuckets: Int): Column = {
    val parts = groupCols.map(c =>
      coalesce(col(c).cast("string"), lit(NullGroupMarker)))
    val key = if (parts.size == 1) parts.head
      else concat_ws(GroupKeySep, parts: _*)
    pmod(xxhash64(key), lit(nBuckets.toLong))
  }

  /** `layout = range` partition column: the FIRST group column's VALUE
    * prefixed with [[RangeValuePrefix]]; nulls get the shared marker.
    * One dir per distinct leading-key value, so RANGE predicates on a
    * lexicographically-ordered key (ISO dates/months, zero-padded
    * codes) prune dirs natively — the layout for time-keyed rollups,
    * refused for non-string keys (lexicographic ≠ numeric order).
    *
    * The prefix exists for two invariants: (a) an EMPTY-string key must
    * not produce an empty partition value — Spark writes '' to the
    * __HIVE_DEFAULT_PARTITION__ dir and reads it back as NULL, which
    * would silently detach the group from its dir (found by review);
    * (b) the null marker (which starts with a backslash, ABOVE digits
    * in ASCII) must sort BELOW every real key so translated `>=`
    * bounds exclude it and `<=` bounds include it as a harmless
    * superset — the marker starts at \u0000 only the prefix guarantees
    * every real dir value starts at 'k'. Ordering of real keys is
    * preserved under the shared prefix. */
  val RangeValuePrefix = "k"
  def rangeBucketCol(leadGroupCol: String): Column =
    // the explicit string cast is the write-side format contract: for
    // STRING keys it is the identity; for DATE keys it is the ISO
    // `yyyy-MM-dd` form (timezone-free, zero-padded — lexicographic
    // order equals date order for 4-digit years, which
    // checkRangeDirValues enforces), and MvBucketPrune.pruneRange
    // rebuilds the SAME cast over predicate literals
    coalesce(concat(lit(RangeValuePrefix),
        col(leadGroupCol).cast("string")),
      lit(NullGroupMarker))

  /** Touched-group sets up to this size ship as a LITERAL membership
    * predicate on the member re-read (MIN/MAX/HLL recompute) instead
    * of a semi-join: plain stored group keys then push to the base
    * parquet scan (`PushedFilters` → footer/file pruning on a
    * group-clustered base — the same treatment [[JoinMatview]]'s
    * dim-touched fact restriction gets), and even derived keys skip
    * the join. Multi-column keys expand to a per-tuple conjunction
    * disjunction, capped lower (predicate-tree size). Past the cap the
    * semi-join is the plan, exactly as before. */
  val MaxInlineGroups = 1000
  val MaxInlineGroupTuples = 100

  /** Literal membership predicate for a small set of group-key tuples
    * (rows in `groupCols` order). NULL group keys match via isNull —
    * the null group is a real group. */
  def groupKeyIn(groupCols: Seq[String],
                 rows: Seq[org.apache.spark.sql.Row]): Column =
    if (groupCols.size == 1) {
      val vals = rows.map(_.get(0))
      val nonNull = vals.filter(_ != null)
      val base =
        if (nonNull.isEmpty) lit(false)
        else col(groupCols.head).isin(nonNull: _*)
      if (vals.contains(null)) base || col(groupCols.head).isNull else base
    } else
      rows.map(r => groupCols.zipWithIndex.map { case (g, i) =>
        val v = r.get(i)
        if (v == null) col(g).isNull else col(g) === lit(v)
      }.reduce(_ && _)).reduce(_ || _)

  /** Restrict `members` to the touched groups: literal predicate under
    * the cap (see [[MaxInlineGroups]]), semi-join past it. `touched`
    * must be cheap to collect (it derives from the checkpointed delta —
    * ≤ touched-group rows). */
  def membersOfTouched(members: DataFrame, touched: DataFrame,
                       groupCols: Seq[String]): DataFrame = {
    val cap =
      if (groupCols.size == 1) MaxInlineGroups else MaxInlineGroupTuples
    // non-atomic key types (array/struct/map group columns) cannot be
    // encoded as literals by lit()/isin() — they keep the semi-join
    // (which the null-safe <=> handles for any orderable type), found
    // by review before a small refresh of such a view could crash
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType, UserDefinedType}
    def literalEncodable(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: ArrayType | _: MapType | _: StructType |
             _: UserDefinedType[_] => false
        case _ => true
      }
    val atomicKeys = groupCols.forall(g =>
      members.schema.find(_.name == g).exists(f =>
        literalEncodable(f.dataType)))
    // the probe is one tiny driver job per mm-path refresh — it reads
    // only the checkpointed delta's partitions (rows ∝ touched groups),
    // the same cost class as the affected-bucket collect
    val probe =
      if (atomicKeys) touched.limit(cap + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    val (branch, restricted) =
      if (atomicKeys && probe.length == 0) ("empty", members.limit(0))
      else if (atomicKeys && probe.length <= cap)
        ("inline", members.filter(groupKeyIn(groupCols, probe.toSeq)))
      else {
        val v = members.as("v"); val tg = touched.as("tg")
        val semiKey = groupCols.map(g =>
          col(s"v.$g") <=> col(s"tg.$g")).reduce(_ && _)
        ("semi", v.join(tg, semiKey, "left_semi"))
      }
    // test hook — the member re-read runs inside the merged write job
    // (no QueryExecutionListener event), so the pushdown spec snapshots
    // the restricted relation's STANDALONE plan and the branch taken
    // (same pattern as JoinMatview.capturePlans). This locks the
    // pushdown within the subtree; the EXECUTED-plan evidence is the
    // ScaleSpec row that measures footer-admitted rows on a real
    // refresh (identical at 10x base). Off (zero cost) outside tests.
    if (captureMemberPlans) capturedMemberPlans.synchronized {
      capturedMemberPlans +=
        ((branch, restricted.queryExecution.executedPlan.toString)): Unit
    }
    restricted
  }

  /** Test hooks for the member-re-read pushdown spec: (branch taken,
    * physical plan) per restriction. */
  @volatile private[graft] var captureMemberPlans = false
  private[graft] val capturedMemberPlans =
    scala.collection.mutable.Buffer.empty[(String, String)]

  /** `layout = range` soundness guard, shared by both view kinds (the
    * r12 lesson: layout-critical checks live in ONE place or they
    * drift): dir names compare lexicographically, so only STRING
    * leading keys are accepted. */
  def checkRangeKey(schema: org.apache.spark.sql.types.StructType,
                    leadGroupCol: String): Unit = {
    import org.apache.spark.sql.types.{DateType, StringType,
      TimestampNTZType}
    val dt = schema.find(_.name == leadGroupCol).map(_.dataType)
    if (dt.contains(StringType) || dt.contains(DateType) ||
      dt.contains(TimestampNTZType)) return
    // rejection matrix: dir names compare lexicographically, so the
    // key's canonical string form must order like the key itself.
    //   STRING — accepted (the user owns the format contract);
    //   DATE   — accepted (ISO yyyy-MM-dd, timezone-free; 4-digit-year
    //            range enforced at write by checkRangeDirValues);
    //   TIMESTAMP_NTZ — accepted (zone-free ISO wall clock, same
    //            4-digit-year contract; fixed-width integer part keeps
    //            trimmed fractions lexicographic);
    //   TIMESTAMP — refused: its string form goes through the SESSION
    //            timezone, and a read's zone may differ from the
    //            write's (the _tz pin guards refreshes, not reads);
    //   numerics — refused: lexicographic ≠ numeric order (2 > 10).
    val hint = dt match {
      case Some(t) if t.typeName.startsWith("timestamp") =>
        "cast the bucket to DATE for day-or-coarser buckets (e.g. " +
          "CAST(date_trunc('month', ts) AS DATE)) — a TIMESTAMP key's " +
          "string form depends on the session timezone"
      case _ =>
        "lexicographic dir order must equal key order — cast or " +
          "zero-pad-format the key, or use the default hash layout"
    }
    throw new IllegalStateException(
      s"layout = 'range' requires a STRING-, DATE- or TIMESTAMP_NTZ-" +
        s"typed leading group column; got $leadGroupCol: " +
        dt.map(_.simpleString).getOrElse("?") + s" ($hint)")
  }

  /** Range layout trades the nBuckets bound for one dir per distinct
    * leading-key value — right for time buckets (10^2..10^4 dirs over
    * years), catastrophic for an id-like key (millions of dirs, and a
    * driver collect ∝ touched values). Builds and refreshes refuse
    * past this cap with the hash-layout pointer instead of melting the
    * file system. Same driver-metadata size class as
    * [[JoinMatview.MaxInlineDimIds]]. */
  // var is a TEST HOOK only (specs lower the cap instead of minting
  // 10k real dirs); production never writes it
  @volatile var MaxRangeDirs = 10000

  def checkRangeDirCount(n: Long, what: String): Unit =
    if (n > MaxRangeDirs)
      throw new IllegalStateException(
        s"layout = 'range' would $what $n leading-key dirs (cap " +
          s"$MaxRangeDirs): a range layout is for LOW-cardinality " +
          "ordered keys (time buckets); use the default hash layout " +
          "for high-cardinality group keys")

  /** The range layout's leading-key FORMAT class: 's' = STRING (the
    * user owns the format contract), 'd' = DATE (ISO day), 'n' =
    * TIMESTAMP_NTZ (zone-free ISO wall clock — trailing-zero-trimmed
    * fractions still order lexicographically because the integer part
    * is fixed-width). */
  def rangeLeadKind(schema: org.apache.spark.sql.types.StructType,
                    leadGroupCol: String): Char =
    schema.find(_.name == leadGroupCol).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.DateType) => 'd'
      case Some(org.apache.spark.sql.types.TimestampNTZType) => 'n'
      case _ => 's'
    }

  private val IsoDayDirRe =
    (RangeValuePrefix + "\\d{4}-\\d{2}-\\d{2}").r
  private val IsoNtzDirRe =
    (RangeValuePrefix +
      "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}(\\.\\d{1,6})?").r

  /** DATE/NTZ-key format contract on collected dir values (≤ cap + 1
    * strings, driver-metadata sized): lexicographic dir order equals
    * temporal order ONLY for 4-digit years — year 10000 formats to
    * five digits and sorts below "2", silently detaching range pruning
    * from the data. Out-of-range values refuse at write, so the prune
    * side may assume every existing dir obeys the contract. */
  def checkRangeDirValues(values: Seq[Any], kind: Char,
                          what: String): Unit = {
    checkRangeDirCount(values.size.toLong, what)
    val re = kind match {
      case 'd' => Some(IsoDayDirRe)
      case 'n' => Some(IsoNtzDirRe)
      case _ => None
    }
    re.foreach(r => values.foreach { v =>
      val s = String.valueOf(v)
      if (s != NullGroupMarker && !r.matches(s))
        throw new IllegalStateException(
          s"layout = 'range' temporal key produced dir value '$s': " +
            "only years 0001-9999 order lexicographically in ISO " +
            "form — keep the key inside that range or use the hash " +
            "layout")
    })
  }

  /** Build-path guard: the distinct dir values, collected (same
    * driver-metadata size class as the refresh path's affected-bucket
    * collect), bounded by [[MaxRangeDirs]] and format-checked for
    * DATE/NTZ keys. */
  def checkRangeBuild(agg: DataFrame, kind: Char,
                      what: String): Unit =
    checkRangeDirValues(
      agg.select(col("_bucket")).distinct().limit(MaxRangeDirs + 1)
        .collect().map(_.get(0)).toSeq,
      kind, what)

  /** Incremental-refresh guards, pre-merge: the DATE-key format
    * contract plus the per-refresh affected bound (which also bounds
    * the driver-side affected collect). The CUMULATIVE growth cap is
    * enforced precisely in [[swapBuckets]] — pre-destruction, on the
    * exact post-swap dir count — because a pre-merge existing∪affected
    * union over-refuses a rotation (it counts dirs this refresh
    * EMPTIES, so a near-cap view retiring old keys while new ones
    * arrive would wedge permanently even though the post-swap count
    * stays under the cap). */
  def checkRangeRefresh(affected: Seq[Any], kind: Char): Unit =
    checkRangeDirValues(affected, kind, "rewrite")

  private def listBucketDirs(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bucket=")).toSet
      } finally s.close()
    }

  /** `_bucket=<v>` directory name for a partition value — hash layouts
    * carry longs (digits, never escaped); range layouts carry the key
    * VALUE, escaped exactly the way Spark's partitioned write escapes
    * it, so the swap moves the same dir the write produced. */
  def bucketDirName(v: Any): String = "_bucket=" + (v match {
    case s: String => org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(s)
    case x => String.valueOf(x)
  })

  /** Write a state relation to `dest` partitioned by `_bucket`, rows
    * SORTED by the group key within each bucket's files: a bucket
    * holds every group that hashes to it, so unsorted files have
    * useless row-group min/max stats on the group columns — sorted, a
    * point/range read of one group over a billion-group view decodes
    * only the matching row groups (parquet footer pruning), not the
    * whole state. The sort is per-bucket-local (no extra shuffle
    * beyond the repartition every write already pays). */
  /** `width` = the number of bucket dirs this write will produce
    * (affected buckets on a swap, nBuckets on a full build). The write
    * runs in `min(width, spark.sql.shuffle.partitions)` tasks: never
    * more than `width` — a conf-derived width costs dozens of empty
    * sort+write tasks per refresh on a small view, measured at +15% on
    * the sf1 storage family — and never more than the session's
    * shuffle parallelism, because one task per
    * bucket on a full build pays a task's fixed cost per bucket for a
    * few rows each. The hash partitioning on `_bucket` puts every
    * bucket in exactly one task, and the sort leads with `_bucket`, so
    * each bucket dir still holds exactly one file. */
  def writeState(df: DataFrame, groupCols: Seq[String],
                 dest: Path, width: Int): Unit =
    df.repartition(math.max(1, math.min(width,
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)),
      col("_bucket"))
      .sortWithinPartitions(("_bucket" +: groupCols).map(col): _*)
      .write.mode("overwrite").partitionBy("_bucket").parquet(dest.toString)

  /** The signed-union delta of both view kinds tags each member row
    * with this column; a user column of the same name would be silently
    * overwritten by the tag, so both view constructors refuse it — a
    * CREATE over a table with such a column fails before any state is
    * written. */
  val SignCol = "_sign"

  def requireUnreserved(cols: Seq[String]): Unit = {
    val bad = cols.filter(_.equalsIgnoreCase(SignCol))
    require(bad.isEmpty, s"column name '${bad.head}' is reserved for the " +
      "view delta's sign tag — rename the column")
  }

  /** Pin the session timezone the state was (re)built under. Catalyst
    * marks timezone-aware expressions (date_trunc over timestamps,
    * hour(), string↔timestamp casts) DETERMINISTIC, but their value
    * reads spark.sql.session.timeZone — so an incremental refresh in a
    * session with a DIFFERENT zone would subtract old contributions
    * that no longer match the stored group keys and silently corrupt
    * the view. Full (re)builds overwrite the pin (the whole state is
    * recomputed under one zone, which is consistent); incremental
    * paths verify it via [[checkTimeZone]]. */
  def pinTimeZone(spark: SparkSession, stateRoot: Path): Unit = {
    Files.createDirectories(stateRoot)
    val tmp = stateRoot.resolve("_tz.tmp")
    Files.write(tmp,
      spark.conf.get("spark.sql.session.timeZone").getBytes(UTF_8))
    Files.move(tmp, stateRoot.resolve("_tz"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Persist a fingerprint of the view DEFINITION beside the state.
    * The views registry is in-memory: after a JVM restart a CREATE (or
    * a Scala-API re-instantiation) over the same state dir with a
    * CHANGED definition — different WHERE, aggregate list, group
    * columns, dim arity — would otherwise adopt the old definition's
    * state and fold new-definition deltas into it, silently wrong
    * forever. On mismatch the refresh discards the state and rebuilds
    * from the logs (state is always derivable). A missing fingerprint
    * (state from before this guard) adopts and pins. */
  def pinDef(stateRoot: Path, fp: String): Unit = {
    Files.createDirectories(stateRoot)
    val tmp = stateRoot.resolve("_def.tmp")
    Files.write(tmp, fp.getBytes(UTF_8))
    Files.move(tmp, stateRoot.resolve("_def"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** True when the stored fingerprint matches (or none exists — legacy
    * state adopts and is pinned by the caller's next full write). */
  def defMatches(stateRoot: Path, fp: String): Boolean = {
    val f = stateRoot.resolve("_def")
    !Files.exists(f) ||
      new String(Files.readAllBytes(f), UTF_8).trim == fp
  }

  /** The persisted state schema, when the sidecar exists — lets a
    * refresh learn group-key TYPES (e.g. timestamp, which makes the
    * bucket hash timezone-sensitive) without reading data. */
  def storedSchema(stateRoot: Path)
      : Option[org.apache.spark.sql.types.StructType] = {
    val sf = stateRoot.resolve("_schema")
    if (!Files.exists(sf)) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(new String(Files.readAllBytes(sf), UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Loud-refusal half of [[pinTimeZone]], called before incremental
    * work on a view whose WHERE/derived expressions could be
    * timezone-aware. A missing pin (state from before this guard)
    * adopts the current zone. */
  def checkTimeZone(spark: SparkSession, stateRoot: Path): Unit = {
    val f = stateRoot.resolve("_tz")
    if (!Files.exists(f)) { pinTimeZone(spark, stateRoot); return }
    val pinned = new String(Files.readAllBytes(f), UTF_8).trim
    val cur = spark.conf.get("spark.sql.session.timeZone")
    if (pinned != cur)
      throw new IllegalStateException(
        s"materialized-view state at $stateRoot was built under session " +
          s"timezone '$pinned' but this session uses '$cur': the view " +
          "declares row-local expressions (WHERE / derived columns) " +
          "that may be timezone-aware, and an incremental refresh would " +
          "mix group keys across zones. Restore the timezone, or DROP " +
          "and re-CREATE the view to rebuild under the new one.")
  }
  /** Persist the state relation's schema beside it. A refresh that
    * empties every bucket (all rows deleted), or a join view whose
    * first build matches nothing, writes a parquet directory with NO
    * data files — a schema-less read of it would then throw
    * UNABLE_TO_INFER_SCHEMA on every later refresh() and read(),
    * permanently (found by review). With the sidecar, empty state
    * reads as an empty relation and the view keeps working. */
  /** Metadata keys stamped on the first BUCKET-KEY column of the
    * persisted state schema — [[graft.plans.MvBucketPrune]] reads them
    * off the scan's attributes to translate a full-bucket-key equality
    * predicate into `_bucket = <const>` partition pruning. GroupsKey
    * records the HASH KEY (normally the full group key; the parent
    * prefix for aux pair views) — what the rule must cover with
    * equality conjuncts to prune soundly. */
  val BucketsKey = "graft.mv.nbuckets"
  val GroupsKey = "graft.mv.groups"
  /** "range" when the state is value-partitioned on the leading group
    * column ([[rangeBucketCol]]) — [[graft.plans.MvBucketPrune]] then
    * maps range/equality predicates on that column straight onto
    * `_bucket` instead of hashing. Absent = hash layout. */
  val LayoutKey = "graft.mv.layout"

  def writeSchema(stateRoot: Path, df: DataFrame,
                  bucketKeyCols: Seq[String], nBuckets: Int,
                  rangeLayout: Boolean = false): Unit = {
    Files.createDirectories(stateRoot)
    val stamped = org.apache.spark.sql.types.StructType(df.schema.map { f =>
      if (f.name == bucketKeyCols.head)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(BucketsKey, nBuckets.toLong)
          .putString(GroupsKey, bucketKeyCols.mkString("\u0001"))
          .putString(LayoutKey, if (rangeLayout) "range" else "hash")
          .build())
      else f
    })
    val tmp = stateRoot.resolve("_schema.tmp")
    Files.write(tmp, stamped.json.getBytes(UTF_8))
    Files.move(tmp, stateRoot.resolve("_schema"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Temp-write + per-bucket directory swap: `merged` (which must
    * carry `_bucket`) replaces exactly the `affected` bucket dirs;
    * untouched buckets keep their files byte for byte. A bucket whose
    * groups all vanished is deleted and not replaced. */
  def swapBuckets(stateRoot: Path, dataDir: Path, merged: DataFrame,
                  affected: Seq[Any], groupCols: Seq[String],
                  rangeCap: Boolean = false): Unit = {
    val tmp = stateRoot.resolve("state_tmp")
    TxLog.deleteRecursively(tmp.toFile)
    writeState(merged, groupCols, tmp, affected.size)
    if (rangeCap) {
      // the CUMULATIVE dir cap, enforced on the EXACT post-swap count
      // (surviving untouched dirs + dirs this refresh writes — the tmp
      // listing knows which affected dirs actually have rows, so a
      // rotation that empties as many old keys as it adds new ones
      // passes), checked BEFORE the destructive loop so a refusal
      // leaves the state byte-identical and the watermark unadvanced
      val affectedNames = affected.map(bucketDirName).toSet
      val written = listBucketDirs(tmp)
      val surviving =
        listBucketDirs(dataDir).count(n => !affectedNames.contains(n))
      try checkRangeDirCount((surviving + written.size).toLong,
        "grow state to")
      catch {
        case e: IllegalStateException =>
          TxLog.deleteRecursively(tmp.toFile); throw e
      }
    }
    affected.foreach { b =>
      val name = bucketDirName(b)
      val dst = dataDir.resolve(name)
      TxLog.deleteRecursively(dst.toFile)
      val src = tmp.resolve(name)
      if (Files.exists(src)) { Files.move(src, dst): Unit }
    }
    TxLog.deleteRecursively(tmp.toFile)
  }

  /** Read the state dir, schema-pinned when the sidecar exists (also
    * immune to mixed-footer inference order); plain inference for
    * state written before the sidecar existed. */
  /** Make sure [[graft.plans.MvBucketPrune]] runs in `session`'s
    * optimizer: the config path is `spark.sql.extensions =
    * graft.GraftExtensions`, but sessions built without it (and
    * Connect-cloned sessions) still serve matviews — hook the rule
    * through the experimental-methods batch the first time this
    * session reads state. Idempotent; the rule itself is a no-op on
    * non-matview scans (schema-metadata gated). The read-modify-write
    * on `extraOptimizations` is guarded by a process-wide lock: two
    * threads doing a first readState on the same session must not
    * lose each other's append (or clobber a third-party rule added
    * concurrently). The lock is global rather than per-session —
    * appends are rare (once per session) and never block reads. */
  private val pruneRuleLock = new Object
  private[graft] def ensurePruneRule(session: SparkSession): Unit =
    pruneRuleLock.synchronized {
      val cur = session.experimental.extraOptimizations
      if (!cur.contains(graft.plans.MvBucketPrune))
        session.experimental.extraOptimizations =
          cur :+ graft.plans.MvBucketPrune
    }

  def readState(spark: SparkSession, stateRoot: Path,
                dataDir: Path): DataFrame = {
    ensurePruneRule(spark)
    val sf = stateRoot.resolve("_schema")
    // no sidecar AND no data: never refreshed against a non-empty log —
    // the state's schema is genuinely unknowable (payload types come
    // from data). Fail with the story, not PATH_NOT_FOUND.
    if (!Files.exists(sf) && !Files.exists(dataDir))
      throw new IllegalStateException(
        s"materialized view at $stateRoot has no state: it has never been " +
          "refreshed against a non-empty table (write data, then REFRESH)")
    if (Files.exists(sf))
      spark.read.schema(org.apache.spark.sql.types.DataType
          .fromJson(new String(Files.readAllBytes(sf), UTF_8))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .parquet(dataDir.toString)
    else spark.read.parquet(dataDir.toString)
  }
}
