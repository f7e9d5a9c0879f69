package graft.bitemporal

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The maintenance core both view kinds share: the aggregate definition
  * (groups, COUNT/SUM/COUNT(col), MIN/MAX, HLL sketches, percentiles,
  * DISTINCT rollups, the bucket key and layout, the WHERE sieve and the
  * derived columns) and the state directory it maintains. [[Matview]]
  * and [[JoinMatview]] differ only in how a refresh derives its member
  * relations — the rectangles of one log, or the star join of a fact
  * log with its dims. Everything after that is written once, here:
  *
  *   - [[applyDelta]] folds the (new − old) member contribution into
  *     the affected buckets of the state;
  *   - [[rebuild]] aggregates a complete member relation and swaps the
  *     whole state in;
  *   - the housekeeping: definition fingerprint, watermark file,
  *     timezone pin, reads.
  *
  * `fpPayload`, `fpSpokes` and `fpJoinExtra` are the parts of the
  * definition fingerprint only the view kind knows (payload or fact
  * columns, the star's spokes, its left-join flags). */
private[graft] final class MvCore(
    spark: SparkSession, stateRoot: Path, aggable: Seq[String],
    groupCols: Seq[String], sumCols: Seq[String],
    minCols: Seq[String], maxCols: Seq[String], cntCols: Seq[String],
    hllCols: Seq[String], pcts: Seq[MvPct], distincts: Seq[MvDistinct],
    bucketCols: Seq[String], nBuckets: Int, rangeLayout: Boolean,
    whereSql: Option[String], derived: Seq[(String, String)],
    validAt: Timestamp,
    fpPayload: Seq[String], fpSpokes: Seq[String] = Nil,
    fpJoinExtra: Seq[String] = Nil) {
  require(groupCols.nonEmpty, "at least one group column")
  // the state's bucket hash normally covers the whole group key; an aux
  // pair view buckets on the PARENT view's group prefix instead (see
  // MvDistinct's contract) — any non-default key must be a subset of
  // the group columns (a bucket must be a function of the group key)
  private val bucketKeyCols =
    if (bucketCols.isEmpty) groupCols else bucketCols
  require(bucketKeyCols.forall(groupCols.contains),
    s"bucket key $bucketKeyCols must be a subset of group columns $groupCols")
  // a range layout partitions state by groupCols.head's VALUE, but the
  // _schema sidecar stamps GroupsKey from bucketKeyCols — MvBucketPrune
  // translates predicates on GroupsKey.head, so the two MUST agree or
  // pruning would be unsound (the DDL always satisfies this; the guard
  // closes the private-API hole)
  require(!rangeLayout || bucketKeyCols.head == groupCols.head,
    s"layout = 'range' requires the bucket key to lead with the " +
      s"leading group column (got ${bucketKeyCols.headOption} vs " +
      s"${groupCols.head})")
  require(cntCols.forall(aggable.contains),
    s"count columns $cntCols must be payload or derived columns $aggable")
  require(hllCols.forall(aggable.contains),
    s"approx-distinct columns $hllCols must be payload or derived columns $aggable")
  require(pcts.forall(p => aggable.contains(p.arg)),
    s"percentile columns ${pcts.map(_.arg)} must be payload or derived columns $aggable")
  pcts.foreach(p => require(p.p >= 0.0 && p.p <= 1.0,
    s"percentile fraction ${p.p} must be in [0, 1]"))
  require(nBuckets > 0, "nBuckets must be positive")
  MvState.requireUnreserved(aggable)

  private val dataDir = stateRoot.resolve("state")
  private val wmFile = stateRoot.resolve("_watermark")
  // "system = latest" probe: any timestamp beyond every real system
  // time selects exactly the open (_system_to = ∞) rectangles
  private val sysProbe = Timestamp.valueOf("9998-01-01 00:00:00")

  /** Rows of a rectangle relation visible at the view's basis. The
    * basis (`validAt`, system = latest) is fixed so incrementality is
    * sound: a row's visibility changes only through new transactions,
    * never through wall-clock drift. */
  def visible(rect: DataFrame): DataFrame =
    Bitemporal.asOf(rect, lit(validAt), lit(sysProbe))

  /** Sieve by the view's WHERE, then attach the derived columns — see
    * [[MvState.prep]]. A row-local deterministic predicate or expression
    * commutes with the Δ-rules: an untouched row's value is identical on
    * both sides of the delta, and a row that leaves or enters the
    * predicate behaves exactly like a delete or insert. */
  def prep(df: DataFrame): DataFrame = MvState.prep(df, whereSql, derived)

  private def sumAlias(c: String) = s"sum_$c"
  private def cntAlias(c: String) = s"cnt_$c"
  // MIN/MAX, APPROX_COUNT_DISTINCT sketches and percentiles are not
  // self-maintainable under deletes/updates (sketches cannot subtract,
  // extremes and percentiles may leave with any member): each refresh
  // recomputes them for the TOUCHED GROUPS from their member rows, which
  // keeps deletes, updates and a star's dim group-moves exact. Exact
  // percentile buffers one touched group's values per task; a group
  // with billions of members should use the approx form.
  private val mmAliases: Seq[String] =
    minCols.map(c => s"min_$c") ++ maxCols.map(c => s"max_$c") ++
      hllCols.map(c => s"hll_$c") ++ pcts.map(_.alias)
  private def mmAggs: Seq[Column] =
    minCols.map(c => min(col(c)).as(s"min_$c")) ++
      maxCols.map(c => max(col(c)).as(s"max_$c")) ++
      hllCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c")) ++
      pcts.map(p => p.agg.as(p.alias))
  private val ddAliases: Seq[String] = MvState.distinctAliases(distincts)

  /** Full per-group aggregate of a COMPLETE prepped member relation,
    * MIN/MAX included — never valid over a delta (extremes don't
    * subtract). COUNT(col) is a per-column non-null counter, maintained
    * like n. */
  private def fullAgg(members: DataFrame, more: Seq[Column]): DataFrame =
    members.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sumCols.map(c => sum(col(c)).as(sumAlias(c))) ++
          cntCols.map(c => count(col(c)).as(cntAlias(c))) ++ mmAggs ++
          more: _*)

  private def bucketCol: Column =
    if (rangeLayout) MvState.rangeBucketCol(groupCols.head)
    else MvState.bucketCol(bucketKeyCols, nBuckets)

  private def keyEq(l: String, r: String): Column =
    groupCols.map(g => col(s"$l.$g") <=> col(s"$r.$g")).reduce(_ && _)

  // timezone-aware expressions make incremental refresh
  // session-timezone-sensitive — see MvState.pinTimeZone. Beyond
  // WHERE/derived expressions, a TIMESTAMP-typed group column is
  // sensitive through the bucket hash itself (the key casts to string,
  // and timestamp rendering reads the session zone).
  private def tzSensitive(schema: StructType): Boolean =
    whereSql.nonEmpty || derived.nonEmpty ||
      groupCols.exists(g => schema.find(_.name == g).exists(
        _.dataType.typeName.startsWith("timestamp")))

  /** Stable fingerprint of the view DEFINITION — see MvState.pinDef.
    * The parts after the basis append ONLY when non-default, keeping a
    * plain view's fingerprint (and thus its state) intact across
    * upgrades that add definition features; a view that gains one must
    * rebuild (its state schema or layout changes). */
  private val defFp: String = {
    val extras =
      (if (distincts.nonEmpty)
        Seq("dist:" + distincts.map(d =>
          d.arg + (if (d.needSum) "+s" else "")).mkString(","))
      else Nil) ++
      (if (bucketKeyCols != groupCols)
        Seq("bkey:" + bucketKeyCols.mkString(",")) else Nil) ++
      (if (hllCols.nonEmpty) Seq("hll:" + hllCols.mkString(",")) else Nil) ++
      (if (rangeLayout) Seq("layout:range") else Nil) ++ fpJoinExtra ++
      (if (pcts.nonEmpty) Seq("pct:" + pcts.map(_.fpPart).mkString(","))
       else Nil)
    val parts = Seq(fpPayload, groupCols, sumCols, minCols, maxCols,
      cntCols, Seq(whereSql.getOrElse("")),
      derived.map(d => d._1 + "=" + d._2)) ++
      (if (fpSpokes.nonEmpty) Seq(fpSpokes) else Nil) ++
      Seq(Seq(validAt.toString, nBuckets.toString)) ++
      (if (extras.nonEmpty) Seq(extras) else Nil)
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.map(_.mkString("\u0001")).mkString("\u0002")
        .getBytes(UTF_8)).map(b => f"$b%02x").mkString
  }

  /** Tx watermarks folded into the state, one per log the view reads
    * (a star's fact first, then one per dim); all -1 before the first
    * build. The file holds them space-separated. A short file (a star
    * regrown with more dims) pads with -1, so those logs rebuild. */
  def watermarks(nLogs: Int): Seq[Long] = {
    val stored =
      if (Files.exists(wmFile))
        new String(Files.readAllBytes(wmFile), UTF_8).trim
          .split(" ").toSeq.filter(_.nonEmpty).map(_.toLong)
      else Nil
    stored.padTo(nLogs, -1L).take(nLogs)
  }

  private def setWatermarks(ws: Seq[Long]): Unit = {
    Files.createDirectories(stateRoot)
    val tmp = stateRoot.resolve("_watermark.tmp")
    Files.write(tmp, ws.mkString(" ").getBytes(UTF_8))
    Files.move(tmp, wmFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Is the state CURRENT — would a refresh be a no-op? True when no
    * tx (or truncation point) exists past the recorded watermark of any
    * of `logs` (in [[watermarks]] order). One directory listing per
    * log, no data read — the aggregate-navigation freshness gate
    * ([[graft.server.GraftMvNav]]), checked per candidate query. */
  def isFresh(logs: Seq[TxLog]): Boolean =
    logs.map(_.lastTx()).zip(watermarks(logs.size))
      .forall { case (l, w) => l <= w }

  /** A DEFINITION change over the same state dir (JVM restart +
    * re-CREATE, or a Scala-API re-instantiation with different
    * aggregates, WHERE, groups or dims) invalidates the state: discard
    * it so the refresh falls through to a rebuild — folding
    * new-definition deltas into old-definition state would be silently
    * wrong. The sidecars go WITH the data: a surviving `_schema` would
    * let read() serve the OLD definition's columns until the rebuild
    * lands, or forever if it fails; without them read() fails with the
    * honest "has no state" story. */
  def dropIfRedefined(): Unit =
    if (!MvState.defMatches(stateRoot, defFp)) {
      TxLog.deleteRecursively(dataDir.toFile)
      Seq("_watermark", "_schema", "_tz").foreach(f =>
        Files.deleteIfExists(stateRoot.resolve(f)))
    }

  /** Must this refresh rebuild instead of folding a delta? Yes on the
    * first build, for a log regrown into the view (watermark -1), and
    * once ANY log has been truncated ([[TxLog.truncate]]): the delta
    * needs touched ids' full op history, which a truncated log no longer
    * has — the standard retention/IVM tension (vacuum less often than
    * you refresh, or accept the recompute). */
  def needsRebuild(logs: Seq[TxLog], ws: Seq[Long]): Boolean =
    logs.exists(_.truncatedUpTo().isDefined) || ws.exists(_ < 0) ||
      !Files.exists(dataDir)

  /** Pin every DISTINCT aux to exactly the watermarks this refresh
    * records, so the rollup reads pair state at the same log prefixes
    * the main state describes; `shared` hands the aux relations this
    * refresh already derived (see [[MvShared]]). */
  private def syncAuxes(lasts: Seq[Long], shared: Option[MvShared]): Unit =
    distincts.foreach(_.refreshAuxTo(lasts, shared))

  /** Fold one incremental refresh into the state and record `lasts`.
    *
    * `newSide`/`oldSide` are the affected member rows after and before
    * the refresh, not yet prepped; `members` (by name — only MIN/MAX,
    * sketch and percentile views read it) is the complete member
    * relation after it, also not yet prepped. `auxShare` goes to the
    * DISTINCT auxes.
    *
    * Work stays ∝ the tail: the delta is one aggregation over the
    * SIGNED union of both sides (one exchange — SUM(new) − SUM(old) =
    * SUM(±x) term for term for the exact integral/DECIMAL sum types),
    * checkpointed once with its affected buckets and touched group
    * tuples collected in the same job; only the affected bucket dirs
    * are read, merged and swapped (temp-write + per-bucket swap). */
  def applyDelta(newSide: DataFrame, oldSide: DataFrame,
                 members: => DataFrame, lasts: Seq[Long],
                 auxShare: Option[MvShared], cps: Checkpoints): Unit = {
    if (MvState.storedSchema(stateRoot).exists(tzSensitive))
      MvState.checkTimeZone(spark, stateRoot)
    val sg = col(MvState.SignCol)
    def side(df: DataFrame, sign: Long): DataFrame =
      prep(df).withColumn(MvState.SignCol, lit(sign))
    val delta = side(newSide, 1L).unionByName(side(oldSide, -1L))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(sg).as("n"),
        sumCols.map(c => sum(when(sg === 1L, col(c))
          .otherwise(-col(c))).as(sumAlias(c))) ++
          cntCols.map(c => sum(when(col(c).isNotNull, sg)
            .otherwise(0L)).as(cntAlias(c))): _*)
      .withColumn("_bucket", bucketCol)
    // the state's sum types are the delta's (= the plain aggregate's):
    // uncapped, each merge's + widens decimal precision by one per
    // refresh until the parquet byte width no longer matches older
    // bucket files and state reads fail (MatviewSpec/JoinMatviewSpec's
    // many-refresh tests)
    val sumT = sumCols.map(c =>
      sumAlias(c) -> delta.schema(sumAlias(c)).dataType).toMap
    val (deltaCp, deltaRows, bucketsOpt, tuplesOpt) =
      cps.pinDelta(delta, nBuckets, groupCols)
    // ≤ nBuckets values — the only data-dependent collect in a refresh
    val affected: Seq[Any] =
      if (deltaRows == 0L) Nil
      else bucketsOpt.getOrElse(
        deltaCp.select(col("_bucket")).distinct()
          .collect().map(_.get(0)).toSeq)
    if (affected.isEmpty) {
      MvState.pinDef(stateRoot, defFp); setWatermarks(lasts); return
    }
    if (rangeLayout)
      MvState.checkRangeRefresh(affected,
        MvState.rangeLeadKind(deltaCp.schema, groupCols.head))

    val state = MvState.readState(spark, stateRoot, dataDir)
      .filter(col("_bucket").isin(affected: _*))
    val countSum = state.as("s").join(deltaCp.as("d"), keyEq("s", "d"),
        "full_outer")
      .select(
        (groupCols.map(g => coalesce(col(s"s.$g"), col(s"d.$g")).as(g)) :+
          (coalesce(col("s.n"), lit(0L)) + coalesce(col("d.n"), lit(0L)))
            .as("n")) ++
          sumCols.map { c =>
            val a = sumAlias(c)
            (coalesce(col(s"s.$a"), lit(0)) + coalesce(col(s"d.$a"), lit(0)))
              .cast(sumT(a)).as(a)
          } ++ cntCols.map { c =>
            val a = cntAlias(c)
            (coalesce(col(s"s.$a"), lit(0L)) + coalesce(col(s"d.$a"), lit(0L)))
              .as(a)
          } ++
          // the stored extremes and distinct rollups ride along for
          // groups in an affected bucket this refresh does NOT touch
          // (null for new groups — every new group is touched, so the
          // overlays below always overwrite it)
          (mmAliases ++ ddAliases).map(a => col(s"s.$a").as(a)) :+
          coalesce(col("s._bucket"), col("d._bucket")).as("_bucket"): _*)
      .filter(col("n") > 0) // a group whose last member left goes away
    // the touched groups, shared by the re-read and the DISTINCT
    // overlay; tuples the checkpoint job collected (≤ cap) serve as a
    // LOCAL relation, so downstream probes read driver-local rows
    lazy val touchedGroups = tuplesOpt match {
      case Some(rows) =>
        spark.createDataFrame(
          new java.util.ArrayList(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          StructType(groupCols.map(g => deltaCp.schema(g))))
      case None => deltaCp.select(groupCols.map(col): _*).distinct()
    }
    // MIN/MAX/sketch/percentile re-read: the TOUCHED groups re-derive
    // their members at the basis and recompute. The restriction ships as
    // a LITERAL group predicate under the cap, which Catalyst pushes to
    // whichever base scan carries the group column
    // (MvState.membersOfTouched); prep comes first because a derived
    // group key must exist on the members for it
    val merged =
      if (mmAliases.isEmpty) countSum
      else {
        val mm = MvState.membersOfTouched(prep(members), touchedGroups,
            groupCols)
          .groupBy(groupCols.map(col): _*)
          .agg(mmAggs.head, mmAggs.tail: _*)
          .select(groupCols.map(col) ++ (lit(true).as("_mm") +:
            mmAliases.map(a => col(a).as(s"_r_$a"))): _*)
        // the _mm flag (not coalesce) decides: a touched group whose
        // recomputed extreme is legitimately NULL must not fall back to
        // the stale state
        countSum.as("m").join(mm.as("r"), keyEq("m", "r"), "left")
          .select(countSum.columns.toSeq.map(c =>
            if (mmAliases.contains(c))
              when(col("_mm") === true, col(s"_r_$c"))
                .otherwise(col(s"m.$c")).as(c)
            else col(s"m.$c").as(c)): _*)
      }
    // DISTINCT rollups: pin the auxes to this refresh's watermarks, then
    // recompute the touched groups' rollups from pair state pruned to
    // the affected buckets (the aux is bucketed on the parent group key
    // with the same bucket count)
    val out =
      if (distincts.isEmpty) merged
      else {
        syncAuxes(lasts, auxShare)
        MvState.overlayDistinct(merged, groupCols, touchedGroups,
          affected, distincts, spark)
      }
    MvState.swapBuckets(stateRoot, dataDir, out, affected, groupCols,
      rangeCap = rangeLayout)
    MvState.pinDef(stateRoot, defFp)
    setWatermarks(lasts)
  }

  /** Rebuild the whole state from a complete member relation at `lasts`
    * (first build, or after a truncation). `derive` builds the prepped
    * members; with DISTINCT auxes they are derived once, checkpointed
    * and handed to every aux as an [[MvSharedBuild]] — an aux
    * rebuilding at the same watermarks adopts them instead of reading
    * the logs again. A parent's relation at equal watermarks is adopted
    * here the same way.
    *
    * Temp-write + directory swap: a concurrent read() sees the complete
    * old state or the complete new one, never a partial overwrite. POSIX
    * cannot exchange two directories atomically, so a read landing
    * between the two renames fails with path-not-found (retryable, not
    * wrong data); a crash there self-heals, since the watermark is still
    * behind and the next refresh rebuilds from the logs. */
  def rebuild(lasts: Seq[Long], sharedIn: Option[MvShared],
              cps: Checkpoints)(derive: => DataFrame): Unit = {
    val members = sharedIn match {
      case Some(sb: MvSharedBuild) if sb.lasts == lasts => sb.members
      case _ => if (distincts.isEmpty) derive else cps.pin(derive)
    }
    syncAuxes(lasts, Some(MvSharedBuild(lasts, members)))
    val agg = MvState.withBucket(
      fullAgg(members, MvState.distinctAggs(distincts)), bucketCol,
      distincts)
    if (rangeLayout) {
      MvState.checkRangeKey(agg.schema, groupCols.head)
      MvState.checkRangeBuild(agg,
        MvState.rangeLeadKind(agg.schema, groupCols.head), "build")
    }
    val tmp = stateRoot.resolve("state_rebuild_tmp")
    TxLog.deleteRecursively(tmp.toFile)
    // schema sidecar: a build that matches nothing writes a file-less
    // parquet dir — without the pinned schema every later read throws
    MvState.writeSchema(stateRoot, agg, bucketKeyCols, nBuckets, rangeLayout)
    MvState.writeState(agg, groupCols, tmp, nBuckets)
    val old = stateRoot.resolve("state_rebuild_old")
    TxLog.deleteRecursively(old.toFile)
    if (Files.exists(dataDir)) { Files.move(dataDir, old): Unit }
    Files.move(tmp, dataDir): Unit
    TxLog.deleteRecursively(old.toFile)
    if (tzSensitive(agg.schema)) MvState.pinTimeZone(spark, stateRoot)
    MvState.pinDef(stateRoot, defFp)
    setWatermarks(lasts)
  }

  /** The state without its `_bucket` column, bound to `session`. */
  def read(session: SparkSession): DataFrame = readRaw(session).drop("_bucket")

  /** The state WITH the `_bucket` partition column. */
  def readRaw(session: SparkSession): DataFrame =
    MvState.readState(session, stateRoot, dataDir)
}
