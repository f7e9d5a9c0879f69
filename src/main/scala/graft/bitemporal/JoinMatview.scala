package graft.bitemporal

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained JOIN aggregate view over a FACT tx log and
  * one or more DIMENSION tx logs — COUNT(*)/COUNT(col)/SUM (and
  * read-derived AVG) per group of
  * `fact ⋈ dim1 ON fk1 = dim1._id [⋈ dim2 ON fk2 = dim2._id …]`
  * (the star-schema rollup) at a fixed bitemporal basis, optionally
  * filtered by a row-local deterministic WHERE over any side's columns,
  * kept current from the logs' TAILS by the classic join-IVM delta
  * rules:
  *
  *   Δ(A ⋈ B) = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB
  *
  * (applied hub-and-spoke: the fact is the hub, so for every dim the
  * "other side" is the fact extended by the remaining dims), expressed
  * here with the bitemporal twist that "Δ per table" is (visible
  * contribution after) − (visible contribution before) for the rows
  * the tail touches — and for a join, "touched" propagates across the
  * join edges: a fact row is affected when ITS OWN id has tail ops OR
  * any of its fks references a dim id with tail ops (the dim-side
  * group-move case: updating one dim row re-groups every fact that
  * points at it, with no fact op at all).
  *
  * Cost model (the honest 100 TB statement):
  *   - fact-side refresh work ∝ tail ops + fact rows referencing
  *     touched dim ids. The latter ships as a LITERAL `fk IN (touched
  *     dims)` predicate per dim when each touched set is ≤
  *     [[JoinMatview.MaxInlineDimIds]] — the disjunction across dims
  *     is ONE filter pass over the fact relation (pushed to the fact
  *     base's parquet scan; FILE-level pruning when the base is
  *     fk-clustered via `GraftTable(clusterBy = Seq(fk))` /
  *     `TxLog.compact*`'s `clusterBy`), degrading to per-dim
  *     semi-joins + an id-dedup for huge dim churn; either way never
  *     a full recompute of the view;
  *   - dim-side work ∝ one scan per dim relation (dims are the small
  *     side by construction — AQE broadcasts them into the join);
  *   - state writes ∝ touched groups (hash-bucketed, only affected
  *     buckets rewritten — temp-write + per-bucket directory swap,
  *     same as [[Matview]]);
  *   - the only data-dependent collect is the affected bucket ids
  *     (≤ nBuckets longs).
  *
  * MIN/MAX (over FACT measure or derived columns) follow [[Matview]]'s
  * documented fallback, with the join twist: extremes are not
  * self-maintainable under any table's deletes/updates OR a dim
  * group-move (the old group may lose its extreme with zero fact ops),
  * so each refresh recomputes extremes for the TOUCHED GROUPS ONLY by
  * re-deriving their member facts ACROSS THE JOIN at the basis —
  * fact ⋈ dims semi-joined to the touched group keys, group predicate
  * applied on whichever side carries the group column. A COUNT/SUM-only
  * view never pays that joined re-read — refresh stays ∝ the tails.
  * Exact-typed sum columns (integral/DECIMAL) give bit parity with a
  * from-scratch recompute, as with [[Matview]].
  *
  * Truncation of ANY log permanently switches refresh to the exact
  * rebuild-from-state path (incremental deltas need full op history
  * for touched ids), mirroring [[Matview]]'s retention tradeoff.
  */
final class JoinMatview private[graft] (
    spark: SparkSession,
    factLog: TxLog, factCols: Seq[String],
    dimLog: TxLog, dimCols: Seq[String],
    stateRoot: Path, fkCol: String, groupCols: Seq[String], sumCols: Seq[String],
    validAt: Timestamp, nBuckets: Int,
    minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
    cntCols: Seq[String] = Nil, whereSql: Option[String] = None,
    derived: Seq[(String, String)] = Nil,
    moreDims: Seq[(TxLog, Seq[String], String)] = Nil,
    distincts: Seq[MvDistinct] = Nil,
    bucketCols: Seq[String] = Nil,
    hllCols: Seq[String] = Nil,
    rangeLayout: Boolean = false,
    leftJoins: Seq[Boolean] = Nil,
    pcts: Seq[MvPct] = Nil) {
  /** (log, payload columns, fact fk column) per dimension — the first
    * is the constructor's primary dim, the rest are the star's extra
    * spokes. */
  private val dims: Seq[(TxLog, Seq[String], String)] =
    (dimLog, dimCols, fkCol) +: moreDims
  /** Per-spoke join type, aligned with [[dims]] (padded INNER): a LEFT
    * spoke keeps facts with a NULL or dangling fk as NULL-extended
    * rows. The Δ(A⋈B) rules carry over UNCHANGED because affectedness
    * already propagates across the join edge: a fact whose match
    * appears or disappears is exactly a fact whose fk references a
    * touched dim id (dim put/delete moves it between the matched and
    * null-extended groups with zero fact ops), and a NULL fk is never
    * dim-affected — its contribution never changes from dim ops. Both
    * delta legs (new/old contributions) compute over the SAME left
    * join, so null-extended rows subtract exactly like matched ones. */
  private val leftOf: Seq[Boolean] =
    leftJoins.padTo(1 + moreDims.size, false)
  require(leftJoins.size <= 1 + moreDims.size,
    s"leftJoins has ${leftJoins.size} entries for ${1 + moreDims.size} dims")
  private def dimLogOf(i: Int) = dims(i)._1
  private def dimColsOf(i: Int) = dims(i)._2
  private def fkOf(i: Int) = dims(i)._3
  private def dimId(i: Int) = s"_dim_id_$i"
  private val nDims = dims.size
  private val allDimCols = dims.flatMap(_._2)

  dims.foreach { case (_, _, fk) =>
    require(factCols.contains(fk),
      s"fk column $fk must be a fact payload column")
  }
  // DERIVED columns (name -> row-local deterministic SQL expression,
  // referencing ANY side) are computed on the joined relation right
  // after the sieve — they commute with the Δ(A⋈B) rules for the same
  // reason the WHERE does: "touched" already propagates across the
  // join edges, and an untouched row's derived value is identical on
  // both sides of the delta
  private val derivedNames = derived.map(_._1)
  private val aggable = factCols ++ allDimCols ++ derivedNames
  require(sumCols.forall(c => factCols.contains(c) || derivedNames.contains(c)),
    s"sum columns $sumCols must be fact payload or derived columns")
  require((minCols ++ maxCols).forall(c =>
      factCols.contains(c) || derivedNames.contains(c)),
    s"min/max columns ${minCols ++ maxCols} must be fact payload or derived columns")
  // COUNT(col) counts the JOINED relation's non-null cells, so the
  // column may live on any side (payload names are disjoint)
  require(cntCols.forall(aggable.contains),
    s"count columns $cntCols must be payload or derived columns")
  require(hllCols.forall(aggable.contains),
    s"approx-distinct columns $hllCols must be payload or derived columns")
  require(pcts.forall(p => aggable.contains(p.arg)),
    s"percentile columns ${pcts.map(_.arg)} must be payload or derived columns")
  pcts.foreach(p => require(p.p >= 0.0 && p.p <= 1.0,
    s"percentile fraction ${p.p} must be in [0, 1]"))
  require(groupCols.nonEmpty, "at least one group column")
  groupCols.foreach(g => require(aggable.contains(g),
    s"group column $g must be a payload or derived column of some table"))
  // aux pair views bucket on the PARENT view's group prefix — see
  // [[MvDistinct]]'s contract and [[Matview]]'s matching guard
  private val bucketKeyCols =
    if (bucketCols.isEmpty) groupCols else bucketCols
  require(bucketKeyCols.forall(groupCols.contains),
    s"bucket key $bucketKeyCols must be a subset of group columns $groupCols")
  // range layout partitions by groupCols.head's VALUE while the _schema
  // sidecar stamps GroupsKey from bucketKeyCols — they must agree or
  // MvBucketPrune.pruneRange would translate predicates on the wrong
  // column (see Matview's matching guard)
  require(!rangeLayout || bucketKeyCols.head == groupCols.head,
    s"layout = 'range' requires the bucket key to lead with the " +
      s"leading group column (got ${bucketKeyCols.headOption} vs " +
      s"${groupCols.head})")
  locally {
    val sides = factCols +: dims.map(_._2)
    sides.indices.foreach { i =>
      sides.indices.drop(i + 1).foreach { j =>
        val clash = sides(i).toSet & sides(j).toSet
        require(clash.isEmpty,
          s"payload names must be disjoint across the joined tables: $clash")
      }
    }
  }
  require(nBuckets > 0, "nBuckets must be positive")
  MvState.requireUnreserved(aggable)

  private val dataDir = stateRoot.resolve("state")
  private val wmFile = stateRoot.resolve("_watermark")
  private val sysProbe = Timestamp.valueOf("9998-01-01 00:00:00")

  /** Tx watermarks folded into the state, fact first then one per dim;
    * all -1 fresh. Short files (state written by an older build, or a
    * view regrown with more dims) pad with -1 — the affected dims then
    * rebuild their contribution on the next refresh. */
  def watermarksAll: Seq[Long] = {
    val stored =
      if (Files.exists(wmFile))
        new String(Files.readAllBytes(wmFile), UTF_8).trim
          .split(" ").toSeq.filter(_.nonEmpty).map(_.toLong)
      else Nil
    stored.padTo(1 + nDims, -1L).take(1 + nDims)
  }

  /** (fact, first dim) watermarks — the 2-ary view's historical API. */
  def watermarks: (Long, Long) = {
    val all = watermarksAll
    (all.head, all(1))
  }

  /** Is the state CURRENT across EVERY log — would a refresh be a
    * no-op? True when no tx (or truncation point) exists past the
    * recorded watermark on the fact log or any dim log. One directory
    * listing per log, no data read — the aggregate-navigation
    * freshness gate ([[graft.server.GraftMvNav]]). */
  def isFresh: Boolean = {
    val ws = watermarksAll
    lastOf(factLog) <= ws.head &&
      dims.zip(ws.tail).forall { case ((log, _, _), w) => lastOf(log) <= w }
  }

  private def setWatermarks(ws: Seq[Long]): Unit = {
    Files.createDirectories(stateRoot)
    val tmp = stateRoot.resolve("_watermark.tmp")
    Files.write(tmp, ws.mkString(" ").getBytes(UTF_8))
    Files.move(tmp, wmFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def sumAlias(c: String) = s"sum_$c"
  private def minAlias(c: String) = s"min_$c"
  private def maxAlias(c: String) = s"max_$c"
  private def cntAlias(c: String) = s"cnt_$c"
  private def hllAlias(c: String) = s"hll_$c"
  // APPROX_COUNT_DISTINCT sketches ride the MIN/MAX lifecycle —
  // recomputed for touched groups across the join at every refresh,
  // never merged incrementally — see [[Matview]]'s note: that makes
  // deletes/updates and dim group-moves exact for the sketch.
  // MEDIAN/PERCENTILE/APPROX_PERCENTILE ride the same touched-group
  // recompute as the sketches — percentiles cannot subtract, and a dim
  // group-move re-groups members with zero fact ops, so the crossed
  // re-read is the only exact option (see [[MvPct]]).
  private def mmAliases: Seq[String] =
    minCols.map(minAlias) ++ maxCols.map(maxAlias) ++ hllCols.map(hllAlias) ++
      pcts.map(_.alias)
  private def mmAggs =
    minCols.map(c => min(col(c)).as(minAlias(c))) ++
      maxCols.map(c => max(col(c)).as(maxAlias(c))) ++
      hllCols.map(c => hll_sketch_agg(col(c)).as(hllAlias(c))) ++
      pcts.map(p => p.agg.as(p.alias))
  // per-column NON-NULL counters over the JOINED relation — they delta
  // exactly like n does (a null cell never contributes), so they ride
  // the same self-maintainable path; AVG = sum/cnt at read time
  private def cntAggs =
    cntCols.map(c => count(col(c)).as(cntAlias(c)))

  /** Columns the WHERE and the derived expressions reference
    * (unresolved parse — resolution and the deterministic/row-local
    * checks happen at DDL validation): they must survive the side
    * projections so the post-join sieve/derivation sees them. */
  private def refsOf(sql: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last.toLowerCase
      }.toSet
  private val rowLocalRefs: Set[String] =
    whereSql.map(refsOf).getOrElse(Set.empty) ++
      derived.flatMap(d => refsOf(d._2))

  /** The maintained relation is the FILTERED join when the view
    * declares a WHERE. A row-local deterministic predicate commutes
    * with the Δ(A⋈B) rules because "touched" already propagates across
    * the join edges: a fact row whose predicate INPUT can have changed
    * is either own-id-touched (fact columns) or references a touched
    * dim (dim columns) — both re-derive old and new contributions with
    * the predicate applied, and an untouched row's predicate value is
    * identical on both sides of the delta. */
  private def prep(joined: DataFrame): DataFrame =
    MvState.prep(joined, whereSql, derived)

  // timezone-aware expressions make incremental refresh
  // session-timezone-sensitive — see MvState.pinTimeZone. A
  // TIMESTAMP-typed group column is sensitive through the bucket hash
  // itself (the key casts to string under the session zone).
  private def tzSensitive(schema: org.apache.spark.sql.types.StructType)
      : Boolean =
    whereSql.nonEmpty || derived.nonEmpty ||
      groupCols.exists(g => schema.find(_.name == g).exists(
        _.dataType.typeName.startsWith("timestamp")))

  /** Stable fingerprint of the view DEFINITION, dims included — see
    * MvState.pinDef (covers dim-arity changes over the same state). */
  private val defFp: String = {
    // distinct/bucket-key parts append only when non-default — see
    // [[Matview]]'s fingerprint note (pre-existing plain views keep
    // their state across the upgrade)
    val extras =
      (if (distincts.nonEmpty)
        Seq("dist:" + distincts.map(d =>
          d.arg + (if (d.needSum) "+s" else "")).mkString(","))
      else Nil) ++
      (if (bucketKeyCols != groupCols)
        Seq("bkey:" + bucketKeyCols.mkString(",")) else Nil) ++
      (if (hllCols.nonEmpty) Seq("hll:" + hllCols.mkString(",")) else Nil) ++
      (if (rangeLayout) Seq("layout:range") else Nil) ++
      (if (leftOf.exists(identity))
        Seq("left:" + leftOf.map(b => if (b) "1" else "0").mkString)
      else Nil) ++
      (if (pcts.nonEmpty) Seq("pct:" + pcts.map(_.fpPart).mkString(","))
       else Nil)
    val parts = Seq(factCols, groupCols, sumCols, minCols, maxCols,
      cntCols, Seq(whereSql.getOrElse("")),
      derived.map(d => d._1 + "=" + d._2),
      dims.map(d => d._3 + ":" + d._2.mkString(",")),
      Seq(validAt.toString, nBuckets.toString)) ++
      (if (extras.nonEmpty) Seq(extras) else Nil)
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.map(_.mkString("\u0001")).mkString("\u0002")
        .getBytes(UTF_8)).map(b => f"$b%02x").mkString
  }

  private def bucketCol =
    if (rangeLayout) MvState.rangeBucketCol(groupCols.head)
    else MvState.bucketCol(bucketKeyCols, nBuckets)
  private def ddAliases: Seq[String] = MvState.distinctAliases(distincts)

  /** `layout = range` guards — shared with [[Matview]] via MvState. */
  private def checkRangeKey(schema: org.apache.spark.sql.types.StructType)
      : Unit =
    if (rangeLayout) MvState.checkRangeKey(schema, groupCols.head)

  /** Pin every DISTINCT aux to exactly the per-log watermarks this
    * refresh will record — see [[Matview.syncAuxes]]. A rebuild hands
    * its checkpointed member relation down (`shared`, an
    * [[MvSharedStarBuild]]) so a rebuilding aux groups it instead of
    * re-running the star join; an incremental refresh shares nothing,
    * and each aux derives its own delta. */
  private def syncAuxes(lasts: Seq[Long],
                        shared: Option[MvShared] = None): Unit =
    distincts.foreach(_.refreshAuxTo(lasts, shared))

  private def readTx(files: Seq[Path]): DataFrame =
    TxLog.readMerged(spark, files.map(_.toString))

  private def lastOf(log: TxLog): Long =
    (log.txFiles().map(_.getFileName.toString
      .stripPrefix("tx_").stripSuffix(".parquet").toLong) ++
      log.truncatedUpTo()).maxOption.getOrElse(-1L)

  /** Visible rows of one side at the basis, projected to the columns
    * the join needs (side-tagged id, so the join has no name clash). */
  private def project(v: DataFrame, idAs: String,
                      keep: Seq[String]): DataFrame =
    v.select(col("_id").cast("long").as(idAs) +: keep.map(col): _*)

  // all visible relations are pinned to the tx ids the refresh will
  // RECORD as its watermarks: a tx committing concurrently must stay
  // wholly in the next refresh, or it would fold into state now AND
  // again later (the double-count race — found by review)
  private def visibleFact(upToTx: Long): DataFrame =
    Bitemporal.asOf(factLog.readAllAuto(spark, factCols, upToTx),
      lit(validAt), lit(sysProbe))
  private def visibleDim(i: Int, upToTx: Long): DataFrame =
    Bitemporal.asOf(dimLogOf(i).readAllAuto(spark, dimColsOf(i), upToTx),
      lit(validAt), lit(sysProbe))

  private def factKeep: Seq[String] =
    (dims.map(_._3) ++
      (sumCols ++ minCols ++ maxCols ++ hllCols ++ pcts.map(_.arg))
        .filter(factCols.contains) ++
      cntCols.filter(factCols.contains) ++
      factCols.filter(c => rowLocalRefs.contains(c.toLowerCase)) ++
      groupCols.filter(factCols.contains)).distinct
  private def dimKeep(i: Int): Seq[String] = {
    val cols = dimColsOf(i)
    ((cntCols ++ hllCols ++ pcts.map(_.arg)).filter(cols.contains) ++
      cols.filter(c => rowLocalRefs.contains(c.toLowerCase)) ++
      groupCols.filter(cols.contains)).distinct
  }

  /** The sieved star join at `lasts` with the derived columns attached:
    * every member row of the view, each side projected to what the
    * aggregates need plus the `extra` columns it carries (a rebuild
    * widens it by the DISTINCT auxes' arguments, so the auxes can group
    * the same relation). */
  private def members(lasts: Seq[Long], extra: Seq[String] = Nil)
      : DataFrame =
    prep(joinAll(
      project(visibleFact(lasts.head), "_fact_id",
        (factKeep ++ extra.filter(factCols.contains)).distinct),
      dims.indices.map(i =>
        project(visibleDim(i, lasts(i + 1)), dimId(i),
          (dimKeep(i) ++ extra.filter(dimColsOf(i).contains)).distinct))))

  /** fact ⋈ every dim on its fk = dim id — LEFT for left spokes (NULL
    * and dangling fks keep the fact row, dim columns NULL). */
  private def joinAll(fact: DataFrame, dimDfs: Seq[DataFrame]): DataFrame =
    dimDfs.zipWithIndex.foldLeft(fact) { case (acc, (d, i)) =>
      acc.join(d, col(fkOf(i)).cast("long") === col(dimId(i)),
        if (leftOf(i)) "left" else "inner")
    }

  /** Per-group COUNT/SUM/COUNT(col) over a member relation — `withMm`
    * adds MIN/MAX aggregates, valid only over a COMPLETE member
    * relation (full build, touched-group re-read), never over a delta:
    * extremes don't subtract. */
  private def aggOf(members: DataFrame, withMm: Boolean = false,
                    more: Seq[Column] = Nil): DataFrame =
    members.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sumCols.map(c => sum(col(c)).as(sumAlias(c))) ++ cntAggs ++
          (if (withMm) mmAggs else Nil) ++ more: _*)

  /** The star join sieved by the declared WHERE, then [[aggOf]]. */
  private def joinAgg(fact: DataFrame, dimDfs: Seq[DataFrame]): DataFrame =
    aggOf(prep(joinAll(fact, dimDfs)))

  /** Exact full recompute → state (first build, or after truncation of
    * any log). Same temp-write + swap as [[Matview]].
    *
    * With DISTINCT auxes the member relation is derived ONCE, widened
    * by every aux's argument and checkpointed: each aux rebuilding at
    * the same watermarks groups it by `groups :+ arg`, and this view
    * aggregates the same checkpoint — one star join per rebuild, not
    * one per aux plus one. An aux adopts the relation only at equal
    * watermarks (any drift derives its own, as before). */
  private def rebuild(lasts: Seq[Long], sharedIn: Option[MvShared],
                      cps: Checkpoints): (Long, Long) = {
    val mem = sharedIn match {
      case Some(sb: MvSharedStarBuild) if sb.lasts == lasts => sb.members
      case _ =>
        val m = members(lasts, distincts.map(_.arg))
        if (JoinMatview.capturePlans) JoinMatview.capturedPlans.synchronized {
          JoinMatview.capturedPlans +=
            m.queryExecution.executedPlan.toString: Unit
        }
        if (distincts.isEmpty) m else cps.pin(m)
    }
    syncAuxes(lasts, Some(MvSharedStarBuild(lasts, mem)))
    val agg = MvState.withBucket(
      aggOf(mem, withMm = true, MvState.distinctAggs(distincts)), bucketCol,
      distincts)
    checkRangeKey(agg.schema)
    if (rangeLayout) MvState.checkRangeBuild(agg,
      MvState.rangeLeadKind(agg.schema, groupCols.head), "build")
    val tmp = stateRoot.resolve("state_rebuild_tmp")
    TxLog.deleteRecursively(tmp.toFile)
    // schema sidecar: a join that matches nothing writes a file-less
    // parquet dir — without the pinned schema every later read throws
    MvState.writeSchema(stateRoot, agg, bucketKeyCols, nBuckets,
      rangeLayout)
    MvState.writeState(agg, groupCols, tmp, nBuckets)
    val old = stateRoot.resolve("state_rebuild_old")
    TxLog.deleteRecursively(old.toFile)
    if (Files.exists(dataDir)) { Files.move(dataDir, old): Unit }
    Files.move(tmp, dataDir): Unit
    TxLog.deleteRecursively(old.toFile)
    if (tzSensitive(agg.schema)) MvState.pinTimeZone(spark, stateRoot)
    MvState.pinDef(stateRoot, defFp)
    setWatermarks(lasts)
    (lasts.head, lasts.tail.max)
  }

  /** Fold every log's tail into the state; returns (fact watermark,
    * max dim watermark). */
  def refresh(): (Long, Long) = refreshUpTo(None)

  /** [[refresh]] bounded to fold NO tx past the per-log `pins` (fact
    * first, then one per dim — [[watermarksAll]] order): the DISTINCT
    * serve path refreshes its auxiliary pair-level view pinned to the
    * main view's just-recorded watermarks, so both states always
    * describe the same log prefixes. Pins at or below the current
    * watermarks are a no-op. */
  private[graft] def refreshUpTo(pins: Option[Seq[Long]],
      sharedIn: Option[MvShared] = None): (Long, Long) =
    MaintainerLease.withLease(
      java.nio.file.Paths.get(factLog.dir) +:
        dims.map(d => java.nio.file.Paths.get(d._1.dir)),
      "join-matview-refresh") {
      Checkpoints.scoped(refreshHeld(pins, sharedIn, _))
    }

  /** [[refreshUpTo]]'s body, under the lease; every local checkpoint it
    * takes goes into `cps` and is released when it returns. */
  private def refreshHeld(pins: Option[Seq[Long]],
      sharedIn: Option[MvShared], cps: Checkpoints): (Long, Long) = {
    // a DEFINITION change over the same state dir (JVM restart +
    // re-CREATE, a Scala-API re-instantiation, or a different dim
    // arity) invalidates the state: discard it and fall through to the
    // rebuild/first-build path
    if (!MvState.defMatches(stateRoot, defFp)) {
      TxLog.deleteRecursively(dataDir.toFile)
      Files.deleteIfExists(wmFile): Unit
      // sidecars go WITH the data (see Matview.refresh): a surviving
      // '_schema' would serve the OLD definition's columns until the
      // rebuild lands — or forever, if it fails or a log is empty
      Files.deleteIfExists(stateRoot.resolve("_schema")): Unit
      Files.deleteIfExists(stateRoot.resolve("_tz")): Unit
    }
    val ws = watermarksAll
    val lastsAll = lastOf(factLog) +: dims.map(d => lastOf(d._1))
    // every relation below is already parameterized by `lasts` (the
    // visibles' upToTx, the touched sets, the old-history filters and
    // the rebuild) — pinning is just a cap on what this refresh records
    val lasts = pins.fold(lastsAll)(p =>
      lastsAll.zip(p.padTo(lastsAll.size, Long.MaxValue))
        .map { case (l, pi) => math.min(l, pi) })
    def ret(v: Seq[Long]) = (v.head, v.tail.max)
    if (lasts.zip(ws).forall { case (l, w) => l <= w }) return ret(ws)
    // the view first builds once EVERY log holds data. For inner
    // spokes the view is empty until then anyway; for LEFT spokes the
    // constraint is mechanical — an empty log has no parquet files, so
    // the dim's column TYPES are unknowable and the null-extended
    // relation cannot be constructed (the DDL's empty-table check
    // surfaces this loudly at CREATE).
    if (lasts.exists(_ < 0)) return ret(ws)
    // ws.exists(_ < 0) also covers a state REGROWN with more dims (its
    // padded -1 watermark has no incremental history to fold from)
    if (factLog.truncatedUpTo().isDefined ||
      dims.exists(_._1.truncatedUpTo().isDefined) ||
      ws.exists(_ < 0) || !Files.exists(dataDir))
      return rebuild(lasts, sharedIn, cps)

    if (MvState.storedSchema(stateRoot).exists(tzSensitive))
      MvState.checkTimeZone(spark, stateRoot)
    // touched ids per side (tail-sized), bounded to the recorded
    // watermarks — same snapshot discipline as the visibles
    def idOf(p: java.nio.file.Path): Long = p.getFileName.toString
      .stripPrefix("tx_").stripSuffix(".parquet").toLong
    def touchedOf(log: TxLog, w: Long, last: Long): DataFrame =
      if (last > w)
        readTx(log.txFilesAfter(w).filter(idOf(_) <= last))
          .select(col("_id").cast("long").as("_t_id")).distinct()
      else spark.range(0).select(col("id").as("_t_id"))
    val ta = touchedOf(factLog, ws.head, lasts.head)
    val tbs = dims.indices.map(i =>
      touchedOf(dimLogOf(i), ws(i + 1), lasts(i + 1)))

    // OLD visible rows of the touched ids: re-fold their own op history
    // up to the watermark (the same point-read shape Matview uses)
    def oldTouched(log: TxLog, cols: Seq[String], touched: DataFrame,
                   w: Long): DataFrame = {
      val all = readTx(log.txFiles().filter(idOf(_) <= w))
      val hist = all.join(touched,
        all("_id").cast("long") === touched("_t_id"), "left_semi")
      Bitemporal.asOf(Bitemporal.fold(hist.filter(col("_tx_id") <= w), cols),
        lit(validAt), lit(sysProbe))
    }
    def semiOn(df: DataFrame, key: Column, ids: DataFrame): DataFrame =
      df.join(ids, key === ids("_t_id"), "left_semi")
    def antiOn(df: DataFrame, key: Column, ids: DataFrame): DataFrame =
      df.join(ids, key === ids("_t_id"), "left_anti")

    // A/B gate for the subtree-reuse checkpoints below (measurement:
    // reuse trades duplicated subtree work for serialized jobs — the
    // win must be measured, not assumed). Default on.
    val reuseShared = spark.conf
      .getOption("spark.graft.mv.reuseShared").forall(_.toBoolean)
    val vaNew = project(visibleFact(lasts.head), "_fact_id", factKeep)
    // each dim's visible relation feeds the new-side join, the old-side
    // union AND (for min/max views) the member re-join — up to three
    // executions of the dim log's full fold per refresh (no cross-
    // branch CSE). Dims are the small side by construction (the same
    // assumption that broadcasts them into the join), so materialize
    // each ONCE (r16, guide §2.3): one fold job per dim, every
    // consumer reads the checkpoint; AQE's runtime stats still pick the
    // broadcast side.
    val vbNews = dims.indices.map { i =>
      val v = project(visibleDim(i, lasts(i + 1)), dimId(i), dimKeep(i))
      if (reuseShared) cps.pin(v) else v
    }
    val vaOldT = project(oldTouched(factLog, factCols, ta, ws.head),
      "_fact_id", factKeep)
    // dim OLD relations: untouched dims unchanged; touched re-folded
    val vbOlds = dims.indices.map { i =>
      antiOn(vbNews(i), col(dimId(i)), tbs(i))
        .unionByName(project(
          oldTouched(dimLogOf(i), dimColsOf(i), tbs(i), ws(i + 1)),
          dimId(i), dimKeep(i)))
    }

    // affected fact rows: own id touched, or ANY fk references a
    // touched dim. Each dim's touched predicate ships as a LITERAL In
    // when its touched set is small (the overwhelmingly common case —
    // dim churn per refresh interval): the per-dim Ins OR together
    // into ONE filter pass over the fact relation, pushed to the fact
    // base's parquet scan (FILE pruning on an fk-clustered base — a
    // semi-join never reaches the scan). Past the inline cap the big
    // dims degrade to semi-joins, deduped by fact id (a visible
    // relation has exactly one row per id, so dropDuplicates is exact).
    val tbIdss: Seq[Option[Seq[Long]]] = dims.indices.map { i =>
      if (lasts(i + 1) <= ws(i + 1)) Some(Nil) // no tail: skip the probe
      else {
        val probe = tbs(i).limit(JoinMatview.MaxInlineDimIds + 1)
          .collect().map(_.getLong(0)).toSeq
        if (probe.size <= JoinMatview.MaxInlineDimIds) Some(probe) else None
      }
    }
    def dimTouchedAny(df: DataFrame): DataFrame = {
      val inlineConds = dims.indices.flatMap { i =>
        tbIdss(i) match {
          case Some(Seq()) => None
          case Some(ids) =>
            Some(col(fkOf(i)).cast("long").isin(ids: _*))
          case None => None
        }
      }
      val bigDims = dims.indices.filter(i => tbIdss(i).isEmpty)
      val inlinePart =
        if (inlineConds.isEmpty) None
        else Some(df.filter(inlineConds.reduce(_ || _)))
      val semiParts = bigDims.map(i =>
        semiOn(df, col(fkOf(i)).cast("long"), tbs(i)))
      val parts = inlinePart.toSeq ++ semiParts
      if (parts.isEmpty) df.limit(0)
      else if (parts.size == 1) parts.head
      else parts.reduce(_ unionByName _).dropDuplicates("_fact_id")
    }
    val antiOwn = antiOn(vaNew, col("_fact_id"), ta)
    // dim-affected facts feed BOTH delta legs (they are affNew's second
    // branch and affOld's second branch). Catalyst has no cross-branch
    // CSE, so the pre-r16 plan executed the whole subtree — a full
    // visible-fact derivation plus the touched-dim restriction — TWICE
    // inside the delta job. Checkpoint it once (rows ∝ facts referencing
    // touched dims — the refresh's own IVM cost contract, same size
    // class as the delta checkpoint); skip the job entirely when no dim
    // has tail ops (the fact-only refresh, where the subtree is empty
    // by construction).
    val noDimTail = dims.indices.forall(i => lasts(i + 1) <= ws(i + 1))
    val dimAff =
      if (noDimTail) vaNew.limit(0)
      else if (!reuseShared) dimTouchedAny(antiOwn)
      else {
        val da = dimTouchedAny(antiOwn)
        // the touched-dim fact restriction now executes in THIS job, so
        // the pushdown spec snapshots its plan here (the delta plan
        // below only sees the checkpointed RDD)
        if (JoinMatview.capturePlans) JoinMatview.capturedPlans.synchronized {
          JoinMatview.capturedPlans +=
            da.queryExecution.executedPlan.toString: Unit
        }
        cps.pin(da)
      }
    val affNew = semiOn(vaNew, col("_fact_id"), ta).unionByName(dimAff)
    val affOld = vaOldT // own id touched: every old version is affected
      .unionByName(dimAff)

    // Delta per group as ONE aggregation over the SIGNED union of both
    // legs' joined member relations (r17, guide §2.4 "share one
    // exchange") — the pre-r17 shape aggregated new and old separately
    // and full-outer-joined them: two exchanges plus a join where one
    // exchange suffices. The two star joins themselves remain (their
    // inputs differ); only the aggregate+merge fuses. Numerically
    // identical for exact (integral/DECIMAL) sum types: SUM(new) −
    // SUM(old) = SUM(±x) term for term. A/B gate:
    // spark.graft.mv.unionDelta=false restores the join shape.
    val unionDelta = spark.conf
      .getOption("spark.graft.mv.unionDelta").forall(_.toBoolean)
    val delta0 =
      if (unionDelta) {
        val sg = col(MvState.SignCol)
        def side(fact: DataFrame, dimDfs: Seq[DataFrame], sign: Int) =
          prep(joinAll(fact, dimDfs))
            .withColumn(MvState.SignCol, lit(sign.toLong))
        side(affNew, vbNews, 1).unionByName(side(affOld, vbOlds, -1))
          .groupBy(groupCols.map(col): _*)
          .agg(sum(sg).as("n"),
            sumCols.map(c => sum(when(sg === 1L, col(c))
              .otherwise(-col(c))).as(sumAlias(c))) ++
              cntCols.map(c => sum(when(col(c).isNotNull, sg)
                .otherwise(0L)).as(cntAlias(c))): _*)
      } else {
        val newC = joinAgg(affNew, vbNews)
        val oldC = joinAgg(affOld, vbOlds)
        val o = oldC.as("o"); val nw = newC.as("n")
        val dKey = groupCols.map(g =>
          col(s"n.$g") <=> col(s"o.$g")).reduce(_ && _)
        nw.join(o, dKey, "full_outer")
          .select(
            (groupCols.map(g =>
              coalesce(col(s"n.$g"), col(s"o.$g")).as(g)) :+
              (coalesce(col("n.n"), lit(0L)) - coalesce(col("o.n"), lit(0L)))
                .as("n")) ++
              sumCols.map { c =>
                val a = sumAlias(c)
                (coalesce(col(s"n.$a"), lit(0)) - coalesce(col(s"o.$a"), lit(0)))
                  .as(a)
              } ++ cntCols.map { c =>
                val a = cntAlias(c)
                (coalesce(col(s"n.$a"), lit(0L)) - coalesce(col(s"o.$a"), lit(0L)))
                  .as(a)
              }: _*)
      }
    // the state's sum types are pinned to the plain aggregate's types:
    // uncapped, each merge's +/- widens decimal precision by one until
    // the parquet byte width no longer matches older bucket files
    // (FIXED_LEN_BYTE_ARRAY grows at p=23 and p=26) and reads fail
    val sumT: Map[String, org.apache.spark.sql.types.DataType] =
      sumCols.map(c => sumAlias(c) ->
        joinAgg(affNew, vbNews).schema(sumAlias(c)).dataType).toMap
    val delta = delta0.select(
      (groupCols.map(col) :+ col("n")) ++
        (sumCols.map(c => col(sumAlias(c)).cast(sumT(sumAlias(c)))
          .as(sumAlias(c))) ++
          cntCols.map(c => col(cntAlias(c)))): _*)
      .withColumn("_bucket", bucketCol)
    // the delta feeds the affected-bucket collect, the state merge AND
    // (for min/max views) the touched-group set — checkpoint it once
    // (rows ∝ touched groups) so the Δ(A⋈B) pipeline upstream runs one
    // time, not once per consumer. Bucket set + group-tuple probe ride
    // INSIDE the materializing job (r17 fused stats — see [[Matview]]).
    if (JoinMatview.capturePlans) JoinMatview.capturedPlans.synchronized {
      JoinMatview.capturedPlans +=
        delta.queryExecution.executedPlan.toString: Unit
    }
    val (deltaCp, deltaRows, bucketsOpt, tuplesOpt) =
      cps.pinDelta(delta, nBuckets, groupCols)
    val affected: Seq[Any] =
      if (deltaRows == 0L) Nil
      else bucketsOpt.getOrElse(
        deltaCp.select(col("_bucket")).distinct()
          .collect().map(_.get(0)).toSeq)
    if (affected.isEmpty) {
      MvState.pinDef(stateRoot, defFp)
      setWatermarks(lasts); return ret(lasts)
    }
    if (rangeLayout)
      MvState.checkRangeRefresh(affected,
        MvState.rangeLeadKind(deltaCp.schema, groupCols.head))

    val state = MvState.readState(spark, stateRoot, dataDir)
      .filter(col("_bucket").isin(affected: _*))
    val s = state.as("s"); val d = deltaCp.as("d")
    val mKey = groupCols.map(g =>
      col(s"s.$g") <=> col(s"d.$g")).reduce(_ && _)
    val countSum = s.join(d, mKey, "full_outer")
      .select(
        groupCols.map(g =>
          coalesce(col(s"s.$g"), col(s"d.$g")).as(g)) ++
          ((coalesce(col("s.n"), lit(0L)) + coalesce(col("d.n"), lit(0L)))
            .as("n") +:
          (sumCols.map { c =>
            val a = sumAlias(c)
            (coalesce(col(s"s.$a"), lit(0)) + coalesce(col(s"d.$a"), lit(0)))
              .cast(sumT(a)).as(a)
          } ++ cntCols.map { c =>
            val a = cntAlias(c)
            (coalesce(col(s"s.$a"), lit(0L)) + coalesce(col(s"d.$a"), lit(0L)))
              .as(a)
          } ++
            // state's min/max — and the distinct rollup columns — ride
            // along for groups in an affected bucket that this refresh
            // does NOT touch (null for brand new groups — every new
            // group is touched, so the overlay/re-read below always
            // overwrites it)
            (mmAliases ++ ddAliases).map(a => col(s"s.$a").as(a)) :+
          coalesce(col("s._bucket"), col("d._bucket")).as("_bucket"))): _*)
      .filter(col("n") > 0) // group left the join entirely
    // MIN/MAX fallback, crossed over the join (the classic IVM
    // restriction plus the group-move case: a dim relocation can strip
    // the OLD group's extreme with zero fact ops): the TOUCHED GROUPS —
    // and only those — re-derive their member facts by re-joining at
    // the basis and recompute extremes from scratch. COUNT/SUM-only
    // views skip all of this, keeping refresh ∝ the tails.
    // shared by the mm fallback AND the distinct-rollup overlay below;
    // fused-stats tuples (≤ cap) serve as a LOCAL relation — see
    // [[Matview]]'s matching note
    lazy val touchedGroups = tuplesOpt match {
      case Some(rows) =>
        spark.createDataFrame(
          new java.util.ArrayList(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          org.apache.spark.sql.types.StructType(
            groupCols.map(g => deltaCp.schema(g))))
      case None => deltaCp.select(groupCols.map(col): _*).distinct()
    }
    val merged =
      if (mmAliases.isEmpty) countSum
      else {
        // the member relation for extremes is the SIEVED join (a row
        // outside the WHERE is not a member and must not donate a
        // min/max), with derived columns attached — extremes may be
        // over an expression. The touched-group restriction ships as
        // LITERALS under the cap: Catalyst pushes each per-column
        // predicate BELOW the join to whichever side carries the group
        // column (the semi-join above the join never could), reaching
        // the side's parquet scan.
        val full = prep(joinAll(vaNew, vbNews))
        val mm = MvState.membersOfTouched(full, touchedGroups, groupCols)
          .groupBy(groupCols.map(col): _*)
          .agg(mmAggs.head, mmAggs.tail: _*)
          .select(groupCols.map(col) ++ (lit(true).as("_mm") +:
            mmAliases.map(a => col(a).as(s"_r_$a"))): _*)
        val rKey = groupCols.map(g =>
          col(s"m.$g") <=> col(s"r.$g")).reduce(_ && _)
        val mrg = countSum.as("m").join(mm.as("r"), rKey, "left")
        mrg.select(
          (groupCols.map(g => col(s"m.$g").as(g)) :+ col("m.n").as("n")) ++
            (sumCols.map(c => col(s"m.${sumAlias(c)}").as(sumAlias(c))) ++
              cntCols.map(c => col(s"m.${cntAlias(c)}").as(cntAlias(c))) ++
              // the _mm flag (not coalesce) decides: a touched group
              // whose recomputed extreme is legitimately NULL (all
              // values null) must not fall back to the stale state
              mmAliases.map(a =>
                when(col("_mm") === true, col(s"_r_$a"))
                  .otherwise(col(s"m.$a")).as(a)) ++
              ddAliases.map(a => col(s"m.$a").as(a)) :+
            col("m._bucket").as("_bucket")): _*)
      }
    // DISTINCT rollup overlay — see [[Matview]]: auxes pinned to this
    // refresh's watermarks, touched groups recomputed from pair state
    // partition-pruned to the affected buckets.
    val finalMerged =
      if (distincts.isEmpty) merged
      else {
        syncAuxes(lasts)
        MvState.overlayDistinct(merged, groupCols, touchedGroups,
          affected, distincts, spark)
      }
    MvState.swapBuckets(stateRoot, dataDir, finalMerged, affected, groupCols,
      rangeCap = rangeLayout)
    MvState.pinDef(stateRoot, defFp)
    setWatermarks(lasts)
    ret(lasts)
  }

  /** The maintained view: (group, n, sum_*) — read-only, no recompute.
    * RAW-STATE semantics for `sum_*` as in [[Matview.read]]: 0 for an
    * all-NULL group; maintain `cntCols` and mask for ANSI SUM (the DDL
    * layer does). */
  def read(): DataFrame = read(spark)

  /** [[read]] bound to an EXPLICIT session (see [[Matview.read]]). */
  def read(session: SparkSession): DataFrame =
    MvState.readState(session, stateRoot, dataDir).drop("_bucket")

  /** [[read]] WITH the `_bucket` partition column — the parent view's
    * rollup scan prunes on it (aux pair views only). */
  private[graft] def readRaw(session: SparkSession): DataFrame =
    MvState.readState(session, stateRoot, dataDir)
}

object JoinMatview {
  /** Touched-dim sets up to this size inline as a literal In predicate
    * (pushes to the fact scan → file pruning on an fk-clustered base);
    * larger sets fall back to the semi-join. ~10k longs is metadata-
    * sized on the driver, same class as the affected-bucket collect. */
  private[bitemporal] val MaxInlineDimIds = 10000

  /** Test hook: the delta executes as a bare RDD checkpoint job (no
    * QueryExecutionListener event), so the pruning spec captures its
    * physical plan here instead — and a rebuild captures each member
    * relation it derives (the sharing spec counts them). Off (zero
    * cost) outside tests. */
  @volatile private[graft] var capturePlans = false
  private[graft] val capturedPlans =
    scala.collection.mutable.Buffer.empty[String]
}
