package graft.bitemporal

import java.nio.file.Path
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
  * Truncation of ANY log permanently switches refresh to an exact
  * full rebuild from the logs (incremental deltas need full op history
  * for touched ids), mirroring [[Matview]]'s retention tradeoff.
  *
  * This class derives a refresh's member relations across the star;
  * the aggregate, the delta merge and the state store are [[MvCore]]'s.
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
  private val logs: Seq[TxLog] = factLog +: dims.map(_._1)

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
  // COUNT(col), sketches and percentiles read the JOINED relation, so
  // their column may live on any side (payload names are disjoint)
  private val aggable = factCols ++ dims.flatMap(_._2) ++ derivedNames
  require(sumCols.forall(c => factCols.contains(c) || derivedNames.contains(c)),
    s"sum columns $sumCols must be fact payload or derived columns")
  require((minCols ++ maxCols).forall(c =>
      factCols.contains(c) || derivedNames.contains(c)),
    s"min/max columns ${minCols ++ maxCols} must be fact payload or derived columns")
  groupCols.foreach(g => require(aggable.contains(g),
    s"group column $g must be a payload or derived column of some table"))
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

  // the fingerprint covers the spokes (dim-arity changes over the same
  // state) and, only when some spoke is LEFT, the join types
  private val core = new MvCore(spark, stateRoot, aggable, groupCols,
    sumCols, minCols, maxCols, cntCols, hllCols, pcts, distincts,
    bucketCols, nBuckets, rangeLayout, whereSql, derived, validAt,
    fpPayload = factCols,
    fpSpokes = dims.map(d => d._3 + ":" + d._2.mkString(",")),
    fpJoinExtra =
      if (leftOf.exists(identity))
        Seq("left:" + leftOf.map(b => if (b) "1" else "0").mkString)
      else Nil)

  /** Tx watermarks folded into the state, fact first then one per dim;
    * all -1 fresh. Short files (state written by an older build, or a
    * view regrown with more dims) pad with -1 — the affected dims then
    * rebuild their contribution on the next refresh. */
  def watermarksAll: Seq[Long] = core.watermarks(1 + nDims)

  /** (fact, first dim) watermarks — the 2-ary view's historical API. */
  def watermarks: (Long, Long) = {
    val all = watermarksAll
    (all.head, all(1))
  }

  /** Is the state CURRENT across EVERY log — would a refresh be a
    * no-op? See [[MvCore.isFresh]]. */
  def isFresh: Boolean = core.isFresh(logs)

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

  private def readTx(files: Seq[Path]): DataFrame =
    TxLog.readMerged(spark, files.map(_.toString))

  /** Test hook: snapshot a relation's physical plan when
    * [[JoinMatview.capturePlans]] is on. */
  private def capture(df: DataFrame): Unit =
    if (JoinMatview.capturePlans) JoinMatview.capturedPlans.synchronized {
      JoinMatview.capturedPlans += df.queryExecution.executedPlan.toString: Unit
    }

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
    core.visible(factLog.readAllAuto(spark, factCols, upToTx))
  private def visibleDim(i: Int, upToTx: Long): DataFrame =
    core.visible(dimLogOf(i).readAllAuto(spark, dimColsOf(i), upToTx))

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
  private def members(lasts: Seq[Long], extra: Seq[String]): DataFrame =
    core.prep(joinAll(
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
      logs.map(l => java.nio.file.Paths.get(l.dir)),
      "join-matview-refresh") {
      Checkpoints.scoped(refreshHeld(pins, sharedIn, _))
    }

  /** [[refreshUpTo]]'s body, under the lease; every local checkpoint it
    * takes goes into `cps` and is released when it returns. */
  private def refreshHeld(pins: Option[Seq[Long]],
      sharedIn: Option[MvShared], cps: Checkpoints): (Long, Long) = {
    core.dropIfRedefined()
    val ws = watermarksAll
    val lastsAll = logs.map(_.lastTx())
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
    // a rebuild derives the member relation ONCE (widened by every
    // DISTINCT argument), so each aux groups it instead of re-running
    // the star join — one star join per rebuild, not one per aux plus
    // one
    if (core.needsRebuild(logs, ws)) {
      core.rebuild(lasts, sharedIn, cps) {
        val m = members(lasts, distincts.map(_.arg))
        capture(m); m
      }
      return ret(lasts)
    }

    // touched ids per side (tail-sized), bounded to the recorded
    // watermarks — same snapshot discipline as the visibles
    def touchedOf(log: TxLog, w: Long, last: Long): DataFrame =
      if (last > w)
        readTx(log.txFilesAfter(w).filter(TxLog.txIdOf(_) <= last))
          .select(col("_id").cast("long").as("_t_id")).distinct()
      else spark.range(0).select(col("id").as("_t_id"))
    val ta = touchedOf(factLog, ws.head, lasts.head)
    val tbs = dims.indices.map(i =>
      touchedOf(dimLogOf(i), ws(i + 1), lasts(i + 1)))

    // OLD visible rows of the touched ids: re-fold their own op history
    // up to the watermark (the same point-read shape Matview uses)
    def oldTouched(log: TxLog, cols: Seq[String], touched: DataFrame,
                   w: Long): DataFrame = {
      val all = readTx(log.txFiles().filter(TxLog.txIdOf(_) <= w))
      val hist = all.join(touched,
        all("_id").cast("long") === touched("_t_id"), "left_semi")
      core.visible(Bitemporal.fold(hist.filter(col("_tx_id") <= w), cols))
    }
    def semiOn(df: DataFrame, key: Column, ids: DataFrame): DataFrame =
      df.join(ids, key === ids("_t_id"), "left_semi")
    def antiOn(df: DataFrame, key: Column, ids: DataFrame): DataFrame =
      df.join(ids, key === ids("_t_id"), "left_anti")

    val vaNew = project(visibleFact(lasts.head), "_fact_id", factKeep)
    // each dim's visible relation feeds the new-side join, the old-side
    // union AND (for min/max views) the member re-join — up to three
    // executions of the dim log's full fold per refresh (no cross-
    // branch CSE). Dims are the small side by construction (the same
    // assumption that broadcasts them into the join), so materialize
    // each ONCE: one fold job per dim, every consumer reads the
    // checkpoint; AQE's runtime stats still pick the broadcast side.
    val vbNews = dims.indices.map(i => cps.pin(
      project(visibleDim(i, lasts(i + 1)), dimId(i), dimKeep(i))))
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
          case Some(ids) if ids.nonEmpty =>
            Some(col(fkOf(i)).cast("long").isin(ids: _*))
          case _ => None
        }
      }
      val inlinePart =
        if (inlineConds.isEmpty) None
        else Some(df.filter(inlineConds.reduce(_ || _)))
      val semiParts = dims.indices.filter(i => tbIdss(i).isEmpty).map(i =>
        semiOn(df, col(fkOf(i)).cast("long"), tbs(i)))
      val parts = inlinePart.toSeq ++ semiParts
      if (parts.isEmpty) df.limit(0)
      else if (parts.size == 1) parts.head
      else parts.reduce(_ unionByName _).dropDuplicates("_fact_id")
    }
    // dim-affected facts feed BOTH delta legs, and Catalyst has no
    // cross-branch CSE: checkpoint them once (rows ∝ facts referencing
    // touched dims — the refresh's own IVM cost contract); skip the job
    // when no dim has tail ops (the subtree is empty by construction).
    // The touched-dim fact restriction executes in THIS job, so the
    // pushdown spec snapshots its plan here.
    val noDimTail = dims.indices.forall(i => lasts(i + 1) <= ws(i + 1))
    val dimAff =
      if (noDimTail) vaNew.limit(0)
      else {
        val da = dimTouchedAny(antiOn(vaNew, col("_fact_id"), ta))
        capture(da)
        cps.pin(da)
      }
    val affNew = semiOn(vaNew, col("_fact_id"), ta).unionByName(dimAff)
    val affOld = vaOldT // own id touched: every old version is affected
      .unionByName(dimAff)
    // the delta's two legs join the star over their own inputs; the
    // MIN/MAX re-read re-joins the whole fact at the basis (the
    // group-move case: a dim relocation can strip the OLD group's
    // extreme with zero fact ops)
    core.applyDelta(joinAll(affNew, vbNews), joinAll(affOld, vbOlds),
      joinAll(vaNew, vbNews), lasts, None, cps)
    ret(lasts)
  }

  /** The maintained view: (group, n, sum_*) — read-only, no recompute.
    * RAW-STATE semantics for `sum_*` as in [[Matview.read]]: 0 for an
    * all-NULL group; maintain `cntCols` and mask for ANSI SUM (the DDL
    * layer does). */
  def read(): DataFrame = read(spark)

  /** [[read]] bound to an EXPLICIT session (see [[Matview.read]]). */
  def read(session: SparkSession): DataFrame = core.read(session)

  /** [[read]] WITH the `_bucket` partition column — the parent view's
    * rollup scan prunes on it (aux pair views only). */
  private[graft] def readRaw(session: SparkSession): DataFrame =
    core.readRaw(session)
}

object JoinMatview {
  /** Touched-dim sets up to this size inline as a literal In predicate
    * (pushes to the fact scan → file pruning on an fk-clustered base);
    * larger sets fall back to the semi-join. ~10k longs is metadata-
    * sized on the driver, same class as the affected-bucket collect. */
  private[bitemporal] val MaxInlineDimIds = 10000

  /** Test hook: the dim-affected fact restriction executes as a bare
    * RDD checkpoint job (no QueryExecutionListener event), so the
    * pruning spec captures its physical plan here instead — and a
    * rebuild captures each member relation it derives (the sharing spec
    * counts them). Off (zero cost) outside tests. */
  @volatile private[graft] var capturePlans = false
  private[graft] val capturedPlans =
    scala.collection.mutable.Buffer.empty[String]
}
