package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.bitemporal.{Bitemporal, BitemporalDml, BitemporalSql, TxLog, TxOps}

/** The user-facing bitemporal table — the facade a reference (xtdb/core2)
  * user lands on: submit put/delete/erase transactions, read the current
  * state or any bitemporal basis, time-travel via SQL:2011 clauses.
  *
  * Maps one-to-one onto the reference's surface (README.adoc:11-15):
  *   submit-tx [[put]]/[[delete]]/[[erase]]  → tx-log append
  *   db / basis                              → [[current]] / [[asOf]]
  *   FOR SYSTEM_TIME / APPLICATION_TIME      → [[sql]]
  *   entity history                          → [[history]]
  *
  * Storage: an append-only parquet tx log plus a compacted,
  * system-date-partitioned rectangle base; reads union base +
  * unapplied tail (read-your-writes, cost ∝ tail) — see SCALING.md.
  */
final class GraftTable(spark: SparkSession, dir: String,
                       payloadCols: Seq[String],
                       autoCompactEvery: Int = 0,
                       clusterBy: Seq[String] = Nil) {
  require(clusterBy.forall(c => payloadCols.contains(c) || c == "_id"),
    s"clusterBy columns $clusterBy must be payload columns (or _id)")
  private val log = new TxLog(dir)
  // recover the compaction watermark persisted with the base: a fresh
  // instance serves untouched ids from the base instead of re-folding
  // the whole log — and for a truncated log (whose prefix lives ONLY in
  // the base) this is the correctness requirement, not an optimization
  private var lastCompacted: Long =
    log.baseWatermark().orElse(log.truncatedUpTo()).getOrElse(-1L)

  /** Opt-in compaction policy (`autoCompactEvery` = N > 0): after a
    * write lands, compact when the unapplied tail reaches N
    * transactions — the reference's background chunk-sealing loop as a
    * synchronous bound on tail length. Read cost is ∝ tail (readAll
    * re-folds touched ids), so a bounded tail bounds every read's
    * overhead; incremental compaction keeps the write amplification at
    * O(touched partitions). Off by default: batch loads compact once at
    * the end, not every N txs. */
  private def maybeAutoCompact(): Unit =
    if (autoCompactEvery > 0 &&
      log.txFilesAfter(lastCompacted).size >= autoCompactEvery) compact()

  private def appended[A](txId: A): A = { maybeAutoCompact(); txId }

  /** Cheap generation key for this table: the max tx id visible in ONE
    * log directory listing (plus the truncation point), no data read.
    * Two reads at the same generation see the same rectangle relation —
    * schema included — so [[graft.server.GraftMvNav]]'s memoized
    * schema backstop keys on (statement, name, location, generation). */
  private[graft] def logGeneration: Long = log.lastTx()

  /** The table's storage root — a stable identity for memo keys (two
    * same-named registrations of different tables must never share a
    * memoized schema). */
  private[graft] def location: String = dir
  private val txFns =
    scala.collection.mutable.Map.empty[String, (GraftTable, Seq[Any]) => DataFrame]

  /** Submit a put transaction: rows become document versions valid from
    * `validFrom` (to `validTo`, default unbounded). Returns the tx id. */
  def put(rows: DataFrame, id: Column, validFrom: Column,
          validTo: Option[Column] = None,
          payload: Seq[(String, Column)],
          systemTime: Timestamp): Long =
    appended(log.append(TxOps.put(rows, id, validFrom, validTo, payload), systemTime))

  /** Submit a delete over a valid-time portion. */
  def delete(rows: DataFrame, id: Column, validFrom: Column,
             validTo: Option[Column] = None,
             payload: Seq[(String, Column)],
             systemTime: Timestamp): Long =
    appended(log.append(TxOps.delete(rows, id, validFrom, validTo, payload), systemTime))

  /** Submit an erase: the id's entire history is removed (applied
    * physically at the next [[compact]]). */
  def erase(rows: DataFrame, id: Column,
            payload: Seq[(String, Column)], systemTime: Timestamp): Long =
    appended(log.append(TxOps.erase(rows, id, payload), systemTime))

  /** Register a named transaction function — the reference's write-side
    * escape hatch (`[:call f args…]`, SURVEY.md §3.3). The function maps
    * (this table, call args) to an ops DataFrame built with the
    * [[TxOps]] builders; it runs AT APPEND TIME inside the single-writer
    * log, so it can read the table's own current state and derive ops
    * from it — the read-modify-write pattern (conditional put,
    * increment) that plain puts can't express race-free. */
  def registerTxFn(name: String, f: (GraftTable, Seq[Any]) => DataFrame): Unit =
    txFns(name) = f

  /** Execute a registered transaction function; the ops it returns are
    * appended as ONE transaction at `systemTime`. Returns the tx id. */
  def call(name: String, args: Seq[Any], systemTime: Timestamp): Long = {
    val f = txFns.getOrElse(name,
      throw new IllegalArgumentException(s"unknown tx function: $name"))
    appended(log.append(f(this, args), systemTime))
  }

  /** Incrementally-maintained JOIN aggregate view: this table as the
    * FACT side joined to `dim` on `fkCol = dim._id`, COUNT/SUM per
    * `groupCol` (a payload column of either table) at the fixed basis
    * `validAt` — the Δ(A⋈B) IVM rules over both tx logs' tails; see
    * [[graft.bitemporal.JoinMatview]] for semantics and cost model. */
  def joinMatview(name: String, dim: GraftTable, fkCol: String,
                  groupCol: String, sumCols: Seq[String],
                  validAt: Timestamp,
                  nBuckets: Int = 64,
                  minCols: Seq[String] = Nil,
                  maxCols: Seq[String] = Nil,
                  cntCols: Seq[String] = Nil,
                  where: Option[String] = None): graft.bitemporal.JoinMatview =
    joinMatviewN(name, dim, fkCol, Seq(groupCol), sumCols, validAt,
      nBuckets, minCols, maxCols, cntCols, where)

  /** [[joinMatview]] with a MULTI-column group key (either side may
    * contribute group columns). */
  def joinMatviewN(name: String, dim: GraftTable, fkCol: String,
                   groupCols: Seq[String], sumCols: Seq[String],
                   validAt: Timestamp,
                   nBuckets: Int = 64,
                   minCols: Seq[String] = Nil,
                   maxCols: Seq[String] = Nil,
                   cntCols: Seq[String] = Nil,
                   where: Option[String] = None,
                   derived: Seq[(String, String)] = Nil): graft.bitemporal.JoinMatview =
    starMatview(name, Seq(dim -> fkCol), groupCols, sumCols, validAt,
      nBuckets, minCols, maxCols, cntCols, where, derived)

  /** [[joinMatviewN]] over ONE OR MORE dimension tables — the
    * star-schema rollup `fact ⋈ dim1 ON fk1 = dim1._id ⋈ dim2 …`,
    * maintained incrementally from every log's tail by the same
    * Δ(A⋈B) rules (each dim is a spoke; "touched" propagates across
    * every join edge). `dims` pairs each dimension table with the fact
    * column holding its foreign key. */
  def starMatview(name: String, dims: Seq[(GraftTable, String)],
                  groupCols: Seq[String], sumCols: Seq[String],
                  validAt: Timestamp,
                  nBuckets: Int = 64,
                  minCols: Seq[String] = Nil,
                  maxCols: Seq[String] = Nil,
                  cntCols: Seq[String] = Nil,
                  where: Option[String] = None,
                  derived: Seq[(String, String)] = Nil,
                  distincts: Seq[graft.bitemporal.MvDistinct] = Nil,
                  hllCols: Seq[String] = Nil,
                  rangeLayout: Boolean = false,
                  leftJoins: Seq[Boolean] = Nil,
                  pcts: Seq[graft.bitemporal.MvPct] = Nil,
                  bucketCols: Seq[String] = Nil)
      : graft.bitemporal.JoinMatview = {
    require(dims.nonEmpty, "at least one dimension table")
    new graft.bitemporal.JoinMatview(spark, log, payloadCols,
      dims.head._1.log, dims.head._1.payloadColumns,
      java.nio.file.Paths.get(dir, "join_matview", name),
      dims.head._2, groupCols, sumCols, validAt, nBuckets, minCols, maxCols,
      cntCols, where, derived,
      dims.tail.map(d => (d._1.log, d._1.payloadColumns, d._2)),
      distincts, bucketCols, hllCols, rangeLayout, leftJoins, pcts)
  }

  /** An incrementally-maintained COUNT/SUM view over this table at a
    * fixed valid-time basis (system = latest) — see
    * [[graft.bitemporal.Matview]]: `refresh()` folds only the log tail,
    * state rewrites only the hash buckets whose groups changed. */
  def matview(name: String, groupCol: String, sumCols: Seq[String],
              validAt: Timestamp, nBuckets: Int = 32,
              minCols: Seq[String] = Nil,
              maxCols: Seq[String] = Nil,
              cntCols: Seq[String] = Nil,
              where: Option[String] = None): graft.bitemporal.Matview =
    matviewN(name, Seq(groupCol), sumCols, validAt, nBuckets, minCols,
      maxCols, cntCols, where)

  /** [[matview]] with a MULTI-column group key. */
  def matviewN(name: String, groupCols: Seq[String], sumCols: Seq[String],
               validAt: Timestamp, nBuckets: Int = 32,
               minCols: Seq[String] = Nil,
               maxCols: Seq[String] = Nil,
               cntCols: Seq[String] = Nil,
               where: Option[String] = None,
               derived: Seq[(String, String)] = Nil,
               distincts: Seq[graft.bitemporal.MvDistinct] = Nil,
               hllCols: Seq[String] = Nil,
               rangeLayout: Boolean = false,
               pcts: Seq[graft.bitemporal.MvPct] = Nil,
               bucketCols: Seq[String] = Nil)
      : graft.bitemporal.Matview =
    new graft.bitemporal.Matview(spark, log,
      java.nio.file.Paths.get(dir, "matview", name), payloadCols,
      groupCols, sumCols, validAt, nBuckets, minCols, maxCols, cntCols,
      where, derived, distincts, bucketCols, hllCols, rangeLayout, pcts)

  /** [[matviewN]] with an EXPLICIT state dir and COUNT(*)-only state —
    * the DISTINCT-aggregate serve path nests its auxiliary pair-level
    * views (group key = the view's groups plus the distinct argument)
    * INSIDE the main view's state dir, so DROP / failure cleanup /
    * RESTORE handle the whole tree as one. `bucketCols` buckets the
    * pair state on the PARENT view's group prefix (same bucket count),
    * so the parent's rollup scan partition-prunes — [[MvDistinct]]. */
  private[graft] def matviewAt(stateRoot: java.nio.file.Path,
      groupCols: Seq[String], validAt: Timestamp, nBuckets: Int,
      where: Option[String],
      derived: Seq[(String, String)],
      bucketCols: Seq[String],
      rangeLayout: Boolean = false): graft.bitemporal.Matview =
    new graft.bitemporal.Matview(spark, log, stateRoot, payloadCols,
      groupCols, Nil, validAt, nBuckets, Nil, Nil, Nil, where, derived,
      Nil, bucketCols, Nil, rangeLayout)

  /** [[starMatview]] with an EXPLICIT state dir and COUNT(*)-only
    * state — see [[matviewAt]]. */
  private[graft] def starMatviewAt(stateRoot: java.nio.file.Path,
      dims: Seq[(GraftTable, String)], groupCols: Seq[String],
      validAt: Timestamp, nBuckets: Int, where: Option[String],
      derived: Seq[(String, String)],
      bucketCols: Seq[String],
      rangeLayout: Boolean = false,
      leftJoins: Seq[Boolean] = Nil): graft.bitemporal.JoinMatview = {
    require(dims.nonEmpty, "at least one dimension table")
    new graft.bitemporal.JoinMatview(spark, log, payloadCols,
      dims.head._1.log, dims.head._1.payloadColumns, stateRoot,
      dims.head._2, groupCols, Nil, validAt, nBuckets, Nil, Nil, Nil,
      where, derived,
      dims.tail.map(d => (d._1.log, d._1.payloadColumns, d._2)),
      Nil, bucketCols, Nil, rangeLayout, leftJoins)
  }

  /** Fold the log into the partitioned rectangle base — incrementally
    * when one exists (cost ∝ tail ids, not total history). The base
    * layout clusters by `clusterBy` when set (e.g. the fk column of a
    * [[joinMatview]] fact table, so dim-touched refreshes prune fact
    * files by footer stats instead of scanning the base). */
  def compact(): Unit =
    graft.bitemporal.MaintainerLease.withLease(
        java.nio.file.Paths.get(dir), "compact") {
      lastCompacted = log.compactIncremental(spark, payloadCols, lastCompacted,
        clusterBy)
    }

  /** Log retention: compact, then DELETE the tx files the base now
    * fully represents — the reference's log/object-store split made
    * operational (the log is the ingest buffer; the compacted base is
    * the durable columnar store). Safe because every read path refolds
    * touched ids FROM BASE STATE ([[graft.bitemporal.Bitemporal.applyOps]]),
    * never from pre-watermark history; the truncation point persists in
    * the log directory so fresh instances recover it. Time travel is
    * unaffected — the base keeps the full rectangle history (erase
    * excepted, as always). */
  def vacuumLog(): Unit =
    graft.bitemporal.MaintainerLease.withLease(
        java.nio.file.Paths.get(dir), "vacuum") {
      compact() // re-entrant on the same lease
      log.truncate(lastCompacted)
    }

  /** All rectangles: compacted base + re-fold of ids touched since. */
  def rectangles(): DataFrame = rectangles(spark)

  /** [[rectangles]] bound to an EXPLICIT session — the SQL front doors
    * serve isolated per-client sessions (Spark Connect clones session
    * state), and anything they register as a temp view must be built in
    * the session that will resolve it (same contract as
    * [[graft.bitemporal.Matview.read(session*]]). Storage is shared;
    * only the plan binding differs. */
  def rectangles(session: SparkSession): DataFrame =
    if (lastCompacted < 0) Bitemporal.fold(log.read(session), payloadCols)
    else log.readAll(session, payloadCols, lastCompacted)

  /** Snapshot at a bitemporal basis. */
  def asOf(validTime: Timestamp, systemTime: Timestamp): DataFrame =
    Bitemporal.asOf(rectangles(), lit(validTime), lit(systemTime))

  /** The latest known state (system = valid = now). */
  def current(): DataFrame = current(spark)

  /** [[current]] bound to an explicit (e.g. Connect client) session. */
  def current(session: SparkSession): DataFrame =
    Bitemporal.currentState(rectangles(session))

  /** The reference's `entity` lookup: one id's document at a basis
    * (defaults to now/now), None when not visible. Reads ONLY the files
    * whose chunk metadata says they can contain the id (the reference's
    * metadata-driven scan planning, `core2.metadata`): per-file `_id`
    * min/max from the parquet footers — computed once per immutable
    * file, cached driver-side — decide the file list BEFORE Spark ever
    * lists the table, and the id filter still lands sargable on the
    * scan for row-group pruning within the chosen files. */
  def entity(id: Long,
             validTime: Option[Timestamp] = None,
             systemTime: Option[Timestamp] = None): Option[org.apache.spark.sql.Row] = {
    val vt = validTime.map(lit(_)).getOrElse(current_timestamp())
    val st = systemTime.map(lit(_)).getOrElse(current_timestamp())
    val rows = Bitemporal.asOf(entityRectangles(id).filter(col("_id") === id), vt, st)
      .limit(2).collect()
    require(rows.length <= 1,
      s"entity $id: ${rows.length} rectangles visible at one basis — " +
        "overlapping valid intervals in the log")
    rows.headOption
  }

  // ---- metadata-driven file pruning (the default point-read path) ----

  /** Per-file `_id` (min, max) from parquet footers, cached driver-side
    * with an LRU BOUND: part files are immutable once committed (every
    * write lands new names), so an entry never invalidates — but the
    * file COUNT is unbounded over a table's life (millions of base
    * files at the 100 TB tier), so the cache must not grow with it.
    * Eviction is pure cost, never correctness: an evicted file repays
    * one footer pass on its next point read. Cap tunable via
    * `spark.graft.entity.metaCacheSize` (entries ≈ 250 bytes each;
    * the 64k default holds ~16 MB worst case). */
  private val idRangeCacheCap: Int =
    spark.conf.getOption("spark.graft.entity.metaCacheSize")
      .map(_.toInt).getOrElse(1 << 16)
  private val idRangeCache =
    new java.util.LinkedHashMap[String, (Long, Long)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long)]): Boolean =
        size() > idRangeCacheCap
    }

  /** Cache occupancy — the observable for the boundedness spec. */
  private[graft] def idRangeCacheSize: Int =
    idRangeCache.synchronized { idRangeCache.size }

  /** The part files under `paths` that can contain `id` per their
    * footer `_id` stats. Files without usable stats are kept (never
    * prune on absence of evidence). Looked-up ranges are held locally
    * for the final filter, so pruning stays exact even when this very
    * call overflows the LRU. */
  private def covering(paths: Seq[String], id: Long): Seq[String] = {
    if (paths.isEmpty) return Nil
    val parts = graft.bitemporal.ChunkMetadata.files(spark, paths)
    val local = scala.collection.mutable.Map.empty[String, (Long, Long)]
    // all LRU access under the map's lock: an access-ordered
    // LinkedHashMap RELINKS on get(), so even reads are structural
    // mutations — concurrent point reads on a shared table would
    // otherwise corrupt the list
    val missing = idRangeCache.synchronized {
      parts.filter { f =>
        Option(idRangeCache.get(f)) match {
          case Some(r) => local(f) = r; false
          case None => true
        }
      }
    }
    if (missing.nonEmpty) {
      val fetched = graft.bitemporal.ChunkMetadata.forPaths(spark, missing)
        .filter(col("column") === "_id" &&
          col("min").isNotNull && col("max").isNotNull)
        .groupBy("file")
        .agg(min(col("min").cast("long")).as("mn"),
          max(col("max").cast("long")).as("mx"))
        .collect() // footer pass runs OUTSIDE the lock
      idRangeCache.synchronized {
        fetched.foreach { r =>
          val range = (r.getLong(1), r.getLong(2))
          local(r.getString(0)) = range
          idRangeCache.put(r.getString(0), range): Unit
        }
        missing.filterNot(local.contains).foreach { f =>
          local(f) = (Long.MinValue, Long.MaxValue)
          idRangeCache.put(f, (Long.MinValue, Long.MaxValue)): Unit
        }
      }
    }
    parts.filter { f =>
      val (mn, mx) = local(f); mn <= id && id <= mx
    }
  }

  /** Rectangles for ONE id, from the minimal file set: an id untouched
    * since the last compaction reads just the base files covering it
    * (usually one — the base is `(_sys_date, _id)`-clustered); a
    * touched id re-folds its full history from the log files covering
    * it. Same per-id semantics as [[TxLog.readAll]]. */
  private def entityRectangles(id: Long): DataFrame = {
    def none = rectangles().filter(lit(false)) // schema-only, no scan
    def foldPruned(parts: Seq[String]): DataFrame =
      if (parts.isEmpty) none
      else {
        val df = TxLog.readMerged(spark, parts)
        // schemaless edge: if the id's files predate a payload column,
        // the pruned union lacks it — fall back to the full read where
        // mergeSchema over the whole log supplies the type
        if (payloadCols.forall(df.columns.contains))
          Bitemporal.fold(df, payloadCols)
        else rectangles()
      }
    if (lastCompacted < 0)
      return foldPruned(covering(log.txFiles().map(_.toString), id))
    val baseDir = java.nio.file.Paths.get(dir, "base").toString
    def baseState: DataFrame = {
      val baseParts = covering(Seq(baseDir), id)
      if (baseParts.isEmpty)
        log.readBase(spark).drop("_sys_date").filter(lit(false))
      else spark.read.option("basePath", baseDir).parquet(baseParts: _*)
        .drop("_sys_date")
    }
    val tailParts = covering(log.txFilesAfter(lastCompacted).map(_.toString), id)
    if (tailParts.isEmpty) {
      val baseParts = covering(Seq(baseDir), id)
      if (baseParts.isEmpty) none
      else spark.read.option("basePath", baseDir).parquet(baseParts: _*)
        .drop("_sys_date")
    } else {
      // touched id: FOLD FROM STATE over the minimal file set — its
      // covering base files are the state, its covering tail files the
      // ops; pre-watermark log files are never read (and may be
      // truncated away entirely, see [[vacuumLog]])
      val ops = TxLog.readMerged(spark, tailParts)
      val state = baseState
      if (payloadCols.forall(c =>
            ops.columns.contains(c) && state.columns.contains(c)))
        Bitemporal.applyOps(state.filter(col("_id") === id),
          ops.filter(col("_id").cast("long") === id), payloadCols)
      else rectangles() // schema-drift edge: full path supplies types
    }
  }

  /** The files a point read of `id` would open — the observable for
    * pruning tests. */
  private[graft] def entityScanFiles(id: Long): Seq[String] =
    entityRectangles(id).inputFiles.toSeq

  /** Valid-time history as believed at `systemTime`. */
  def history(systemTime: Timestamp): DataFrame =
    Bitemporal.currentHistory(rectangles(), lit(systemTime))

  /** ANSI SQL over this table (registered under `name`) with
    * `FOR SYSTEM_TIME / FOR APPLICATION_TIME AS OF` support. */
  /** Export the full rectangle history (or any DataFrame derived from
    * this table) as Arrow IPC chunk files — the reference's native
    * chunk format (its object store holds exactly such files), one file
    * per partition, written executor-side. An external arrow consumer
    * (or [[graft.sources.ArrowSource.read]]) can then work the chunks
    * without parquet. Returns the written paths. */
  def exportArrowChunks(outDir: String, batchSize: Int = 4096): Seq[String] =
    graft.sources.ArrowSource.write(rectangles(), outDir, batchSize)

  /** The chunk-metadata relation (the reference's `core2.metadata` /
    * `core2.bloom` surface): one row per (file, row group, column) with
    * min/max/null-count/row-count and bloom presence, derived from the
    * parquet footers of this table's log + base — a footer-only
    * distributed pass, no data pages read. See
    * [[graft.bitemporal.ChunkMetadata]]. */
  def metadata(): DataFrame =
    graft.bitemporal.ChunkMetadata.forPaths(spark, Seq(dir))

  def sql(name: String, query: String): DataFrame =
    BitemporalSql.sql(spark, query, Map(name -> rectangles()))

  /** SQL DML (`INSERT`/`UPDATE`/`DELETE`/`ERASE`, see
    * [[BitemporalDml]]) submitted as one transaction at `systemTime`;
    * returns the tx id. `name` must match the statement's target table.
    *
    * Semantics (matching the reference's tx submit, SURVEY.md §3.3):
    *  - INSERT column list must contain `_id` and every payload column
    *    (one log = one schema); `_valid_from`/`_valid_to` are optional
    *    (default `[systemTime, ∞)`). A `SELECT` source may read any
    *    temp view already registered in the session; its output binds
    *    to the column list positionally.
    *  - UPDATE/DELETE/ERASE predicates and SET right-hand sides bind
    *    over the table's CURRENT state (system = valid = now); an
    *    unassigned payload column keeps its current value. FOR PORTION
    *    OF APPLICATION_TIME limits the write's valid interval.
    */
  def dml(name: String, statement: String, systemTime: Timestamp): Long = {
    val ops = compileDml(name, statement, systemTime)
    // only INSERT can self-overlap within one statement (duplicate ids
    // in its source) — see requireDisjoint
    if (statement.trim.take(6).equalsIgnoreCase("INSERT"))
      validatedAppend(ops, systemTime) // already wraps appended()
    else appended(log.append(ops, systemTime))
  }

  /** SEVERAL DML statements as ONE atomic transaction — the reference's
    * submit-tx shape (a tx is a VECTOR of ops; SURVEY.md §3.3): one
    * `_tx_id`, one `_system_from`, one atomically-visible log file, so
    * a reader sees all of the statements' effects or none.
    *
    * Read semantics: every statement reads the PRE-transaction state
    * (one snapshot) — an UPDATE in the same tx does NOT see a sibling
    * INSERT's rows. That matches the reference, where a transaction's
    * ops are data applied together, and read-modify-write ACROSS ops
    * belongs to transaction functions ([[registerTxFn]]/[[call]]).
    * Consequently two statements must not write overlapping valid
    * intervals of one id (the fold's no-overlap invariant). */
  def dmlTx(name: String, statements: Seq[String],
            systemTime: Timestamp): Long = {
    require(statements.nonEmpty, "empty transaction")
    // Every UPDATE/DELETE/ERASE of the tx reads the SAME pre-tx
    // snapshot (the documented semantics). Materialize it ONCE when
    // two or more statements would each re-fold the whole log for it
    // (r17, guide §2.3 "don't compute things twice"): the snapshot is
    // the table's current state — the same relation either way, so
    // results are unchanged; only the per-statement re-derivation goes.
    val nReaders = statements.count(s =>
      !s.trim.take(6).equalsIgnoreCase("INSERT"))
    // released once the tx commits (or fails): a table-sized checkpoint
    // per multi-statement tx would otherwise hold executor storage
    // until the context cleaner runs
    graft.bitemporal.Checkpoints.scoped { cps =>
      val snap: Option[DataFrame] =
        if (nReaders >= 2) Some(cps.pin(current())) else None
      val ops = statements.map(compileDml(name, _, systemTime, snap))
        .reduce(_.unionByName(_))
      validatedAppend(ops, systemTime)
    }
  }

  /** [[requireDisjoint]] then append as ONE transaction. The ops plan is
    * cached across the check + write, so a DML source that is expensive
    * to compute (an INSERT...SELECT over a big join) evaluates once, not
    * once for the validation pass and again for the append. */
  private def validatedAppend(ops: DataFrame, systemTime: Timestamp): Long = {
    val cached = ops.cache()
    try { requireDisjoint(cached); appended(log.append(cached, systemTime)) }
    finally { cached.unpersist(); () }
  }

  /** [[requireDisjoint]] then append via the N-way parallel bulk path
    * (one atomic tx, many writer tasks) — [[validatedAppend]] for loads
    * too big for the single-task tx writer. */
  private def validatedAppendBulk(ops: DataFrame, systemTime: Timestamp,
                                  partitions: Int): Long = {
    val cached = ops.cache()
    try {
      requireDisjoint(cached)
      appended(log.appendBulk(cached, systemTime, partitions))
    } finally { cached.unpersist(); () }
  }

  /** The payload column names this table was opened with. */
  def payloadColumns: Seq[String] = payloadCols

  /** The table's storage root (log + base + view state live under it). */
  def tableDir: String = dir

  /** Column → type map the log already knows (base ∪ tail schemas —
    * the log may be truncated by [[vacuumLog]], in which case the base
    * remembers the types the departed tx files established). The
    * source of truth for null-filling omitted INSERT columns and for
    * typing text ingest ([[copyFrom]]); empty where the log is empty. */
  private def knownLogTypes(): Map[String, org.apache.spark.sql.types.DataType] = {
    def schemaOf(df: => DataFrame) =
      scala.util.Try(df.schema).toOption
        .map(sc => sc.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty[String, org.apache.spark.sql.types.DataType])
    schemaOf(log.readBase(spark)) ++ schemaOf(log.read(spark))
  }

  /** The Spark type [[copyFrom]] will cast each COPY column to, plus
    * whether that type is KNOWN (reserved-column rule or a type the log
    * has seen) or the never-seen-payload `StringType` default — exposed
    * so the pgwire binary-COPY decoder reads wire fields under the same
    * type resolution the text path applies at cast time, and can
    * REFUSE binary ingest into untyped columns (decoding, say, a float8
    * field as UTF-8 would silently pin mojibake as the column's
    * values). */
  def copyColumnTypes(cols: Seq[String])
      : Seq[(org.apache.spark.sql.types.DataType, Boolean)] = {
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
    val known = knownLogTypes()
    cols.map {
      case "_id" => (known.getOrElse("_id", LongType), true)
      case "_valid_from" | "_valid_to" => (TimestampType, true)
      case other =>
        known.get(other).map(t => (t, true)).getOrElse((StringType, false))
    }
  }

  /** Bulk TEXT ingest — the landing for pgwire `COPY ... FROM STDIN`
    * (and any row-oriented text feed): rows of cells (null = SQL NULL)
    * under an explicit column list become ONE atomic put transaction
    * via the parallel [[TxLog.appendBulk]] path, validated by the same
    * no-overlap check as SQL INSERT.
    *
    * Typing: cells cast to the types the log already knows (ANSI mode —
    * malformed text fails the COPY rather than silently nulling);
    * `_id` defaults to long and `_valid_from`/`_valid_to` to timestamp
    * when the log is fresh; payload columns the log has NEVER seen
    * ingest as strings (the schemaless document model: the first
    * writer pins a column's type, and a text loader that guessed types
    * would pin them wrong). Omitted payload columns null-fill exactly
    * like subset INSERT.
    *
    * Scale note: rows arrive as a driver-side collection because the
    * wire protocol funnels through one socket — this is the
    * moderate-load path. TB-scale loads should read files
    * executor-side and go through [[put]]/[[TxLog.appendBulk]]. */
  def copyFrom(cols: Seq[String], rows: Seq[Seq[String]],
               systemTime: Timestamp, partitions: Int = 0): Long = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val bad = cols.filterNot(c =>
      c == "_id" || c == "_valid_from" || c == "_valid_to" ||
        payloadCols.contains(c))
    require(bad.isEmpty, s"unknown COPY columns: ${bad.mkString(", ")}")
    require(cols.contains("_id"), "COPY column list must contain _id")
    require(rows.forall(_.length == cols.length),
      s"COPY row with ${rows.find(_.length != cols.length).get.length} " +
        s"cells; expected ${cols.length}")
    val known = knownLogTypes()
    val missing = payloadCols.filterNot(cols.contains)
    val untyped = missing.filterNot(known.contains)
    require(untyped.isEmpty,
      "COPY omits payload column(s) the log has never seen " +
        s"(no type to null-fill): ${untyped.mkString(", ")}")
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row](rows.size)
    rows.foreach(r => jrows.add(org.apache.spark.sql.Row.fromSeq(r)))
    val stringDf = spark.createDataFrame(jrows,
      StructType(cols.map(StructField(_, StringType))))
    // one resolution rule shared with the binary-COPY decoder — the
    // decoder's contract is decode-type == cast-type, so the match
    // lives in copyColumnTypes, not inline here
    val typed = stringDf.select(cols.zip(copyColumnTypes(cols)).map {
      // array columns ingest JSON array text (the binary decoder's
      // canonical cell); the PG literal spelling ({1,2.5}) is also
      // accepted for plain numeric/bool elements, where the brace
      // translation cannot mangle element content. FAILFAST keeps the
      // text-path contract: malformed cells fail the COPY, never null.
      case (c, (t: org.apache.spark.sql.types.ArrayType, _)) =>
        val src = t.elementType match {
          case _: org.apache.spark.sql.types.NumericType |
               org.apache.spark.sql.types.BooleanType =>
            // pg renders array NULL elements in UPPERCASE — lowercase
            // them into valid JSON along with the brace translation
            // (safe: plain elements are digits/true/false only)
            when(ltrim(col(c)).startsWith("{"),
              regexp_replace(translate(col(c), "{}", "[]"),
                "(?i)\\bNULL\\b", "null")).otherwise(col(c))
          case _ => col(c)
        }
        from_json(src, t, Map("mode" -> "FAILFAST")).as(c)
      case (c, (t, _)) => col(c).cast(t).as(c)
    }: _*)
    val vf = if (cols.contains("_valid_from")) col("_valid_from")
             else lit(systemTime)
    val vt = if (cols.contains("_valid_to")) Some(col("_valid_to")) else None
    val ops = TxOps.put(typed, col("_id"), vf, vt, payloadCols.map { c =>
      c -> (if (cols.contains(c)) col(c) else lit(null).cast(known(c)))
    })
    validatedAppendBulk(ops, systemTime, partitions)
  }

  /** Enforce the fold's no-overlap invariant BEFORE the tx is
    * acknowledged: two ops of one transaction must not write
    * overlapping valid intervals of one `_id` (all ops share one
    * `_system_from`, so the fold has no order to break the tie — e.g.
    * `UPDATE t SET bal=1 WHERE _id=1; UPDATE t SET bal=2 WHERE _id=1`
    * would land two full-width rectangles for id 1 and silently corrupt
    * every later read). Also rejects an erase combined with any other
    * op on the same id in one tx (erase drops the id's whole history —
    * "erase and also write" has no coherent joint meaning).
    *
    * Cost: one window pass over the tx's own ops (tx-sized, tiny next
    * to the append's write job). Within ONE statement only INSERT can
    * produce the hazard (duplicate ids in the source); UPDATE/DELETE/
    * ERASE read from `current()`, which is disjoint per id by the fold
    * invariant — so [[dml]] checks inserts only. */
  private def requireDisjoint(ops: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    // One fused validation pass (optimization r16, guide §2.3
    // "aggregate before you shuffle / don't re-scan"): the pre-r16
    // shape ran THREE driver actions — a null-key probe, an
    // erase-mix groupBy probe and an overlap window probe — each a full
    // scan of the tx's ops in the valid (no-violation) case. All three
    // checks now ride ONE window pass + ONE aggregation job; messages
    // and check priority (null key, then erase-mix, then overlap) are
    // unchanged.
    //
    // Overlap-lag parity with the old shape (which filtered erase ops
    // out BEFORE its window): erase rows sort LAST within an id (the
    // leading isErase sort key) and never raise the overlap flag
    // themselves, so a non-erase row's lag sees exactly the non-erase
    // predecessors it used to — and an id mixing erase with anything
    // else is already reported by the higher-priority erase-mix check.
    val inf = lit("9999-12-31 00:00:00").cast("timestamp")
    val isErase = col("_op") === Bitemporal.Erase
    val wAll = Window.partitionBy("_id")
    val wOrd = Window.partitionBy("_id")
      .orderBy(isErase, col("_valid_from"), col("_valid_to"))
    val erases = sum(when(isErase, 1L).otherwise(0L)).over(wAll)
    val flags = ops.select(
      (col("_id").isNull || col("_valid_from").isNull).as("_nullkey"),
      (erases > 0 && count(lit(1)).over(wAll) > erases).as("_erasemix"),
      (!isErase &&
        lag(coalesce(col("_valid_to"), inf), 1).over(wOrd) > col("_valid_from"))
        .as("_overlap"),
      col("_id").cast("string").as("_ids"))
    val r = flags.agg(
      coalesce(max(col("_nullkey")), lit(false)).as("nk"),
      max(when(col("_erasemix"), col("_ids"))).as("em"),
      max(when(col("_overlap"), col("_ids"))).as("ov")).head
    require(!r.getBoolean(0),
      "op with NULL _id or _valid_from — every row of a transaction " +
        "needs a non-null id and valid-from instant")
    require(r.isNullAt(1),
      s"transaction mixes ERASE with other writes for _id ${r.getString(1)} — " +
        "an erase drops the id's whole history; submit it alone")
    require(r.isNullAt(2),
      s"transaction writes overlapping valid intervals for _id ${r.getString(2)} — " +
        "use disjoint FOR PORTION OF intervals or separate transactions")
  }

  /** One statement -> its tx-log op rows (not yet appended).
    * `snapshot` optionally supplies an already-materialized pre-tx
    * current state shared across a transaction's statements. */
  private def compileDml(name: String, statement: String,
                         systemTime: Timestamp,
                         snapshot: Option[DataFrame] = None): DataFrame = {
    import BitemporalDml._
    val stmt = BitemporalDml.parse(statement)
    require(stmt.table.equalsIgnoreCase(name),
      s"statement targets '${stmt.table}', not '$name'")
    def interval(p: Option[Portion]): (Column, Option[Column]) = p match {
      case Some(Portion(f, t)) =>
        (lit(f).cast("timestamp"), Some(lit(t).cast("timestamp")))
      case None => (lit(systemTime), None)
    }
    def nullPayload(df: DataFrame): Seq[(String, Column)] =
      payloadCols.map(c => c -> lit(null).cast(df.schema(c).dataType))
    stmt match {
      case Insert(_, cols, source) =>
        val bad = cols.filterNot(c =>
          c == "_id" || c == "_valid_from" || c == "_valid_to" ||
            payloadCols.contains(c))
        require(bad.isEmpty, s"unknown insert columns: ${bad.mkString(", ")}")
        require(cols.contains("_id"), "INSERT column list must contain _id")
        // the reference's puts carry attribute SUBSETS (schemaless
        // documents): an omitted payload column inserts as a typed null
        // once the log knows the type; the very first insert must still
        // list every column (a null has no type before the schema exists)
        val missing = payloadCols.filterNot(cols.contains)
        val knownTypes: Map[String, org.apache.spark.sql.types.DataType] =
          if (missing.isEmpty) Map.empty
          else {
            val known = knownLogTypes()
            val untyped = missing.filterNot(known.contains)
            require(untyped.isEmpty,
              "INSERT omits payload column(s) the log has never seen " +
                s"(no type to null-fill): ${untyped.mkString(", ")}")
            known
          }
        val srcSql = if (source.toUpperCase.startsWith("VALUES"))
          s"SELECT * FROM ( $source ) AS __v(${cols.mkString(", ")})"
        else source
        val src = spark.sql(srcSql).toDF(cols: _*)
        val vf = if (cols.contains("_valid_from")) col("_valid_from").cast("timestamp")
                 else lit(systemTime)
        val vt = if (cols.contains("_valid_to"))
                   Some(col("_valid_to").cast("timestamp")) else None
        TxOps.put(src, col("_id"), vf, vt, payloadCols.map { c =>
          c -> (if (cols.contains(c)) col(c)
                else lit(null).cast(knownTypes(c)))
        })
      case Update(_, portion, sets, where) =>
        val rows = snapshot.getOrElse(current()).filter(expr(where))
        val (vf, vt) = interval(portion)
        val payload = payloadCols.map { c =>
          c -> sets.collectFirst { case (n, rhs) if n == c => expr(rhs) }
            .getOrElse(col(c))
        }
        val unknown = sets.map(_._1).filterNot(payloadCols.contains)
        require(unknown.isEmpty, s"SET of non-payload column: ${unknown.mkString(", ")}")
        TxOps.put(rows, col("_id"), vf, vt, payload)
      case Delete(_, portion, where) =>
        val rows = snapshot.getOrElse(current()).filter(expr(where))
        val (vf, vt) = interval(portion)
        TxOps.delete(rows, col("_id"), vf, vt, nullPayload(rows))
      case Erase(_, where) =>
        val rows = snapshot.getOrElse(current()).filter(expr(where))
        TxOps.erase(rows, col("_id"), nullPayload(rows))
    }
  }
}
