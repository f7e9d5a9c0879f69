package graft.bitemporal

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only transaction log on parquet — the storage analog of the
  * reference's log + object-store split (xtdb/core2 `core2.log` /
  * `core2.object-store`; README.adoc:13 "transactions").
  *
  * Layout: `dir/log/tx_<id>.parquet`, one file per transaction, columns
  * `_tx_id, _system_from, _op, _id, _valid_from, _valid_to, <payload…>`.
  * The directory assigns monotonically increasing tx ids (core2's log
  * does the same via its single log-appender); concurrent appends are
  * safe: in-process writers serialize on a per-directory lock, and the
  * id itself is claimed by an atomic create-fails-if-exists directory
  * create, so no two writers — even in different processes — can ever
  * be acknowledged for the same tx id. System time is stamped per
  * transaction, so every row of a tx shares one `_system_from` —
  * exactly core2's "tx time" semantics.
  *
  * Scale: the log is the ingest tail. [[compact]] folds it into a base
  * rectangle table partitioned by `date(_system_from)` so `asOf` scans
  * prune partitions; readers union base + unapplied tail. Erase is the
  * one op that rewrites base files (matching the reference's erase).
  */
final class TxLog(val dir: String) {
  import TxLog.txIdOf
  private val logDir: Path = Paths.get(dir, "log")
  private val baseDir: Path = Paths.get(dir, "base")
  Files.createDirectories(logDir)
  // One lock per CANONICAL log directory (not per TxLog instance): the
  // Spark Connect front door runs DML on concurrent gRPC handler
  // threads, possibly through distinct TxLog/GraftTable instances over
  // the same directory. Serializing append on the directory makes tx-id
  // assignment + write + commit one atomic step for every in-process
  // writer — the reference's single log-appender (core2.log assigns tx
  // ids from a single writer for the same reason).
  private val appendLock: Object = TxLog.lockFor(logDir)

  /** COMMITTED transactions only: a tx directory is visible once
    * Spark's commit protocol has published `_SUCCESS` (task files move
    * in first, the marker lands last). A claimed-but-unfinished or
    * crashed-writer directory is invisible to readers, compaction and
    * id recovery — never a half-written transaction. */
  def txFiles(): Seq[Path] = {
    val s = Files.list(logDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("tx_"))
        .filter(p => !Files.isDirectory(p) || Files.exists(p.resolve("_SUCCESS")))
        .toSeq
        .sortBy(_.getFileName.toString)
    } finally s.close()
  }

  /** Every tx id a directory entry exists for, committed or not —
    * abandoned claims included, so allocation never reuses an id that
    * some writer (even a crashed one) may have acknowledged. */
  private def claimedTxIds(): Seq[Long] = {
    val s = Files.list(logDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("tx_"))
        .map(txIdOf).toSeq
    } finally s.close()
  }

  def nextTxId(): Long =
    claimedTxIds().maxOption.orElse(truncatedUpTo()).fold(0L)(_ + 1L)

  // ---- log truncation (the reference's log-retention story: the log
  //      is the INGEST BUFFER, the compacted base is the durable store;
  //      once compacted, tx files before the watermark carry no
  //      information a reader still needs — fold-from-state re-folds
  //      touched ids from base rectangles, never from history) ----

  private val truncMarker = logDir.resolve("_truncated")

  /** The highest tx id ever truncated away, if any — persisted so a
    * FRESH TxLog/GraftTable over this directory knows the base (not
    * the log) is the source of truth up to that point, and so id
    * allocation never reuses a truncated id. */
  def truncatedUpTo(): Option[Long] =
    if (Files.exists(truncMarker))
      Some(new String(Files.readAllBytes(truncMarker), "UTF-8").trim.toLong)
    else None

  /** Delete committed tx files with id ≤ `uptoTx`. The CALLER contract
    * is that a compaction watermark ≥ `uptoTx` exists (the base holds
    * every truncated tx's effects); enforced against the PERSISTED
    * base watermark, so a direct call beyond the last compaction
    * cannot silently delete committed tx files whose effects are not
    * yet folded into the base. The marker persists first (temp +
    * atomic move), so a crash between marker and deletes leaves a
    * recoverable prefix: stale files ≤ marker are re-deleted on the
    * next truncate, and every reader already ignores them via the
    * watermark. */
  def truncate(uptoTx: Long): Unit = appendLock.synchronized {
    require(Files.exists(baseDir),
      "truncate: no compacted base — truncating would lose history")
    require(baseWatermark().exists(_ >= uptoTx),
      s"truncate: base watermark ${baseWatermark().getOrElse(-1L)} < $uptoTx — " +
        "truncating beyond the compacted base would lose history")
    require(truncatedUpTo().forall(_ <= uptoTx),
      "truncate: watermark may not move backwards")
    TxLog.writeAtomic(truncMarker, uptoTx.toString.getBytes("UTF-8"))
    txFiles().filter(txIdOf(_) <= uptoTx)
      .foreach(p => TxLog.deleteRecursively(p.toFile))
  }

  /** The highest committed tx id, or the truncation point when that is
    * higher; -1 for an empty log. One directory listing, no data read —
    * a generation key for the log: two reads at the same value see the
    * same rectangle relation. */
  def lastTx(): Long =
    (txFiles().map(txIdOf) ++ truncatedUpTo()).maxOption.getOrElse(-1L)

  /** Committed tx files with id strictly greater than `afterTx`. */
  def txFilesAfter(afterTx: Long): Seq[Path] =
    txFiles().filter(txIdOf(_) > afterTx)

  /** Append one transaction. `ops` must carry `_op, _id, _valid_from,
    * _valid_to` + payload columns; `_tx_id`/`_system_from` are assigned
    * here (monotonic id, caller-supplied system time for deterministic
    * replay — production would stamp the wall clock).
    *
    * One task per tx (`coalesce(1)`) — right for the OLTP-ish tail of
    * small transactions, where one part file per tx avoids a tiny-file
    * explosion. For large ingests use [[appendBulk]]: same monotonic tx
    * semantics, N-way parallel write. `rows`, when the caller already
    * knows the op count, sizes the `_id` bloom to it (see
    * [[TxLog.bloomSized]]). */
  def append(ops: DataFrame, systemTime: java.sql.Timestamp,
             rows: Option[Long] = None): Long =
    appendShaped(ops.coalesce(1), systemTime, rows)

  /** Bulk-load append: ONE transaction (one monotonic `_tx_id`, one
    * `_system_from`, one atomically-visible directory) written by
    * `partitions` parallel tasks instead of [[append]]'s single task.
    * The tx directory itself is the manifest: Spark's parquet commit
    * protocol publishes `_SUCCESS` + the part files together, and
    * [[read]]/[[compact]] list whole `tx_*` directories, so a reader
    * never sees a half-written transaction. `partitions <= 0` keeps the
    * incoming partitioning (no extra shuffle — the right call when the
    * load is already well-partitioned). */
  def appendBulk(ops: DataFrame, systemTime: java.sql.Timestamp,
                 partitions: Int = 0, rows: Option[Long] = None): Long =
    appendShaped(if (partitions > 0) ops.repartition(partitions) else ops,
      systemTime, rows)

  private def appendShaped(ops: DataFrame, systemTime: java.sql.Timestamp,
                           rows: Option[Long]): Long =
    appendLock.synchronized {
      // Atomic id claim, safe even against writers OUTSIDE this JVM:
      // POSIX mkdir fails with EEXIST if the directory exists, so the
      // first writer to create `tx_<id>` owns that id; a loser re-lists
      // and retries with the next free id. The old list-max+1 +
      // mode(overwrite) scheme let two concurrent writers compute the
      // same id and the second SILENTLY overwrite the first's
      // acknowledged transaction. (Cross-process writers serialize ids
      // correctly but may commit out of order — a lower id landing
      // after a compaction watermark advanced past it; in-process
      // writers can't, the directory lock covers them. Multi-process
      // ingest should share one TxLog-owning process, like the
      // reference's single log node.)
      var txId = nextTxId()
      var claimed: Path = null
      while (claimed == null) {
        val target = logDir.resolve(f"tx_$txId%09d.parquet")
        try { claimed = Files.createDirectory(target) }
        catch { case _: java.nio.file.FileAlreadyExistsException => txId += 1 }
      }
      // append INTO the claimed (empty) directory: the commit protocol
      // moves part files in, then `_SUCCESS` makes the tx visible to
      // txFiles(); overwrite would delete the claim marker first.
      //
      // tx files are ordered by ARRIVAL, not id, so `_id = x` point reads
      // (entity(), incremental refold) can't skip them on min/max stats
      // the way the range-clustered base does. A per-row-group bloom on
      // `_id` restores the skip — the analog of the reference's per-chunk
      // bloom filters (xtdb/core2 `core2.bloom`): footer check, no data
      // pages read for row groups that can't contain the id.
      TxLog.bloomSized(ops.withColumn("_tx_id", lit(txId))
        .withColumn("_system_from", lit(systemTime))
        .write.mode("append"), rows)
        .parquet(claimed.toString)
      txId
    }

  /** Read the whole log (or the tail after `afterTx`). `mergeSchema`
    * makes the log SCHEMALESS across transactions (the reference's
    * dynamic-document model, README.adoc:12): a tx may carry payload
    * columns earlier txs never mentioned; absent columns read as NULL
    * with nullable supertype widening. */
  def read(spark: SparkSession, afterTx: Long = -1L): DataFrame = {
    val files = txFiles().map(_.toString)
    require(files.nonEmpty, s"empty tx log at $logDir")
    val df = TxLog.readMerged(spark, files)
    if (afterTx < 0) df else df.filter(col("_tx_id") > afterTx)
  }

  /** Fold the log into the base rectangle table, partitioned by
    * system-from date for partition-pruned time travel. Where the base
    * ends is read from the PERSISTED base watermark, never from the
    * caller: with no base yet the whole log folds; with one, only the
    * tail past the watermark does, FROM STATE — cost ∝ the tail in both
    * compute and I/O. Ids untouched by the tail keep their base
    * rectangles verbatim (anti join on the tail's tiny id set); touched
    * ids apply the tail's ops to their base rectangles
    * ([[refoldTouched]], erase included); and only the AFFECTED
    * `_sys_date` partitions are rewritten — a partition holding no
    * touched id's rows keeps its files byte-for-byte (at 100 TB almost
    * all of the base). Affected = partitions holding a touched id's old
    * rows ∪ partitions the re-folded rectangles land in.
    *
    * The new partition contents write to a temp dir first (the old base
    * is an input of the plan — overwrite-in-place would
    * read-while-write), then swap in per partition directory. Returns
    * the new compaction watermark (max folded tx id); readers union
    * base + the tail after it ([[readAll]]). */
  def compact(spark: SparkSession, payloadCols: Seq[String],
              clusterBy: Seq[String] = Nil): Long = {
    // One directory listing: the returned id is the max tx id of the
    // files actually folded. A second listing (or size-1 with id gaps)
    // could report a tx as compacted that the fold never saw — readAll
    // would then silently drop its effects until the next compact.
    val files = txFiles()
    val compacted = baseWatermark().filter(_ => Files.exists(baseDir))
    if (compacted.isEmpty) {
      require(files.nonEmpty, s"empty tx log at $logDir")
      val last = files.map(txIdOf).max
      val log = TxLog.readMerged(spark, files.map(_.toString))
      writeBase(Bitemporal.fold(log, payloadCols)
        .withColumn("_sys_date", to_date(col("_system_from"))), baseDir,
        clusterBy)
      setBaseWatermark(last)
      return last
    }
    // an empty log is a truncated one whose base holds everything
    val w = compacted.get
    val last = (files.map(txIdOf) :+ w).max
    if (last == w) return w
    val tail = read(spark, afterTx = w)
    val touched = tail.select(col("_id").cast("long").as("_id")).distinct()
    val base = readBase(spark)
    // checkpoint the refold once (rows ∝ touched ids' rectangles —
    // tail-sized): it feeds BOTH the affected-partition collect and the
    // base write below, and re-deriving it would run the fold-from-
    // state pipeline twice per compaction; released when it ends
    Checkpoints.scoped { cps =>
      val refolded = cps.pin(
        refoldTouched(spark, payloadCols, touched, tail,
            base.drop("_sys_date"))
          .withColumn("_sys_date", to_date(col("_system_from"))))
      // the affected partition set is small by construction (the touched
      // ids' history dates) — one driver-side collect of distinct dates
      val affected: Seq[java.sql.Date] =
        base.join(touched, Seq("_id"), "left_semi").select(col("_sys_date"))
          .union(refolded.select(col("_sys_date")))
          .distinct().collect().map(_.getDate(0)).toSeq
      if (affected.isEmpty) { setBaseWatermark(last); return last } // tail touched nothing visible
      val untouchedInAffected = base
        .filter(col("_sys_date").isin(affected: _*))
        .join(touched, Seq("_id"), "left_anti")
      val tmp = Paths.get(dir, "base_tmp")
      TxLog.deleteRecursively(tmp.toFile)
      writeBase(untouchedInAffected.unionByName(refolded, allowMissingColumns = true),
        tmp, clusterBy)
      affected.foreach { d =>
        val name = s"_sys_date=$d"
        val dst = baseDir.resolve(name)
        TxLog.deleteRecursively(dst.toFile) // a fully-erased partition just goes
        val src = tmp.resolve(name)
        if (Files.exists(src)) { Files.move(src, dst); () }
      }
      TxLog.deleteRecursively(tmp.toFile)
      setBaseWatermark(last)
      last
    }
  }

  /** Base write layout: range-cluster by `(_sys_date, _id)` and sort
    * within tasks, so each parquet file inside a `_sys_date` partition
    * covers a NARROW id range. `entity()`'s `_id = x` point read then
    * skips every other file via parquet row-group min/max stats — the
    * Spark-native stand-in for the reference's id-keyed temporal index
    * (SURVEY.md §1.4): no scan of the visible partitions, just footer
    * checks. Sorting also makes the files splittable-friendly (sorted
    * row groups ⇒ tight stats per group, not just per file).
    *
    * `clusterBy` overrides the secondary layout dimension for tables
    * whose hot predicate is a PAYLOAD column — the join-matview case: a
    * dim-touched refresh filters facts by `fk IN (touched)`, a full
    * fact scan unless files carry tight fk stats. One column gives a
    * linear `( _sys_date, c, _id )` sort (fk prunes hard, id stats
    * loosen to fk-run granularity — the bloom filter still backs point
    * reads); two+ give a z-order layout inside each `_sys_date`
    * partition, pruning on EVERY clustered dimension (include `_id` in
    * the list to keep id pruning too). */
  private def writeBase(rects: DataFrame, target: Path,
                        clusterBy: Seq[String] = Nil): Unit = {
    // implicit range shuffle: AQE right-sizes the partition count to
    // its advisory target, so a small base compacts into FEW files (no
    // 32-tiny-file writes per compact) while a 100 TB base still splits
    // into many id-disjoint ~64 MB files. Tests that need a multi-file
    // base shrink spark.sql.adaptive.advisoryPartitionSizeInBytes.
    val clustered = clusterBy match {
      case Nil =>
        rects.repartitionByRange(col("_sys_date"), col("_id"))
          .sortWithinPartitions("_sys_date", "_id")
      case Seq(c) =>
        rects.repartitionByRange(col("_sys_date"), col(c), col("_id"))
          .sortWithinPartitions("_sys_date", c, "_id")
      case cs =>
        // the z-key quantizes each dimension via a cast-to-double
        // min/max normalize — meaningless for strings (every cast is
        // null, the quantizer degenerates to one constant and the range
        // partitioner collapses to a single writer task). Non-numeric
        // dimension sets fall back to lexicographic multi-column range
        // clustering: first-column pruning stays tight, later columns
        // prune within correlated prefixes.
        val resolver = rects.sparkSession.sessionState.analyzer.resolver
        val zOrderable = cs.forall(c =>
          rects.schema.fields.find(f => resolver(f.name, c))
            .map(_.dataType).exists {
            case _: org.apache.spark.sql.types.NumericType => true
            case org.apache.spark.sql.types.DateType => true
            case org.apache.spark.sql.types.TimestampType => true
            case org.apache.spark.sql.types.TimestampNTZType => true
            case org.apache.spark.sql.types.BooleanType => true
            case _ => false
          })
        if (zOrderable)
          graft.operators.ZOrder.withZ(rects, cs)
            .repartitionByRange(col("_sys_date"), col("_z"))
            .sortWithinPartitions("_sys_date", "_z")
            .drop("_z")
        else
          rects.repartitionByRange(
              (col("_sys_date") +: cs.map(col)) :+ col("_id"): _*)
            .sortWithinPartitions("_sys_date", cs :+ "_id": _*)
    }
    // belt over the min/max braces: clustering gives tight per-group
    // id ranges, but a sparse id space leaves gaps INSIDE a range that
    // stats can't see; the bloom rejects those too (core2.bloom kept
    // one per chunk for the same reason)
    TxLog.bloomSized(
        clustered.write.mode("overwrite").partitionBy("_sys_date"), None)
      .parquet(target.toString)
  }

  /** Current rectangles WITHOUT requiring a fresh compaction: ids
    * untouched since the PERSISTED base watermark are served straight
    * from the base (anti join against the tail's tiny id set — a
    * broadcast at scale); touched ids apply the tail's ops to their base
    * rectangles ([[refoldTouched]]). Read cost scales with the tail's id
    * count, not the table — the reference's "queries include the live
    * chunk ⇒ read-your-writes" semantics (SURVEY.md §3.3) without
    * rewriting the base. With no base yet the whole log folds; a
    * truncated log is served from the base it was truncated into. */
  def readAll(spark: SparkSession, payloadCols: Seq[String],
              upToTx: Long = Long.MaxValue): DataFrame = {
    // `upToTx` pins the relation to a tx-id SNAPSHOT: a reader that
    // derived a watermark from one directory listing can exclude
    // transactions committed between that listing and this read —
    // without the bound, a matview refresh could fold tx N+1 into
    // state while recording watermark N, double-counting N+1 on the
    // next refresh (found by review; exercised by MatviewSpec).
    //
    // The snapshot is only airtight against appends, which are
    // monotonic: a CONCURRENT compaction can advance the base past
    // `upToTx` between the caller's listing and this read, baking in
    // txs the snapshot must exclude. If the persisted watermark is past
    // `upToTx`, refold the snapshot wholly from the log (possible until
    // truncate() deletes the prefix — and truncation plus a concurrent
    // compaction racing a snapshot reader is outside the supported
    // single-maintainer contract, so throw). Matview maintenance assumes
    // ONE maintainer process per view not racing compact/vacuum; this
    // guard turns a violated assumption into a full refold or a loud
    // error instead of silent double-counting.
    val bw = baseWatermark() match {
      case None =>
        return Bitemporal.fold(
          if (upToTx == Long.MaxValue) read(spark)
          else read(spark).filter(col("_tx_id") <= upToTx), payloadCols)
      case Some(w) => w
    }
    if (bw > upToTx) {
      require(truncatedUpTo().isEmpty,
        s"snapshot at tx $upToTx unrecoverable: base compacted to $bw and " +
          "the log prefix is truncated")
      val snapFiles = txFiles().filter(txIdOf(_) <= upToTx)
      if (snapFiles.isEmpty) // nothing existed at the snapshot — empty
        return readBase(spark).drop("_sys_date").limit(0) // …with schema
      val log = TxLog.readMerged(spark, snapFiles.map(_.toString))
      return Bitemporal.fold(log, payloadCols)
    }
    val tailFiles = txFilesAfter(bw).filter(txIdOf(_) <= upToTx)
    if (tailFiles.isEmpty)
      return readBase(spark).drop("_sys_date")
    val tail = TxLog.readMerged(spark, tailFiles.map(_.toString))
      .filter(col("_tx_id") > bw)
    // emptiness from cached footers (tx files are immutable; `_tx_id`
    // content always equals the file name's id, so file-level row
    // counts decide) — replaces a per-readAll `limit(1)` Spark job
    val tailEmpty = TxLog.cachedRowCount(spark,
      tailFiles.map(_.toString)).map(_ == 0L).getOrElse(tail.isEmpty)
    if (tailEmpty) return readBase(spark).drop("_sys_date")
    val touched = tail.select(col("_id").cast("long").as("_id")).distinct()
    val base = readBase(spark).drop("_sys_date")
    val untouched = base.join(touched, Seq("_id"), "left_anti")
    // a payload column the base predates is NULL on its untouched rows,
    // appended last as the log's merged schema appends it
    untouched.unionByName(refoldTouched(spark, payloadCols, touched, tail, base),
      allowMissingColumns = true)
  }

  /** Touched ids' new rectangles via FOLD FROM STATE
    * ([[Bitemporal.applyOps]]): the tail ops apply to the touched ids'
    * BASE rectangles, so the cost is ∝ tail + their current segments —
    * never their full log history (the pre-r6 path re-read and re-fold
    * every op an id ever saw; at 100 TB a long-lived hot id makes that
    * the whole table's history). Ids first seen in the tail have no
    * base state and fold from their tail ops alone. */
  private def refoldTouched(spark: SparkSession, payloadCols: Seq[String],
                            touched: DataFrame, tail: DataFrame,
                            base: DataFrame): DataFrame = {
    // schemaless normalization: a tail tx may introduce payload columns
    // the base predates, and a short tail may lack columns older txs
    // carried — null-fill either side with the type from whichever side
    // knows it (the mergeSchema contract of read())
    def typeOf(c: String) =
      base.schema.fields.find(_.name == c)
        .orElse(tail.schema.fields.find(_.name == c))
        .getOrElse(throw new IllegalArgumentException(
          s"payload column $c exists in neither base nor tail")).dataType
    def withAll(df: DataFrame) = payloadCols.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(typeOf(c))))
    val state = withAll(base).join(touched, Seq("_id"), "left_semi")
    val opsAll = withAll(tail)
    val ops = opsAll.join(touched,
      opsAll("_id").cast("long") === touched("_id"), "left_semi")
    Bitemporal.applyOps(state, ops, payloadCols)
  }

  // ---- persisted base watermark: which tx ids the base represents ----

  private def bwFile = Paths.get(dir, "_base_watermark")

  /** Max tx id folded into the base, persisted at every compaction so
    * FRESH instances (and derived consumers like matviews) know where
    * the base ends and the live tail begins without re-folding the
    * log. */
  def baseWatermark(): Option[Long] =
    if (Files.exists(bwFile))
      Some(new String(Files.readAllBytes(bwFile), "UTF-8").trim.toLong)
    else None

  private def setBaseWatermark(w: Long): Unit =
    TxLog.writeAtomic(bwFile, w.toString.getBytes("UTF-8"))

  /** The base rectangle table, KEEPING the `_sys_date` partition column:
    * [[Bitemporal.asOf]] turns it into a partition-pruning predicate, so
    * a time-travel scan touches only partitions with `_sys_date <=
    * date(systemTime)` — the Spark-native replacement for the
    * reference's temporal index (SURVEY.md §1.4). */
  def readBase(spark: SparkSession): DataFrame =
    baseSchema(spark) match {
      case Some(data) => spark.read
        .schema(data.add("_sys_date", org.apache.spark.sql.types.DateType))
        .parquet(baseDir.toString)
      case None => spark.read.parquet(baseDir.toString)
    }

  /** The base's data schema (no `_sys_date`): its part files' cached
    * footer schemas merged driver-side, as [[TxLog.readMerged]] merges —
    * so [[readBase]] runs no schema-inference job. None when there is no
    * base, it has no part files, or a footer lacks Spark's schema. */
  def baseSchema(spark: SparkSession): Option[org.apache.spark.sql.types.StructType] =
    if (!Files.exists(baseDir)) None
    else TxLog.mergedSchema(spark, ChunkMetadata.files(spark, Seq(baseDir.toString)))
}

object TxLog {
  /** The tx id a `tx_<id>.parquet` log entry carries. */
  def txIdOf(p: Path): Long =
    p.getFileName.toString.stripPrefix("tx_").stripSuffix(".parquet").toLong

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The append lock for a log directory, shared by every TxLog
    * instance over the same canonical path in this JVM. */
  private def lockFor(logDir: Path): Object =
    locks.computeIfAbsent(
      logDir.toAbsolutePath.normalize.toString, _ => new Object)

  // ---- footer-metadata cache (optimization r16, guide §1/§6) ----
  //
  // Every tx-file read used to go through `spark.read.option(
  // "mergeSchema", "true").parquet(files)`, whose schema inference is a
  // DISTRIBUTED FOOTER PASS over the whole file set — one Spark job per
  // read call, re-reading footers that never change (tx files are
  // immutable once `_SUCCESS` is published). A refresh issues several
  // such reads (tail, touched history, visibles), so the footer pass
  // multiplied: measured 36–47 jobs per storage-lifecycle bench entry,
  // a third of them 1-task schema/metadata jobs. At the 100 TB tier the
  // same pattern re-reads thousands of tx footers per refresh.
  //
  // The cache keys on the tx path (file or directory): value = (exact
  // Spark schema from the footer's serialized
  // `org.apache.spark.sql.parquet.row.metadata` key — the SAME source
  // Spark's own inference prefers — plus total row count). Reads then
  // pass the driver-merged schema explicitly (`StructType.merge`, the
  // merge mergeSchema itself applies), so no inference job runs at all,
  // and emptiness probes become driver-side metadata lookups instead of
  // `limit(1)` jobs. A footer without the serialized key (non-Spark
  // writer) falls back to the legacy mergeSchema read — slower, never
  // wrong. LRU-bounded like GraftTable's id-range cache: eviction is
  // pure cost (one footer re-read), never correctness.
  private val footerCacheCap = 1 << 16
  private val footerCache =
    new java.util.LinkedHashMap[String, (org.apache.spark.sql.types.StructType, Long)](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (org.apache.spark.sql.types.StructType, Long)])
          : Boolean = size() > footerCacheCap
    }

  /** Footer (schema, rows) for one committed tx path — None when any
    * part lacks Spark's serialized schema (caller falls back to the
    * legacy mergeSchema read). A path with zero part files (a
    * zero-partition write: `_SUCCESS` only) is (empty schema, 0). */
  private def readFooterMeta(spark: SparkSession, path: String)
      : Option[(org.apache.spark.sql.types.StructType, Long)] = {
    val parts = ChunkMetadata.files(spark, Seq(path))
    if (parts.isEmpty)
      return Some((org.apache.spark.sql.types.StructType(Nil), 0L))
    val conf = spark.sessionState.newHadoopConf()
    var schema: org.apache.spark.sql.types.StructType = null
    var rows = 0L
    parts.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        rows += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        if (schema == null) {
          // all part files of one Spark write share a schema — one
          // footer's serialized schema covers the tx
          val json = r.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata")
          if (json == null) return None
          schema = org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
        }
      } finally r.close()
    }
    Some((schema, rows))
  }

  /** (schema, rows) per path, cached; None = fall back to legacy. */
  private def footerMeta(spark: SparkSession, paths: Seq[String])
      : Option[Seq[(org.apache.spark.sql.types.StructType, Long)]] = {
    val out = new Array[(org.apache.spark.sql.types.StructType, Long)](paths.size)
    val missing = footerCache.synchronized {
      paths.zipWithIndex.filter { case (p, i) =>
        Option(footerCache.get(p)) match {
          case Some(m) => out(i) = m; false
          case None => true
        }
      }
    }
    missing.foreach { case (p, i) =>
      readFooterMeta(spark, p) match {
        case Some(m) =>
          out(i) = m
          footerCache.synchronized { footerCache.put(p, m): Unit }
        case None => return None
      }
    }
    Some(out.toSeq)
  }

  /** Read a set of committed tx paths with mergeSchema SEMANTICS but no
    * schema-inference job: the merged schema comes from the cached
    * footers (exact — Spark's own inference prefers the same serialized
    * footer schema), merged driver-side in the given path order exactly
    * like mergeSchema merges. Falls back to the legacy
    * `mergeSchema=true` read when a footer lacks the serialized schema
    * or every path is part-less. */
  def readMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    mergedSchema(spark, paths) match {
      case Some(merged) => spark.read.schema(merged).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  /** The schema [[readMerged]] reads `paths` with, from cached footers:
    * None when a footer lacks Spark's serialized schema or every path is
    * part-less. */
  def mergedSchema(spark: SparkSession, paths: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    footerMeta(spark, paths).flatMap(metas =>
      metas.map(_._1).filter(_.nonEmpty)
        .reduceOption(org.apache.spark.sql.graftbridge.SchemaBridge.merge))

  /** Size the `_id` bloom of a log or base write. A known row count
    * bounds the id count, so the filter is sized to it: a one-row tx
    * file is ~1 KB, not the ~1 MiB parquet-mr allocates by default (its
    * `max.bytes`). Without a count the adaptive filter picks among
    * candidate sizes by the ids actually written. */
  private def bloomSized(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      rows: Option[Long]): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val bloom = w.option("parquet.bloom.filter.enabled#_id", "true")
    rows match {
      case Some(n) =>
        bloom.option("parquet.bloom.filter.expected.ndv#_id", math.max(n, 1L))
      case None => bloom.option("parquet.bloom.filter.adaptive.enabled", "true")
    }
  }

  /** Total committed rows under `paths` from cached footers — the
    * driver-side replacement for `df.isEmpty` probes over immutable tx
    * files (no Spark job). None when a footer is unreadable through the
    * cache (caller keeps its job-based probe). */
  def cachedRowCount(spark: SparkSession, paths: Seq[String])
      : Option[Long] =
    footerMeta(spark, paths).map(_.map(_._2).sum)

  /** Replace the small file `f` (a watermark, marker or sidecar) with
    * `bytes` by one atomic rename of a sibling temp file: a concurrent
    * reader sees the old content or the new, never a missing file — a
    * move without ATOMIC_MOVE unlinks the target before the rename, and
    * a crash in that window loses the file. */
  def writeAtomic(f: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}

/** Builders shaping user data into log ops — the SQL DML mapping
  * (INSERT/UPDATE = put, DELETE = delete, ERASE = erase; core2 compiles
  * DML statements to the same put/delete/erase ops, README.adoc:13). */
object TxOps {
  import Bitemporal.{Delete, Erase, Put}

  /** put: rows become documents; valid interval defaults to `[vf, ∞)`. */
  def put(rows: DataFrame, id: Column, validFrom: Column,
          validTo: Option[Column] = None, payload: Seq[(String, Column)] = Nil): DataFrame =
    rows.select(
      lit(Put).as("_op") +: id.cast("long").as("_id") +:
        validFrom.as("_valid_from") +:
        validTo.getOrElse(lit(null).cast("timestamp")).as("_valid_to") +:
        payload.map { case (n, c) => c.as(n) }: _*)

  /** delete: payload columns must be typed nulls matching the put schema
    * (all tx files of one log share a schema), e.g.
    * `"bal" -> lit(null).cast("double")`. */
  def delete(rows: DataFrame, id: Column, validFrom: Column,
             validTo: Option[Column] = None, payload: Seq[(String, Column)] = Nil): DataFrame =
    rows.select(
      lit(Delete).as("_op") +: id.cast("long").as("_id") +:
        validFrom.as("_valid_from") +:
        validTo.getOrElse(lit(null).cast("timestamp")).as("_valid_to") +:
        payload.map { case (n, c) => c.as(n) }: _*)

  def erase(rows: DataFrame, id: Column, payload: Seq[(String, Column)] = Nil): DataFrame =
    rows.select(
      lit(Erase).as("_op") +: id.cast("long").as("_id") +:
        lit("0001-01-01 00:00:00").cast("timestamp").as("_valid_from") +:
        lit(null).cast("timestamp").as("_valid_to") +:
        payload.map { case (n, c) => c.as(n) }: _*)
}
