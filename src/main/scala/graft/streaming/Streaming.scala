package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming layer (SURVEY.md §7.2 step 7): the SAME
  * declarative window aggregations the batch catalog uses, runnable over
  * an unbounded source with watermarks. One function builds the plan;
  * whether it executes batch or incremental is decided solely by the
  * input DataFrame (`spark.read` vs `spark.readStream`) — Spark's
  * unified-plan promise, which the batch-first oracle strategy of
  * SURVEY.md §2.6 relies on.
  *
  * The reference's only stream is its transaction log (ingestion
  * infrastructure, xtdb/core2 `core2.log`); [[txLogStream]] mirrors that
  * by tailing a [[graft.bitemporal.TxLog]] directory as a stream.
  */
object Streaming {

  /** Tail a directory of files as a stream (declared schema — no
    * inference pass). With `maxFilesPerTrigger`, each micro-batch
    * consumes a bounded slice: backpressure at 100 TB ingest. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet",
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger",
        maxFilesPerTrigger.map(_.toString).getOrElse("1000"))
    r.format(format).load(dir)
  }

  /** The reference's log-as-stream: tail the tx-log directory of a
    * bitemporal table. Each row is one (tx, op); downstream can fold
    * micro-batches into rectangles via foreachBatch + TxLog.compact. */
  def txLogStream(spark: SparkSession, txLogDir: String,
                  schema: StructType): DataFrame =
    // each tx is one parquet directory (TxLog.append) -> glob into them
    fileStream(spark, s"$txLogDir/log/tx_*", schema)

  /** Tumbling window aggregation; identical plan for batch/streaming
    * inputs (watermark applied only when streaming — a watermark on a
    * batch frame is a no-op anyway, but keeping it conditional makes the
    * batch plan byte-identical to the pre-streaming one). */
  def tumblingAgg(events: DataFrame, tsCol: String, windowDur: String,
                  keys: Seq[Column], aggs: Seq[Column],
                  watermark: Option[String] = None): DataFrame =
    withWm(events, tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding window aggregation (each event lands in dur/slide windows). */
  def slidingAgg(events: DataFrame, tsCol: String, windowDur: String,
                 slide: String, keys: Seq[Column], aggs: Seq[Column],
                 watermark: Option[String] = None): DataFrame =
    withWm(events, tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur, slide) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session window aggregation (inactivity gap). Streaming requires a
    * watermark (state cannot be retained forever); batch does not. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String,
                 keys: Seq[Column], aggs: Seq[Column],
                 watermark: Option[String] = None): DataFrame =
    withWm(events, tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  private def withWm(df: DataFrame, tsCol: String, wm: Option[String]): DataFrame =
    wm.fold(df)(w => df.withWatermark(tsCol, w))

  /** Streaming exact dedup with CUSTOM keyed state
    * (flatMapGroupsWithState): emit only the FIRST row ever seen per
    * key — state is one boolean per key, persisted across micro-batches
    * by the state store, so a duplicate arriving hours later is still
    * suppressed (dropDuplicates needs a watermark column to bound its
    * state; this is the unbounded-key-set variant). Works identically
    * on a batch DataFrame (state scoped to the single batch). */
  def firstPerKey(events: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val enc = Encoders.row(events.schema)
    events.groupByKey((r: Row) => String.valueOf(r.getAs[Any](keyCol)))(Encoders.STRING)
      .flatMapGroupsWithState[Boolean, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); it.take(1) }
      }(Encoders.scalaBoolean, enc)
      .toDF(events.columns: _*)
  }

  /** STREAMING near-dup candidate generation — the incremental form of
    * the batch MinHash+LSH pipeline ([[graft.llm.Dedup]]): as documents
    * arrive, emit (id_a, id_b) candidate pairs against EVERYTHING seen
    * so far, across micro-batches.
    *
    *   1. signature: per-row `transform`/`array_min` over the shingle
    *      array ([[graft.llm.Dedup.minhashSignatureCols]]) — identical
    *      values to the batch signature, but NO aggregation shuffle;
    *   2. banding: k/bands rows per band, md5 band hash, explode —
    *      the (band, hash) bucket id is the shuffle key;
    *   3. state: one keyed-state group per bucket holds the SET of doc
    *      ids seen in that bucket; each arriving doc emits a pair per
    *      prior occupant. State size per bucket = its occupancy —
    *      exactly the quantity LSH banding keeps small (a hot bucket
    *      means the band is too coarse, same knob as batch) — and is
    *      HARD-BOUNDED by `maxBucketOccupancy`: a full bucket still
    *      emits pairs against its occupants but stops growing (pairs
    *      among post-cap arrivals in a pathological bucket are
    *      sacrificed for bounded memory; retune the band instead).
    *      For continuous deployments, `stateTtlMs = Some(ms)` evicts
    *      buckets idle that long, so total state tracks the active
    *      working set instead of all history. TTL is OPT-IN because a
    *      processing-time timeout keeps finite drains (AvailableNow /
    *      Once triggers, and this operator's batch-mode use) from ever
    *      terminating — Spark schedules wake-ups to service the
    *      timeouts; use it with a continuous trigger only.
    *
    * Works identically on a batch DataFrame (state scoped to the one
    * batch). Pairs may repeat across bands/batches — downstream dedups
    * (same contract as the batch candidate join before `distinct`). */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
                                 k: Int = 16, bands: Int = 8,
                                 maxBucketOccupancy: Int = 256,
                                 stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.llm.Dedup
    require(maxBucketOccupancy > 0 && stateTtlMs.forall(_ > 0))
    val rows = k / bands
    val sig = docs.select(
      col(idCol).cast("long").as("_id") +:
        Dedup.minhashSignatureCols(Dedup.shingleArray(col(textCol), 2), k): _*)
    val bandArr = array((0 until bands).map { b =>
      md5(concat_ws("|",
        (lit(b) +: (0 until rows).map(r => col(s"h${b * rows + r}").cast("string"))): _*))
    }: _*)
    val banded = sig.select(col("_id"), explode(bandArr).as("_bucket"))
    val outEnc = Encoders.row(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("id_b",
        org.apache.spark.sql.types.LongType, nullable = false))))
    val timeoutConf = if (stateTtlMs.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    banded.groupByKey((r: Row) => r.getString(1))(Encoders.STRING)
      .flatMapGroupsWithState[Set[Long], Row](OutputMode.Append(), timeoutConf) {
        (_: String, it: Iterator[Row], state: GroupState[Set[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(Set.empty[Long])
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            it.foreach { r =>
              val id = r.getLong(0)
              if (!seen.contains(id)) {
                seen.foreach(o =>
                  out += Row(math.min(o, id), math.max(o, id)))
                if (seen.size < maxBucketOccupancy) seen += id
              }
            }
            state.update(seen)
            // refresh the TTL on every touch; only idle buckets expire
            stateTtlMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }(Encoders.kryo[Set[Long]], outEnc)
      .toDF("id_a", "id_b")
  }

  /** Transport-agnostic tx-op decoding (the upstream log had a Kafka
    * module; the transport is an implementation detail). `lines` is ANY
    * streaming or batch DataFrame with a string `value` column — the
    * socket source, a Kafka topic (`CAST(value AS STRING)`), a text
    * file stream — carrying one JSON object per record with the TxLog
    * op contract: `_op` ("put" | "delete" | "erase"), `_id`,
    * `_valid_from`, `_valid_to`, plus the payload fields. Malformed
    * records surface as all-null rows (from_json's PERMISSIVE mode) for
    * the caller to quarantine rather than a killed stream. */
  def txOpsFromJson(lines: DataFrame,
                    payloadSchema: StructType): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = payloadSchema.fields.foldLeft(new StructType()
      .add("_op", StringType).add("_id", LongType)
      .add("_valid_from", TimestampType)
      .add("_valid_to", TimestampType))((s, f) => s.add(f))
    lines.select(from_json(col("value"), schema).as("_j")).select(col("_j.*"))
  }

  /** The write side of the ingestion loop over a NON-file transport:
    * each micro-batch commits as ONE monotonic transaction
    * ([[graft.bitemporal.TxLog.append]]) and compacts, so an `asOf` read
    * right after a batch sees its writes. The compaction reads where the
    * base ends from the log's persisted watermark (a restarted stream
    * folds only the tail onto the base it finds) and runs under the
    * table's maintainer lease, so it serializes with a front-door
    * COMPACT or VACUUM of the same table. `systemTimeOf` maps batchId →
    * the tx system time (deterministic in tests; production stamps the
    * wall clock). The result is running; stop it via the returned
    * handle. */
  def ingestOpStream(ops: DataFrame, logDir: String, payloadCols: Seq[String],
                     systemTimeOf: Long => java.sql.Timestamp,
                     checkpoint: Option[String] = None): StreamingQuery = {
    val log = new graft.bitemporal.TxLog(logDir)
    val w = ops.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        log.append(batch, systemTimeOf(batchId))
        graft.bitemporal.MaintainerLease.withLease(
            java.nio.file.Paths.get(logDir), "compact") {
          log.compact(batch.sparkSession, payloadCols)
        }
      }
      ()
    }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** CONTINUOUS matview maintenance — the reference's "live index kept
    * current from the log" as a Structured Streaming loop: tail the
    * listed tx-log directories (the view's fact log and every spoke's
    * dim log) and refresh the view each micro-batch. The stream is only
    * the TRIGGER — each log projects to one literal column, so the union
    * never fights over schemas — and `refresh()` itself is
    * watermark-exact (it folds committed tx files past the view's own
    * watermarks, nothing else), so duplicate triggers, empty batches,
    * batches that straddle several logs and restarts are all harmless:
    * the view never double-counts, and a crashed maintainer resumes
    * from the view's persisted watermarks with no checkpoint
    * coordination between the two. A star view must list every spoke's
    * log, or it sleeps through dim-only churn until the next fact tx. */
  def maintainMatview(spark: SparkSession, logs: Seq[(String, StructType)],
                      view: graft.bitemporal.Matview,
                      checkpoint: Option[String] = None,
                      availableNow: Boolean = false): StreamingQuery =
    maintainTicks(spark, logs, checkpoint, availableNow) {
      () => view.refresh(); ()
    }

  /** Shared trigger plumbing for every continuous-maintenance flavor:
    * one tick stream unioned over the watched logs, `action` per
    * micro-batch. */
  private def maintainTicks(spark: SparkSession,
                            logs: Seq[(String, StructType)],
                            checkpoint: Option[String],
                            availableNow: Boolean)(
                            action: () => Unit): StreamingQuery = {
    require(logs.nonEmpty, "at least one log to watch")
    val ticks = logs.map { case (dir, sch) =>
      txLogStream(spark, dir, sch).select(lit(1).as("_tick"))
    }.reduce(_ unionByName _)
    val w = ticks.writeStream.foreachBatch { (_: DataFrame, _: Long) =>
      action()
    }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Continuous maintenance of a DDL-REGISTERED view by NAME: new tx
    * files in any watched log trigger `REFRESH MATERIALIZED VIEW name`
    * through the SQL front door, so COMPOSITE serve paths — a DISTINCT
    * view's pinned pair-level auxiliaries — refresh as one unit; a
    * Scala-level [[graft.bitemporal.Matview]] handle cannot reach
    * those. Same trigger-only semantics as [[maintainMatview]]:
    * REFRESH is watermark-exact, so duplicate triggers, empty batches
    * and restarts never double-count; an unknown or dropped view name
    * fails the query loudly instead of spinning. */
  def maintainNamedMatview(spark: SparkSession,
                           logs: Seq[(String, StructType)],
                           viewName: String,
                           checkpoint: Option[String] = None,
                           availableNow: Boolean = false): StreamingQuery = {
    // the name is spliced into SQL text below — restrict it to plain
    // identifiers BEFORE interpolating (every other text path in this
    // engine is masked-span-disciplined; a caller-supplied name must
    // not be the one raw splice). The registry check at trigger time
    // still catches drops; this catches hostile/typo'd names at START.
    require(viewName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"matview name must be a plain identifier ([A-Za-z_][A-Za-z0-9_]*)," +
        s" got: '$viewName'")
    maintainTicks(spark, logs, checkpoint, availableNow) { () =>
      graft.server.GraftSql
        .sql(spark, s"REFRESH MATERIALIZED VIEW $viewName").collect(); ()
    }
  }

  /** SQL confs for DURABLE keyed state: the RocksDB state store keeps
    * each operator's state off-heap and snapshots it to the query's
    * CHECKPOINT location, so a restarted query resumes with its
    * cross-batch memory intact (the near-dup bucket sets, firstPerKey's
    * seen-keys) instead of re-deriving from reprocessed input — and
    * state size stops being bounded by executor heap (the default
    * HDFS-backed provider keeps the full map on-heap per partition,
    * which a 100 TB ingest's dedup state outgrows). Changelog
    * checkpointing ships per-batch deltas instead of full snapshots —
    * the right default for large state.
    *
    * Apply to the session before STARTING the query (the provider binds
    * at query start):
    * `Streaming.rocksDbStateConf.foreach { case (k, v) => spark.conf.set(k, v) }` */
  val rocksDbStateConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Drain all currently-available input through a streaming plan into
    * an in-memory table (test/dev sink), blocking until done. */
  def runAvailableToMemory(df: DataFrame, name: String,
                           outputMode: String = "complete"): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
