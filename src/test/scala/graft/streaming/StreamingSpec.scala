package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The unified-plan promise, verified: the same Streaming.* window
  * aggregations produce identical results when run incrementally over a
  * file stream (micro-batches, watermark, AvailableNow) as when run in
  * one batch over the same data. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("stream_events").toString
    // two separate files -> at least two micro-batches with
    // maxFilesPerTrigger=1
    Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0, 1L),
      (ts("2024-01-01 10:45:00"), "click", 2.0, 1L),
      (ts("2024-01-01 11:10:00"), "buy", 10.0, 2L))
      .toDF("ts", "event_type", "value", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f1")
    Seq(
      (ts("2024-01-01 11:30:00"), "click", 3.0, 2L),
      (ts("2024-01-01 13:00:00"), "buy", 20.0, 1L))
      .toDF("ts", "event_type", "value", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f2")
    // flatten both into one directory for the file source
    val flat = Files.createTempDirectory("stream_flat").toString
    spark.read.parquet(s"$dir/f1").coalesce(1).write.mode("append").parquet(flat)
    spark.read.parquet(s"$dir/f2").coalesce(1).write.mode("append").parquet(flat)
    flat
  }

  private def schema = spark.read.parquet(eventsDir).schema

  test("tumbling agg: streaming (watermark + AvailableNow) == batch") {
    val stream = Streaming.fileStream(spark, eventsDir, schema,
      maxFilesPerTrigger = Some(1))
    val agg = Streaming.tumblingAgg(stream, "ts", "1 hour",
      keys = Seq($"event_type"),
      aggs = Seq(count(lit(1)).as("n"), sum($"value").as("sv")),
      watermark = Some("2 hours"))
    Streaming.runAvailableToMemory(agg, "tumbling_out")

    val batch = Streaming.tumblingAgg(spark.read.parquet(eventsDir), "ts",
        "1 hour", Seq($"event_type"),
        Seq(count(lit(1)).as("n"), sum($"value").as("sv")))
      .select($"window.start", $"event_type", $"n", $"sv")
      .collect().map(_.toSeq).toSet

    val streamed = spark.table("tumbling_out")
      .select($"window.start", $"event_type", $"n", $"sv")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("session agg: streaming == batch") {
    val stream = Streaming.fileStream(spark, eventsDir, schema,
      maxFilesPerTrigger = Some(1))
    val agg = Streaming.sessionAgg(stream, "ts", "1 hour",
      keys = Seq($"user_id"),
      aggs = Seq(count(lit(1)).as("n")),
      watermark = Some("2 hours"))
    Streaming.runAvailableToMemory(agg, "session_out")

    val batch = Streaming.sessionAgg(spark.read.parquet(eventsDir), "ts",
        "1 hour", Seq($"user_id"), Seq(count(lit(1)).as("n")))
      .select($"user_id", $"session_window.start", $"n")
      .collect().map(_.toSeq).toSet
    val streamed = spark.table("session_out")
      .select($"user_id", $"session_window.start", $"n")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("firstPerKey: custom keyed state dedups across micro-batches") {
    val dir = Files.createTempDirectory("stream_dedup").toString
    // duplicate user 1 appears in BOTH files: only the state store can
    // suppress the second occurrence (they land in different batches)
    Seq((1L, "a"), (2L, "b"), (1L, "a")).toDF("uid", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((1L, "a"), (3L, "c")).toDF("uid", "v")
      .coalesce(1).write.mode("append").parquet(dir)

    val sch = spark.read.parquet(dir).schema
    val stream = Streaming.fileStream(spark, dir, sch, maxFilesPerTrigger = Some(1))
    Streaming.runAvailableToMemory(
      Streaming.firstPerKey(stream, "uid"), "dedup_out", outputMode = "append")
    val got = spark.table("dedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))

    // batch path: same operator, state scoped to the one batch
    val batch = Streaming.firstPerKey(spark.read.parquet(dir), "uid")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch == got)
  }

  test("tx-log stream tails a bitemporal TxLog directory") {
    import graft.bitemporal.{TxLog, TxOps}
    val dir = Files.createTempDirectory("txlog_stream").toString
    val log = new TxLog(dir)
    val rows = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "bal")
    log.append(TxOps.put(rows, $"id", lit("2020-01-01").cast("timestamp"),
      None, Seq("bal" -> $"bal")), ts("2020-06-01 00:00:00"))
    log.append(TxOps.put(rows.filter($"id" === 1), $"id",
      lit("2021-01-01").cast("timestamp"), None,
      Seq("bal" -> ($"bal" + 1))), ts("2020-06-02 00:00:00"))

    val sch = log.read(spark).schema
    val stream = Streaming.txLogStream(spark, dir, sch)
    assert(stream.isStreaming)
    Streaming.runAvailableToMemory(
      stream.groupBy($"_op").agg(count(lit(1)).as("n")), "txlog_out")
    val got = spark.table("txlog_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("put" -> 3L))
  }

  test("streaming curation front-half: quality gate + fingerprint dedup == batch") {
    import graft.llm.TextStats
    val dir = Files.createTempDirectory("stream_curate").toString
    // duplicate content arrives in DIFFERENT files (micro-batches); a
    // too-short doc must be gated out before dedup state is touched
    Seq((1L, "the quick brown fox jumps"), (2L, "short"),
      (3L, "completely different words here today"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    Seq((4L, "jumps fox brown quick the"), // same fingerprint as doc 1
      (5L, "yet another clean document body"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)

    def pipeline(docs: org.apache.spark.sql.DataFrame) =
      Streaming.firstPerKey(
        docs.filter(size(split($"text", " ")) >= 3)
          .withColumn("fp", TextStats.fingerprint($"text")),
        "fp")

    val sch = spark.read.parquet(dir).schema
    Streaming.runAvailableToMemory(
      pipeline(Streaming.fileStream(spark, dir, sch, maxFilesPerTrigger = Some(1))),
      "curate_out", outputMode = "append")
    val streamed = spark.table("curate_out").collect()
      .map(_.getLong(0)).toSet
    // doc 2 gated (too short), doc 4 deduped against doc 1's fingerprint
    // ACROSS batches (order-insensitive fingerprint, state-store memory)
    assert(streamed == Set(1L, 3L, 5L))
    val batch = pipeline(spark.read.parquet(dir)).collect().map(_.getLong(0)).toSet
    assert(batch == streamed)
  }

  test("streaming near-dup candidates == batch MinHash LSH candidates") {
    import graft.llm.Dedup
    val dir = Files.createTempDirectory("stream_neardup").toString
    // near-dups split ACROSS files: the pair (1, 11) can only be found
    // with cross-micro-batch bucket state
    Seq((1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated content about query engines and joins"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    Seq((11L, "the quick brown fox jumps over the lazy dog today"),
      (12L, "another unrelated body of words entirely different topic"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)

    val sch = spark.read.parquet(dir).schema
    Streaming.runAvailableToMemory(
      Streaming.streamingNearDupCandidates(
        Streaming.fileStream(spark, dir, sch, maxFilesPerTrigger = Some(1)),
        "doc_id", "text"),
      "neardup_out", outputMode = "append")
    val streamed = spark.table("neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch oracle: the exploded-base pipeline (same hashes, same bands)
    val docs = spark.read.parquet(dir)
    val batchCands = Dedup.minhashCandidates(
        Dedup.minhashSignature(
          Dedup.hashedShingles(Dedup.shingles(docs, "doc_id", "text"), "doc_id"),
          "doc_id", k = 16),
        "doc_id", k = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchCands)
    assert(streamed.contains((1L, 11L)), s"cross-batch pair missed: $streamed")
    // the same operator run as one batch agrees too
    val oneBatch = Streaming.streamingNearDupCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneBatch == batchCands)
  }

  test("RocksDB state store: near-dup state survives a restart from checkpoint") {
    import graft.llm.Dedup
    val dir = Files.createTempDirectory("stream_rocks").toString
    val ckpt = Files.createTempDirectory("stream_rocks_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))

    def drainOnce(): Unit = {
      val q = Streaming.streamingNearDupCandidates(
          Streaming.fileStream(spark, dir, sch, maxFilesPerTrigger = Some(1)),
          "doc_id", "text")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => got.add((r.getLong(0), r.getLong(1)))): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val old = Streaming.rocksDbStateConf.keys
      .map(k => k -> spark.conf.getOption(k)).toSeq
    Streaming.rocksDbStateConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // run 1: the first half of the corpus
      Seq((1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "completely unrelated content about query engines and joins"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
      drainOnce()
      val afterRun1 = got.size()

      // the state actually lives in RocksDB files under the checkpoint
      // (changelog checkpointing => .changelog/.zip artifacts, not the
      // HDFS provider's .delta/.snapshot)
      val stateFiles = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(s"$ckpt/state"))
      }
      assert(stateFiles.exists(f => f.getName.endsWith(".changelog") ||
          f.getName.endsWith(".zip")),
        s"no RocksDB state artifacts under $ckpt/state: " +
          stateFiles.map(_.getName).mkString(", "))

      // run 2: a RESTARTED query (same checkpoint) sees the second half;
      // the cross-RESTART pair (1, 11) is derivable only if run 1's
      // bucket state was durably recovered
      Seq((11L, "the quick brown fox jumps over the lazy dog today"),
        (12L, "another unrelated body of words entirely different topic"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
      drainOnce()

      val streamed = got.iterator()
      val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
      while (streamed.hasNext) pairs += streamed.next()
      assert(pairs.contains((1L, 11L)),
        s"cross-restart pair missed (state not recovered): $pairs")

      // full parity with the batch LSH candidate set over all four docs
      val docs = spark.read.parquet(dir)
      val batchCands = Dedup.minhashCandidates(
          Dedup.minhashSignature(
            Dedup.hashedShingles(Dedup.shingles(docs, "doc_id", "text"), "doc_id"),
            "doc_id", k = 16),
          "doc_id", k = 16, bands = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.toSet == batchCands,
        s"restart output $pairs != batch $batchCands (run1 emitted $afterRun1)")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("near-dup bucket state is hard-bounded under a hot bucket") {
    // 10 IDENTICAL docs -> identical signatures -> all land in the same
    // bucket per band. With maxBucketOccupancy = 4 each bucket's state
    // stops growing at 4 ids: arrival i emits min(i, 4) pairs, and every
    // emitted pair has its LOWER side among the first 4 arrivals — the
    // observable proof that the state set never exceeded the cap.
    val text = "identical content repeated verbatim in every document"
    val docs = (0L until 10L).map(i => (i, text)).toDF("doc_id", "text")
    val pairs = Streaming.streamingNearDupCandidates(
        docs.coalesce(1), "doc_id", "text", maxBucketOccupancy = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bands = 8
    val perBucket = (0 until 10).map(i => math.min(i, 4)).sum // 0+1+2+3+4*6
    assert(pairs.length == perBucket * bands,
      s"expected ${perBucket * bands} raw pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 < 4), "a pair references a post-cap occupant")
    // distinct candidates: first-4 ids vs everyone after them
    assert(pairs.toSet == (for {
      a <- 0L until 4L; b <- (a + 1) until 10L
    } yield (a, b)).toSet)
    // and with the default cap the same input yields all 45 pairs
    val uncapped = Streaming.streamingNearDupCandidates(
        docs.coalesce(1), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 45)
  }

  test("near-dup state TTL path runs under a continuous trigger") {
    // TTL uses ProcessingTimeTimeout, which would keep an AvailableNow
    // drain alive forever — so it is opt-in and must be driven by a
    // continuous-trigger query: processAllAvailable + stop. Candidates
    // within the active window are unaffected.
    val dir = Files.createTempDirectory("stream_ttl").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    val sch = spark.read.parquet(dir).schema
    val q = Streaming.streamingNearDupCandidates(
        Streaming.fileStream(spark, dir, sch, maxFilesPerTrigger = Some(1)),
        "doc_id", "text", stateTtlMs = Some(60000L))
      .writeStream.format("memory").queryName("ttl_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
      .start()
    try {
      // with timeouts registered the engine keeps scheduling wake-up
      // batches, so processAllAvailable never settles — poll the sink
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def got() = spark.table("ttl_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      while (!got().contains((1L, 11L)) && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(got().contains((1L, 11L)), s"pair missed under TTL config: ${got()}")
    } finally q.stop()
  }

  test("ingest loop end-to-end: stream -> foreachBatch compact -> asOf read-your-writes") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import graft.bitemporal.{Bitemporal, TxLog, TxOps}
    val dir = Files.createTempDirectory("txlog_ingest").toString
    val ckpt = Files.createTempDirectory("txlog_ingest_ckpt").toString
    val log = new TxLog(dir)
    val r0 = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "bal")
    log.append(TxOps.put(r0, $"id", lit("2020-01-01").cast("timestamp"),
      None, Seq("bal" -> $"bal")), ts("2020-06-01 00:00:00"))
    log.append(TxOps.put(r0.filter($"id" === 1), $"id",
      lit("2021-01-01").cast("timestamp"), None,
      Seq("bal" -> ($"bal" + 1))), ts("2020-06-02 00:00:00"))

    // the reference's ingestion loop: tail the log as a stream; each
    // micro-batch folds the log into the base rectangle table
    val sch = log.read(spark).schema
    @volatile var lastCompacted = -1L
    def drain(): Unit = {
      val q = Streaming.txLogStream(spark, dir, sch).writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          lastCompacted = log.compact(spark, Seq("bal"))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(lastCompacted == 1L)

    def balsAt(valid: String, sys: String): Map[Long, Double] =
      Bitemporal.asOf(log.readBase(spark),
          lit(valid).cast("timestamp"), lit(sys).cast("timestamp"))
        .select($"_id", $"bal").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // basis after both txs, valid 2021+: the streamed update is visible
    assert(balsAt("2021-06-01 00:00:00", "2020-06-03 00:00:00") ==
      Map(1L -> 101.0, 2L -> 200.0))
    // system basis BETWEEN the two txs: still the original belief
    assert(balsAt("2021-06-01 00:00:00", "2020-06-01 12:00:00") ==
      Map(1L -> 100.0, 2L -> 200.0))

    // a late tx arrives on the log; re-draining the SAME checkpointed
    // stream processes only the new file and re-compacts
    log.append(TxOps.put(Seq((3L, 300.0)).toDF("id", "bal"), $"id",
      lit("2020-01-01").cast("timestamp"), None,
      Seq("bal" -> $"bal")), ts("2020-06-04 00:00:00"))
    drain()
    assert(lastCompacted == 2L)
    assert(balsAt("2021-06-01 00:00:00", "2020-06-05 00:00:00") ==
      Map(1L -> 101.0, 2L -> 200.0, 3L -> 300.0))
  }

  test("socket tx-op stream: transport-agnostic ingest -> compact -> asOf") {
    import org.apache.spark.sql.types._
    import graft.bitemporal.Bitemporal
    // a tiny line server standing in for any non-file transport (the
    // upstream analog is a Kafka log; swapping the source format is the
    // only difference — txOpsFromJson/ingestOpStream are shared)
    val server = new java.net.ServerSocket(0)
    @volatile var out: java.io.PrintWriter = null
    val acceptor = new Thread(() => {
      val s = server.accept()
      out = new java.io.PrintWriter(s.getOutputStream, true)
    })
    acceptor.setDaemon(true); acceptor.start()

    val dir = Files.createTempDirectory("txlog_socket").toString
    val log = new graft.bitemporal.TxLog(dir)
    val lines = spark.readStream.format("socket")
      .option("host", "localhost").option("port", server.getLocalPort).load()
    val ops = Streaming.txOpsFromJson(lines,
      new StructType().add("bal", DoubleType))
    val q = Streaming.ingestOpStream(ops, dir, Seq("bal"),
      batchId => ts(f"2024-01-01 00:${batchId % 60}%02d:00"))
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (out == null && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(out != null, "socket source never connected")

      def op(o: String, id: Long, vf: String, bal: java.lang.Double) =
        s"""{"_op":"$o","_id":$id,"_valid_from":"$vf","_valid_to":null""" +
          (if (bal == null) ",\"bal\":null}" else s""","bal":$bal}""")
      def drainUntil(cond: => Boolean): Unit = {
        val dl = System.currentTimeMillis() + 30000
        while (!cond && System.currentTimeMillis() < dl) {
          q.processAllAvailable(); Thread.sleep(100)
        }
        assert(cond, "streamed ops never reached the compacted base")
      }
      def current: Map[Long, Double] =
        Bitemporal.asOf(log.readBase(spark),
            lit("2023-01-01").cast("timestamp"),
            lit("2025-01-01").cast("timestamp"))
          .select($"_id", $"bal").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap

      // phase 1: three puts over the wire
      Seq(op("put", 1, "2020-01-01 00:00:00", 100.0),
        op("put", 2, "2020-01-01 00:00:00", 200.0),
        op("put", 3, "2020-01-01 00:00:00", 300.0)).foreach(out.println)
      drainUntil(log.txFiles().nonEmpty && current.size == 3)

      // phase 2: an update for id 1 and a brand-new id 4
      Seq(op("put", 1, "2022-01-01 00:00:00", 101.0),
        op("put", 4, "2020-01-01 00:00:00", 400.0)).foreach(out.println)
      drainUntil(current.get(1L).contains(101.0) && current.size == 4)

      assert(current == Map(1L -> 101.0, 2L -> 200.0, 3L -> 300.0, 4L -> 400.0))
      // time travel below the update's valid time: the original belief
      val older = Bitemporal.asOf(log.readBase(spark),
          lit("2021-01-01").cast("timestamp"),
          lit("2025-01-01").cast("timestamp"))
        .select($"_id", $"bal").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(older(1L) == 100.0)
    } finally {
      q.stop()
      if (out != null) out.close()
      server.close()
    }
  }

  test("maintainNamedMatview rejects non-identifier view names BEFORE " +
      "splicing them into SQL text") {
    val sch = new org.apache.spark.sql.types.StructType()
      .add("_id", "long").add("bal", "double")
    Seq("v; DROP MATERIALIZED VIEW other", "v'--", "", "a b", "1v")
      .foreach { hostile =>
        val e = intercept[IllegalArgumentException](
          Streaming.maintainNamedMatview(spark,
            Seq(("/nonexistent" -> sch)), hostile))
        assert(e.getMessage.contains("plain identifier"), e.getMessage)
      }
  }

  test("ingestOpStream over a vacuumed GraftTable keeps every vacuumed row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.{DoubleType, StructType}
    val dir = Files.createTempDirectory("txlog_ingest_vacuum").toString
    val t = new graft.GraftTable(spark, dir, Seq("bal"))
    t.put(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "b"), $"id",
      lit("2020-01-01").cast("timestamp"), None, Seq("bal" -> $"b"),
      ts("2024-01-01 00:00:00"))
    t.vacuumLog() // ids 1-3 now live only in the base
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lines = MemoryStream[String]
    val q = Streaming.ingestOpStream(
      Streaming.txOpsFromJson(lines.toDF(), new StructType().add("bal", DoubleType)),
      dir, Seq("bal"), _ => ts("2024-01-02 00:00:00"))
    try {
      lines.addData("""{"_op":"put","_id":4,"_valid_from":"2020-01-01 00:00:00",""" +
        """"_valid_to":null,"bal":4.0}""")
      q.processAllAvailable()
    } finally q.stop()
    val current = t.current().select($"_id", $"bal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(current == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
  }
}
