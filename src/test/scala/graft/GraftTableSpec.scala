package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end facade test: the workflow a reference user would run —
  * transactions in, time travel out, SQL sugar on top. */
class GraftTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("put / delete / compact / asOf / current / sql round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_table").toString
    val t = new GraftTable(spark, dir, Seq("price"))
    val rows = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "price")

    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price"), ts("2024-01-01 00:00:00"))
    t.put(rows.filter($"id" === 1), $"id", lit("2021-01-01").cast("timestamp"),
      None, Seq("price" -> ($"price" + 10)), ts("2024-01-02 00:00:00"))
    t.compact()
    // tail after compaction: delete id 2 (read-your-writes, no recompact)
    t.delete(rows.filter($"id" === 2), $"id",
      lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> lit(null).cast("double")), ts("2024-01-03 00:00:00"))

    def state(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"price").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // current: id1 updated to 110 (valid since 2021), id2 deleted
    assert(state(t.current()) == Map(1L -> 110.0))
    // system time before the delete: both ids visible, id1 still 110
    assert(state(t.asOf(ts("2022-01-01 00:00:00"), ts("2024-01-02 12:00:00"))) ==
      Map(1L -> 110.0, 2L -> 200.0))
    // valid time before the update, same system time: id1 original price
    assert(state(t.asOf(ts("2020-06-01 00:00:00"), ts("2024-01-02 12:00:00"))) ==
      Map(1L -> 100.0, 2L -> 200.0))
    // history at the latest system time: id1 has two valid-time versions
    assert(t.history(ts("2024-01-04 00:00:00"))
      .filter($"_id" === 1).count() == 2)

    // SQL sugar over the same table
    val viaSql = t.sql("prices",
      """SELECT _id, price FROM prices
         FOR SYSTEM_TIME AS OF '2024-01-02 12:00:00'
         FOR APPLICATION_TIME AS OF '2022-01-01 00:00:00'""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == Map(1L -> 110.0, 2L -> 200.0))
  }

  test("SQL DML: insert / update / portion delete / erase round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dml").toString
    val t = new GraftTable(spark, dir, Seq("bal"))

    t.dml("acct", """INSERT INTO acct (_id, _valid_from, bal)
      VALUES (1, TIMESTAMP '2020-01-01 00:00:00', 100.0D),
             (2, TIMESTAMP '2020-01-01 00:00:00', -50.0D),
             (3, TIMESTAMP '2020-01-01 00:00:00', 30.0D)""",
      ts("2024-01-01 00:00:00"))
    // SET rhs reads the current value; WHERE binds over current state
    t.dml("acct", "UPDATE acct SET bal = bal + 500 WHERE bal < 0",
      ts("2024-01-02 00:00:00"))
    // portion delete: id 3 loses only 2021, keeps before/after
    t.dml("acct", """DELETE FROM acct
      FOR PORTION OF APPLICATION_TIME
        FROM '2021-01-01 00:00:00' TO '2022-01-01 00:00:00'
      WHERE _id = 3""", ts("2024-01-03 00:00:00"))
    t.dml("acct", "ERASE FROM acct WHERE _id = 1", ts("2024-01-04 00:00:00"))
    t.compact()

    def state(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"bal").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // current: id1 erased, id2 updated to 450, id3 back (portion over)
    assert(state(t.current()) == Map(2L -> 450.0, 3L -> 30.0))
    // inside the deleted portion id3 is absent; id1 erased even in the
    // past; id2 still shows -50 — the portionless UPDATE is valid only
    // from its system time (2024) on, so valid-time 2021 predates it
    assert(state(t.asOf(ts("2021-06-01 00:00:00"), ts("2024-01-03 12:00:00"))) ==
      Map(2L -> -50.0))
    // INSERT ... SELECT from a registered view
    Seq((9L, 9.0)).toDF("id", "v").createOrReplaceTempView("dml_src")
    t.dml("acct",
      "INSERT INTO acct (_id, bal) SELECT id, v FROM dml_src",
      ts("2024-01-05 00:00:00"))
    assert(state(t.current()) == Map(2L -> 450.0, 3L -> 30.0, 9L -> 9.0))
    spark.catalog.dropTempView("dml_src")
  }

  test("WHERE-less UPDATE/DELETE target every current row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nowhere").toString
    val t = new GraftTable(spark, dir, Seq("bal"))
    t.dml("acct", "INSERT INTO acct (_id, bal) " +
      "VALUES (1, 1.0D), (2, 2.0D), (3, 3.0D)", ts("2020-01-01 00:00:00"))
    t.dml("acct", "UPDATE acct SET bal = bal + 10", ts("2020-01-02 00:00:00"))
    assert(t.current().agg(sum($"bal")).head().getDouble(0) == 36.0)
    t.dml("acct", "DELETE FROM acct", ts("2020-01-03 00:00:00"))
    assert(t.current().count() == 0)
    // the past is intact — delete only closes validity going forward
    assert(t.asOf(ts("2020-01-02 12:00:00"), ts("2020-01-02 12:00:00"))
      .count() == 3)
  }

  test("DML rejects malformed and mistargeted statements") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dml_bad").toString
    val t = new GraftTable(spark, dir, Seq("bal"))
    intercept[IllegalArgumentException] {
      t.dml("acct", "UPSERT INTO acct VALUES (1)", ts("2024-01-01 00:00:00"))
    }
    intercept[IllegalArgumentException] {
      t.dml("acct", "ERASE FROM other WHERE _id = 1", ts("2024-01-01 00:00:00"))
    }
    intercept[IllegalArgumentException] {   // missing payload column
      t.dml("acct", "INSERT INTO acct (_id) VALUES (1)", ts("2024-01-01 00:00:00"))
    }
  }

  test("tx function (:call): read-modify-write executed at append time") {
    import graft.bitemporal.TxOps
    val dir = java.nio.file.Files.createTempDirectory("graft_call").toString
    val t = new GraftTable(spark, dir, Seq("bal"))
    val rows = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "bal")
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("bal" -> $"bal"), ts("2024-01-01 00:00:00"))

    // increment(id, amount, validFrom): derive the op from the table's
    // OWN current state — impossible to express race-free as a plain put
    t.registerTxFn("increment", (tbl, args) => {
      val Seq(id: Long, amount: Double, vf: String) = args
      TxOps.put(tbl.current().filter($"_id" === id),
        $"_id", lit(vf).cast("timestamp"), None,
        Seq("bal" -> ($"bal" + amount)))
    })
    t.call("increment", Seq(1L, 25.0, "2021-01-01"), ts("2024-01-02 00:00:00"))

    def state() = t.current().select($"_id", $"bal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state() == Map(1L -> 125.0, 2L -> 200.0))

    // a second call reads its own previous write (compounding)
    t.call("increment", Seq(1L, 25.0, "2022-01-01"), ts("2024-01-03 00:00:00"))
    assert(state() == Map(1L -> 150.0, 2L -> 200.0))
    // the call-generated ops fold like any tx: basis before the second
    // call still sees the first increment only
    assert(t.asOf(ts("2023-01-01 00:00:00"), ts("2024-01-02 12:00:00"))
      .select($"_id", $"bal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 125.0, 2L -> 200.0))

    intercept[IllegalArgumentException] {
      t.call("nope", Nil, ts("2024-01-04 00:00:00"))
    }
  }

  test("entity: point lookup at a basis") {
    val dir = java.nio.file.Files.createTempDirectory("graft_entity").toString
    val t = new GraftTable(spark, dir, Seq("price"))
    val rows = Seq((1L, 100.0)).toDF("id", "price")
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price"), ts("2024-01-01 00:00:00"))
    t.put(rows, $"id", lit("2021-01-01").cast("timestamp"), None,
      Seq("price" -> ($"price" + 10)), ts("2024-01-02 00:00:00"))
    // current: the updated version
    assert(t.entity(1L).map(_.getAs[Double]("price")) == Some(110.0))
    // valid-time travel: the original version
    assert(t.entity(1L, validTime = Some(ts("2020-06-01 00:00:00")))
      .map(_.getAs[Double]("price")) == Some(100.0))
    // unknown id / before any put → None
    assert(t.entity(99L).isEmpty)
    assert(t.entity(1L, validTime = Some(ts("2019-01-01 00:00:00"))).isEmpty)
  }

  test("clusterBy on STRING dimensions falls back to lexicographic " +
      "clustering instead of a degenerate z-order") {
    // the z-key quantizes via cast-to-double — null for every string,
    // which would collapse the range partitioner into ONE writer task;
    // the fallback must still split the base into several files with
    // tight first-column stats
    val dir = java.nio.file.Files.createTempDirectory("graft_strclus").toString
    val t = new GraftTable(spark, dir, Seq("region", "status", "v"),
      clusterBy = Seq("region", "status"))
    val rows = spark.range(4000).select($"id",
      concat(lit("r"), ($"id" % 16).cast("string")).as("rg"),
      concat(lit("s"), ($"id" % 4).cast("string")).as("st"),
      ($"id" * 1.0).as("v"))
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("region" -> $"rg", "status" -> $"st", "v" -> $"v"),
      ts("2024-01-01 00:00:00"))
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "4096"))
    try t.compact()
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val files = graft.bitemporal.ChunkMetadata
      .forPaths(spark, Seq(s"$dir/base"))
      .filter(col("column") === "region")
      .groupBy(col("file"))
      .agg(min(col("min")).as("mn"), max(col("max")).as("mx"))
      .collect()
    assert(files.length >= 4,
      s"string clusterBy degenerated to ${files.length} file(s)")
    // most files' [min,max] exclude a given region value
    val admit = files.count(r =>
      r.getString(1) <= "r5" && r.getString(2) >= "r5").toDouble
    assert(admit / files.length <= 0.5,
      s"$admit of ${files.length} files admit region=r5")
    // content parity survives the layout
    assert(t.current().count() == 4000)
  }

  test("clusterBy containing a DATE payload column compacts via z-order") {
    // Spark 4 rejects DATE → DOUBLE; before the zNumeric fix this
    // configuration threw AnalysisException on EVERY compact(), so the
    // table could never compact at all under a date clustering
    val dir = java.nio.file.Files.createTempDirectory("graft_datec").toString
    val t = new GraftTable(spark, dir, Seq("ship_date", "qty"),
      clusterBy = Seq("ship_date", "qty"))
    val rows = spark.range(16000).select($"id",
      date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        ($"id" % 365).cast("int")).as("sd"),
      ($"id" % 50).cast("double").as("q"))
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("ship_date" -> $"sd", "qty" -> $"q"), ts("2024-01-01 00:00:00"))
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "4096"))
    try t.compact()
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(t.current().count() == 16000)
    // the z-layout delivers tight per-file date stats (pruning works)
    val files = graft.bitemporal.ChunkMetadata
      .forPaths(spark, Seq(s"$dir/base"))
      .filter(col("column") === "ship_date")
      .groupBy(col("file"))
      .agg(min(col("min")).as("mn"), max(col("max")).as("mx"))
      .collect()
    assert(files.length >= 4,
      s"date clusterBy degenerated to ${files.length} file(s)")
    // parquet footers render DATE stats as ISO strings (lexicographic
    // order == date order). AQE settles on ~4 files here, so the 2-D
    // z-tiling is coarse — assert real pruning (at least one file's
    // range excludes the probe date), not a tight fraction
    val admit = files.count(r =>
      r.getString(1) <= "2020-03-01" && r.getString(2) >= "2020-03-01")
    assert(admit < files.length,
      s"$admit of ${files.length} files admit 2020-03-01 — no pruning")
  }

  test("entity point read prunes to the id's file via min/max clustering") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val t = new GraftTable(spark, dir, Seq("price"))
    val rows = spark.range(4000).select($"id", ($"id" * 1.0).as("price"))
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price"), ts("2024-01-01 00:00:00"))
    // production lets AQE size base files (one file for a table this
    // small); shrink its size targets so the write splits and the
    // pruning is observable. parallelismFirst coalesces down to
    // minPartitionSize, so that is the one that must shrink.
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "4096"))
    try t.compact()
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // base layout: several files per _sys_date partition, each a narrow
    // sorted id range
    val baseFiles = new java.io.File(s"$dir/base").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    assert(baseFiles.length > 1, "expected a multi-file clustered base")

    // the id filter is pushed to the parquet scan...
    val probe = t.rectangles().filter(col("_id") === 1234L)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(_id,1234)"), plan)

    // ...and the sorted layout lets row-group stats skip the other
    // files: records actually read ~ one file's rows, not the table
    var records = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized { records += e.taskMetrics.inputMetrics.recordsRead }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(t.entity(1234L).map(_.getAs[Double]("price")) == Some(1234.0))
      // let the listener bus drain
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1L
      while (System.nanoTime() < deadline && records != last) {
        last = records; Thread.sleep(300)
      }
      assert(records > 0, "listener saw no input metrics")
      assert(records <= 2000,
        s"point read touched $records records — min/max pruning lost " +
          "(full base would be 4000)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("entity consults chunk metadata: point read opens only covering files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_metaprune").toString
    val t = new GraftTable(spark, dir, Seq("price"))
    val rows = spark.range(4000).select($"id", ($"id" * 1.0).as("price"))
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price"), ts("2024-01-01 00:00:00"))
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "4096"))
    try t.compact()
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // a tail tx AFTER compaction touching ONE unrelated id
    t.put(rows.filter($"id" === 3999), $"id",
      lit("2021-01-01").cast("timestamp"), None,
      Seq("price" -> ($"price" + 1)), ts("2024-01-02 00:00:00"))

    val baseFiles = new java.io.File(s"$dir/base").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    assert(baseFiles.length > 1, "expected a multi-file clustered base")
    val totalFiles = baseFiles.length +
      new java.io.File(s"$dir/log").listFiles().length

    // untouched id: the read consults the footer metadata FIRST and
    // opens only the base file(s) whose _id range covers it — never
    // the log tail, and fewer files than the table has
    val opened = t.entityScanFiles(1234L)
    assert(opened.nonEmpty)
    assert(opened.forall(_.contains("/base/")),
      s"untouched id must be served from base only, opened: $opened")
    assert(opened.size < baseFiles.length,
      s"metadata pruning opened ${opened.size} of ${baseFiles.length} " +
        "base files — no pruning happened")
    assert(t.entity(1234L).map(_.getAs[Double]("price")) == Some(1234.0))

    // touched id: full history re-fold, but STILL only the log files
    // covering the id (both txs here), never the whole table
    val openedTouched = t.entityScanFiles(3999L)
    assert(openedTouched.exists(_.contains("/log/")))
    assert(openedTouched.size < totalFiles)
    assert(t.entity(3999L).map(_.getAs[Double]("price")) == Some(3999.0 + 1))

    // absent id beyond every file's range: zero files opened
    assert(t.entityScanFiles(999999L).isEmpty)
    assert(t.entity(999999L).isEmpty)
  }

  test("entity metadata cache is LRU-bounded; pruning unchanged under eviction") {
    // the 100x watch item: a table's base file count is unbounded over
    // its life, so the per-file _id range cache must not grow with it.
    // Cap the cache far below the table's file count and prove point
    // reads still prune exactly — eviction costs a footer re-read,
    // never correctness.
    val dir = java.nio.file.Files.createTempDirectory("graft_lru").toString
    spark.conf.set("spark.graft.entity.metaCacheSize", "2")
    try {
      val t = new GraftTable(spark, dir, Seq("price"))
      val rows = spark.range(4000).select($"id", ($"id" * 1.0).as("price"))
      t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
        Seq("price" -> $"price"), ts("2024-01-01 00:00:00"))
      val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize")
      val old = keys.map(k => k -> spark.conf.getOption(k))
      keys.foreach(spark.conf.set(_, "4096"))
      try t.compact()
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      val baseFiles = new java.io.File(s"$dir/base").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".parquet"))
      assert(baseFiles.length > 2,
        s"need more base files than the cache cap, got ${baseFiles.length}")

      // sweep point reads across the id range: every read prunes and
      // answers correctly while the cache NEVER exceeds its cap
      Seq(10L, 1500L, 2500L, 3900L, 10L, 3000L).foreach { id =>
        val opened = t.entityScanFiles(id)
        assert(opened.nonEmpty && opened.size < baseFiles.length,
          s"no pruning for id $id: ${opened.size} of ${baseFiles.length}")
        assert(t.entity(id).map(_.getAs[Double]("price")) == Some(id * 1.0))
        assert(t.idRangeCacheSize <= 2,
          s"cache grew past cap: ${t.idRangeCacheSize}")
      }
      // absent id: still exact (no stale pruning ranges survive eviction)
      assert(t.entityScanFiles(999999L).isEmpty)
    } finally spark.conf.unset("spark.graft.entity.metaCacheSize")
  }

  test("incremental compaction rewrites ONLY affected _sys_date partitions") {
    import graft.bitemporal.{TxLog, TxOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_partcompact").toString
    val log = new TxLog(dir)
    def put(ids: Seq[Long], sysTime: String, bump: Double = 0.0) = {
      val rows = ids.toDF("id").select($"id", ($"id" * 1.0 + bump).as("price"))
      log.append(TxOps.put(rows, $"id", lit("2020-01-01").cast("timestamp"),
        None, Seq("price" -> $"price")), ts(sysTime))
    }
    // two system dates -> two base partitions
    put(Seq(1L, 2L), "2024-01-01 00:00:00")
    put(Seq(10L, 11L), "2024-01-02 00:00:00")
    val lastFull = log.compact(spark, Seq("price"))
    def partFiles(d: String): Map[String, Long] = {
      val p = new java.io.File(s"$dir/base/_sys_date=$d")
      Option(p.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val day1Before = partFiles("2024-01-01")
    val day2Before = partFiles("2024-01-02")
    assert(day1Before.nonEmpty && day2Before.nonEmpty)

    // a tail tx on day 3 touching ONLY id 10 (whose history lives in
    // the day-2 partition)
    put(Seq(10L), "2024-01-03 00:00:00", bump = 100.0)
    val lastInc = log.compact(spark, Seq("price"))
    assert(lastInc > lastFull)

    // day-1 partition: byte-identical files (names AND mtimes) — the
    // partition-scoped rewrite never touched it
    assert(partFiles("2024-01-01") == day1Before,
      "untouched partition was rewritten")
    // day-2 rewritten (id 10's old rows closed), day-3 created
    assert(partFiles("2024-01-02") != day2Before)
    assert(partFiles("2024-01-03").nonEmpty)

    // and the data is right: id 10 now 110.0, others untouched
    val state = graft.bitemporal.Bitemporal
      .currentState(log.readBase(spark).drop("_sys_date"))
      .select($"_id", $"price").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state == Map(1L -> 1.0, 2L -> 2.0, 10L -> 110.0, 11L -> 11.0))
  }

  test("exportArrowChunks: rectangle history round-trips through arrow") {
    val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
    val t = new GraftTable(spark, dir, Seq("price"))
    val rows = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "price")
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price"), ts("2024-01-01 00:00:00"))
    t.put(rows.filter($"id" === 1), $"id",
      lit("2021-01-01").cast("timestamp"), None,
      Seq("price" -> ($"price" + 10)), ts("2024-01-02 00:00:00"))
    val out = java.nio.file.Files.createTempDirectory("graft_chunks").toString
    val paths = t.exportArrowChunks(out)
    assert(paths.nonEmpty && paths.forall(_.endsWith(".arrow")))
    val back = graft.sources.ArrowSource.read(spark, paths)
    val want = t.rectangles()
    assert(back.count() == want.count())
    assert(back.columns.sorted.toSeq == want.columns.sorted.toSeq)
    // id 1's full bitemporal history: the superseded system-time version
    // plus the two current valid-time pieces = 3 rectangles
    assert(back.filter(col("_id") === 1).count() == 3)
  }

  test("readAllAuto(upToTx): tx-id snapshot excludes later transactions") {
    import graft.bitemporal.{TxLog, TxOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_upto").toString
    val log = new TxLog(dir)
    def putBal(id: Long, bal: Double, at: String): Long =
      log.append(TxOps.put(Seq((id, bal)).toDF("id", "bal"), $"id",
        lit("2020-01-01").cast("timestamp"), None, Seq("bal" -> $"bal")),
        ts(at))
    val t0 = putBal(1L, 10.0, "2024-01-01 00:00:00")
    putBal(1L, 20.0, "2024-01-02 00:00:00")
    putBal(2L, 30.0, "2024-01-03 00:00:00")
    def visibleAt(upTo: Long): Map[Long, Double] =
      graft.bitemporal.Bitemporal.currentState(
          log.readAll(spark, Seq("bal"), upToTx = upTo))
        .select(col("_id").cast("long"), col("bal"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the bound is what closes the matview refresh race: a reader that
    // recorded watermark N must fold EXACTLY the txs <= N, even if the
    // directory now holds later ones
    assert(visibleAt(t0) == Map(1L -> 10.0))
    assert(visibleAt(t0 + 1) == Map(1L -> 20.0))
    assert(visibleAt(Long.MaxValue) == Map(1L -> 20.0, 2L -> 30.0))
    // and the bound composes with a compacted base: compact at t0+1,
    // then the bound beyond the base watermark folds base + bounded tail
    log.compact(spark, Seq("bal"))
    putBal(2L, 40.0, "2024-01-04 00:00:00")
    assert(visibleAt(t0 + 2) == Map(1L -> 20.0, 2L -> 30.0))
    assert(visibleAt(Long.MaxValue) == Map(1L -> 20.0, 2L -> 40.0))
  }

  test("readAll: concurrent compaction past the snapshot bound is detected") {
    import graft.bitemporal.{TxLog, TxOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_race").toString
    val log = new TxLog(dir)
    def putBal(id: Long, bal: Double, at: String): Long =
      log.append(TxOps.put(Seq((id, bal)).toDF("id", "bal"), $"id",
        lit("2020-01-01").cast("timestamp"), None, Seq("bal" -> $"bal")),
        ts(at))
    val t0 = putBal(1L, 10.0, "2024-01-01 00:00:00")
    putBal(1L, 20.0, "2024-01-02 00:00:00")
    putBal(2L, 30.0, "2024-01-03 00:00:00")
    // a racing maintainer compacts the base PAST a snapshot another
    // reader recorded — the base now bakes in txs the snapshot must
    // exclude, and simply subtracting the tail can't undo a fold
    val bw = log.compact(spark, Seq("bal"))
    assert(bw == t0 + 2)
    def stateAt(upTo: Long): Map[Long, Double] =
      graft.bitemporal.Bitemporal.currentState(
          log.readAll(spark, Seq("bal"), upToTx = upTo))
        .select(col("_id").cast("long"), col("bal"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // while the log prefix survives, the snapshot refolds from it
    assert(stateAt(t0) == Map(1L -> 10.0))
    assert(stateAt(t0 + 1) == Map(1L -> 20.0))
    // ...and a bound at/above the watermark serves from the base as usual
    assert(stateAt(bw) == Map(1L -> 20.0, 2L -> 30.0))
    // after truncation the snapshot is unrecoverable: loud error, not
    // silent double-counting
    log.truncate(bw)
    val e = intercept[IllegalArgumentException] { stateAt(t0) }
    assert(e.getMessage.contains("unrecoverable"), e.getMessage)
    assert(stateAt(Long.MaxValue) == Map(1L -> 20.0, 2L -> 30.0))
  }

  test("appendBulk: N-way parallel tx write, same semantics as append") {
    import graft.bitemporal.{Bitemporal, TxLog, TxOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_bulk").toString
    val log = new TxLog(dir)
    val rows = (1L to 1000L).map(i => (i, i * 1.5)).toDF("id", "bal")

    // bulk load as tx 0 across 4 tasks, then a small append as tx 1
    val tx0 = log.appendBulk(TxOps.put(rows, $"id",
      lit("2020-01-01").cast("timestamp"), None, Seq("bal" -> $"bal")),
      ts("2024-01-01 00:00:00"), partitions = 4)
    val tx1 = log.append(TxOps.put(rows.filter($"id" === 1), $"id",
      lit("2021-01-01").cast("timestamp"), None,
      Seq("bal" -> ($"bal" + 1))), ts("2024-01-02 00:00:00"))
    assert(tx0 == 0L && tx1 == 1L, "tx ids stay monotonic across both paths")

    // the bulk tx directory really has N part files (the parallel write)
    val parts = new java.io.File(s"$dir/log")
      .listFiles().filter(_.getName.startsWith("tx_000000000")).head
      .listFiles().count(_.getName.startsWith("part-"))
    assert(parts == 4, s"expected 4 part files in the bulk tx, got $parts")

    // fold + asOf see the bulk rows exactly like appended ones
    log.compact(spark, Seq("bal"))
    val cur = Bitemporal.asOf(log.readBase(spark),
      validTime = lit("2022-01-01").cast("timestamp"),
      systemTime = lit("2024-06-01").cast("timestamp"))
    assert(cur.count() == 1000L)
    assert(cur.filter($"_id" === 1).select("bal").as[Double].head() == 2.5)
  }

  test("INSERT with a payload-column subset null-fills from the log schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_subset").toString
    val t = new GraftTable(spark, dir, Seq("bal", "note"))
    // the FIRST insert must carry every payload column (types unknown)
    intercept[IllegalArgumentException] {
      t.dml("acct", "INSERT INTO acct (_id, bal) VALUES (1, 1.0D)",
        ts("2020-01-01 00:00:00"))
    }
    t.dml("acct", """INSERT INTO acct (_id, bal, note)
      VALUES (1, 1.0D, 'full')""", ts("2020-01-01 00:00:00"))
    // afterwards a subset insert works: `note` null-fills as a STRING
    t.dml("acct", "INSERT INTO acct (_id, bal) VALUES (2, 2.0D)",
      ts("2020-01-02 00:00:00"))
    val got = t.current().select($"_id", $"bal", $"note")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.isNullAt(2))))
      .toMap
    assert(got == Map(1L -> ((1.0, false)), 2L -> ((2.0, true))))
  }

  test("DML writes take the log's column types: an INT literal SET or " +
      "INSERTed into a BIGINT column keeps the table readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_typed").toString
    val t = new GraftTable(spark, dir, Seq("code", "tag"))
    t.dml("acct", "INSERT INTO acct (_id, code, tag) VALUES " +
      "(1, CAST(100 AS BIGINT), 'a'), (2, CAST(200 AS BIGINT), 'b')",
      ts("2020-01-01 00:00:00"))
    t.dml("acct", "UPDATE acct SET code = 300 WHERE _id = 1",
      ts("2020-01-02 00:00:00"))
    t.dml("acct", "INSERT INTO acct (_id, code, tag) VALUES (3, 300, 'c')",
      ts("2020-01-03 00:00:00"))
    val cur = t.current().select($"_id", $"code").orderBy($"_id")
    assert(cur.schema("code").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(cur.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(1L -> 300L, 2L -> 200L, 3L -> 300L))
  }

  test("vacuumLog: truncated log, base is source of truth, fresh instance intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val t = new GraftTable(spark, dir, Seq("bal"))
    t.dml("acct", """INSERT INTO acct (_id, _valid_from, bal) VALUES
      (1, TIMESTAMP '2020-01-01 00:00:00', CAST(10.0 AS DOUBLE)),
      (2, TIMESTAMP '2020-01-01 00:00:00', CAST(20.0 AS DOUBLE))""",
      ts("2020-01-01 00:00:00"))
    t.dml("acct", "UPDATE acct SET bal = CAST(11.0 AS DOUBLE) WHERE _id = 1",
      ts("2020-01-02 00:00:00"))
    t.vacuumLog()
    // every pre-watermark tx file is GONE
    val logFiles = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "log")).toArray.map(_.toString)
    assert(!logFiles.exists(_.contains("tx_")), s"tx files remain: ${logFiles.toSeq}")

    // a FRESH instance over the truncated directory: reads, time travel
    // and point reads all come from the base
    val t2 = new GraftTable(spark, dir, Seq("bal"))
    def cur(t: GraftTable): Seq[(Long, Option[Double])] =
      t.current().select("_id", "bal").collect()
        .map(r => (r.getLong(0),
          Option(r.get(1)).map(_.asInstanceOf[Double]))).sortBy(_._1).toSeq
    assert(cur(t2) == Seq((1L, Some(11.0)), (2L, Some(20.0))))
    assert(t2.asOf(ts("2020-01-01 12:00:00"), ts("2020-01-01 12:00:00"))
      .filter($"_id" === 1).select($"bal").collect().map(_.getDouble(0)).toSeq
      == Seq(10.0), "time travel to the truncated prefix still works (base keeps history)")
    assert(t2.entity(1L).map(_.getAs[Double]("bal")) == Some(11.0))

    // new writes after truncation: tx ids continue past the watermark,
    // read-your-writes works, subset INSERT types resolve from the BASE
    t2.dml("acct", "INSERT INTO acct (_id) VALUES (3)",
      ts("2020-01-03 00:00:00"))
    assert(cur(t2).map(_._1) == Seq(1L, 2L, 3L))
    assert(t2.entity(3L).isDefined)
    t2.dml("acct", "UPDATE acct SET bal = CAST(12.0 AS DOUBLE) WHERE _id = 1",
      ts("2020-01-04 00:00:00"))
    assert(cur(t2).take(1) == Seq((1L, Some(12.0))))
    // compact + vacuum again — repeatable lifecycle
    t2.vacuumLog()
    val t3 = new GraftTable(spark, dir, Seq("bal"))
    assert(cur(t3) == Seq((1L, Some(12.0)), (2L, Some(20.0)), (3L, None)))
    assert(t3.entity(1L).map(_.getAs[Double]("bal")) == Some(12.0))
  }

  test("autoCompactEvery bounds the tail: compaction triggers itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft_autoc").toString
    val t = new GraftTable(spark, dir, Seq("bal"), autoCompactEvery = 2)
    def baseFiles(): Long = {
      val base = java.nio.file.Paths.get(dir, "base")
      if (!java.nio.file.Files.exists(base)) -1L
      else java.nio.file.Files.walk(base).filter(_.toString.endsWith(".parquet"))
        .count()
    }
    t.dml("acct", "INSERT INTO acct (_id, bal) VALUES (1, CAST(10.0 AS DOUBLE))",
      ts("2020-01-01 00:00:00"))
    assert(baseFiles() == -1L, "one tx: below the threshold, no compaction")
    t.dml("acct", "INSERT INTO acct (_id, bal) VALUES (2, CAST(20.0 AS DOUBLE))",
      ts("2020-01-02 00:00:00"))
    assert(baseFiles() > 0, "second tx reached the threshold: base exists")
    t.dml("acct", "UPDATE acct SET bal = CAST(11.0 AS DOUBLE) WHERE _id = 1",
      ts("2020-01-03 00:00:00"))
    // third tx: tail = 1 < 2, NOT compacted again — state must still be
    // exact through the base + tail union
    val got = t.current().select("_id", "bal").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 11.0), (2L, 20.0)))
    // default stays manual: no base ever appears without opting in
    val dir2 = java.nio.file.Files.createTempDirectory("graft_autoc2").toString
    val t2 = new GraftTable(spark, dir2, Seq("bal"))
    t2.dml("acct", "INSERT INTO acct (_id, bal) VALUES (1, CAST(1.0 AS DOUBLE))",
      ts("2020-01-01 00:00:00"))
    t2.dml("acct", "INSERT INTO acct (_id, bal) VALUES (2, CAST(2.0 AS DOUBLE))",
      ts("2020-01-02 00:00:00"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir2, "base")))
  }

  test("dmlTx: several statements, one atomic transaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dmltx").toString
    val t = new GraftTable(spark, dir, Seq("bal"))
    t.dml("acct", """INSERT INTO acct (_id, bal)
      VALUES (1, CAST(100.0 AS DOUBLE)), (2, CAST(200.0 AS DOUBLE)),
             (3, CAST(300.0 AS DOUBLE))""", ts("2020-01-01 00:00:00"))

    // one tx: update id 1, delete id 2, insert id 4
    val txId = t.dmlTx("acct", Seq(
      "UPDATE acct SET bal = bal + 1 WHERE _id = 1",
      "DELETE FROM acct WHERE _id = 2",
      "INSERT INTO acct (_id, bal) VALUES (4, CAST(400.0 AS DOUBLE))"),
      ts("2020-02-01 00:00:00"))
    assert(txId == 1L, "three statements consumed ONE tx id")

    def state(at: String) =
      t.asOf(ts(at), ts(at)).select($"_id", $"bal").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // before the tx: none of the three effects
    assert(state("2020-01-15 00:00:00") ==
      Map(1L -> 100.0, 2L -> 200.0, 3L -> 300.0))
    // after: ALL of them, atomically at one system time
    assert(state("2020-03-01 00:00:00") ==
      Map(1L -> 101.0, 3L -> 300.0, 4L -> 400.0))

    // snapshot reads: an UPDATE does not see a sibling INSERT's rows
    val tx2 = t.dmlTx("acct", Seq(
      "INSERT INTO acct (_id, bal) VALUES (5, CAST(500.0 AS DOUBLE))",
      "UPDATE acct SET bal = 0.0 WHERE _id = 5"), ts("2020-04-01 00:00:00"))
    assert(tx2 == 2L)
    assert(state("2020-05-01 00:00:00")(5L) == 500.0,
      "statement 2 read the pre-tx snapshot, so id 5 keeps its inserted bal")
  }

  test("dmlTx rejects overlapping writes to one id within a transaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dmlov").toString
    val t = new GraftTable(spark, dir, Seq("bal"))
    t.dml("acct", """INSERT INTO acct (_id, bal)
      VALUES (1, CAST(100.0 AS DOUBLE)), (2, CAST(200.0 AS DOUBLE))""",
      ts("2020-01-01 00:00:00"))

    // two UPDATEs of the same id: both ops would write full-width
    // rectangles at ONE system time — the fold invariant the advisor
    // flagged; must fail before the tx is acknowledged
    val e1 = intercept[IllegalArgumentException] {
      t.dmlTx("acct", Seq(
        "UPDATE acct SET bal = CAST(1.0 AS DOUBLE) WHERE _id = 1",
        "UPDATE acct SET bal = CAST(2.0 AS DOUBLE) WHERE _id = 1"), ts("2020-02-01 00:00:00"))
    }
    assert(e1.getMessage.contains("overlapping valid intervals"))

    // ERASE mixed with another write on the same id: no coherent meaning
    val e2 = intercept[IllegalArgumentException] {
      t.dmlTx("acct", Seq(
        "ERASE FROM acct WHERE _id = 2",
        "UPDATE acct SET bal = CAST(9.0 AS DOUBLE) WHERE _id = 2"), ts("2020-02-01 00:00:00"))
    }
    assert(e2.getMessage.contains("ERASE"))

    // a single INSERT with duplicate ids is the same hazard
    val e3 = intercept[IllegalArgumentException] {
      t.dml("acct", """INSERT INTO acct (_id, bal)
        VALUES (7, CAST(1.0 AS DOUBLE)), (7, CAST(2.0 AS DOUBLE))""",
        ts("2020-02-01 00:00:00"))
    }
    assert(e3.getMessage.contains("overlapping valid intervals"))

    // rejected txs left NO trace: the log still has only the seed tx
    assert(t.current().count() == 2)

    // disjoint FOR PORTION OF intervals on one id are legal in one tx
    t.dmlTx("acct", Seq(
      """UPDATE acct FOR PORTION OF APPLICATION_TIME
         FROM '2021-01-01 00:00:00' TO '2022-01-01 00:00:00'
         SET bal = CAST(111.0 AS DOUBLE) WHERE _id = 1""",
      """UPDATE acct FOR PORTION OF APPLICATION_TIME
         FROM '2022-01-01 00:00:00' TO '2023-01-01 00:00:00'
         SET bal = CAST(222.0 AS DOUBLE) WHERE _id = 1"""), ts("2020-03-01 00:00:00"))
    def balAt(valid: String) =
      t.asOf(ts(valid), ts("2020-04-01 00:00:00"))
        .filter($"_id" === 1).select($"bal").collect().map(_.getDouble(0)).toSeq
    assert(balAt("2021-06-01 00:00:00") == Seq(111.0))
    assert(balAt("2022-06-01 00:00:00") == Seq(222.0))
    assert(balAt("2023-06-01 00:00:00") == Seq(100.0))
  }

  test("concurrent appenders: distinct tx ids, no lost transactions") {
    import graft.bitemporal.{TxLog, TxOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_conc").toString
    // two TxLog instances over ONE directory (the Spark Connect shape:
    // concurrent gRPC handlers, possibly distinct facade instances)
    val logs = Seq(new TxLog(dir), new TxLog(dir))
    val threads = 8
    val perThread = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    try {
      val futures = (0 until threads).map { ti =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val rows = Seq((ti.toLong, 1.0)).toDF("id", "price")
            val ops = TxOps.put(rows, $"id", lit("2020-01-01").cast("timestamp"),
              None, Seq("price" -> $"price"))
            for (_ <- 0 until perThread)
              ids.add(logs(ti % 2).append(ops, ts("2024-01-01 00:00:00")))
          }
        })
      }
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()

    val total = threads * perThread
    assert(ids.size == total,
      s"every append acknowledged a UNIQUE tx id (got ${ids.size}/$total)")
    val log = logs.head
    assert(log.txFiles().size == total, "no transaction was overwritten")
    assert(log.read(spark).count() == total, "every tx's rows survive")
    assert(log.read(spark).select($"_tx_id").distinct().count() == total)
  }

  test("abandoned tx claim: id never reused, invisible to readers") {
    import graft.bitemporal.{TxLog, TxOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_claim").toString
    val log = new TxLog(dir)
    val rows = Seq((1L, 1.0)).toDF("id", "price")
    val ops = TxOps.put(rows, $"id", lit("2020-01-01").cast("timestamp"),
      None, Seq("price" -> $"price"))
    assert(log.append(ops, ts("2024-01-01 00:00:00")) == 0L)
    // a crashed writer's claim: directory exists, no _SUCCESS ever lands
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "log", "tx_000000001.parquet"))
    // readers skip it; the next append claims PAST it (the dead writer
    // may have acknowledged id 1 before dying — never reuse it)
    assert(log.txFiles().size == 1, "uncommitted claim invisible")
    assert(log.append(ops, ts("2024-01-02 00:00:00")) == 2L)
    assert(log.read(spark).count() == 2)
    assert(log.compact(spark, Seq("price")) == 2L)
  }

  test("log and base carry _id bloom filters; blooms skip what stats can't") {
    import graft.bitemporal.{TxLog, TxOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val log = new TxLog(dir)
    // SHUFFLED ids: every row group's min/max spans ~the whole id range,
    // so stat pruning is useless by construction — any skip is the bloom
    val rows = spark.range(4000)
      .orderBy(xxhash64($"id")).select($"id", ($"id" * 1.0).as("price"))
    // small row groups so one tx file holds several (prod default 128 MB)
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.set("parquet.block.size", "16384")
    try log.append(TxOps.put(rows, $"id", lit("2020-01-01").cast("timestamp"),
      None, Seq("price" -> $"price")), ts("2024-01-01 00:00:00"))
    finally oldBlock.fold(hc.unset("parquet.block.size"))(
      hc.set("parquet.block.size", _))
    log.compact(spark, Seq("price"))

    // footers: both layouts publish a bloom on _id
    def bloomOffsets(f: java.io.File): Seq[Long] = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), hc)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.toSeq.map(
          _.getColumns.asScala.find(_.getPath.toDotString == "_id").get
            .getBloomFilterOffset)
      } finally r.close()
    }
    def parquetFiles(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(parquetFiles)
    }
    val txGroups = parquetFiles(new java.io.File(s"$dir/log"))
      .flatMap(bloomOffsets)
    assert(txGroups.size > 3, s"expected several row groups, got $txGroups")
    assert(txGroups.forall(_ > 0), s"tx row group missing _id bloom: $txGroups")
    assert(parquetFiles(new java.io.File(s"$dir/base"))
      .flatMap(bloomOffsets).forall(_ > 0), "base row group missing _id bloom")

    // read side: a point read over the shuffled LOG touches a fraction
    // of the rows — row groups the bloom rejects are never decoded
    var records = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized { records += e.taskMetrics.inputMetrics.recordsRead }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(log.read(spark).filter($"_id" === 1234L).count() == 1)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1L
      while (System.nanoTime() < deadline && records != last) {
        last = records; Thread.sleep(300)
      }
      assert(records > 0, "listener saw no input metrics")
      assert(records < 4000,
        s"point read decoded $records of 4000 rows — bloom skip lost " +
          "(shuffled ids make min/max useless here)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("metadata(): footer-derived min/max + bloom presence replay pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val t = new GraftTable(spark, dir, Seq("price"))
    t.put(spark.range(4000).select($"id", ($"id" * 1.0).as("price")),
      $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price"), ts("2024-01-01 00:00:00"))
    // shrink AQE sizing so the base splits into several id-clustered files
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "4096"))
    try t.compact()
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    val meta = t.metadata().cache()
    // every _id row group is point-skippable (bloom, or fully
    // dictionary-encoded where parquet deliberately omits the bloom)
    assert(meta.filter($"column" === "_id" &&
      !$"has_bloom" && !$"dict_encoded").count() == 0)
    // replay the planner's file pruning from metadata alone: candidate
    // base files for _id = 1234 must be a strict subset of the base
    val idMeta = meta.filter($"column" === "_id" &&
      $"file".contains("/base/")).select($"file", $"min", $"max").collect()
    assert(idMeta.length > 1, "expected a multi-file clustered base")
    val candidates = idMeta.filter(r =>
      r.getString(1).toLong <= 1234L && 1234L <= r.getString(2).toLong)
    assert(candidates.length == 1,
      s"clustering should pin _id=1234 to ONE file, got ${candidates.length}")
    // min/max are tight per file (clustered, sorted ranges don't overlap)
    val ranges = idMeta.map(r => (r.getString(1).toLong, r.getString(2).toLong))
      .sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    }, s"base id ranges overlap: ${ranges.toSeq}")
    meta.unpersist()
  }

  test("erase removes full history at compaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_erase").toString
    val t = new GraftTable(spark, dir, Seq("price"))
    val rows = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "price")
    t.put(rows, $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price"), ts("2024-01-01 00:00:00"))
    t.erase(rows.filter($"id" === 1), $"id",
      Seq("price" -> lit(null).cast("double")), ts("2024-01-02 00:00:00"))
    t.compact()
    // even queries at a basis BEFORE the erase see nothing of id 1
    assert(t.asOf(ts("2020-06-01 00:00:00"), ts("2024-01-01 12:00:00"))
      .select($"_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }
}
