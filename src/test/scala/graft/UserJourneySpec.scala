package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One continuous session exercising the surface the way a reference
  * (xtdb/core2) user actually works — each step consumes the previous
  * step's state, so this catches integration seams the per-component
  * specs can't (facade wiring, basis consistency across APIs, SQL
  * front-end against a live table). Fixture-scale data; every
  * assertion is exact.
  */
class UserJourneySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("operate for a week: auto-compact -> matview -> vacuum -> restart -> audit") {
    // the operational loop a production deployment runs: continuous DML
    // with a bounded tail, an incrementally-maintained view, periodic
    // log retention, process restarts between all of it — and the audit
    // diff at the end sees exactly the week's net change
    val dir = java.nio.file.Files.createTempDirectory("graft_ops").toString
    val t = new GraftTable(spark, dir, Seq("grp", "amt"), autoCompactEvery = 3)
    def day(d: Int) = ts(f"2024-01-$d%02d 00:00:00")

    // day 1: initial load; days 2-6: one tx per day (updates + a delete)
    t.put(spark.range(1, 41).select($"id",
        concat(lit("g"), $"id" % 4).as("g"), ($"id" * 10.0).as("m")),
      $"id", lit("2024-01-01").cast("timestamp"), None,
      Seq("grp" -> $"g", "amt" -> $"m"), day(1))
    val mv = t.matview("weekly", Seq("grp"), Seq("amt"),
      validAt = ts("2030-01-01 00:00:00"), nBuckets = Some(4))
    for (d <- 2 to 6) {
      if (d % 2 == 0)
        t.dml("acct", s"UPDATE acct SET amt = CAST(${d * 100}.0 AS DOUBLE) " +
          s"WHERE _id = ${d}", day(d))
      else
        t.dml("acct", s"DELETE FROM acct WHERE _id = ${d + 20}", day(d))
      mv.refresh()
    }
    // matview parity with a from-scratch recompute, through auto-compacts
    def recompute() = graft.bitemporal.Bitemporal.asOf(t.rectangles(),
        lit(ts("2030-01-01 00:00:00")), lit(ts("2029-01-01 00:00:00")))
      .groupBy($"grp").agg(count(lit(1)).as("n"), sum($"amt").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def view() = mv.read().collect()
      .map(r => (r.getString(r.fieldIndex("grp")),
        r.getLong(r.fieldIndex("n")),
        r.getDouble(r.fieldIndex("sum_amt")))).toSet
    assert(view() == recompute())

    // day 7: retention — compact + truncate, then RESTART the process
    t.vacuumLog()
    val t2 = new GraftTable(spark, dir, Seq("grp", "amt"), autoCompactEvery = 3)
    assert(t2.current().count() == 40 - 2) // deletes on days 3 and 5

    // the week's audit: what changed between day 1 and day 7 beliefs —
    // visible entirely from the truncated table
    val diff = graft.bitemporal.Bitemporal.sysDiff(t2.rectangles(),
        validTime = lit(ts("2024-01-06 12:00:00")),
        s1 = lit(day(1)), s2 = lit(day(7)),
        payloadCols = Seq("grp", "amt"))
      .collect().map(r => (r.getLong(r.fieldIndex("_id")),
        r.getString(r.fieldIndex("change")))).toSet
    assert(diff == Set((2L, "updated"), (4L, "updated"), (6L, "updated"),
      (23L, "removed"), (25L, "removed")))

    // life goes on after restart + truncation: more DML, more refresh
    t2.dml("acct", "UPDATE acct SET amt = CAST(999.0 AS DOUBLE) WHERE _id = 1",
      ts("2024-01-08 00:00:00"))
    assert(t2.entity(1L).map(_.getAs[Double]("amt")) == Some(999.0))
    assert(mv.refresh().head >= 0)
    assert(view() == recompute2(t2))
  }

  private def recompute2(t: GraftTable) =
    graft.bitemporal.Bitemporal.asOf(t.rectangles(),
        lit(ts("2030-01-01 00:00:00")), lit(ts("2029-01-01 00:00:00")))
      .groupBy($"grp").agg(count(lit(1)).as("n"), sum($"amt").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  test("ingest -> time travel -> SQL -> period predicates -> metadata -> export") {
    val dir = java.nio.file.Files.createTempDirectory("graft_journey").toString
    val t = new GraftTable(spark, dir, Seq("price"))

    // 1. bulk-load the initial corpus as ONE tx across 4 tasks
    import graft.bitemporal.{TxLog, TxOps}
    val log = new TxLog(dir)
    log.appendBulk(TxOps.put(
      spark.range(1, 1001).select($"id", ($"id" * 1.0).as("price")),
      $"id", lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price")), ts("2024-01-01 00:00:00"), partitions = 4)

    // 2. OLTP-ish tail: SQL DML — one single statement, one multi-
    //    statement atomic tx
    t.dml("prices", "UPDATE prices SET price = price * 2 WHERE _id <= 10",
      ts("2024-02-01 00:00:00"))
    t.dmlTx("prices", Seq(
      "DELETE FROM prices WHERE _id = 1",
      "INSERT INTO prices (_id, price) VALUES (2000, 42.0D)"),
      ts("2024-03-01 00:00:00"))
    t.compact()

    // 3. bases agree across APIs: current(), entity(), SQL, asOf
    assert(t.current().count() == 1000) // 1000 - deleted 1 + inserted 2000
    assert(t.entity(5L).map(_.getAs[Double]("price")).contains(10.0))
    assert(t.entity(1L).isEmpty)
    assert(t.entity(2000L).map(_.getAs[Double]("price")).contains(42.0))

    val asOfFeb = t.asOf(ts("2024-02-15 00:00:00"), ts("2024-02-15 00:00:00"))
    assert(asOfFeb.filter($"_id" === 1).select("price")
      .as[Double].head() == 2.0) // doubled, not yet deleted

    // 4. temporal SQL with clauses AND period predicates over the table
    val viaSql = t.sql("prices",
      """SELECT _id, price FROM prices
         FOR SYSTEM_TIME AS OF '2024-02-15 00:00:00' WHERE _id <= 3
         ORDER BY _id""").collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(viaSql.toSeq == Seq(1L -> 2.0, 2L -> 4.0, 3L -> 6.0))

    val history = t.sql("prices",
      """SELECT count(*) AS n FROM prices
         FOR ALL SYSTEM_TIME FOR ALL APPLICATION_TIME
         WHERE prices.SYSTEM_TIME CONTAINS TIMESTAMP '2024-02-15 00:00:00'
           AND _id = 1""").head().getLong(0)
    // the Feb-1 update SPLIT id 1's validity: the belief held on Feb 15
    // is two rectangles — valid [2020, Feb 1) at the original price and
    // [Feb 1, ∞) doubled
    assert(history == 2, s"expected the split pair at the Feb basis, got $history")

    // 5. the metadata relation sees the compacted base and the log tail
    val meta = t.metadata()
    // every _id chunk is point-skippable: bloom, or full dictionary
    // encoding (parquet omits the bloom there — the dictionary already
    // filters exactly)
    assert(meta.filter($"column" === "_id" &&
      !$"has_bloom" && !$"dict_encoded").count() == 0)
    assert(meta.filter($"file".contains("/base/")).count() > 0)

    // 6. export the full history as arrow chunks and read them back
    val outDir = java.nio.file.Files.createTempDirectory("journey_arrow").toString
    val paths = t.exportArrowChunks(outDir)
    val back = graft.sources.ArrowSource.read(spark, paths)
    assert(back.count() == t.rectangles().count())

    // 7. the write side is safe against races and bad transactions:
    //    a tx with overlapping writes on one id fails BEFORE being
    //    acknowledged, leaving the table exactly as it was
    val before = t.current().count()
    intercept[IllegalArgumentException] {
      t.dmlTx("prices", Seq(
        "UPDATE prices SET price = CAST(1.0 AS DOUBLE) WHERE _id = 5",
        "UPDATE prices SET price = CAST(2.0 AS DOUBLE) WHERE _id = 5"),
        ts("2024-04-01 00:00:00"))
    }
    assert(t.current().count() == before)

    // 8. native Spark time-travel spelling over the same table (plan-
    //    level resolution — no graft text rewrite involved)
    val nativeTT = t.sql("prices",
      """SELECT price FROM prices TIMESTAMP AS OF '2024-02-15 00:00:00'
         WHERE _id = 1""").head().getDouble(0)
    assert(nativeTT == 2.0)

    // 9. a recursive UNION-distinct closure over data DERIVED from the
    //    table — the SQL spelling Spark alone rejects
    t.current().select(($"_id" % 5).as("src"), (($"_id" + 1) % 5).as("dst"))
      .distinct().createOrReplaceTempView("journey_edges")
    val reach = graft.ra.RecursiveSql.sql(spark, """
      WITH RECURSIVE r(node) AS (
        SELECT CAST(0 AS BIGINT)
        UNION
        SELECT e.dst FROM r JOIN journey_edges e ON e.src = r.node)
      SELECT count(*) AS n FROM r""").head().getLong(0)
    assert(reach == 5) // the 0→1→2→3→4→0 cycle closes, and terminates
    spark.catalog.dropTempView("journey_edges")
  }
}
