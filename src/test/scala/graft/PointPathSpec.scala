package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.bitemporal.Bitemporal

/** The point path: `rectanglesOf(ids)` is exactly
  * `rectangles().filter(_id IN ids)` across the table's storage states,
  * and the `_id`-bound reads and DML routed through it answer as the
  * full path does, in one read job. */
class PointPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def at(day: Int, sec: Int = 0) = ts(f"2024-01-$day%02d 00:00:$sec%02d")
  private val cols = Seq("price", "tag")

  private def freshTable(): (GraftTable, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_point").toString
    (new GraftTable(spark, dir, cols), dir)
  }

  private def seed(t: GraftTable, ids: Seq[Long], when: Timestamp): Unit =
    t.put(ids.map(i => (i, i * 10.0, s"t$i")).toDF("id", "price", "tag"), $"id",
      lit("2020-01-01").cast("timestamp"), None,
      Seq("price" -> $"price", "tag" -> $"tag"), when): Unit

  /** A FOR PORTION split of `split`, an update of `upd`, a delete of
    * `del` and an erase of `era`, one tx each, on `day`. */
  private def mutate(t: GraftTable, day: Int,
                     split: Long, upd: Long, del: Long, era: Long): Unit = {
    t.dml("pt", "UPDATE pt FOR PORTION OF APPLICATION_TIME FROM '2021-01-01 00:00:00' " +
      s"TO '2022-01-01 00:00:00' SET price = price * 2 WHERE _id = $split", at(day, 1))
    t.dml("pt", s"UPDATE pt SET tag = 'u$day' WHERE _id = $upd", at(day, 2))
    t.dml("pt", s"DELETE FROM pt WHERE _id = $del", at(day, 3))
    t.dml("pt", s"ERASE FROM pt WHERE _id = $era", at(day, 4)): Unit
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `rectanglesOf` of each id alone and of all of them at once equals
    * the full relation filtered to those ids, schema included. */
  private def assertParity(t: GraftTable, ids: Seq[Long], clue: String): Unit = {
    val full = t.rectangles()
    val byId = full.collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.toSeq.mkString("|")).toSeq }
    (ids.map(Seq(_)) :+ ids).foreach { q =>
      val got = t.rectanglesOf(q)
      assert(got.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"$clue: $q not served by the point path")
      assert(got.schema == full.schema, s"$clue: schema for $q")
      assert(canon(got) == q.flatMap(byId.getOrElse(_, Nil)).sorted,
        s"$clue: rows for $q")
    }
  }

  test("rectanglesOf equals the filtered full relation: fresh, compacted " +
      "and vacuumed logs") {
    val (t, dir) = freshTable()
    seed(t, 1L to 8L, at(1))
    mutate(t, 2, split = 1, upd = 2, del = 3, era = 4)
    val ids = (1L to 8L) :+ 99L
    assertParity(t, ids, "never compacted")

    t.compact()
    // the base's footer-derived schema is the one Spark infers
    assert(new bitemporal.TxLog(dir).readBase(spark).schema ==
      spark.read.parquet(s"$dir/base").schema)
    seed(t, Seq(20L), at(3))
    // the base holds id 1's closed rectangles: a second split, and an
    // erase of an id with base history
    mutate(t, 4, split = 1, upd = 5, del = 6, era = 7)
    assertParity(t, ids :+ 20L, "base + tail")

    t.vacuumLog()
    mutate(t, 5, split = 2, upd = 8, del = 5, era = 20)
    assertParity(t, ids :+ 20L, "truncated log")
    // AS OF a system time inside the vacuumed range sees the old state
    val asOf = t.asOf(ts("2025-01-01 00:00:00"), at(3, 0))
    assert(canon(Bitemporal.asOf(t.rectanglesOf(Seq(2L, 7L)),
        lit(ts("2025-01-01 00:00:00")), lit(at(3, 0)))) ==
      canon(asOf.filter($"_id".isin(2L, 7L))))
  }

  test("rectanglesOf: a payload column added after compaction, and a " +
      "second instance's compaction") {
    val (t, dir) = freshTable()
    seed(t, 1L to 3L, at(1))
    t.compact()
    seed(t, Seq(5L), at(2))
    t.compact()
    val wider = new GraftTable(spark, dir, cols :+ "qty")
    wider.put(Seq((2L, 21.0, "w", 7L), (4L, 40.0, "n", 9L))
        .toDF("id", "price", "tag", "qty"), $"id",
      lit("2020-06-01").cast("timestamp"), None,
      Seq("price" -> $"price", "tag" -> $"tag", "qty" -> $"qty"), at(3))
    val widerIds = Seq(1L, 2L, 3L, 4L, 5L, 99L)
    assertParity(wider, widerIds, "added column")
    // compaction rewrites the partitions the tail touched with the new
    // column and leaves id 5's without it
    wider.compact()
    assertParity(wider, widerIds, "added column, mixed base")

    // `early` opened before any compaction, `t` after the first; a
    // second instance then writes and compacts past both
    val (t2, dir2) = freshTable()
    val early = new GraftTable(spark, dir2, cols)
    seed(t2, 1L to 5L, at(1))
    t2.compact()
    mutate(t2, 2, split = 1, upd = 2, del = 3, era = 4)
    val other = new GraftTable(spark, dir2, cols)
    mutate(other, 3, split = 2, upd = 1, del = 5, era = 3)
    other.compact()
    seed(other, Seq(6L), at(4))
    assertParity(t2, 1L to 6L, "stale instance")
    assertParity(early, 1L to 6L, "never-compacted instance")
    // the peer then VACUUMs and writes once more: the log has lost its
    // prefix, so an instance opened before any compaction must read
    // through the persisted base watermark, not fold what is left of
    // the log
    other.vacuumLog()
    seed(other, Seq(7L), at(5))
    assertParity(early, 1L to 7L, "never-compacted instance, peer VACUUM")
    val truth = new GraftTable(spark, dir2, cols).current().count()
    assert(truth == other.current().count())
    assert(early.current().count() == truth)
  }

  test("id-bound UPDATE/DELETE/ERASE and dmlTx leave the full path's rectangles") {
    val (a, _) = freshTable()
    val (b, _) = freshTable()
    Seq(a, b).foreach { t =>
      seed(t, 1L to 8L, at(1))
      t.compact()
      seed(t, Seq(3L, 9L), at(2))
    }
    // `_id + 0` pins nothing, so `b` runs the full path
    def run(pinned: String, full: String, when: Timestamp): Unit = {
      a.dml("pt", pinned, when); b.dml("pt", full, when): Unit
    }
    run("UPDATE pt SET price = price + 1 WHERE _id = 3 AND price > 0",
      "UPDATE pt SET price = price + 1 WHERE _id + 0 = 3 AND price > 0", at(3, 1))
    run("UPDATE pt SET tag = 'x' WHERE price < 0 AND _id = 4",
      "UPDATE pt SET tag = 'x' WHERE price < 0 AND _id + 0 = 4", at(3, 2))
    run("DELETE FROM pt FOR PORTION OF APPLICATION_TIME FROM '2021-01-01 00:00:00' " +
      "TO '2022-01-01 00:00:00' WHERE _id IN (5, 9)",
      "DELETE FROM pt FOR PORTION OF APPLICATION_TIME FROM '2021-01-01 00:00:00' " +
        "TO '2022-01-01 00:00:00' WHERE _id + 0 IN (5, 9)", at(3, 3))
    run("ERASE FROM pt WHERE _id = 6", "ERASE FROM pt WHERE _id + 0 = 6", at(3, 4))
    a.dmlTx("pt", Seq("INSERT INTO pt (_id, price, tag) VALUES (30, 1.5, 'i')",
      "UPDATE pt FOR PORTION OF APPLICATION_TIME FROM '2021-01-01 00:00:00' " +
        "TO '2022-01-01 00:00:00' SET tag = 'p' WHERE _id = 1",
      "DELETE FROM pt WHERE _id = 2"), at(3, 5))
    b.dmlTx("pt", Seq("INSERT INTO pt (_id, price, tag) VALUES (30, 1.5, 'i')",
      "UPDATE pt FOR PORTION OF APPLICATION_TIME FROM '2021-01-01 00:00:00' " +
        "TO '2022-01-01 00:00:00' SET tag = 'p' WHERE _id + 0 = 1",
      "DELETE FROM pt WHERE _id + 0 = 2"), at(3, 5))
    assert(canon(a.rectangles()) == canon(b.rectangles()))
    // an overlapping write inside one id-bound tx is still refused
    assertThrows[IllegalArgumentException](a.dmlTx("pt", Seq(
      "UPDATE pt SET tag = 'a' WHERE _id = 7",
      "UPDATE pt SET tag = 'b' WHERE _id = 7"), at(3, 7)))
  }

  /** Spark jobs started while `body` runs. */
  private def jobsIn(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // let the listener bus drain
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && n.get != last) {
        last = n.get; Thread.sleep(200)
      }
      n.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("front door: a point SELECT over a tail reads in one job, an " +
      "UPDATE by _id commits in two, AS OF point reads match") {
    val (t, _) = freshTable()
    seed(t, 1L to 8L, at(1))
    t.compact()
    mutate(t, 2, split = 1, upd = 2, del = 3, era = 4)
    server.GraftServer.register("pt", t)
    try {
      val parser = new server.GraftSqlParser(spark, spark.sessionState.sqlParser)
      def sql(q: String) =
        org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, parser.parsePlan(q))
      val select = "SELECT _id, price, tag FROM pt WHERE _id = 2"
      assert(canon(sql(select)) ==
        canon(sql("SELECT _id, price, tag FROM pt WHERE _id + 0 = 2")))
      assert(canon(sql(select)) == Seq("2|20.0|u2"))
      assert(jobsIn(sql(select).collect(): Unit) <= 1)
      // temporal-clause placeholders bind to the point path too
      val asOf = "SELECT _id, price, tag FROM pt FOR SYSTEM_TIME AS OF " +
        "'2024-01-02 00:00:01' FOR APPLICATION_TIME AS OF '2021-06-01 00:00:00' " +
        "WHERE _id IN (1, 2, 4)"
      assert(canon(sql(asOf)) == canon(sql(asOf.replace("WHERE _id", "WHERE _id + 0"))))
      assert(canon(sql(asOf)) == Seq("1|20.0|t1", "2|20.0|t2"))
      assert(jobsIn(sql(asOf).collect(): Unit) <= 1)

      assert(jobsIn(sql("UPDATE pt SET price = CAST(7.5 AS DOUBLE) WHERE _id = 5").collect(): Unit) <= 2)
      assert(canon(sql("SELECT _id, price FROM pt WHERE _id = 5")) == Seq("5|7.5"))
      // a 1-row commit's tx file carries a bloom sized to its one id
      val last = new bitemporal.TxLog(t.tableDir).txFiles().last.toFile
      val bytes = last.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
      assert(bytes < 16 * 1024, s"one-row tx file is $bytes B")
    } finally server.GraftServer.unregister("pt")
  }
}
