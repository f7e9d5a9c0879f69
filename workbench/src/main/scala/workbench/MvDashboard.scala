package workbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftTable
import graft.bitemporal.TxLog
import graft.server.{GraftHttpApi, GraftMatviews, GraftMvNav, GraftPgWire, GraftServer, GraftSql}

/** `mv_dashboard`: `orders` (fact, compacted, clustered on the customer
  * fk) and `customer` (dim). Set-up bulk-loads and compacts both, starts
  * the pgwire and HTTP front doors and CREATEs two views: single-table
  * (priority, month) with COUNT/SUM/MIN/MAX, and a star orders⋈customer
  * with COUNT and a COUNT(DISTINCT) aux (the heaviest first build).
  *
  * Each cycle has an OLTP phase over pgwire (simple-query protocol) and
  * a dashboard phase over HTTP; one client thread, and the connection of
  * one phase is closed before the other opens:
  *   - pgwire: a fact UPDATE by id; a SELECT by `_id` of the id just
  *     written (the tail the read path re-folds); a `;`-batch fact tx
  *     (INSERT, UPDATE … FOR PORTION OF, DELETE); a dim segment move;
  *     `VACUUM orders`, which compacts the cycle's two fact txs; a
  *     SELECT by `_id` of a loaded id; a fact UPDATE, INSERT and
  *     DELETE, one tx each; a `FOR SYSTEM_TIME AS OF` GROUP BY at the
  *     time before the last of them;
  *   - HTTP: a REFRESH of each view, then five dashboard GROUP BYs that
  *     must navigate onto a view (group-by subset, WHERE-subsumed,
  *     HAVING, DISTINCT rollup, global KPI).
  * Every answer is compared with the client's model of both tables,
  * derived from the same seeded ops; a serve that does not navigate
  * counts as failed. */
final class MvDashboard(spark: SparkSession, a: Args) extends Workload {
  import spark.implicits._
  import MvDashboard._

  val nominalRate = 0.6
  val warmupOps = 0
  override val cycleOps: Int = OltpOps + Views.size + Serves
  val readCls = Seq("serve", "point", "scan")
  val writeCls = Seq("commit")
  val bulkCls = Seq("refresh")

  private val rng = new scala.util.Random(a.seed)
  private val root = Fs.path(a.work, "mv")
  private var dir: java.nio.file.Path = _
  private var fact: GraftTable = _
  private var http: com.sun.net.httpserver.HttpServer = _
  private var pgHandle: GraftPgWire.Handle = _
  private var pgConn: PgClient = _

  private val ordSrc = spark.read.parquet(s"${a.data}/orders.parquet").select(
    $"o_orderkey".as("id"), $"o_custkey".as("cust"), $"o_orderstatus".as("status"),
    $"o_orderpriority".as("prio"), date_format($"o_orderdate", "yyyy-MM").as("month"),
    $"o_totalprice".cast("decimal(14,2)").as("price"))
  private val custSrc = spark.read.parquet(s"${a.data}/customer.parquet").select(
    $"c_custkey".as("id"), $"c_mktsegment".as("seg"))
  private val facts = new Model[Fact]
  ordSrc.collect().foreach(r => facts.put(r.getLong(0), Fact(r.getLong(1), r.getString(2),
    r.getString(3), r.getString(4), BigDecimal(r.getDecimal(5)))))
  private val dims = new Model[String]
  custSrc.collect().foreach(r => dims.put(r.getLong(0), r.getString(1)))
  private val nBase = facts.size
  private val months = facts.rows.values.map(_.month).toIndexedSeq.distinct.sorted
  private var nextId = facts.rows.keys.max + 1
  /** ids written since the last VACUUM: the read path re-folds them */
  private val tail = mutable.ArrayBuffer.empty[Long]
  /** (system time, GROUP BY prio answer) after each fact commit */
  private val snapshots = mutable.ArrayBuffer.empty[(String, Set[Seq[String]])]
  private var lastStampMs = 0L

  // per-layer figures
  private val buildS = mutable.Map.empty[String, Double]
  private val inproc = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val rewriteS = mutable.ArrayBuffer.empty[Double]
  private var serves = 0; private var navigated = 0
  private val stateRewritten = mutable.ArrayBuffer.empty[Double]
  private val entityS = mutable.ArrayBuffer.empty[Double]
  private val tailTxs = mutable.ArrayBuffer.empty[Double]
  private val pointRows = mutable.ArrayBuffer.empty[Double]
  private val commitBytes = mutable.ArrayBuffer.empty[Double]
  private val userBytes = mutable.ArrayBuffer.empty[Double]
  private val baseRewritten = mutable.ArrayBuffer.empty[Double]
  private val logDeleted = mutable.ArrayBuffer.empty[Double]

  def setup(rep: Int): Unit = {
    closeDoors()
    GraftMatviews.reset()
    if (dir != null) Fs.rm(dir)
    dir = root.resolve(s"rep$rep")
    fact = new GraftTable(spark, dir.resolve("orders").toString,
      Seq("cust", "status", "prio", "month", "price"), clusterBy = Seq("cust"))
    val dim = new GraftTable(spark, dir.resolve("customer").toString, Seq("seg"))
    dim.put(custSrc, $"id", lit("2000-01-01").cast("timestamp"), None,
      Seq("seg" -> $"seg"), Timestamp.valueOf("2020-01-01 00:00:00"))
    fact.put(ordSrc, $"id", lit("2000-01-01").cast("timestamp"), None,
      Seq("cust" -> $"cust", "status" -> $"status", "prio" -> $"prio", "month" -> $"month",
        "price" -> $"price"), Timestamp.valueOf("2020-01-01 00:00:01"))
    fact.compact(); dim.compact()
    GraftServer.register("orders", fact)
    GraftServer.register("customer", dim)
    pgHandle = GraftPgWire.start(spark, 0)
    http = GraftHttpApi.start(spark, 0)
    val client = new HttpClient(http.getAddress.getPort)
    Views.foreach { case (name, body) =>
      val t0 = System.nanoTime()
      client.query(s"CREATE MATERIALIZED VIEW $name WITH " +
        s"(valid_at = '2030-01-01 00:00:00', rewrite = 'trusted') AS $body")
      buildS(name) = (System.nanoTime() - t0) / 1e9
    }
    tail.clear()
    snapshots.clear()
    snapshots += ((stamp(), byPrio()))
  }

  private def closeDoors(): Unit = {
    if (pgConn != null) { pgConn.close(); pgConn = null }
    if (pgHandle != null) pgHandle.stop()
    if (http != null) http.stop(0)
  }

  /** the pgwire connection, opened on first use in a cycle's OLTP phase */
  private def pg: PgClient = {
    if (pgConn == null) pgConn = new PgClient(pgHandle.port)
    pgConn
  }
  private def web: HttpClient = {
    if (pgConn != null) { pgConn.close(); pgConn = null }
    new HttpClient(http.getAddress.getPort)
  }

  private def stamp(): String = {
    lastStampMs = System.currentTimeMillis()
    new Timestamp(lastStampMs).toString
  }

  private def byPrio(): Set[Seq[String]] =
    facts.rows.values.groupBy(_.prio).map { case (g, fs) =>
      Seq(g, fs.size.toString, fs.map(_.price).sum.toString) }.toSet

  private def factDir = dir.resolve("orders")
  /** tx entries in the fact log (each tx is a parquet directory) */
  private def txCount: Int = {
    val s = java.nio.file.Files.list(factDir.resolve("log"))
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("tx_"))
    finally s.close()
  }

  def nextOp(i: Int): Op = i % cycleOps match {
    case 0 => factTx(Update)
    case 1 => point(fromTail = true)
    case 2 => factTx(Insert, Portion, Delete)
    case 3 => dimTx()
    case 4 => vacuum()
    case 5 => point(fromTail = false)
    case 6 => factTx(Update)
    case 7 => factTx(Insert)
    case 8 => factTx(Delete)
    case 9 => scan()
    case k if k < OltpOps + Views.size => refresh(Views(k - OltpOps)._1)
    case k => serve(k - OltpOps - Views.size)
  }

  // ---- OLTP phase (pgwire) ---------------------------------------------

  private def vacuum(): Op = {
    val baseBefore = Fs.walk(factDir.resolve("base")).toSet
    val txBefore = txCount
    val conn = pg
    new Op {
      val cls = "maint"
      def run(): Any = conn.query("VACUUM orders")
      def check(out: Any): Boolean = {
        baseRewritten += Fs.walk(factDir.resolve("base")).filterNot(baseBefore)
          .filterNot(_.getFileName.toString.endsWith(".crc")).map(java.nio.file.Files.size).sum
        logDeleted += txBefore - txCount
        tail.clear()
        rows(out).map(_(2)) == Seq(Some("t"))
      }
    }
  }

  /** one small fact DML tx over live ids, applied to the model on ack */
  private def factTx(kinds: Int*): Op = {
    val picked = mutable.Set.empty[Long]
    def live(): Long = {
      var id = facts.pick(rng)
      while (picked(id)) id = facts.pick(rng)
      picked += id; id
    }
    def price(): BigDecimal = BigDecimal(100000L + rng.nextInt(49900000), 2)
    def stmt(kind: Int): (String, () => Unit) = kind match {
      case Insert =>
        val id = nextId; nextId += 1
        val f = Fact(dims.pick(rng), "O", Prios(rng.nextInt(5)),
          months(rng.nextInt(months.size)), price())
        (s"INSERT INTO orders (_id, cust, status, prio, month, price) VALUES ($id, " +
          s"CAST(${f.cust} AS BIGINT), '${f.status}', '${f.prio}', '${f.month}', " +
          s"CAST(${f.price} AS DECIMAL(14,2)))", () => { facts.put(id, f); tail += id })
      case Update =>
        val id = live(); val p = price()
        (s"UPDATE orders SET price = CAST($p AS DECIMAL(14,2)) WHERE _id = $id",
          () => { facts.put(id, facts.rows(id).copy(price = p)); tail += id })
      case Delete =>
        val id = live()
        (s"DELETE FROM orders WHERE _id = $id", () => { facts.remove(id); tail += id })
      case _ =>
        val id = live(); val p = Prios(rng.nextInt(5))
        (s"UPDATE orders FOR PORTION OF APPLICATION_TIME FROM '2001-01-01 00:00:00' " +
          s"TO '2200-01-01 00:00:00' SET prio = '$p' WHERE _id = $id",
          () => { facts.put(id, facts.rows(id).copy(prio = p)); tail += id })
    }
    // fixed shapes, seeded ids and values
    val stmts = kinds.map(stmt)
    commit(stmts.map(_._1).mkString("; "), () => {
      stmts.foreach(_._2())
      snapshots += ((stamp(), byPrio()))
    })
  }

  private def dimTx(): Op = {
    val id = dims.pick(rng); val seg = Segments(rng.nextInt(Segments.size))
    commit(s"UPDATE customer SET seg = '$seg' WHERE _id = $id", () => dims.put(id, seg))
  }

  private def commit(sql: String, apply: () => Unit): Op = {
    // the commit's system time must follow the last snapshot's
    while (System.currentTimeMillis() <= lastStampMs + 1) Thread.sleep(1)
    val logBytes = () => Fs.bytes(factDir.resolve("log")) + Fs.bytes(dir.resolve("customer").resolve("log"))
    val before = logBytes()
    val conn = pg
    new Op {
      val cls = "commit"
      def run(): Any = conn.query(sql)
      def check(out: Any): Boolean = {
        apply()
        commitBytes += logBytes() - before
        userBytes += sql.getBytes("UTF-8").length
        rows(out).nonEmpty
      }
    }
  }

  /** a live id written since the last VACUUM, or a live loaded one */
  private def point(fromTail: Boolean): Op = {
    def pick() = if (fromTail) tail(rng.nextInt(tail.size)) else rng.nextInt(nBase).toLong
    var id = pick()
    while (!facts.rows.contains(id)) id = pick()
    val sql = s"SELECT _id, cust, status, prio, month, price FROM orders WHERE _id = $id"
    val conn = pg
    new Op {
      val cls = "point"
      def run(): Any = conn.query(sql)
      def check(out: Any): Boolean = {
        val got = rows(out)
        pointRows += got.size
        facts.rows.get(id) match {
          case None => got.isEmpty
          case Some(f) => got.size == 1 && got.head.map(_.map(norm)) ==
            Seq(id.toString, f.cust.toString, f.status, f.prio, f.month, f.price.toString)
              .map(v => Some(norm(v)))
        }
      }
      override def extra(): Unit = {
        probe("point", sql)
        entityS += TimeIt(fact.entity(id))
        val log = new TxLog(factDir.toString)
        tailTxs += log.txFilesAfter(log.baseWatermark().getOrElse(-1L)).size
      }
    }
  }

  private def scan(): Op = {
    // the time before the cycle's last fact commit
    val (t, expect) = snapshots(snapshots.size - 2)
    val sql = s"SELECT prio, COUNT(*) AS n, SUM(price) AS s FROM orders " +
      s"FOR SYSTEM_TIME AS OF TIMESTAMP '$t' GROUP BY prio"
    val conn = pg
    new Op {
      val cls = "scan"
      def run(): Any = conn.query(sql)
      def check(out: Any): Boolean =
        rows(out).map(_.map(v => norm(v.get))).toSet == expect.map(_.map(norm))
      override def extra(): Unit = probe("scan", sql)
    }
  }

  // ---- dashboard phase (HTTP) ------------------------------------------

  private def stateFiles: Set[java.nio.file.Path] =
    Seq("matview", "join_matview").flatMap(k => Fs.walk(factDir.resolve(k)))
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet

  private def refresh(view: String): Op = {
    val before = stateFiles
    val client = web
    new Op {
      val cls = "refresh"
      override val tags = Seq(s"refresh/$view")
      def run(): Any = client.query(s"REFRESH MATERIALIZED VIEW $view")
      def check(out: Any): Boolean = {
        stateRewritten += (stateFiles -- before).size
        out.asInstanceOf[Seq[_]].size == 1
      }
    }
  }

  private def serve(k: Int): Op = {
    val p = Prios(rng.nextInt(5))
    val minN = 2 + rng.nextInt(4)
    val join = "FROM orders JOIN customer ON cust = customer._id"
    def sum(fs: Iterable[Fact]) = fs.map(_.price).sum.toString
    val (sql, cols, expect): (String, Seq[String], () => Set[Seq[String]]) = k match {
      case 0 => ("SELECT prio, COUNT(*) AS n, SUM(price) AS s FROM orders GROUP BY prio",
        Seq("prio", "n", "s"), () => byPrio())
      case 1 => (s"SELECT month, COUNT(*) AS n, SUM(price) AS s FROM orders " +
          s"WHERE prio = '$p' GROUP BY month",
        Seq("month", "n", "s"), () => facts.rows.values.filter(_.prio == p).groupBy(_.month)
          .map { case (g, fs) => Seq(g, fs.size.toString, sum(fs)) }.toSet)
      case 2 => (s"SELECT prio, month, COUNT(*) AS n FROM orders GROUP BY prio, month " +
          s"HAVING COUNT(*) > $minN",
        Seq("prio", "month", "n"), () => facts.rows.values.groupBy(f => (f.prio, f.month))
          .collect { case ((pr, m), fs) if fs.size > minN => Seq(pr, m, fs.size.toString) }.toSet)
      case 3 => (s"SELECT seg, COUNT(DISTINCT cust) AS dc $join GROUP BY seg",
        Seq("seg", "dc"), () => facts.rows.values.filter(f => dims.rows.contains(f.cust))
          .groupBy(f => dims.rows(f.cust)).map { case (g, fs) =>
            Seq(g, fs.map(_.cust).toSet.size.toString) }.toSet)
      case _ => ("SELECT COUNT(*) AS n, SUM(price) AS s FROM orders",
        Seq("n", "s"), () => Set(Seq(facts.size.toString, sum(facts.rows.values))))
    }
    val client = web
    new Op {
      val cls = "serve"
      def run(): Any = client.query(sql)
      def check(out: Any): Boolean = {
        serves += 1
        val t0 = System.nanoTime()
        val nav = GraftMvNav.rewrite(spark, sql).isDefined
        rewriteS += (System.nanoTime() - t0) / 1e9
        if (nav) navigated += 1
        val got = out.asInstanceOf[Seq[Map[String, com.fasterxml.jackson.databind.JsonNode]]]
          .map(r => cols.map(c => norm(r(c).asText))).toSet
        nav && got == expect().map(_.map(norm))
      }
      override def extra(): Unit = probe("serve", sql)
    }
  }

  /** the same statement run in-process, for the front door's share */
  private def probe(cls: String, sql: String): Unit =
    inproc.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) +=
      TimeIt(GraftSql.sql(spark, sql).collect())

  override def layerMetrics(s: Samples, tm: Map[String, Double]): Map[String, Double] = {
    def wire(c: String) = inproc.get(c).map(xs =>
      Stats.median(s.of(Seq(c))) - Stats.median(xs.toSeq)).getOrElse(0.0)
    val state = Seq("matview", "join_matview").map(factDir.resolve)
    val liveBytes = facts.rows.map { case (id, f) =>
        Seq(id.toString, f.cust.toString, f.status, f.prio, f.month, f.price.toString)
          .map(_.length + 1).sum
      }.sum + dims.rows.map { case (id, g) => id.toString.length + g.length + 2 }.sum
    Map(
      "server.point.wire_s" -> wire("point"),
      "server.scan.wire_s" -> wire("scan"),
      "server.serve.wire_s" -> wire("serve"),
      "nav.rewrite_s" -> Stats.median(rewriteS.toSeq),
      "nav.hit_ratio" -> navigated.toDouble / math.max(serves, 1),
      "point.entity_s" -> Stats.median(entityS.toSeq),
      "txlog.tail_txs" -> Stats.mean(tailTxs.toSeq),
      "engine.point.rows_examined" ->
        tm.getOrElse("engine.point.rows_scanned", 0.0) / math.max(Stats.mean(pointRows.toSeq), 1.0),
      "txlog.commit_bytes" -> Stats.mean(commitBytes.toSeq),
      "txlog.write_amp" -> commitBytes.sum / math.max(userBytes.sum, 1.0),
      "compact.bytes_rewritten" -> Stats.mean(baseRewritten.toSeq),
      "compact.base_files" -> Fs.files(factDir.resolve("base")).toDouble,
      "vacuum.files_deleted" -> Stats.mean(logDeleted.toSeq),
      "mv.refresh.buckets_rewritten" -> Stats.mean(stateRewritten.toSeq),
      "mv.state_bytes" -> state.map(Fs.bytes).sum.toDouble,
      "mv.state_files" -> state.map(Fs.files).sum.toDouble,
      "space_amp" -> Fs.bytes(dir) / math.max(liveBytes.toDouble, 1.0)) ++
      Views.map { case (v, _) => s"mv.build.${v.stripPrefix("mv_")}_s" -> buildS(v) } ++
      Views.map { case (v, _) =>
        s"mv.refresh.${v.stripPrefix("mv_")}_s" -> Stats.median(s.of(Seq(s"refresh/$v"))) }
  }

  override def close(): Unit = {
    closeDoors()
    GraftServer.unregister("orders"); GraftServer.unregister("customer")
    GraftMatviews.reset()
  }
}

object MvDashboard {
  final case class Fact(cust: Long, status: String, prio: String, month: String,
                        price: BigDecimal)
  val Prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  /** fact tx, point, batch fact tx, dim tx, vacuum, point, three fact
    * txs, scan */
  val OltpOps = 10
  /** fact DML statement kinds */
  val Insert = 0; val Update = 1; val Delete = 2; val Portion = 3
  val Serves = 5
  val Views: IndexedSeq[(String, String)] = IndexedSeq(
    "mv_single" -> ("SELECT prio, month, COUNT(*) AS n, SUM(price) AS s, MIN(price) AS mn, " +
      "MAX(price) AS mx FROM orders GROUP BY prio, month"),
    "mv_star_distinct" -> ("SELECT seg, prio, COUNT(*) AS n, COUNT(DISTINCT cust) AS dc " +
      "FROM orders JOIN customer ON cust = customer._id GROUP BY seg, prio"))

  private def rows(out: Any) = out.asInstanceOf[Seq[IndexedSeq[Option[String]]]]

  /** numbers compare by value, text verbatim */
  private def norm(s: String): String =
    scala.util.Try(BigDecimal(s).bigDecimal.stripTrailingZeros.toPlainString).getOrElse(s)
}
