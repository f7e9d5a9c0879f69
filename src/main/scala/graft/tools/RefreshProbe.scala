package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The "refresh ∝ tails" claim, measured directly (VERDICT r11 task 7):
  * build the q165-shaped join matview (orders ⋈ customer by region,
  * COUNT(col)/AVG/WHERE) over a given fixture tier, then apply a
  * PINNED-SIZE tail — the SAME absolute number of fact updates and dim
  * moves regardless of tier — and time the incremental refresh. If
  * refresh cost is ∝ the tail (the IVM design claim), the refresh
  * column stays ~flat from sf0.1 to sf10 while the build column scales
  * with the corpus; a refresh that secretly re-derives the view would
  * scale ×100 with it.
  *
  * Usage: `runMain graft.tools.RefreshProbe <sfDir> [nFactTail] [nDimTail]`
  * (defaults 10000 / 500). Prints ONE JSON line with phase seconds.
  */
object RefreshProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nFact = if (args.length > 1) args(1).toInt else 10000
    val nDim = if (args.length > 2) args(2).toInt else 500
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    val work = java.nio.file.Files.createTempDirectory("graft_rprobe").toString
    // PRODUCTION layout: the fact base fk-clustered (the documented
    // prerequisite for the dim-touched refresh's fk IN file pruning)
    // and both logs compacted after the bulk load — an uncompacted
    // bulk log is ONE giant tx file, and the touched-id history refold
    // plus the fk re-derivation then scan it wholesale (measured: the
    // pinned-tail refresh scales with the BASE, ×9–24 at ×100, without
    // this; see the probe's compact=false mode)
    val doCompact = sys.env.get("SPARK_GRAFT_PROBE_COMPACT").forall(_ != "false")
    val fact = new graft.GraftTable(spark, s"$work/fact",
      Seq("cust", "amt", "score"), clusterBy = Seq("cust"))
    val dim = new graft.GraftTable(spark, s"$work/dim", Seq("region"))

    val cust = graft.Tables.load(spark, sfDir, "customer")
      .select($"c_custkey".as("id"), $"c_nationkey".cast("string").as("rg"))
    val ord = graft.Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey".as("id"), $"o_custkey".cast("long").as("ck"),
        $"o_totalprice".cast("decimal(14,2)").as("m"),
        when($"o_orderkey" % 3 === 0, lit(null))
          .otherwise($"o_totalprice").cast("decimal(14,2)").as("sc"))
    val nOrders = ord.count()

    phases("load") = time {
      dim.put(cust, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("region" -> $"rg"), ts("2020-01-01 00:00:00"))
      fact.put(ord, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "amt" -> $"m", "score" -> $"sc"),
        ts("2020-01-01 00:00:01"))
    }
    phases("compact") =
      if (doCompact) time { fact.compact(); dim.compact() } else 0.0
    val mv = fact.matview("rp", Seq("region"), Seq("amt"),
      ts("2030-01-01 00:00:00"), Seq(dim -> "cust"), nBuckets = Some(64),
      cntCols = Seq("score"), where = Some("amt > 50000"))
    phases("build") = time { mv.refresh(): Unit }

    // PINNED tails: the same absolute op counts at every tier. Rank by
    // id so the touched sets are deterministic and spread across the
    // key space (not one dense block a single file could cover).
    val factTail = ord.orderBy($"id").limit(nFact * 7).filter($"id" % 7 === 0)
      .limit(nFact).withColumn("m2", ($"m" + 100000).cast("decimal(14,2)"))
    phases("fact_tail_put") = time {
      fact.put(factTail, $"id", lit("2000-06-01").cast("timestamp"), None,
        Seq("cust" -> $"ck", "amt" -> $"m2", "score" -> $"sc"),
        ts("2020-01-02 00:00:00"))
    }
    phases("fact_refresh") = time { mv.refresh(): Unit }

    val dimTail = cust.orderBy($"id").limit(nDim * 11).filter($"id" % 11 === 0)
      .limit(nDim).withColumn("rg2", lit("99"))
    phases("dim_tail_put") = time {
      dim.put(dimTail, $"id", lit("2000-01-01").cast("timestamp"), None,
        Seq("region" -> $"rg2"), ts("2020-01-03 00:00:00"))
    }
    phases("dim_refresh") = time { mv.refresh(): Unit }

    // no-op refresh: the watermark probe alone
    phases("noop_refresh") = time { mv.refresh(): Unit }

    val json = phases.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
      .mkString(",")
    // one greppable line, same shape as Bench's
    println(s"""{"metric":"refresh_probe","sf":"$sfDir","n_orders":$nOrders,""" +
      s""""fact_tail":$nFact,"dim_tail":$nDim,$json}""")
    graft.bitemporal.TxLog.deleteRecursively(new java.io.File(work))
    spark.stop()
  }
}
