package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Storage-family scale measurement: the full operational loop —
  * bulk load → daily tail txs → compact → matview refresh → vacuum →
  * process restart → point read — timed phase by phase at a given row
  * count, so the sf1 tier covers the WRITE/RETENTION path, not just
  * queries (BASELINE.md sf1 table; VERDICT r6 task 9).
  *
  * Usage: `runMain graft.tools.StorageBench [nRows] [workDir]`
  * (default 1,000,000 rows — the sf1-scale lineitem order of
  * magnitude). Prints ONE JSON line with per-phase seconds. Run at n
  * and 10n to check no phase is superlinear.
  */
object StorageBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val work = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_storage_bench").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    val dir = s"$work/t$n"
    graft.bitemporal.TxLog.deleteRecursively(new java.io.File(dir))
    val t = new graft.GraftTable(spark, dir, Seq("grp", "amt"))

    val rows = spark.range(n).select($"id",
      concat(lit("g"), $"id" % 1000).as("g"), ($"id" % 9973 * 1.0).as("m"))
    phases("bulk_load") = time {
      t.put(rows, $"id", lit("2024-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m"), ts("2024-01-01 00:00:00"))
    }
    // 5 daily tail txs, each touching n/1000 ids (updates)
    phases("tail_txs") = time {
      for (d <- 2 to 6) {
        t.put(rows.filter($"id" % 1000 === d)
            .withColumn("m2", $"m" + d * 100.0),
          $"id", lit(f"2024-01-$d%02d").cast("timestamp"), None,
          Seq("grp" -> $"g", "amt" -> $"m2"), ts(f"2024-01-$d%02d 00:00:00"))
      }
    }
    phases("compact") = time { t.compact() }
    val mv = t.matview("sb", Seq("grp"), Seq("amt"),
      validAt = ts("2030-01-01 00:00:00"), nBuckets = Some(32))
    phases("matview_build") = time { mv.refresh(): Unit }
    // one more tx, then the incremental refresh (∝ tail)
    phases("matview_incr") = time {
      t.put(rows.filter($"id" % 1000 === 7).withColumn("m2", $"m" + 1.0),
        $"id", lit("2024-01-07").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m2"), ts("2024-01-07 00:00:00"))
      mv.refresh(): Unit
    }
    phases("vacuum") = time { t.vacuumLog() }
    phases("restart_read") = time {
      val t2 = new graft.GraftTable(spark, dir, Seq("grp", "amt"))
      assert(t2.current().count() == n)
    }
    phases("point_read") = time {
      val t2 = new graft.GraftTable(spark, dir, Seq("grp", "amt"))
      assert(t2.entity(n / 2).isDefined)
    }

    val total = phases.values.sum
    val js = phases.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
    println(
      f"""{"metric":"storage_total","value":$total%.3f,"unit":"sec","n":$n%d,"phases":{$js%s}}""")
    spark.stop()
  }
}
