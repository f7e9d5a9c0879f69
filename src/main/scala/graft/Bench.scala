package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // ad-hoc conf overrides for perf experiments, e.g.
    // SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false;spark.x=y"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => builder.config(k.trim, v.trim)
        case _ =>
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Full materialization of every output column via the noop sink —
    // a bare .count() would let Catalyst eliminate sorts and prune
    // projections, benchmarking a fraction of the real query.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Warm up JVM/codegen/catalog paths once so per-query timings measure
    // query execution rather than first-use initialization.
    try SparkEntry.queries.get("q00_tpch_q1").foreach(f => run(f(spark, sfDir)))
    catch {
      case e: Throwable =>
        // warm-up failure doesn't abort the bench (the per-query loop
        // will record the real error) but must not be invisible either
        System.err.println(s"[bench] warm-up failed: $e")
    }
    // optional comma-separated name substrings to bench a subset (dev loop)
    val keep: String => Boolean = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(p) => val pats = p.split(','); n => pats.exists(n.contains)
      case None => _ => true
    }
    // Each query runs twice: the COLD pass (fresh plan: analysis +
    // codegen + execution) is the headline number, comparable to prior
    // rounds; the WARM pass re-executes the identical plan so codegen/
    // JIT noise is visible per query instead of polluting comparisons.
    // Failures are RECORDED, never swallowed — a broken query must not
    // bench as ~0 s and flatter the total.
    final case class R(cold: Double, warm: Double, err: Option[String])
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_GC=1: force a full GC between queries — isolates the
    // suite-context inflation mechanism (heap pressure from 170 queries
    // sharing one JVM) from per-query cost; see BASELINE.md "driver
    // capture vs solo runs"
    val gcBetween = sys.env.get("SPARK_GRAFT_GC").contains("1")
    val results: Seq[(String, R)] =
      SparkEntry.queries.toSeq.sortBy(_._1).filter(e => keep(e._1)).map {
        case (name, fn) =>
          if (gcBetween) { spark.catalog.clearCache(); System.gc() }
          val r =
            try {
              val cold = time(run(fn(spark, sfDir)))
              val warm = time(run(fn(spark, sfDir)))
              R(cold, warm, None)
            } catch {
              case e: Throwable =>
                R(-1.0, -1.0, Some(s"${e.getClass.getSimpleName}: " +
                  Option(e.getMessage).getOrElse("").replaceAll("[\"\\\\\n\r\t]", " ")
                    .take(200)))
            }
          name -> r
      }
    def j(d: Double) = if (d < 0) "null" else f"$d%.3f"
    val qs = results.map { case (k, r) => s"\"$k\":${j(r.cold)}" }
      .mkString("{", ",", "}")
    val warm = results.map { case (k, r) => s"\"$k\":${j(r.warm)}" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, R(_, _, Some(e))) => s"\"$k\":\"$e\"" }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2.err.isEmpty)
    val total = ok.map(_._2.cold).sum
    val totalWarm = ok.map(_._2.warm).sum
    val json =
      s"""{"metric":"total","value":${j(total)},"unit":"sec","queries":$qs,""" +
        s""""warm":$warm,"warm_total":${j(totalWarm)},"errors":$errs,""" +
        s""""n_ok":${ok.size},"n_err":${results.size - ok.size},"sf":"$sfDir"}"""
    // the full artifact (per-query seconds and errors, ~11 KB) goes to a
    // file; stdout ends with the aggregates alone, short enough that a
    // captured tail of the run still holds the whole line
    val out = java.nio.file.Paths.get("target")
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.write(out.resolve("bench_last.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"""{"metric":"total","value":${j(total)},"unit":"sec",""" +
      s""""warm_total":${j(totalWarm)},"n_ok":${ok.size},""" +
      s""""n_err":${results.size - ok.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
