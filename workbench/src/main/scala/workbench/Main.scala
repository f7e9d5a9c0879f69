package workbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark run: set-up (repeated, median reported), then the
  * measured op sequence; a traced run adds the workload's warm-up ops
  * and runs the sequence twice, each op shape once traced and once
  * untraced. Prints `RESULT <json>` as its last stdout line; a
  * human-readable metric table goes to stderr.
  *
  * Usage: Main --workload <catalog_olap|mv_dashboard> --seed n
  *   --seconds s --trace 0|1 --data <fixture dir> --work <scratch dir>
  *   [--smoke 1] */
object Main {
  val opClasses = Seq("query", "commit", "point", "scan", "maint", "refresh", "serve")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit = System.err.println(
      f"[workbench] phase $name at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    val work = Fs.path(a.work)
    Fs.rm(work)
    java.nio.file.Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"workbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
    if (a.trace) {
      b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
      b.config("spark.extraListeners", classOf[JobListener].getName)
      Trace.installed = true
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.toggle(a.trace)
    phase("session")

    // the client's model is built here, before set-up and outside it
    val w: Workload = Trace.window("init", a.trace)(a.workload match {
      case "catalog_olap" => new CatalogOlap(spark, a)
      case "mv_dashboard" => new MvDashboard(spark, a)
      case other => sys.error(s"unknown workload $other")
    })._1
    phase("init")
    val errors = mutable.ArrayBuffer.empty[String]
    val setupS = (0 until a.setupReps).map { rep =>
      Trace.window("setup", a.trace)(w.setup(rep))._2
    }

    phase("setup")
    val cycle = w.cycleOps
    val nOps =
      if (a.smoke) cycle * math.max(1, math.ceil(4.0 / cycle).toInt)
      else cycle * math.max(1, math.round(a.seconds * w.nominalRate / cycle).toInt)
    // a traced run runs the workload's warm-up ops (untraced, untimed),
    // then the op count twice. Tracing alternates op by op, and the
    // pattern flips from one cycle to the next, so every op shape runs
    // as often traced as untraced and neither half runs warmer;
    // trace.overhead compares the halves, per-layer figures come from
    // the traced one
    val warm = if (a.trace && !a.smoke) w.warmupOps else 0
    val total = if (a.trace) 2 * nOps else nOps
    val samples = new Samples
    var attempted = 0; var failed = 0
    var opT = 0.0
    // a traced run's time per op shape (position in the cycle), traced and untraced
    val tracedT = Array.fill(cycle)(0.0); val plainT = Array.fill(cycle)(0.0)
    def gcSeconds = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    var gc0 = 0.0
    var tracingOn = a.trace
    for (i <- 0 until warm + total) {
      val measured = i >= warm
      if (i == warm) { System.gc(); gc0 = gcSeconds }
      val traced = a.trace && measured && ((i - warm) / cycle + (i - warm) % cycle) % 2 == 0
      if (traced != tracingOn) { Trace.toggle(traced); tracingOn = traced }
      val op = w.nextOp(i)
      val label = if (measured) op.cls else "warmup"
      val (res, dt) = Trace.window(label, traced)(Try(op.run()))
      val ok = res.flatMap(out => Try(op.check(out))).getOrElse(false)
      if (!ok && errors.size < 20)
        errors += s"op $i (${op.cls}): " + res.failed.map(e =>
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          .getOrElse("wrong answer")
      if (measured) {
        attempted += 1
        if (!ok) failed += 1
        samples.add(op.cls, dt)
        op.tags.foreach(samples.add(_, dt))
        opT += dt
        if (traced) tracedT((i - warm) % cycle) += dt
        else plainT((i - warm) % cycle) += dt
        // probes follow traced and untraced ops alike, so that the work
        // they leave behind (garbage, cleanup) burdens both halves
        if (a.trace) Trace.window("aux", traced)(op.extra())
      }
    }
    phase("ops")
    val gcS = gcSeconds - gc0
    // several collections: one full GC can leave a later-freed cache live
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val retainedMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupS), "s"),
      "ops_per_s" -> (attempted / math.max(opT, 1e-9), "1/s"),
      // Means, not medians: each pass or cycle runs every op shape of a
      // class once, and the shapes' latencies differ by up to 4x, so a
      // median of one run picks whichever shape lands in the middle
      "read_mean_s" -> (Stats.mean(samples.of(w.readCls)), "s"),
      "write_mean_s" -> (Stats.mean(samples.of(w.writeCls)), "s"),
      "bulk_mean_s" -> (Stats.mean(samples.of(w.bulkCls)), "s"))

    val layer = mutable.LinkedHashMap.empty[String, Double]
    for (c <- opClasses) {
      val xs = samples.byCls.getOrElse(c, Nil).toSeq
      layer(s"op.$c.p50_s") = Stats.median(xs)
      layer(s"op.$c.p90_s") = Stats.pct(xs, 0.9)
    }
    layer("error_ratio") = failed.toDouble / math.max(attempted, 1)
    layer("jvm.gc_s") = gcS
    layer("heap_mb") = heapMb
    layer("blockmgr.retained_mb") = retainedMb
    if (a.trace) {
      Trace.toggle(false)
      Trace.drain(spark)
      val (tm, acct) = Trace.report(work.resolve(s"trace-${a.workload}-${a.seed}.jsonl"),
        opClasses)
      layer ++= tm
      // traced ÷ untraced speed per op shape, median over the shapes: the
      // heaviest shape does not dominate, nor one whose cold first run
      // is far slower than its second
      layer("trace.overhead") = Stats.median(tracedT.indices.map(k => plainT(k) / tracedT(k)))
      acct.foreach(e => errors += s"accounting: $e")
      System.err.println(s"[workbench] accounting check: " +
        (if (acct.isEmpty) "pass" else acct.mkString("; ")))
    }
    layer ++= w.layerMetrics(samples, layer.toMap)
    w.close()
    spark.stop()
    phase("stop")

    // every per-layer metric is reported on every workload; a layer the
    // workload does not exercise reads 0
    val metrics: Seq[(String, (Double, String))] =
      if (a.trace) perLayer.map(k => k -> (layer.getOrElse(k, 0.0), unitOf(k)))
      else e2e.toSeq
    System.err.println(f"[workbench] ${a.workload} seed=${a.seed} ops=$attempted " +
      f"failed=$failed setup_reps=${setupS.map(s => f"$s%.3f").mkString(",")}")
    samples.byCls.foreach { case (c, xs) =>
      System.err.println(f"[workbench]   $c%-8s n=${xs.size}%4d p50=${Stats.median(xs.toSeq)}%.4f s")
    }
    metrics.foreach { case (k, (v, u)) =>
      System.err.println(f"[workbench]   $k%-36s $v%14.6f $u") }
    errors.foreach(e => System.err.println(s"[workbench] error: $e"))
    val acctOk = !errors.exists(_.startsWith("accounting"))
    val json = Json.obj(Seq(
      "correct" -> (failed == 0 && acctOk).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    println(s"RESULT $json")
  }

  val perLayer: Seq[String] =
    opClasses.flatMap(c => Seq(s"op.$c.p50_s", s"op.$c.p90_s")) ++
      opClasses.flatMap(c => Seq("jobs", "job_s", "gap_s", "plan_s", "shuffle_bytes",
        "input_bytes").map(m => s"engine.$c.$m")) ++
      Seq("engine.serve.files_read", "engine.point.rows_examined",
        "server.point.wire_s", "server.scan.wire_s", "server.serve.wire_s",
        "nav.rewrite_s", "nav.hit_ratio", "point.entity_s", "txlog.tail_txs",
        "txlog.commit_bytes", "txlog.write_amp", "compact.bytes_rewritten",
        "compact.base_files", "vacuum.files_deleted",
        "mv.build.single_s", "mv.build.star_distinct_s",
        "mv.refresh.single_s", "mv.refresh.star_distinct_s",
        "mv.refresh.buckets_rewritten", "mv.state_bytes", "mv.state_files", "space_amp") ++
      Seq("tpch", "relational", "bitemporal", "datalog", "llm").map(g => s"catalog.$g.p50_s") ++
      Seq("error_ratio", "jvm.gc_s", "heap_mb", "blockmgr.retained_mb",
        "trace.overhead", "trace.unattributed_jobs")

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.contains("bytes")) "B"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("ratio") || name.endsWith("overhead") ||
      name.endsWith("amp")) "ratio"
    else "count"
}
