package workbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans of the benchmark's own code (one
  * per op, one per extra probe) come from [[Trace.window]]; Spark job
  * and stage spans come from [[JobListener]]; planning-phase times from
  * [[PlanListener]] (installed through `spark.sql.queryExecutionListeners`).
  *
  * Recording is gated by time, not by a flag read on the listener bus
  * thread: the client appends an on/off toggle before each traced or
  * untraced block, and an event is kept when its own timestamp falls in
  * an "on" stretch. An untraced block therefore costs the listeners one
  * lookup per event, which is what `trace.overhead` compares against.
  * Everything stays in memory until [[Trace.report]] at the end. */
object Trace {
  @volatile var installed = false
  private val toggles = new ConcurrentLinkedQueue[(Long, Boolean)]()
  def toggle(on: Boolean): Unit = toggles.add((System.currentTimeMillis(), on))
  def onAt(ms: Long): Boolean = {
    var on = false
    val it = toggles.iterator()
    while (it.hasNext) { val (t, v) = it.next(); if (t <= ms) on = v }
    on
  }

  final case class Job(id: Int, start: Long, var end: Long)
  final case class Plan(start: Long, planS: Double, filesRead: Long,
                        rowsScanned: Long)
  final case class Window(label: String, start: Long, end: Long,
                          t0: Long, t1: Long, traced: Boolean)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** per job: input bytes, shuffle bytes (read + written) */
  val jobIo = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val windows = mutable.ArrayBuffer.empty[Window]

  /** Run `body` as a span labelled `label`; op spans use the op class,
    * probe spans "aux", set-up "setup". */
  def window[A](label: String, traced: Boolean)(body: => A): (A, Double) = {
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      if (installed) windows.synchronized {
        windows += Window(label, ms0, System.currentTimeMillis(), t0, t1, traced)
      }
    }
  }

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.WorkbenchBridge.drain(spark.sparkContext)

  /** Per-op-class engine figures over traced op windows, the accounting
    * check, and the span dump. Returns (metrics, accounting errors). */
  def report(out: java.nio.file.Path, classes: Seq[String])
      : (Map[String, Double], Seq[String]) = {
    val ws = windows.synchronized(windows.toList)
    val js = jobs.values().asScala.toList.sortBy(_.start)
    val ps = plans.asScala.toList
    val errors = mutable.ArrayBuffer.empty[String]
    // every recorded job lies inside some window (op, probe or set-up)
    val outside = js.filterNot(j => ws.exists(w => j.start >= w.start && j.end <= w.end))
    if (outside.nonEmpty)
      errors += s"${outside.size} listener jobs outside every op window " +
        outside.take(3).map(j => s"job ${j.id} [${j.start},${j.end}]").mkString(", ")
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("trace.unattributed_jobs") = outside.size
    val opWs = ws.filter(w => w.traced && classes.contains(w.label))
    for (cls <- classes) {
      val mine = opWs.filter(_.label == cls)
      val rows = mine.map { w =>
        val inW = js.filter(j => j.start >= w.start && j.end <= w.end).sortBy(_.start)
        // job_s: union of the job intervals; gap_s: the stretches of the
        // window with no job running. Both come from listener and window
        // millisecond stamps; the op's wall time from nanoTime.
        var covered = 0L; var idle = 0L; var reach = w.start
        inW.foreach { j =>
          if (j.start > reach) idle += j.start - reach
          if (j.end > reach) { covered += j.end - math.max(j.start, reach); reach = j.end }
        }
        idle += w.end - reach
        val wall = (w.t1 - w.t0) / 1e9
        val (jobS, gapS) = (covered / 1e3, idle / 1e3)
        // two millisecond stamps against two nanoTime stamps
        if (math.abs(jobS + gapS - wall) > 0.0025)
          errors += f"$cls op: job_s $jobS%.4f + gap_s $gapS%.4f != wall $wall%.4f"
        val io = inW.map(j => Option(jobIo.get(j.id)).getOrElse(Array(0L, 0L)))
        val pl = ps.filter(p => p.start >= w.start && p.start <= w.end)
        (inW.size.toDouble, jobS, gapS, pl.map(_.planS).sum,
          io.map(_(1)).sum.toDouble, io.map(_(0)).sum.toDouble,
          pl.map(_.filesRead).sum.toDouble, pl.map(_.rowsScanned).sum.toDouble)
      }
      def avg(f: ((Double, Double, Double, Double, Double, Double, Double, Double)) => Double) =
        Stats.mean(rows.map(f))
      val p = s"engine.$cls"
      m(s"$p.jobs") = avg(_._1)
      m(s"$p.job_s") = avg(_._2)
      m(s"$p.gap_s") = avg(_._3)
      m(s"$p.plan_s") = avg(_._4)
      m(s"$p.shuffle_bytes") = avg(_._5)
      m(s"$p.input_bytes") = avg(_._6)
      m(s"$p.files_read") = avg(_._7)
      m(s"$p.rows_scanned") = avg(_._8)
    }
    // span dump: one line per span, children = jobs inside it
    val w = java.nio.file.Files.newBufferedWriter(out)
    try ws.zipWithIndex.foreach { case (win, i) =>
      val kids = js.filter(j => j.start >= win.start && j.end <= win.end)
      val dur = (win.t1 - win.t0) / 1e9
      val kidS = kids.map(j => (j.end - j.start) / 1e3).sum
      w.write(Json.obj(Seq("span" -> i.toString, "name" -> Json.str(win.label),
        "start_ms" -> win.start.toString, "dur_s" -> Json.num(dur),
        "traced" -> win.traced.toString,
        "self_s" -> Json.num(math.max(0.0, dur - kidS)),
        "jobs" -> kids.map(j => Json.obj(Seq("job" -> j.id.toString,
          "start_ms" -> j.start.toString, "dur_s" -> Json.num((j.end - j.start) / 1e3))))
          .mkString("[", ",", "]"))))
      w.newLine()
    } finally w.close()
    (m.toMap, errors.toSeq)
  }
}

final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.onAt(e.time)) {
      Trace.jobs.put(e.jobId, Trace.Job(e.jobId, e.time, Long.MaxValue))
      e.stageIds.foreach(s => Trace.stageJob.put(s, e.jobId))
      Trace.jobIo.put(e.jobId, Array(0L, 0L))
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(Trace.jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Trace.stageJob.get(e.stageId)
    val tm = e.taskMetrics
    if (tm != null && Trace.jobIo.containsKey(job)) {
      val io = Trace.jobIo.get(job)
      io.synchronized {
        io(0) += tm.inputMetrics.bytesRead
        io(1) += tm.shuffleReadMetrics.totalBytesRead + tm.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

/** Planning-phase times, files read and rows scanned per executed query. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      val start = ph.values.map(_.startTimeMs).min
      if (Trace.onAt(start)) {
        val planS = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum / 1e3
        val scans = try collect(qe.executedPlan) { case s: FileSourceScanExec => s }
          catch { case _: Throwable => Nil }
        def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
        Trace.plans.add(Trace.Plan(start, planS, metric("numFiles"),
          metric("numOutputRows")))
      }
    }
  }
}
