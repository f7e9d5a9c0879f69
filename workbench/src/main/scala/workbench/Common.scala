package workbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark run. `ops` is derived from the
  * requested seconds by a fixed nominal rate per workload (never from
  * measured speed), so a slower program does the same work, not less. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, data: String, work: String,
                      smoke: Boolean, digests: Option[String], record: Boolean) {
  /** set-up runs this often; `setup_s` is the median */
  def setupReps: Int = if (smoke) 1 else 3
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.get("trace").contains("1"), need("data"), need("work"),
      m.get("smoke").contains("1"),
      m.get("digests"), m.get("record").contains("1"))
  }
}

/** One operation of a workload's op sequence. `run` is the timed part
  * (what the client waits for); `check` compares its output with the
  * client's model and runs outside the timed window, as does `extra`,
  * the read-only per-layer probes of a traced run. */
trait Op {
  def cls: String
  /** extra sample keys (sub-classes) the latency is also recorded under */
  def tags: Seq[String] = Nil
  def run(): Any
  def check(out: Any): Boolean
  def extra(): Unit = ()
}

/** A workload: set-up (repeatable), then a seeded op sequence. */
trait Workload {
  /** nominal ops per requested second, fixing the op count of a run */
  def nominalRate: Double
  /** ops run untimed before a traced run's traced half, so that both of
    * its halves run warm */
  def warmupOps: Int
  /** the workload's op classes in the three role metrics */
  def readCls: Seq[String]
  def writeCls: Seq[String]
  def bulkCls: Seq[String]
  def setup(rep: Int): Unit
  def nextOp(i: Int): Op
  /** the op count is rounded to a whole number of these */
  def cycleOps: Int = 1
  /** end-of-run per-layer figures of this workload (name -> value),
    * given the measured samples and the traced run's engine figures */
  def layerMetrics(s: Samples, tm: Map[String, Double]): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Client-side model of a keyed table: live rows by id, plus an O(1)
  * uniform pick over live ids. */
final class Model[R] {
  val rows = mutable.HashMap.empty[Long, R]
  private val ids = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  def put(id: Long, r: R): Unit = {
    if (!rows.contains(id)) { pos(id) = ids.size; ids += id }
    rows(id) = r
  }
  def remove(id: Long): Unit = if (rows.remove(id).isDefined) {
    val i = pos.remove(id).get
    val last = ids.remove(ids.size - 1)
    if (last != id) { ids(i) = last; pos(last) = i }
  }
  def pick(rng: scala.util.Random): Long = ids(rng.nextInt(ids.size))
  def size: Int = rows.size
}

object Stats {
  /** linear-interpolated percentile, q in [0, 1] */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object TimeIt {
  def apply(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

object Fs {
  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  /** bytes of data files under `p` (Hadoop .crc side files excluded) */
  def bytes(p: Path): Long =
    walk(p).filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum
  def files(p: Path): Int =
    walk(p).count(f => f.getFileName.toString.endsWith(".parquet"))
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
  def path(first: String, more: String*): Path = Paths.get(first, more: _*)
}

/** Minimal JSON writer for the result line. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Per-class latency samples of the measured phase. */
final class Samples {
  val byCls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(cls: String, s: Double): Unit =
    byCls.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += s
  def of(classes: Seq[String]): Seq[Double] =
    classes.flatMap(c => byCls.getOrElse(c, Nil))
}
