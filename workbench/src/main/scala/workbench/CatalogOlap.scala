package workbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** `catalog_olap`: a fixed subset of `SparkEntry.queries`, run
  * in-process in passes of a fixed order. Each query executes its own
  * physical plan once, in one SQL execution, with every output column
  * materialized into an order-insensitive digest (the same work as the
  * noop sink, plus a hash per row); the digest must equal the one
  * recorded for the fixture. No tx log of a table, no refresh, no
  * front door: operators, Catalyst and per-job driver cost do the work. */
final class CatalogOlap(spark: SparkSession, a: Args) extends Workload {
  // The subset keeps every family of the catalog while a pass stays near
  // 20 s on 4 cores; the other listed entries (q12–q16, q41, q54,
  // q58, q84, q90, q144) would more than double a pass.
  val groups: Seq[(String, Seq[String])] = Seq(
    "tpch" -> Seq("q00_tpch_q1"),
    "relational" -> Seq("q11_join_inner"),
    "bitemporal" -> Seq("q52_bitemp_fold", "q53_bitemp_asof", "q55_txlog_current",
      "q72_txlog_tail", "q142_timeline_sweep"),
    "datalog" -> Seq("q23_fixpoint"),
    "llm" -> Seq("q121_ivfpq_search"))
  private val names = groups.flatMap(_._2)
  private val groupOf = groups.flatMap { case (g, qs) => qs.map(_ -> g) }.toMap
  /** the two catalog queries that append to and compact a tx log */
  private val txlogQueries = Set("q55_txlog_current", "q72_txlog_tail")
  private val foldQueries = Set("q52_bitemp_fold", "q53_bitemp_asof",
    "q142_timeline_sweep")

  val nominalRate = 0.5
  /** An untraced run measures each query's first run in the JVM: a
    * warm-up pass would lengthen every run by ~20 s, and the set-up scans
    * warm the JVM. A traced run warms up with one pass, since the first
    * run of a query takes 2–3x its later runs. */
  val warmupOps: Int = names.size
  override val cycleOps: Int = names.size
  /** the three role metrics split the pass: read-only queries, the
    * tx-log writers and the bitemporal folds */
  val readCls = Seq("query/read")
  val writeCls = Seq("query/txlog")
  val bulkCls = Seq("query/fold")

  private val fns = graft.SparkEntry.queries
  private val digests: mutable.Map[String, String] = CatalogOlap.loadDigests(a)

  def setup(rep: Int): Unit =
    // fixture load: every table the subset reads, scanned in full
    Seq("region", "customer", "orders", "lineitem", "embeddings").foreach { t =>
      graft.Tables.load(spark, a.data, t).write.format("noop").mode("overwrite").save()
    }

  /** A fixed order, whatever the seed: queries that share code share its
    * first-run cost, so a shuffled order moved that cost between classes
    * (the fold class's mean spread 0.45 over ten shuffled runs). */
  def nextOp(i: Int): Op = {
    val q = names(i % names.size)
    new Op {
      val cls = "query"
      override val tags: Seq[String] = Seq(s"query/${groupOf(q)}", s"q/$q") ++
        (if (txlogQueries(q)) Seq("query/txlog") else Nil) ++
        (if (foldQueries(q)) Seq("query/fold") else Nil) ++
        (if (!txlogQueries(q) && !foldQueries(q)) Seq("query/read") else Nil)
      def run(): Any = CatalogOlap.materialize(fns(q)(spark, a.data))
      def check(out: Any): Boolean = digests.get(q) match {
        case Some(d) => d == out
        case None if a.record => digests(q) = out.toString; true
        case None => false
      }
    }
  }

  override def layerMetrics(s: Samples, tm: Map[String, Double]): Map[String, Double] =
    groups.map { case (g, _) => s"catalog.$g.p50_s" -> Stats.median(s.of(Seq(s"query/$g"))) }.toMap

  override def close(): Unit = if (a.record) CatalogOlap.saveDigests(a, digests)
}

object CatalogOlap {
  private def key(a: Args) = new java.io.File(a.data).getName

  def loadDigests(a: Args): mutable.Map[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    a.digests.map(new java.io.File(_)).filter(_.exists).foreach { f =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get(key(a))
      if (node != null) node.fields().forEachRemaining(e => m(e.getKey) = e.getValue.asText)
    }
    m
  }

  def saveDigests(a: Args, d: mutable.Map[String, String]): Unit = {
    val f = new java.io.File(a.digests.get)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root =
      if (f.exists) om.readTree(f).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else om.createObjectNode()
    val node = root.putObject(key(a))
    d.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    om.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }

  /** Execute `df`'s physical plan once, hashing every output value:
    * "<rows>:<sum of row hashes>" (order-insensitive). Doubles keep 20
    * mantissa bits, so float summation order cannot change a digest. */
  def materialize(df: DataFrame): String = {
    val qe = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    SQLExecution.withNewExecutionId(qe, Some("workbench digest")) {
      val parts = qe.executedPlan.execute().mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r => n += 1; h += rowHash(r, types) }
        Iterator((n, h))
      }.collect()
      s"${parts.map(_._1).sum}:${java.lang.Long.toHexString(parts.map(_._2).sum)}"
    }
  }

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def dbl(d: Double): Long =
    if (d == 0.0) 0L // -0.0 and 0.0 agree
    else java.lang.Double.doubleToLongBits(d) & 0xffffffff00000000L

  private def rowHash(r: InternalRow, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) {
      h = mix(h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, types(i)), types(i))))
      i += 1
    }
    h
  }

  private def value(v: Any, t: DataType): Long = t match {
    case DoubleType => dbl(v.asInstanceOf[Double])
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case _: DecimalType => dbl(v.asInstanceOf[Decimal].toDouble)
    case ArrayType(et, _) =>
      val ad = v.asInstanceOf[ArrayData]
      var h = 7L
      var i = 0
      while (i < ad.numElements()) {
        h = mix(h * 31 + (if (ad.isNullAt(i)) 0x5bd1e995L else value(ad.get(i, et), et)))
        i += 1
      }
      h
    case st: StructType => rowHash(v.asInstanceOf[InternalRow], st.fields.map(_.dataType))
    case _ => v.hashCode.toLong // strings (UTF8String), integers, booleans, timestamps
  }
}
