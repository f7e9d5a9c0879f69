package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal accessor for the two `private[sql]` entry points graft's
  * temporal SQL front-end needs: parse a query to an UNRESOLVED plan,
  * and execute a (possibly rewritten) plan as a DataFrame. Lives under
  * `org.apache.spark.sql` for visibility — the standard extension-
  * library pattern; no Spark internals are modified. */
object PlanBridge {

  private def cs(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** Parse SQL text into an unresolved logical plan (no analysis). */
  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    cs(spark).sessionState.sqlParser.parsePlan(sql)

  /** Execute a logical plan as a DataFrame (analysis happens here). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(cs(spark), plan)

  /** A DataFrame's pre-analysis logical plan, for plan-level splicing. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.logical

  /** The full explain rendering of a DataFrame's query execution in the
    * given mode ("simple" | "extended" | "formatted" | "cost" |
    * "codegen") — plans only, never executes. */
  def explainString(df: DataFrame, mode: String): String =
    df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  /** Wrap a (possibly unresolved) Catalyst expression as a Column —
    * used to carry a parsed time-travel timestamp expression into a
    * DataFrame filter, where analysis resolves it in context. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)
}

object SchemaBridge {
  /** Merge two parquet-file schemas exactly the way Spark's
    * `mergeSchema` inference does (`StructType.merge`: left's fields
    * keep their order, right's new fields append; conflicting types
    * throw) — the driver-side half of [[graft.bitemporal.TxLog]]'s
    * footer-metadata cache, which replaces the per-read distributed
    * schema-inference job over immutable tx files. */
  def merge(a: org.apache.spark.sql.types.StructType,
            b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    a.merge(b)
}

object ConfBridge {
  /** Set a key on the LIVE SparkContext conf (`sc.conf` is
    * private[spark]; `getConf` hands back a copy) — needed to point
    * static-conf consumers like the Connect service at a port chosen
    * after context startup. */
  def setContextConf(sc: org.apache.spark.SparkContext,
                     key: String, value: String): Unit =
    sc.conf.set(key, value): Unit
}

object RddBridge {
  /** Convergence-probe actions issued (both checkpoint-with-count
    * variants). Tests assert the STRUCTURAL contract — fixpointN fuses a
    * whole relation vector into one probe per iteration — against this
    * counter; Spark-level job counts are an AQE implementation detail
    * (each materialized query stage is its own job). */
  val probeActions = new java.util.concurrent.atomic.AtomicLong

  /** Name every checkpoint RDD below carries, so [[release]] (and a
    * spec reading `sc.getPersistentRDDs`) can tell graft's local
    * checkpoints from other persisted RDDs. */
  val CheckpointName = "graft.localCheckpoint"

  /** The shared front half of every variant: count the probe, pin
    * `df`'s rows as a named local checkpoint (materialized by the
    * caller's one action). */
  private def pinned(df: DataFrame)
      : (classic.Dataset[org.apache.spark.sql.Row],
         org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    probeActions.incrementAndGet()
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.setName(CheckpointName)
    rdd.localCheckpoint()
    (ds, rdd)
  }

  private def frameOf(ds: classic.Dataset[org.apache.spark.sql.Row],
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : DataFrame =
    classic.Dataset.ofRows(ds.sparkSession, org.apache.spark.sql.execution
      .LogicalRDD.fromDataset(rdd, ds, isStreaming = false))

  /** Release a frame returned by one of the checkpoint variants (or any
    * frame derived from one): unpersist every graft checkpoint RDD its
    * plan reads, freeing the executor blocks now instead of whenever the
    * context cleaner notices the RDD is unreachable. The frame must not
    * be evaluated afterwards — its lineage ends at the released blocks.
    * (Through the context, not `RDD.unpersist`, which logs a WARN per
    * call that a local checkpoint cannot be recomputed — true, and the
    * point of releasing it last.) */
  def release(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    ds.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.name == CheckpointName =>
        ds.sparkSession.sparkContext.unpersistRDD(l.rdd.id, blocking = false)
      case _ => ()
    }
  }

  /** Local-checkpoint `df` and return (checkpointed frame, row count) in
    * ONE job. `Dataset.localCheckpoint(eager = true)` runs an internal
    * `rdd.count()` to materialize the checkpoint and THROWS THE COUNT
    * AWAY; iterative drivers (fixpoint) then pay a second job just to
    * learn whether the delta was empty. This mirrors the Dataset
    * implementation (same `toRdd.map(_.copy())` + `localCheckpoint` +
    * count + `LogicalRDD.fromDataset`) but hands the count back — the
    * convergence probe rides along free, a bare RDD job with no second
    * Catalyst plan. */
  def localCheckpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val (ds, rdd) = pinned(df)
    val n = rdd.count()
    (frameOf(ds, rdd), n)
  }

  /** [[localCheckpointWithCount]] for a TAGGED UNION: `df`'s first
    * column must be an int discriminator. Returns the checkpointed
    * frame plus per-tag row counts, still in ONE job — `fixpointN`
    * fuses all per-relation convergence probes of an iteration into a
    * single tagged plan, and this hands back each relation's emptiness
    * verdict without per-relation jobs. The tag map is driver-side but
    * bounded by the number of relations, not data. */
  /** [[localCheckpointWithCount]] counting only rows whose boolean
    * column at `boolOrdinal` is true — iterative drivers whose
    * convergence test is a PREDICATE (e.g. label-propagation's "did any
    * label change") fold checkpoint + that conditional count into one
    * job instead of eager-checkpoint + filter().count(). The column
    * must be non-nullable (use `!(a <=> b)`, not `a =!= b`). */
  def localCheckpointWithTrueCount(df: DataFrame, boolOrdinal: Int)
      : (DataFrame, Long) = {
    val (ds, rdd) = pinned(df)
    // computing the filtered child materializes the parent's checkpoint
    // (every partition is fully iterated), same as a bare count
    val n = rdd.filter(_.getBoolean(boolOrdinal)).count()
    (frameOf(ds, rdd), n)
  }

  /** [[localCheckpointWithCount]] that ALSO collects, inside the same
    * materializing job, (a) the distinct values of the column at
    * `keyOrdinal` up to `keyCap` + 1 of them and (b) the distinct
    * tuples over `tupleOrdinals` up to `tupleCap` + 1 — the matview
    * refresh's affected-bucket set and touched-group probe, which
    * otherwise each cost one more Spark job over the just-checkpointed
    * delta (optimization r17, guide §2.4 "do fewer passes"). A `None`
    * means that collection OVERFLOWED its cap (the caller keeps its
    * job-based fallback path); the driver-side footprint is bounded by
    * the caps either way — the same metadata size class as the
    * affected-bucket collect this replaces. Values convert to external
    * Scala types (what `lit()`/`isin` expect), exactly like a
    * `collect()` would hand back. */
  def localCheckpointWithStats(df: DataFrame, keyOrdinal: Int, keyCap: Int,
                               tupleOrdinals: Seq[Int], tupleCap: Int)
      : (DataFrame, Long, Option[Seq[Any]],
         Option[Seq[org.apache.spark.sql.Row]]) = {
    val (ds, rdd) = pinned(df)
    val schema = ds.schema
    val keyType = schema(keyOrdinal).dataType
    val keyConv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(keyType)
    val tupleTypes = tupleOrdinals.map(schema(_).dataType)
    val tupleConvs = tupleTypes.map(
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter)
    val tupleOrds = tupleOrdinals.toArray
    // (rows, distinct keys, distinct tuples); sets stop growing one
    // past their cap — enough for the caller to detect overflow
    type Acc = (Long, Set[Any], Set[Seq[Any]])
    val zero: Acc = (0L, Set.empty, Set.empty)
    val (n, keys, tuples) = rdd.aggregate(zero)(
      (acc, row) => {
        val ks =
          if (acc._2.size > keyCap) acc._2
          else acc._2 + keyConv(row.get(keyOrdinal, keyType))
        val ts =
          if (acc._3.size > tupleCap) acc._3
          else acc._3 + tupleOrds.indices
            .map(i => tupleConvs(i)(row.get(tupleOrds(i), tupleTypes(i))))
            .toSeq
        (acc._1 + 1L, ks, ts)
      },
      (a, b) => (a._1 + b._1,
        if (a._2.size > keyCap) a._2
        else (a._2 ++ b._2).take(keyCap + 1),
        if (a._3.size > tupleCap) a._3
        else (a._3 ++ b._3).take(tupleCap + 1)))
    (frameOf(ds, rdd), n,
      if (keys.size > keyCap) None else Some(keys.toSeq),
      if (tuples.size > tupleCap) None
      else Some(tuples.toSeq.map(
        vs => org.apache.spark.sql.Row.fromSeq(vs))))
  }

  def localCheckpointWithTagCounts(df: DataFrame): (DataFrame, Map[Int, Long]) = {
    val (ds, rdd) = pinned(df)
    val counts: Map[Int, Long] =
      rdd.map(_.getInt(0)).countByValue().toMap
    (frameOf(ds, rdd), counts)
  }
}
