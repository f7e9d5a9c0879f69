package graft.ra

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational-algebra combinators mirroring the reference engine's
  * logical-plan operator inventory (xtdb/core2; see SURVEY.md §2.1 —
  * upstream operators live under `core/src/core2/operator/`, cf.
  * /root/reference/README.adoc:13 "full SQL capability ... multiple N-ary
  * relations").
  *
  * Design stance: each op is a thin, declarative wrapper over the
  * DataFrame API so Catalyst keeps full visibility — predicate pushdown,
  * column pruning, join selection, whole-stage codegen all apply. This is
  * the Spark-first replacement for core2's hand-built vectorized cursor
  * tree (ICursor): we declare, Catalyst/Tungsten execute.
  */
object RA {

  /** `:scan` — core2 pushes column selection, predicates and temporal
    * bounds into per-chunk metadata/bloom pruning. Spark equivalent:
    * parquet column projection + filter pushdown gives file/row-group
    * pruning for free; callers pass `cols`/`pred` *before* any other op so
    * the scan node receives them. */
  def scan(spark: SparkSession, dir: String, table: String,
           cols: Seq[String] = Nil, pred: Option[Column] = None): DataFrame = {
    val base = spark.read.parquet(s"$dir/$table.parquet")
    val projected = if (cols.nonEmpty) base.select(cols.map(col): _*) else base
    pred.fold(projected)(projected.filter)
  }

  /** `:table` — literal inline relation (VALUES). */
  def tableLit(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** `:csv` — CSV source with DECLARED schema (the reference's csv
    * operator takes explicit column types; no inference pass, which
    * would mean a second full read at 100 TB). */
  def csv(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType,
          header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** JSONL (newline-delimited JSON) source with DECLARED schema — the
    * interchange format training-data pipelines actually move corpora
    * in. Same no-inference stance as [[csv]]: an inference pass is a
    * second full read at 100 TB. Splittable per line like csv. */
  def jsonl(spark: SparkSession, path: String,
            schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** `:select` — 3VL filter: rows kept only when predicate is TRUE
    * (UNKNOWN drops), which is Spark's native filter semantics. */
  def select(df: DataFrame, pred: Column): DataFrame = df.filter(pred)

  /** `:project` — projection incl. computed expressions. */
  def project(df: DataFrame, exprs: Column*): DataFrame = df.select(exprs: _*)

  /** `:map` / project-extend — add computed columns, keep existing. */
  def extend(df: DataFrame, cols: (String, Column)*): DataFrame =
    df.withColumns(cols.toMap)

  /** `:rename` */
  def rename(df: DataFrame, renames: (String, String)*): DataFrame =
    df.withColumnsRenamed(renames.toMap)

  /** `:distinct` — bag→set; SQL DISTINCT treats NULLs as equal, as does
    * Spark's distinct. */
  def distinct(df: DataFrame): DataFrame = df.distinct()

  /** `:union-all` — positional bag union. */
  def unionAll(a: DataFrame, b: DataFrame): DataFrame = a.union(b)

  /** `:intersect` — set intersect (NULL-safe, deduplicating). */
  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)

  /** `:difference` — set difference (EXCEPT). */
  def difference(a: DataFrame, b: DataFrame): DataFrame = a.except(b)

  /** `:cross-join` */
  def crossJoin(a: DataFrame, b: DataFrame): DataFrame = a.crossJoin(b)

  /** `:join` / `:left-outer-join` / `:full-outer-join` / `:semi-join` /
    * `:anti-join` — equi joins. Catalyst picks broadcast vs shuffle
    * strategy; pass `broadcastRight = true` to force a broadcast of a
    * known-small build side (dimension tables) as core2's hash join always
    * builds on the right. */
  def join(a: DataFrame, b: DataFrame, cond: Column,
           joinType: String = "inner", broadcastRight: Boolean = false): DataFrame =
    a.join(if (broadcastRight) broadcast(b) else b, cond, joinType)

  /** Salted equi-join for skewed keys: the hot-key antidote when AQE's
    * skew-join splitting isn't enough (e.g. a single key holding >1 task's
    * worth of rows on BOTH sides is un-splittable without replication).
    * Left rows get a random salt in [0, salt); right rows are replicated
    * `salt` times (explode of a literal range); the join key becomes
    * (key, salt), spreading each hot key over `salt` reducers. Use when
    * the right side is the smaller-but-not-broadcastable one. */
  def saltedJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
                 salt: Int, joinType: String = "inner"): DataFrame = {
    require(salt > 1, "salt must be > 1")
    // right replicas would each surface once as null-padded rows under
    // right/full outer — only left-preserving types are semantics-safe
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedJoin: right-preserving join type '$joinType' would " +
        "duplicate unmatched right rows per salt replica")
    // salt derived from the DATA, not rand(): Spark's rand is
    // partition-index-seeded, so a stage retry after an AQE repartition
    // can re-deal salts mid-query (rows migrate reducers; results not
    // byte-reproducible across cluster layouts). Hashing every left
    // column spreads a hot key just as well — only full-duplicate rows
    // co-locate, which is harmless — and is deterministic under any
    // physical layout.
    val sa = a.withColumn("_salt",
      pmod(xxhash64(a.columns.map(col): _*), lit(salt.toLong)).cast("int"))
    val sb = b.withColumn("_salt", explode(array((0 until salt).map(lit): _*)))
    sa.join(sb, keys :+ "_salt", joinType).drop("_salt")
  }

  /** `:mark-join` — NULL-aware EXISTS/IN as a first-class operator
    * (core2's planner primitive for `x IN (subquery)` / NOT IN): keeps
    * every left row and adds a THREE-VALUED `mark` column —
    *   TRUE   a definite match exists,
    *   FALSE  definitely no match (incl. empty right, even for NULL x),
    *   NULL   unknown — x IS NULL with a nonempty right, or no match
    *          while the right side contains NULLs.
    * Shape: one equi-join on the DISTINCT non-null right keys (AQE
    * decides broadcast vs shuffle) + a broadcast 1-row right summary —
    * never a per-row subquery. Negate `mark` for NOT IN and UNKNOWN
    * drops rows, which is exactly the trap NOT IN is famous for. */
  def markJoin(left: DataFrame, right: DataFrame,
               leftKey: Column, rightKey: Column,
               as: String = "mark"): DataFrame = {
    val stats = right.agg(
      count(lit(1)).as("_mk_total"),
      count(when(rightKey.isNull, 1)).as("_mk_nulls"))
    val keys = right.select(rightKey.as("_mk_k"))
      .filter(col("_mk_k").isNotNull)
      .distinct().withColumn("_mk_hit", lit(true))
    left.crossJoin(broadcast(stats))
      .join(keys, leftKey === col("_mk_k"), "left")
      .withColumn(as,
        when(col("_mk_hit"), lit(true))
          .when(col("_mk_total") === 0, lit(false))
          .when(leftKey.isNull || col("_mk_nulls") > 0, lit(null).cast("boolean"))
          .otherwise(lit(false)))
      .drop("_mk_total", "_mk_nulls", "_mk_k", "_mk_hit")
  }

  /** `:group-by` — hash aggregation; Spark runs partial (map-side) +
    * final aggregation with spill, strictly more scalable than core2's
    * single in-memory hash (SURVEY.md §2.2). */
  def groupBy(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** `:order-by` — total sort; callers use `.asc_nulls_first` etc. for
    * per-key null placement exactly as core2's order-by specs allow. */
  def orderBy(df: DataFrame, keys: Column*): DataFrame = df.orderBy(keys: _*)

  /** `:top` — offset + limit after sort. */
  def top(df: DataFrame, offset: Int, limit: Int): DataFrame =
    (if (offset > 0) df.offset(offset) else df).limit(limit)

  /** `:unwind` — explode a list column, optionally with ordinality. */
  def unwind(df: DataFrame, listCol: Column, as: String,
             ordinality: Option[String] = None): DataFrame =
    ordinality match {
      case None => df.withColumn(as, explode(listCol))
      case Some(ord) =>
        df.select(df.columns.map(col) :+
          posexplode(listCol).as(Seq(ord, as)): _*)
          .withColumn(ord, col(ord).cast("long") + 1)
    }

  /** `:max-1-row` — scalar-subquery cardinality guard: error on >1 row,
    * single all-NULL row on empty input (core2
    * `operator/max_1_row.clj` semantics). The limit(2) probe keeps the
    * check O(1) rows on the driver. */
  def max1Row(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val two = df.limit(2).collect()
    if (two.length > 1)
      throw new IllegalStateException("max-1-row: more than one row")
    // Build the result from the already-collected row — never re-execute
    // the plan (a second run could return a different row on
    // nondeterministic input, or a different cardinality on a live source).
    val rows =
      if (two.length == 1) two.toSeq
      else Seq(org.apache.spark.sql.Row(df.schema.fields.map(_ => null): _*))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(df.schema.fields.map(_.copy(nullable = true))))
  }

  /** `:fixpoint` (μ) — recursive fixpoint (WITH RECURSIVE / recursive
    * datalog rules). Semi-naive evaluation: only the newly-derived
    * frontier feeds the next step; `localCheckpoint` truncates lineage so
    * plans don't grow exponentially across iterations (each iteration is
    * a distributed union+distinct — no driver-side data). */
  def fixpoint(base: DataFrame, step: DataFrame => DataFrame,
               maxIter: Int = 100, compactEvery: Int = 8): DataFrame = {
    // Re-alias every column (fresh expression IDs): when `step` derives
    // its result from the same DataFrame as `base` (e.g. joining the edge
    // relation each iteration), union/except children would share
    // attribute IDs, which breaks Catalyst's Union constraint rewriting.
    def fresh(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)): _*)
    // Constraint propagation is scope-disabled: localCheckpoint'd
    // set-op/join plans snapshot constraints that can reference attrs of
    // discarded subtrees (stale after checkpointing), which breaks Union
    // constraint rewriting at analysis time on later iterations. The
    // LogicalRDDs created here snapshot (empty) constraints eagerly, so
    // the returned plan stays clean after the conf is restored.
    val spark = base.sparkSession
    val confKey = "spark.sql.constraintPropagation.enabled"
    val oldConf = spark.conf.get(confKey, "true")
    spark.conf.set(confKey, "false")
    try {
      var acc = base.distinct().localCheckpoint()
      var frontier = acc
      var i = 0
      var sinceCompact = 0
      var done = false
      while (!done && i < maxIter) {
        // distinct() BEFORE except is deliberate, not redundant: EXCEPT
        // dedups only AFTER its anti join, while closure steps re-derive
        // the same fact many times — pre-dedup shrinks the anti-join
        // probe side by the re-derivation factor. Checkpoint and
        // convergence probe are ONE job (RddBridge.localCheckpointWithCount
        // — the count that materializes the checkpoint is returned
        // instead of discarded; the eager-checkpoint + isEmpty pair was
        // two scheduler round-trips per iteration).
        val (next, n) = org.apache.spark.sql.graftbridge.RddBridge
          .localCheckpointWithCount(fresh(step(frontier).distinct()).except(acc))
        if (n == 0L) done = true
        else {
          // acc accumulates as a union of CHECKPOINTED deltas and is
          // itself re-checkpointed only every few iterations: per-round
          // re-materialization of the whole accumulator would be
          // quadratic I/O over iterations, while never compacting grows
          // the union plan (and per-iteration analysis cost) without
          // bound — compacting every `compactEvery` rounds bounds both.
          acc = acc.union(fresh(next))
          sinceCompact += 1
          if (sinceCompact >= compactEvery) {
            acc = acc.localCheckpoint(); sinceCompact = 0
          }
          frontier = next
        }
        i += 1
      }
      // A silently truncated closure is indistinguishable from a converged
      // one — fail loudly instead (WITH RECURSIVE would keep iterating).
      if (!done)
        throw new IllegalStateException(
          s"fixpoint: no convergence after $maxIter iterations")
      acc
    } finally spark.conf.set(confKey, oldConf)
  }

  /** Multi-relation semi-naive fixpoint (μ over a vector of relations) —
    * the general engine for MUTUALLY recursive and NON-LINEAR datalog
    * rules, where [[fixpoint]]'s single accumulator can't represent the
    * state. `None` stands for a relation with no facts yet (a rule with
    * no base body derives only from other members' deltas), avoiding
    * fabricated empty schemas.
    *
    * `step(accs, deltas)` must return, per relation, the facts derivable
    * using AT LEAST ONE delta — the caller implements the
    * (Δ×all) ∪ (all×Δ) expansion per rule body; this driver handles
    * dedup (`distinct`), novelty (`except acc`), accumulation, lineage
    * truncation (`localCheckpoint` — plans would otherwise grow
    * exponentially across iterations) and convergence. Distributed
    * throughout: each iteration is union/distinct/except jobs, no
    * driver-side data beyond the per-relation emptiness probe. */
  def fixpointN(bases: Seq[Option[DataFrame]],
                step: (Seq[Option[DataFrame]], Seq[Option[DataFrame]]) => Seq[Option[DataFrame]],
                maxIter: Int = 100, compactEvery: Int = 8): Seq[Option[DataFrame]] = {
    require(bases.exists(_.nonEmpty),
      "fixpointN: at least one relation needs base facts")
    def fresh(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)): _*)
    // Same constraint-propagation scope-disable as [[fixpoint]] (stale
    // snapshot constraints on localCheckpoint'd set-op plans).
    val spark = bases.flatten.head.sparkSession
    val confKey = "spark.sql.constraintPropagation.enabled"
    val oldConf = spark.conf.get(confKey, "true")
    spark.conf.set(confKey, "false")
    try {
      var accs = bases.map(_.map(_.distinct().localCheckpoint()))
      var deltas = accs
      var i = 0
      var sinceCompact = 0
      var done = false
      while (!done && i < maxIter) {
        // pre-distinct is deliberate (see [[fixpoint]]): dedup before
        // the EXCEPT anti join, not only after it.
        val derived = step(accs, deltas)
        require(derived.length == accs.length, "fixpointN: step arity mismatch")
        val novels = accs.zip(derived).map { case (accOpt, dOpt) =>
          dOpt.map(d => accOpt.fold(fresh(d.distinct()))(acc =>
            fresh(d.distinct()).except(acc)))
        }
        // The per-relation novel-delta plans stay LAZY and are fused
        // into one tagged union, so checkpoint + convergence probe for
        // the WHOLE vector is ONE Spark job per iteration — not r
        // sequential scheduler round-trips (recursion depth × r jobs
        // is exactly what makes deep mutual recursion latency-bound).
        // Spark's DAG scheduler runs the independent per-relation
        // stages of that single job concurrently. Driver-THREAD
        // concurrency (futures per relation) was tried and measured no
        // faster locally while adding planning-lock contention; fusing
        // is deterministic — the job count per iteration drops from r
        // to 1 (asserted in RASpec).
        val live = novels.zipWithIndex.collect { case (Some(n), idx) => (n, idx) }
        val next: Seq[Option[DataFrame]] =
          if (live.isEmpty) Seq.fill(novels.size)(None)
          else if (live.size == 1) {
            // single live relation: nothing to fuse
            val (n, idx) = live.head
            val (cp, cnt) = org.apache.spark.sql.graftbridge.RddBridge
              .localCheckpointWithCount(n)
            novels.indices.map(j => if (j == idx && cnt > 0L) Some(cp) else None)
          } else {
            // (_tag, _s0 … _s{r-1}): each branch packs its own columns
            // into its struct slot and nulls the others, so heterogeneous
            // schemas union by position.
            val schemas = live.map { case (n, idx) => idx -> n.schema }.toMap
            val fusedPlan = live.map { case (n, idx) =>
              n.select(lit(idx).as("_tag") +: live.map { case (_, j) =>
                if (j == idx) struct(n.columns.map(col): _*).as(s"_s$j")
                else lit(null).cast(schemas(j)).as(s"_s$j")
              }: _*)
            }.reduce(_.unionAll(_))
            val (cp, counts) = org.apache.spark.sql.graftbridge.RddBridge
              .localCheckpointWithTagCounts(fusedPlan)
            novels.indices.map { j =>
              if (counts.getOrElse(j, 0L) == 0L) None
              else Some(cp.where(col("_tag") === j).select(
                schemas(j).fieldNames.toSeq.map(f =>
                  col(s"_s$j").getField(f).as(f)): _*))
            }
          }
        if (next.forall(_.isEmpty)) done = true
        else {
          // union of checkpointed deltas with periodic compaction, as
          // in [[fixpoint]] — amortized-linear I/O, bounded plan size
          sinceCompact += 1
          val compactNow = sinceCompact >= compactEvery
          if (compactNow) sinceCompact = 0
          accs = accs.zip(next).map {
            case (accOpt, Some(n)) =>
              val u = accOpt.fold(n)(a => a.union(fresh(n)))
              Some(if (compactNow) u.localCheckpoint() else u)
            case (accOpt, None) => accOpt
          }
          deltas = next
        }
        i += 1
      }
      if (!done)
        throw new IllegalStateException(
          s"fixpointN: no convergence after $maxIter iterations")
      accs
    } finally spark.conf.set(confKey, oldConf)
  }
}
