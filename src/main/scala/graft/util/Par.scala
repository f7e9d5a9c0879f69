package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Parallelism guard for per-row-expensive map stages.
  *
  * A small input — one file, or one parquet row group, the smallest unit
  * a scan can split — plans a single task, so tokenize/hash/decode work
  * downstream of it runs serially no matter how many cores the cluster
  * has. Parquet can't be split below a row group, so no reader conf
  * fixes this; the idiomatic cure is an explicit round-robin exchange
  * before the expensive map.
  *
  * [[spread]] applies that cure ADAPTIVELY: only when the input's scan
  * parallelism is meaningfully below the session default. At real scale
  * (many files / many row groups) the input already has at least
  * cores-many splits and this is a no-op — no extra shuffle is ever
  * added to a 100 TB plan. The repartition moves only the raw input
  * rows (pre-explode, pre-hash), which is the narrowest point of every
  * text/media pipeline.
  */
object Par {

  /** Partitions below this estimated size keep their layout: the
    * exchange would cost more than the serial work it parallelizes.
    * Tunable via `spark.graft.spread.minBytes`. */
  private val MinBytesKey = "spark.graft.spread.minBytes"
  private val MinBytesDefault = 4L * 1024 * 1024

  /** `force = true` partition sizing: the exchange always happens (the
    * point of force is that fixture FILE LAYOUT can never decide a
    * per-row-expensive stage's parallelism), but its WIDTH follows the
    * estimated input — one output partition per this many input bytes,
    * floored at 8 and capped at the session default. Measured (r11,
    * sf0.1 media family): a 32-wide exchange of a sub-MB projection
    * pays ~0.2–0.3 s of task-launch fixed cost; the same exchange at 8
    * costs ≈ nothing while still parallelizing a 2 s serial synthesis
    * 8×. Bytes-derived width is layout-invariant — both a single-file
    * and a 16-part copy of the same corpus compute the same k — which
    * a `current partitions`-based rule is not. At real scale the
    * estimate clears `target × forcePartBytes` instantly and the
    * exchange is full-width (or, with enough native splits, skipped by
    * the `current >= target` no-op above). Tunable via
    * `spark.graft.spread.forcePartBytes`. */
  private val ForcePartBytesKey = "spark.graft.spread.forcePartBytes"
  private val ForcePartBytesDefault = 32L * 1024

  /** Round-robin repartition `df` to the session's default parallelism
    * iff its current plan has fewer partitions than that AND
    * the optimizer's size estimate says each EXISTING partition carries
    * enough serial work to be worth an exchange. Gating on bytes PER
    * PARTITION (not total bytes) keeps small chained pipelines exchange-
    * free: a 6-partition 10 MB input already finishes its map stage
    * quickly, while one 200 MB fat partition genuinely starves the
    * cluster. Both probes plan the query without launching a job.
    *
    * Chained callers (tokenize → shingle → score over one input) should
    * spread ONCE at the top and pass the result through: downstream
    * spread calls then see `current == target` and no-op, and Spark's
    * exchange reuse dedupes the single repartition across the subtrees
    * of the final plan.
    *
    * `force = true` skips the SIZE gate (never the shuffle-plan
    * short-circuit or the at-target no-op): for per-row-EXPENSIVE map
    * stages — media synthesis/decode, per-token hashing — the
    * optimizer's byte estimate measures the input, not the work
    * (strings estimate at defaultSize; a generator's output is
    * invisible), so the caller's knowledge that each row is costly is
    * the only honest gate. The worst case is a few-ms exchange of a
    * tiny input; the win is that fixture FILE LAYOUT can never decide
    * the stage's parallelism — identical plans across sessions.
    *
    * `minWidth` is the per-call escape hatch for force callers whose
    * per-ROW cost, not byte volume, dominates (a seconds-per-row decode
    * over a KB-sized id projection): the byte-derived width is floored
    * at `min(minWidth, target)` so a small-byte estimate can never cap
    * the stage below what the caller knows it needs. Still a pure
    * function of (bytes, minWidth, target) — layout-invariant. 0 (the
    * default) keeps the plain bytes-derived sizing. */
  def spread(df: DataFrame, force: Boolean = false,
             minWidth: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // A plan that already contains a shuffle-inducing operator runs its
    // tail at the session shuffle parallelism — nothing to fix, and
    // probing it would be actively harmful: under AQE, `df.rdd` on a
    // plan with exchanges EXECUTES the upstream query stages to settle
    // the final plan (measured ~2 s per call on a join+agg subtree).
    // Only a narrow, exchange-free chain over a leaf scan can be
    // under-parallel, and for those `.rdd` is pure planning.
    val plan = df.queryExecution.optimizedPlan
    val alreadyWide = plan.find {
      case _: Aggregate | _: Join | _: Sort | _: Window |
           _: RepartitionOperation | _: GlobalLimit => true
      case _ => false
    }.isDefined
    if (alreadyWide) return df
    val current = df.rdd.getNumPartitions
    // Deterministic floor: ANY under-parallel layout normalizes to
    // exactly `target` partitions. The previous half-target gate let
    // the REGENERATED fixture's file layout decide (a corpus scanning
    // 17-way skipped the exchange that the same corpus at 15-way got),
    // which moved the text/dedup family 1.5–2× between sessions on
    // identical code. With the floor, every sub-target layout plans the
    // SAME downstream parallelism — layout noise collapses; at real
    // scale (current ≥ target) still a no-op.
    if (current >= target) return df
    val bytes = plan.stats.sizeInBytes
    if (force) {
      // force overrides the work heuristic (the caller knows each row
      // is expensive) — but the exchange is sized to the input, not the
      // session: small inputs don't pay 32 tasks' launch cost for 5k
      // rows, and the width is a pure function of the byte estimate so
      // every layout of the same corpus plans the same shape
      val per = spark.conf.getOption(ForcePartBytesKey).map(_.toLong)
        .getOrElse(ForcePartBytesDefault)
      val wanted = ((bytes + per - 1) / per).min(BigInt(target)).toInt
      val floor = math.max(math.min(8, target), math.min(minWidth, target))
      return df.repartition(math.max(wanted, floor))
    }
    val minBytes =
      spark.conf.getOption(MinBytesKey).map(_.toLong).getOrElse(MinBytesDefault)
    if (bytes / BigInt(math.max(current, 1)) >= minBytes)
      df.repartition(target)
    else df
  }
}
