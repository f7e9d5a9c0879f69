package graft.util

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The parallelism guard's two invariants: it NEVER probes (or adds an
  * exchange to) a plan that already shuffles — probing such plans under
  * AQE executes their upstream stages (the r7 q99 regression) — and it
  * normalizes EVERY under-parallel big scan to the same partition
  * count, so fixture file layout cannot move downstream map-stage
  * timings between sessions. */
class ParSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def bigNarrow(parts: Int) = {
    val s = spark
    import s.implicits._
    // ~32 MB by the OPTIMIZER'S estimate (what the gate reads; string
    // literals are estimated at defaultSize, so width must come from
    // row count × numeric columns): past the 4 MB/partition gate
    s.range(0, 2000000, 1, parts).select($"id", ($"id" * 2).as("v"))
  }

  test("plans that already shuffle are returned UNTOUCHED (no AQE probe)") {
    val s = spark
    import s.implicits._
    val base = bigNarrow(1)
    val agg = base.groupBy($"id" % 10).count()
    assert(Par.spread(agg) eq agg, "aggregate plan must short-circuit")
    val joined = base.as("a").join(base.as("b"), "id")
    assert(Par.spread(joined) eq joined, "join plan must short-circuit")
    val sorted = base.orderBy($"id")
    assert(Par.spread(sorted) eq sorted, "sort plan must short-circuit")
  }

  test("every under-parallel layout normalizes to the SAME parallelism") {
    val target = spark.sparkContext.defaultParallelism
    // layouts 1, 2, …, target-1: all plan exactly `target` partitions
    // after spread — the cross-session layout noise collapses to one
    // deterministic shape
    val seen = (1 until math.max(target, 2)).map(p =>
      Par.spread(bigNarrow(p)).rdd.getNumPartitions).toSet
    assert(seen == Set(target), s"expected {$target}, got $seen")
    // at/above target: no exchange added
    val at = bigNarrow(target)
    assert(Par.spread(at) eq at)
    val above = bigNarrow(target + 2)
    assert(Par.spread(above) eq above)
  }

  test("tiny inputs keep their layout (exchange costs more than it buys)") {
    val s = spark
    import s.implicits._
    val tiny = s.range(0, 50, 1, 1).select($"id", lit("x").as("pad"))
    assert(Par.spread(tiny) eq tiny)
  }

  test("force: exchange width follows the byte estimate, never the layout") {
    val s = spark
    import s.implicits._
    val target = spark.sparkContext.defaultParallelism
    // a real corpus estimate (≫ target × 32 KB) exchanges full-width
    val big = bigNarrow(1)
    assert(Par.spread(big, force = true).rdd.getNumPartitions == target)
    // a small input still exchanges (layout determinism is the point —
    // the r10 A/B showed a single-file layout running a 2 s synthesis
    // SERIALLY when the exchange was skipped) but only 8-wide: ~zero
    // fixed cost instead of 32 task launches (the r10 q68/q69 2×)
    val floor = math.min(8, target)
    val tiny = s.range(0, 500, 1, 1).select($"id", ($"id" * 2).as("v"))
    assert(Par.spread(tiny, force = true).rdd.getNumPartitions == floor)
    // …and the width is a pure function of BYTES: the same tiny input
    // pre-split 3 ways plans the identical exchange — file layout can
    // never move a forced stage's parallelism between sessions
    val tiny3 = s.range(0, 500, 1, 3).select($"id", ($"id" * 2).as("v"))
    assert(Par.spread(tiny3, force = true).rdd.getNumPartitions == floor)
    // the per-partition byte knob scales the width
    spark.conf.set("spark.graft.spread.forcePartBytes", (1024L * 1024 * 1024).toString)
    try assert(Par.spread(bigNarrow(1), force = true)
      .rdd.getNumPartitions == floor)
    finally spark.conf.unset("spark.graft.spread.forcePartBytes")
  }

  test("force: minWidth lifts the floor for per-row-expensive callers") {
    val s = spark
    import s.implicits._
    val target = spark.sparkContext.defaultParallelism
    // a KB-sized projection whose every ROW costs seconds (decode
    // fixtures):
    // the caller's minWidth overrides the byte-derived cap…
    val tiny = s.range(0, 500, 1, 1).select($"id", ($"id" * 2).as("v"))
    assert(Par.spread(tiny, force = true, minWidth = target)
      .rdd.getNumPartitions == target)
    // …capped at the session target (never over-partitions)…
    assert(Par.spread(tiny, force = true, minWidth = target * 4)
      .rdd.getNumPartitions == target)
    // …and stays layout-invariant: the pre-split copy plans the same
    val tiny3 = s.range(0, 500, 1, 3).select($"id", ($"id" * 2).as("v"))
    assert(Par.spread(tiny3, force = true, minWidth = target)
      .rdd.getNumPartitions == target)
  }

}
