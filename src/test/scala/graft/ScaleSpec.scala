package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup
import graft.ra.RA

/** Scale-stress for the iterative drivers — the two places where a
  * hidden quadratic would survive the sf0.01 oracle and die at 100 TB:
  * the dedup family's candidate generation (q41/q42/q84 shapes) and the
  * fixpoint driver at 100+ iterations.
  *
  * Strategy: run the identical pipeline at n and 10n docs over a
  * ZIPFIAN corpus (hot shingles, hot prefixes — the adversarial skew
  * for banded blocking) and assert wall time grows like the data (a
  * generous 30x bound at 10x data: linear-ish passes at ~10-15x,
  * an all-pairs quadratic would hit ~100x), plus a driver-heap bound.
  *
  * EXCLUDED from the default suite (wall time is inherently noisy in
  * CI containers): each test no-ops to `ignore` unless GRAFT_SCALE=1.
  * Run with:  GRAFT_SCALE=1 sbt "testOnly graft.ScaleSpec"
  * Results are recorded in BASELINE.md ("scale stress" row).
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.get("GRAFT_SCALE").contains("1")) test(name)(body)
    else ignore(name)(body)

  /** Zipfian synthetic corpus: vocabulary ranks drawn ~ 1/rank (hot
    * head words ⇒ hot shingles/prefixes), ~20% near-duplicate docs
    * (copy of the previous doc with one token changed). Deterministic
    * per id — executor-side generation, no driver materialization. */
  private def corpus(n: Long): DataFrame = {
    val vocab = 2000
    spark.range(n).map { boxed =>
      val id: Long = boxed
      val seed: Long = if (id % 5 == 0 && id > 0) id - 1 else id
      val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L)
      val len = 30 + (seed % 40).toInt
      val words = Array.tabulate(len) { _ =>
        val u = rnd.nextDouble()
        val rank = math.min(vocab - 1,
          math.floor(math.exp(u * math.log(vocab.toDouble))).toInt)
        s"w$rank"
      }
      if (id % 5 == 0 && id > 0) words(len / 2) = s"mut$id"
      (id, words.mkString(" "))
    }.toDF("doc_id", "text").localCheckpoint()
  }

  /** q41 shape: minhash signature -> banded LSH candidates. */
  private def lshCandidates(docs: DataFrame): Long =
    Dedup.minhashCandidates(
      Dedup.minhashSignature(
        Dedup.hashedShingles(
          Dedup.shingles(docs, "doc_id", "text"), "doc_id"),
        "doc_id", k = 16),
      "doc_id", k = 16, bands = 8).count()

  /** q42 shape: PPJoin rarest-prefix blocking + exact Jaccard verify. */
  private def ppjoinPairs(docs: DataFrame): Long = {
    val base = Dedup.hashedShingles(
      Dedup.shingles(docs, "doc_id", "text", n = 2), "doc_id").localCheckpoint()
    val pref = Dedup.rarestPrefix(base, "doc_id", k = 3).localCheckpoint()
    val cand = pref.select($"doc_id".as("id_a"), $"_k")
      .join(pref.select($"doc_id".as("id_b"), $"_k"), Seq("_k"))
      .filter($"id_a" < $"id_b")
      .select("id_a", "id_b").distinct()
    Dedup.jaccardOnCandidates(base, "doc_id", cand)
      .filter($"jaccard" >= 0.5).count()
  }

  /** q84 shape: LSH candidates -> connected components. */
  private def clusters(docs: DataFrame): Long = {
    val pairs = Dedup.minhashCandidates(
      Dedup.minhashSignature(
        Dedup.hashedShingles(
          Dedup.shingles(docs, "doc_id", "text"), "doc_id"),
        "doc_id", k = 16),
      "doc_id", k = 16, bands = 8).localCheckpoint()
    Dedup.connectedComponents(pairs).select("comp").distinct().count()
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def usedHeapMb(): Long = {
    System.gc(); Thread.sleep(300); System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
  }

  private val small = 4000L
  private val big = 40000L // ~ sf1-scale document count, 10x small

  scaleTest("dedup family scales linearly-ish from n to 10n zipfian docs") {
    val warm = corpus(500) // absorb codegen/JIT warm-up untimed
    lshCandidates(warm); ppjoinPairs(warm); clusters(warm)

    val docsS = corpus(small)
    val docsB = corpus(big)
    val heap0 = usedHeapMb()
    for ((label, run) <- Seq[(String, DataFrame => Long)](
        ("q41-lsh", lshCandidates), ("q42-ppjoin", ppjoinPairs),
        ("q84-clusters", clusters))) {
      val (nS, tS) = timed(run(docsS))
      val (nB, tB) = timed(run(docsB))
      info(f"$label: n=$small -> $nS in $tS%.1fs; n=$big -> $nB in $tB%.1fs " +
        f"(ratio ${tB / tS}%.1fx)")
      assert(nB > nS, s"$label: bigger corpus found fewer results")
      assert(tB <= tS * 30 + 10,
        f"$label: $tB%.1fs at 10x data vs $tS%.1fs — super-linear blowup")
    }
    val heapGrowth = usedHeapMb() - heap0
    info(s"driver heap growth across the family: ${heapGrowth}MB")
    assert(heapGrowth < 1024,
      s"driver heap grew ${heapGrowth}MB — results are leaking to the driver")
  }

  scaleTest("exact substring dedup scales linearly-ish from n to 10n docs") {
    // q150 shape: positional k-gram windows → gram-frequency shuffle →
    // island merge. The zipfian head makes individual WORDS hot but
    // 6-gram WINDOWS mostly unique except in the 20% near-dup copies —
    // exactly the duplicated-span structure the operator hunts. The
    // quadratic to catch: anything that pairs occurrences per gram
    // (the frequency count must stay an aggregate, never a self-join).
    def spans(docs: DataFrame): Long =
      Dedup.duplicateSpans(docs, "doc_id", "text", k = 6).count()
    spans(corpus(500)) // warm-up untimed
    val (nS, tS) = timed(spans(corpus(small)))
    val (nB, tB) = timed(spans(corpus(big)))
    info(f"substring-spans: n=$small -> $nS in $tS%.1fs; " +
      f"n=$big -> $nB in $tB%.1fs (ratio ${tB / tS}%.1fx)")
    assert(nB > nS, "bigger corpus found fewer duplicate spans")
    assert(tB <= tS * 30 + 10,
      f"substring-spans: $tB%.1fs at 10x data vs $tS%.1fs — super-linear")
  }

  scaleTest("semantic dedup stays linear-ish when centroids scale with n") {
    // SemDeDup's pairwise pass is quadratic WITHIN a cell, so the scale
    // contract is nCentroids ∝ n (cell occupancy stays constant). Run
    // 4k vs 40k synthetic embeddings with centroids scaled 10x and
    // assert the wall-clock ratio stays linear-ish — with FIXED
    // centroids the within-cell work would grow ~100x.
    import graft.llm.Similarity
    def embeddings(n: Long): org.apache.spark.sql.DataFrame =
      spark.range(n).map { boxed =>
        val id: Long = boxed
        val rnd = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
        val base = Array.fill(16)(rnd.nextDouble() - 0.5)
        (id, base.toSeq)
      }.toDF("vec_id", "v").localCheckpoint()
    def run(docs: org.apache.spark.sql.DataFrame, cents: Int): Long =
      Similarity.semanticDupFlags(docs, "vec_id", "v",
        nCentroids = cents, tau = 0.9)
        .filter($"is_dup").count()
    run(embeddings(500), 8) // warm-up
    val (_, tS) = timed(run(embeddings(small), 40))
    val (_, tB) = timed(run(embeddings(big), 400))
    info(f"semantic dedup: $small docs/40 cells in $tS%.1fs; " +
      f"$big docs/400 cells in $tB%.1fs (ratio ${tB / tS}%.1fx)")
    assert(tB <= tS * 30 + 10,
      f"semantic dedup: $tB%.1fs at 10x data with 10x centroids — " +
        "cell occupancy is not staying bounded")
  }

  scaleTest("trained quantizer (Lloyd's) stays linear in the corpus") {
    // each Lloyd's iteration is one broadcast-assign (map-side) + one
    // mean aggregation — cost ∝ n·k·dim with NO pairwise term. 10x the
    // corpus at fixed k/iters must cost ~10x, and the centroid relation
    // itself must stay k rows (driver-safe to collect/broadcast).
    import graft.llm.Similarity
    def embeddings(n: Long): org.apache.spark.sql.DataFrame =
      spark.range(n).map { boxed =>
        val id: Long = boxed
        val rnd = new scala.util.Random(id * 0x9E3779B97F4A7C15L)
        (id, Array.fill(16)(rnd.nextDouble() - 0.5).toSeq)
      }.toDF("vec_id", "v").localCheckpoint()
    def run(docs: org.apache.spark.sql.DataFrame): Long =
      Similarity.ivfTrain(docs, "vec_id", "v",
        nCentroids = 32, dim = 16, iters = 4).count()
    run(embeddings(500)) // warm-up
    val (kS, tS) = timed(run(embeddings(small)))
    val (kB, tB) = timed(run(embeddings(big)))
    info(f"ivfTrain: $small docs in $tS%.1fs; $big docs in $tB%.1fs " +
      f"(ratio ${tB / tS}%.1fx)")
    assert(kS == 32 && kB == 32, "centroid relation must stay k rows")
    assert(tB <= tS * 30 + 10,
      f"ivfTrain: $tB%.1fs at 10x data — assignment is not map-side linear")
  }

  scaleTest("temporal ops (timeline sweep, interval join) scale linearly-ish") {
    import org.apache.spark.sql.functions._
    // deterministic executor-side interval generation, hot-period skew:
    // 20% of intervals cluster into 1% of the time range
    def intervals(n: Long): DataFrame =
      spark.range(n).select(
        col("id"),
        when(col("id") % 5 === 0, (col("id") % 100) * 1000L)
          .otherwise((col("id") * 2654435761L) % 10000000L).as("_f"),
        (col("id") % 997 + 1).as("_len"))
        .select(col("id"),
          timestamp_micros(col("_f") * 1000000L).as("_valid_from"),
          timestamp_micros((col("_f") + col("_len")) * 1000000L).as("_valid_to"),
          (col("id") % 13).cast("double").as("v"))
        .localCheckpoint()
    def sweep(df: DataFrame): Long =
      graft.bitemporal.Bitemporal.timelineSweep(df, "v").count()
    def ijoin(df: DataFrame): Long = {
      // self-join a thinned side against the full side (keyless) —
      // result count scales ~linearly when the thin side is fixed-rate
      val a = df.filter(col("id") % 100 === 0)
        .select(col("id").as("aid"), col("_valid_from"), col("_valid_to"))
      graft.bitemporal.Bitemporal.intervalJoin(a, df, binSeconds = 1000L)
        .count()
    }
    val warm = intervals(500)
    sweep(warm); ijoin(warm)
    val s = intervals(small); val b = intervals(big)
    for ((label, run) <- Seq[(String, DataFrame => Long)](
        ("timeline-sweep", sweep), ("interval-join", ijoin))) {
      val (nS, tS) = timed(run(s))
      val (nB, tB) = timed(run(b))
      info(f"$label: n=$small -> $nS in $tS%.1fs; n=$big -> $nB in $tB%.1fs " +
        f"(ratio ${tB / tS}%.1fx)")
      assert(nB > nS, s"$label: bigger input produced fewer rows")
      assert(tB <= tS * 30 + 10,
        f"$label: $tB%.1fs at 10x data vs $tS%.1fs — super-linear blowup")
    }
  }

  scaleTest("group-clustered MIN/MAX matview: the touched-group member " +
      "re-read tracks MEMBER rows, not base size (literal pushdown)") {
    // the 100 TB claim under test (r14, MvState.membersOfTouched):
    // after a touch, the extremes/sketch recompute re-reads ONLY the
    // touched groups' members — the literal In(grp, ...) reaches the
    // group-clustered base's footers, so a 10x base admits the same
    // group tile. Prove it two ways, like the fk-clustered twin:
    // admitted-row footers (deterministic) and wall clock (generous).
    import graft.bitemporal.ChunkMetadata
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val validAt = ts("2030-01-01 00:00:00")
    def build(n: Long): (GraftTable, graft.bitemporal.Matview, String) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_smm$n").toString
      val t = new GraftTable(spark, dir, Seq("grp", "amt", "pad"),
        clusterBy = Seq("grp"))
      // group "aaa05" has exactly 2000 members at ANY n; the rest
      // spread over ~999 groups that grow with the base
      val rows = spark.range(n).select(
        ($"id" + 1000).as("fid"),
        when($"id" < 2000, lit("aaa05"))
          .otherwise(format_string("g%05d", $"id" % 999)).as("g"),
        ($"id" % 97).cast("decimal(12,2)").as("m"),
        rpad(lit("x"), 100, "x").as("p"))
      t.put(rows, $"fid", lit("2000-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m", "pad" -> $"p"),
        ts("2020-01-01 00:00:01"))
      val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize")
      val old = keys.map(k => k -> spark.conf.getOption(k))
      keys.foreach(spark.conf.set(_, (1024 * 1024).toString))
      val hconf = spark.sparkContext.hadoopConfiguration
      val oldBlock = Option(hconf.get("parquet.block.size"))
      hconf.set("parquet.block.size", (256 * 1024).toString)
      try t.compact()
      finally {
        old.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        oldBlock match {
          case Some(v) => hconf.set("parquet.block.size", v)
          case None => hconf.unset("parquet.block.size")
        }
      }
      val mv = t.matview("smm", Seq("grp"), Nil, validAt, nBuckets = Some(8),
        maxCols = Seq("amt"))
      mv.refresh()
      (t, mv, dir)
    }
    def admittedRows(dir: String): Long =
      ChunkMetadata.forPaths(spark, Seq(s"$dir/base"))
        .filter(col("column") === "grp" &&
          col("min") <= "aaa05" && col("max") >= "aaa05")
        .agg(coalesce(sum(col("rows")), lit(0L))).head.getLong(0)
    def touchRefresh(t: GraftTable, mv: graft.bitemporal.Matview,
                     tick: Int): Double = {
      // touch ONE member of the pinned group: the mm fallback must
      // re-read exactly that group's members
      t.put(Seq((1000L, "aaa05", s"9$tick.00")).toDF("fid", "g", "m")
          .select($"fid", $"g", $"m".cast("decimal(12,2)").as("m")),
        $"fid", lit("2000-01-01").cast("timestamp"), None,
        Seq("grp" -> $"g", "amt" -> $"m",
          "pad" -> lit("x").cast("string")),
        ts(f"2020-01-02 00:00:$tick%02d"))
      timed(mv.refresh())._2
    }

    val small = 100000L
    val big = 1000000L
    val (tS, mvS, dirS) = build(small)
    val (tB, mvB, dirB) = build(big)
    touchRefresh(tS, mvS, 1) // warm-up untimed
    val wS = touchRefresh(tS, mvS, 2)
    val wB = touchRefresh(tB, mvB, 3)
    val (aS, aB) = (admittedRows(dirS), admittedRows(dirB))
    info(f"mm re-read after touch: n=$small $wS%.1fs, n=$big $wB%.1fs " +
      f"(ratio ${wB / wS}%.1fx); admitted rows $aS vs $aB of $small/$big")
    assert(aB <= math.max(aS * 4, 60000L),
      s"admitted rows grew with base size: $aS -> $aB")
    assert(aB <= big / 5, s"no pruning: $aB of $big rows admitted")
    assert(wB <= wS * 3 + 10,
      f"touched-group re-read scaled with base size: $wS%.1fs -> $wB%.1fs")
  }

  scaleTest("fk-clustered join matview: dim-touched refresh tracks " +
      "referencing facts, not base size") {
    // the 100 TB claim under test: after a dim-only touch, refresh work
    // is ∝ facts REFERENCING the touched dim (constant here by
    // construction: fk 5 always has exactly 2000 facts) — not the fact
    // base, which grows 10x. The fk-clustered base + literal In push
    // make the fact read prune by footer stats; prove it two ways:
    // admitted-row footers (deterministic) and wall clock (generous).
    import graft.bitemporal.ChunkMetadata
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val validAt = ts("2030-01-01 00:00:00")
    def build(n: Long): (GraftTable, GraftTable,
        graft.bitemporal.Matview, String) = {
      val fdir = java.nio.file.Files
        .createTempDirectory(s"graft_sjmv_f$n").toString
      val ddir = java.nio.file.Files
        .createTempDirectory(s"graft_sjmv_d$n").toString
      val fact = new GraftTable(spark, fdir, Seq("cust", "amt", "pad"),
        clusterBy = Seq("cust"))
      val dim = new GraftTable(spark, ddir, Seq("region"))
      dim.put((1L to 110L).toDF("id"), $"id",
        lit("2000-01-01").cast("timestamp"), None,
        Seq("region" -> concat(lit("r"), ($"id" % 10).cast("string"))),
        ts("2020-01-01 00:00:01"))
      val facts = spark.range(n).select(
        ($"id" + 1000).as("fid"),
        when($"id" < 2000, 5L).otherwise(($"id" % 99) + 6).as("c"),
        lit("1.00").cast("decimal(12,2)").as("m"),
        rpad(lit("x"), 100, "x").as("p"))
      fact.put(facts, $"fid", lit("2000-01-01").cast("timestamp"), None,
        Seq("cust" -> $"c", "amt" -> $"m", "pad" -> $"p"),
        ts("2020-01-01 00:00:02"))
      val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize")
      val old = keys.map(k => k -> spark.conf.getOption(k))
      keys.foreach(spark.conf.set(_, (1024 * 1024).toString))
      // shrink parquet row groups too: at test scale a default 128MB
      // group swallows the whole base, hiding the footer granularity
      // that exists naturally at 100 TB
      val hconf = spark.sparkContext.hadoopConfiguration
      val oldBlock = Option(hconf.get("parquet.block.size"))
      hconf.set("parquet.block.size", (256 * 1024).toString)
      try fact.compact()
      finally {
        old.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        oldBlock match {
          case Some(v) => hconf.set("parquet.block.size", v)
          case None => hconf.unset("parquet.block.size")
        }
      }
      val mv = fact.matview("sc", Seq("region"), Seq("amt"), validAt,
        Seq(dim -> "cust"), nBuckets = Some(8))
      mv.refresh()
      (fact, dim, mv, fdir)
    }
    def admittedRows(fdir: String): Long =
      ChunkMetadata.forPaths(spark, Seq(s"$fdir/base"))
        .filter(col("column") === "cust" &&
          col("min").cast("long") <= 5 && col("max").cast("long") >= 5)
        .agg(coalesce(sum(col("rows")), lit(0L))).head.getLong(0)
    def touchRefresh(dim: GraftTable, mv: graft.bitemporal.Matview,
                     tick: Int): Double = {
      dim.put(Seq(5L).toDF("id"), $"id",
        lit("2000-01-01").cast("timestamp"), None,
        Seq("region" -> lit(s"moved$tick")), ts(f"2020-01-02 00:00:$tick%02d"))
      timed(mv.refresh())._2
    }

    val small = 100000L
    val big = 1000000L
    val (_, dimS, mvS, fdirS) = build(small)
    val (_, dimB, mvB, fdirB) = build(big)
    touchRefresh(dimS, mvS, 1) // warm-up untimed
    val tS = touchRefresh(dimS, mvS, 2)
    val tB = touchRefresh(dimB, mvB, 3)
    val (aS, aB) = (admittedRows(fdirS), admittedRows(fdirB))
    info(f"refresh after dim touch: n=$small $tS%.1fs, n=$big $tB%.1fs " +
      f"(ratio ${tB / tS}%.1fx); admitted rows $aS vs $aB of $small/$big")
    // footers: the admitted slice stays ~file-sized as the base grows
    // 10x (file size is pinned by the advisory target, so the fk-tile
    // around cust=5 holds a bounded row count at any n)
    assert(aB <= math.max(aS * 4, 60000L),
      s"admitted rows grew with base size: $aS -> $aB")
    assert(aB <= big / 5, s"no pruning: $aB of $big rows admitted")
    // wall clock: 10x base must NOT cost 10x refresh
    assert(tB <= tS * 3 + 10,
      f"dim-touched refresh scaled with base size: $tS%.1fs -> $tB%.1fs")
  }

  scaleTest("fixpoint sustains 120 iterations with flat driver memory") {
    // a pure 120-diameter chain: every iteration derives exactly one new
    // row, the worst case for plan growth / checkpoint churn
    val edges = spark.range(120)
      .select($"id".as("src"), ($"id" + 1).as("dst")).localCheckpoint()
    val base = edges.filter($"src" === 0).select($"dst".as("x"))
    val heap0 = usedHeapMb()
    val (n, t) = timed {
      RA.fixpoint(
        base,
        fr => fr.join(edges, fr("x") === edges("src")).select($"dst".as("x")),
        maxIter = 150).count()
    }
    info(f"fixpoint: 120 iterations, $n rows in $t%.1fs")
    assert(n == 120)
    assert(t < 240, f"fixpoint took $t%.1fs — per-iteration cost is blowing up")
    val heapGrowth = usedHeapMb() - heap0
    info(s"driver heap growth: ${heapGrowth}MB")
    assert(heapGrowth < 768,
      s"driver heap grew ${heapGrowth}MB over 120 iterations — lineage leak")
  }
}
