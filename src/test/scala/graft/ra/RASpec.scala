package graft.ra

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Per-operator unit tests over tiny literal relations — the shape of the
  * reference's per-operator Clojure test suites (core/test/core2/operator). */
class RASpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test(":table literal relation") {
    val df = RA.tableLit(spark, Seq(Row(1L, "a"), Row(2L, null)),
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    assert(rows(df) == Set(Seq(1L, "a"), Seq(2L, null)))
  }

  test(":scan reads parquet with projection and predicate") {
    val dir = java.nio.file.Files.createTempDirectory("ra_scan").toString
    Seq((1, "x", 10.0), (2, "y", 20.0)).toDF("id", "s", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = RA.scan(spark, dir, "t", cols = Seq("id", "v"),
      pred = Some(col("v") > 15.0))
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(rows(df) == Set(Seq(2, 20.0)))
  }

  test(":select keeps only TRUE (3VL: UNKNOWN drops)") {
    val df = Seq(Some(1), Some(5), None).toDF("x")
    assert(rows(RA.select(df, col("x") > 2)) == Set(Seq(5)))
    // NOT(UNKNOWN) is still UNKNOWN -> null row drops on both sides
    assert(rows(RA.select(df, !(col("x") > 2))) == Set(Seq(1)))
  }

  test(":project and :map/extend") {
    val df = Seq((1, 2)).toDF("a", "b")
    assert(rows(RA.project(df, col("a"))) == Set(Seq(1)))
    val ext = RA.extend(df, "c" -> (col("a") + col("b")))
    assert(ext.columns.toSeq == Seq("a", "b", "c"))
    assert(rows(ext) == Set(Seq(1, 2, 3)))
  }

  test(":rename") {
    val df = RA.rename(Seq((1, 2)).toDF("a", "b"), "a" -> "x")
    assert(df.columns.toSeq == Seq("x", "b"))
  }

  test(":distinct treats NULLs as equal (SQL DISTINCT)") {
    val df = Seq(Some(1), None, None, Some(1)).toDF("x")
    assert(RA.distinct(df).count() == 2)
  }

  test("set ops: union-all is bag, intersect/difference are set") {
    val a = Seq(1, 1, 2).toDF("x")
    val b = Seq(1, 3).toDF("x")
    assert(RA.unionAll(a, b).count() == 5)
    assert(rows(RA.intersect(a, b)) == Set(Seq(1)))
    assert(rows(RA.difference(a, b)) == Set(Seq(2)))
  }

  test("joins: inner/left/full/semi/anti") {
    val a = Seq((1, "a1"), (2, "a2")).toDF("k", "av")
    val b = Seq((2, "b2"), (3, "b3")).toDF("k2", "bv")
    val cond = col("k") === col("k2")
    assert(rows(RA.join(a, b, cond).select("av", "bv")) == Set(Seq("a2", "b2")))
    assert(rows(RA.join(a, b, cond, "left_outer").select("av", "bv")) ==
      Set(Seq("a1", null), Seq("a2", "b2")))
    assert(RA.join(a, b, cond, "full_outer").count() == 3)
    assert(rows(RA.join(a, b, cond, "left_semi")) == Set(Seq(2, "a2")))
    assert(rows(RA.join(a, b, cond, "left_anti")) == Set(Seq(1, "a1")))
  }

  test(":cross-join") {
    assert(RA.crossJoin(Seq(1, 2).toDF("a"), Seq(3, 4).toDF("b")).count() == 4)
  }

  test("salted join == plain join (skew-spreading is semantics-preserving)") {
    // heavy skew: key 1 dominates
    val a = (Seq.fill(50)(1) ++ Seq(2, 3)).zipWithIndex.toDF("k", "av")
    val b = Seq((1, "x"), (1, "y"), (2, "z")).toDF("k", "bv")
    val plain = a.join(b, Seq("k")).select("k", "av", "bv")
      .collect().map(_.toSeq).toSet
    val salted = RA.saltedJoin(a, b, Seq("k"), salt = 4)
      .select("k", "av", "bv").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.size == 101) // 50*2 + 1
    // right-preserving types would duplicate unmatched right rows
    assertThrows[IllegalArgumentException] {
      RA.saltedJoin(a, b, Seq("k"), salt = 4, joinType = "right_outer")
    }
    // the salt actually spreads the hot key over multiple reducers
    val saltDistinct = a.withColumn("_salt",
        pmod(xxhash64(a.columns.map(col): _*), lit(4L)).cast("int"))
      .filter(col("k") === 1).select("_salt").distinct().count()
    assert(saltDistinct > 1, "hot key must land on >1 salt bucket")
  }

  test("salted join is deterministic under repartition (data-derived salt)") {
    val a = (Seq.fill(40)(1) ++ Seq(2, 3)).zipWithIndex.toDF("k", "av")
    val b = Seq((1, "x"), (1, "y"), (2, "z")).toDF("k", "bv")
    val once = RA.saltedJoin(a, b, Seq("k"), salt = 4)
      .collect().map(_.toSeq).toSet
    // a different physical layout of the left side must produce the
    // identical result set — rand()-based salting could re-deal salts
    // per partition layout; xxhash64-of-data cannot
    val relaid = RA.saltedJoin(a.repartition(7), b, Seq("k"), salt = 4)
      .collect().map(_.toSeq).toSet
    assert(relaid == once)
  }

  test(":group-by with keys and global") {
    val df = Seq(("g1", 1), ("g1", 3), ("g2", 5)).toDF("g", "v")
    assert(rows(RA.groupBy(df, Seq(col("g")), Seq(sum("v").as("s")))) ==
      Set(Seq("g1", 4L), Seq("g2", 5L)))
    assert(rows(RA.groupBy(df, Nil, Seq(count(lit(1)).as("n")))) == Set(Seq(3L)))
  }

  test(":order-by nulls placement and :top offset/limit") {
    val df = Seq(Some(2), None, Some(1)).toDF("x")
    assert(RA.orderBy(df, col("x").asc_nulls_first).collect().map(_.get(0)).toSeq ==
      Seq(null, 1, 2))
    val sorted = RA.orderBy(Seq(3, 1, 2).toDF("x"), col("x").asc)
    assert(RA.top(sorted, 1, 1).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test(":unwind with and without ordinality") {
    val df = Seq((1, Seq("a", "b"))).toDF("id", "xs")
    assert(RA.unwind(df, col("xs"), "x").select("x").count() == 2)
    val ord = RA.unwind(df, col("xs"), "x", ordinality = Some("i"))
    assert(rows(ord.select("i", "x")) == Set(Seq(1L, "a"), Seq(2L, "b")))
  }

  test(":max-1-row: passes 1 row, NULL row on empty, throws on 2") {
    val one = RA.max1Row(Seq(7).toDF("x"))
    assert(rows(one) == Set(Seq(7)))
    val empty = RA.max1Row(Seq.empty[Int].toDF("x"))
    assert(rows(empty) == Set(Seq(null)))
    assertThrows[IllegalStateException] {
      RA.max1Row(Seq(1, 2).toDF("x"))
    }
  }

  test(":fixpoint computes transitive closure (semi-naive)") {
    // edges of a chain 1->2->3->4 plus a cycle 4->2
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 2)).toDF("src", "dst")
    val base = edges
    val closure = RA.fixpoint(base, prev =>
      prev.as("p").join(edges.as("e"), col("p.dst") === col("e.src"))
        .select(col("p.src").as("src"), col("e.dst").as("dst")))
    val got = rows(closure)
    // reachability from 1: 2,3,4 (and back around the cycle)
    assert(got.contains(Seq(1, 4)))
    assert(got.contains(Seq(1, 2)))
    assert(got.contains(Seq(2, 2))) // via the cycle
    assert(closure.count() == got.size) // distinct
  }

  test(":fixpoint throws on non-convergence at maxIter") {
    val df = Seq(1).toDF("x")
    assertThrows[IllegalStateException] {
      // step strictly grows forever
      RA.fixpoint(df, prev => prev.select((col("x") + 1).as("x")), maxIter = 3)
    }
  }

  test(":mark-join matches a naive 3VL IN evaluator on random data (differential)") {
    val rnd = new scala.util.Random(7)
    (1 to 8).foreach { _ =>
      val left = Seq.fill(12)(if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(6)))
      val right = Seq.fill(rnd.nextInt(8))(
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(6)))
      val naive: Option[Int] => Option[Boolean] = x =>
        if (right.isEmpty) Some(false)
        else if (x.nonEmpty && right.contains(x)) Some(true)
        else if (x.isEmpty || right.contains(None)) None
        else Some(false)
      val got = RA.markJoin(left.toDF("x"), right.toDF("y"), col("x"), col("y"))
        .collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]),
          Option(r.get(1)).map(_.asInstanceOf[Boolean])))
      assert(got.length == left.length) // every left row exactly once
      got.foreach { case (x, m) =>
        assert(m == naive(x), s"x=$x right=$right got=$m expected=${naive(x)}")
      }
    }
  }

  test(":mark-join full 3VL truth table (the NULL-aware IN primitive)") {
    val left = Seq[Option[Int]](Some(1), Some(2), None).toDF("x")
    def marks(right: org.apache.spark.sql.DataFrame): Map[Option[Int], Option[Boolean]] =
      RA.markJoin(left, right, col("x"), col("y")).collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]),
          Option(r.get(1)).map(_.asInstanceOf[Boolean]))).toMap
    // null-free right {1, 5}: match=TRUE, no-match=FALSE, null x=NULL
    assert(marks(Seq[Option[Int]](Some(1), Some(5)).toDF("y")) ==
      Map(Some(1) -> Some(true), Some(2) -> Some(false), None -> None))
    // right WITH a NULL {1, null}: no-match becomes UNKNOWN
    assert(marks(Seq[Option[Int]](Some(1), None).toDF("y")) ==
      Map(Some(1) -> Some(true), Some(2) -> None, None -> None))
    // empty right: FALSE for every x, even NULL (SQL: x IN () is FALSE)
    assert(marks(Seq.empty[Option[Int]].toDF("y")) ==
      Map(Some(1) -> Some(false), Some(2) -> Some(false), None -> Some(false)))
  }

  test(":fixpointN fused probe: ONE job per iteration, heterogeneous schemas") {
    // Two mutually recursive counters with DIFFERENT schemas — exercises
    // the tagged-union fusion path (struct slot per relation):
    //   a(n)      :- b(m), n = m+1, n <= N
    //   b(m, tag) :- a(n), m = n+1, m <= N
    val N = 6
    val baseA = Seq(0).toDF("n")
    val baseB = Seq((0L, "b")).toDF("m", "tag")
    val probes0 = org.apache.spark.sql.graftbridge.RddBridge.probeActions.get
    val res = RA.fixpointN(Seq(Some(baseA), Some(baseB)), (_, deltas) => Seq(
      deltas(1).map(_.select((col("m") + 1).cast("int").as("n"))
        .where(col("n") <= N)),
      deltas(0).map(_.select((col("n") + 1).cast("long").as("m"),
        lit("b").as("tag")).where(col("m") <= N))))
    val probes = org.apache.spark.sql.graftbridge.RddBridge.probeActions.get - probes0
    // correctness through the pack/unpack round-trip
    assert(rows(res(0).get) == (0 to N).map(i => Seq(i)).toSet)
    assert(rows(res(1).get) == (0L to N.toLong).map(i => Seq(i, "b")).toSet)
    // 7 iterations (deltas 1..6 then the all-empty probe), ONE fused
    // probe action each — the pre-fusion driver paid one PER RELATION
    // per iteration (14 here). Spark job counts are not asserted: under
    // AQE each materialized query stage is its own job by design.
    assert(probes == 7L, s"expected 7 fused probes (1/iteration), got $probes")
  }

  test(":fixpointN fused probe survives a relation going quiet then reviving") {
    // a feeds b only below 3; b keeps counting to 5 alone; a must stay
    // converged (None deltas) while b continues — exercises live-subset
    // fusion and the single-live fast path in the same run
    val res = RA.fixpointN(Seq(Some(Seq(0).toDF("n")), None), (_, deltas) => Seq(
      None,
      deltas(0).map(_.select((col("n") + 1).as("v")).where(col("v") <= 3))
        .orElse(deltas(1).map(_.select((col("v") + 1).as("v"))
          .where(col("v") <= 5)))))
    assert(rows(res(0).get) == Set(Seq(0)))
    assert(rows(res(1).get) == (1 to 5).map(i => Seq(i)).toSet)
  }
}
