package graft.bitemporal

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The single-maintainer lease: atomic claim, reentrancy, TTL-based
  * stale takeover, foreign-holder refusal — and the hook points
  * (compact/vacuum/refresh) acquiring it on real tables. */
class MaintainerLeaseSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def tempRoot() = Files.createTempDirectory("lease")

  test("claim + release, reentrancy, sorted multi-root") {
    val r = tempRoot()
    val lf = r.resolve("_maintainer_lease")
    MaintainerLease.withLease(r, "op1") {
      assert(Files.exists(lf))
      val st = MaintainerLease.read(r).get
      assert(st.holder == MaintainerLease.holderId && st.op == "op1")
      // re-entrant: nested acquisition refreshes the lease (expiry
      // extended, op updated) so long nested phases keep the TTL alive
      val expiryBefore = MaintainerLease.read(r).get.expiresAt
      Thread.sleep(5)
      MaintainerLease.withLease(r, "op2") {
        val st2 = MaintainerLease.read(r).get
        assert(st2.op == "op2" && st2.holder == MaintainerLease.holderId)
        assert(st2.expiresAt >= expiryBefore, "nested entry must refresh TTL")
      }
      // inner release must NOT drop the outer lease
      assert(Files.exists(lf), "inner release dropped the outer lease")
    }
    assert(!Files.exists(lf), "outer release must delete the lease")
    // multi-root: both held inside, both released after
    val r2 = tempRoot()
    MaintainerLease.withLease(Seq(r, r2), "multi") {
      assert(Files.exists(lf) && Files.exists(r2.resolve("_maintainer_lease")))
    }
    assert(!Files.exists(lf) && !Files.exists(r2.resolve("_maintainer_lease")))
  }

  test("foreign live lease refuses; expired lease is taken over") {
    val r = tempRoot()
    val lf = r.resolve("_maintainer_lease")
    // a live lease from another maintainer (other holder id, future
    // expiry) — acquisition must fail loudly
    Files.write(lf, s"other-pid@other-host\n${System.currentTimeMillis() + 60000}\ncompact"
      .getBytes(UTF_8))
    val e = intercept[IllegalStateException](
      MaintainerLease.withLease(r, "compact") { fail("must not run") })
    assert(e.getMessage.contains("held by other-pid@other-host"), e.getMessage)
    assert(Files.exists(lf), "refusal must not disturb the holder's lease")

    // the same holder crashed (expired lease): next maintainer takes over
    Files.write(lf, s"other-pid@other-host\n${System.currentTimeMillis() - 1}\ncompact"
      .getBytes(UTF_8))
    var ran = false
    MaintainerLease.withLease(r, "compact") {
      ran = true
      assert(MaintainerLease.read(r).get.holder == MaintainerLease.holderId)
    }
    assert(ran && !Files.exists(lf))

    // a torn lease file (crash between create and write) expires via
    // mtime + TTL: young = treated as held, old = taken over
    Files.write(lf, Array.emptyByteArray)
    assert(intercept[IllegalStateException](
      MaintainerLease.withLease(r, "op") { () })
      .getMessage.contains("held by"))
    Files.setLastModifiedTime(lf, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - MaintainerLease.ttlMs - 1000))
    MaintainerLease.withLease(r, "op") { ran = true }
  }

  test("heartbeat renewals are atomic: a racing reader never observes " +
      "a torn lease, and no renewal temp files linger") {
    val prev = sys.props.get("graft.maintainer.leaseTtlMs")
    sys.props("graft.maintainer.leaseTtlMs") = "90" // beat every 30 ms
    try {
      val r = tempRoot()
      val bad = scala.collection.mutable.Buffer.empty[String]
      var reads = 0
      MaintainerLease.withLease(r, "atomic-op") {
        // race the TTL/3 beats with a tight read loop: pre-r13 the beat
        // was an in-place TRUNCATE+WRITE, so a read could land on an
        // empty/partial file and see holder "?" (one TTL of phantom
        // contention, every beat); the atomic temp+rename renewal means
        // every read sees a COMPLETE lease owned by us
        val deadline = System.currentTimeMillis() + 700
        while (System.currentTimeMillis() < deadline) {
          MaintainerLease.read(r) match {
            case Some(st) if st.holder == MaintainerLease.holderId => ()
            case other => bad += other.toString
          }
          reads += 1
        }
      }
      assert(reads > 100, s"read loop too slow to race the beats: $reads")
      assert(bad.isEmpty,
        s"torn/foreign lease observed mid-hold (${bad.size} of $reads " +
          s"reads): ${bad.take(3)}")
      import scala.jdk.CollectionConverters._
      val leftovers = Files.list(r).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("_maintainer_lease")).toList
      assert(leftovers.isEmpty, s"lease files left after release: $leftovers")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.maintainer.leaseTtlMs") = v
        case None => sys.props.remove("graft.maintainer.leaseTtlMs"): Unit
      }
    }
  }

  test("acquire sweeps crash-orphaned lease temp files once they are a " +
      "TTL old — a live racer's younger temp survives") {
    val r = tempRoot()
    val old = r.resolve("_maintainer_lease.new.deadbee1")
    val young = r.resolve("_maintainer_lease.rel.cafebab2")
    Files.write(old, "x".getBytes(UTF_8))
    Files.setLastModifiedTime(old, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - MaintainerLease.ttlMs - 2000))
    Files.write(young, "y".getBytes(UTF_8))
    MaintainerLease.withLease(r, "op") { () }
    assert(!Files.exists(old), "a TTL-old orphaned temp must be swept")
    assert(Files.exists(young), "a young temp may be a live racer's — kept")
    Files.delete(young)
  }

  test("release never touches a successor's live lease (read-before-move)") {
    val r = tempRoot()
    val lf = r.resolve("_maintainer_lease")
    // our op outlives the TTL and a successor claims the slot mid-op —
    // simulate by overwriting the lease with the successor's while the
    // body runs. Release must see a foreign holder and leave the file
    // alone: the old move-first release took the successor's LIVE lease
    // off the slot for the whole check window (a third maintainer's
    // createFile could win it and the restore's failure was swallowed).
    val successor = s"successor-pid@host\n${System.currentTimeMillis() + 600000}\nrefresh"
    MaintainerLease.withLease(r, "slow-op") {
      Files.write(lf, successor.getBytes(UTF_8)): Unit
    }
    assert(Files.exists(lf), "release displaced the successor's live lease")
    assert(MaintainerLease.read(r).get.holder == "successor-pid@host",
      "release must leave a foreign lease byte-for-byte alone")
    Files.delete(lf)
  }

  test("heartbeat: an op outliving the TTL keeps the lease; a dead " +
      "holder's lease is still taken over") {
    val prev = sys.props.get("graft.maintainer.leaseTtlMs")
    sys.props("graft.maintainer.leaseTtlMs") = "300"
    try {
      val r = tempRoot()
      val lf = r.resolve("_maintainer_lease")
      val slack = scala.collection.mutable.Buffer.empty[Long]
      MaintainerLease.withLease(r, "slow-op") {
        // run 5× the TTL, sampling the on-disk expiry as it goes: the
        // TTL/3 heartbeat must keep it in the future the whole time
        // (pre-r12, the lease looked expired from t = 300 ms on and
        // any other maintainer could retire it mid-op)
        (0 until 10).foreach { _ =>
          Thread.sleep(150)
          MaintainerLease.read(r).foreach(st =>
            slack += st.expiresAt - System.currentTimeMillis())
        }
        assert(slack.size >= 8, s"lease file unreadable mid-op: $slack")
        assert(slack.forall(_ > 0),
          s"lease looked expired mid-op (ms to expiry per sample): $slack")
      }
      assert(!Files.exists(lf), "released")
      // the beat-vs-release residual: no beat may resurrect the file
      Thread.sleep(400)
      assert(!Files.exists(lf), "a stray heartbeat re-created the lease")

      // a DEAD holder has no heartbeat — its expired lease is retired
      // through the same takeover path as ever
      Files.write(lf,
        s"dead-pid@host\n${System.currentTimeMillis() - 1}\ncompact"
          .getBytes(UTF_8))
      var ran = false
      MaintainerLease.withLease(r, "takeover") {
        ran = true
        assert(MaintainerLease.read(r).get.holder == MaintainerLease.holderId)
      }
      assert(ran && !Files.exists(lf))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.maintainer.leaseTtlMs") = v
        case None => sys.props -= "graft.maintainer.leaseTtlMs"
      }
    }
  }

  test("same-JVM concurrent maintainers BLOCK on the in-process lock " +
      "(never run interleaved)") {
    val r = tempRoot()
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 8).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = MaintainerLease.withLease(r, "maint") {
            if (running.incrementAndGet() > 1) overlapped.set(true)
            Thread.sleep(20)
            running.decrementAndGet(): Unit
          }
        })
      }
      tasks.foreach(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(!overlapped.get(),
        "two same-JVM maintainers ran inside the lease simultaneously")
      assert(!Files.exists(r.resolve("_maintainer_lease")))
    } finally pool.shutdownNow()
  }

  test("two GraftTable instances on one dir: maintenance serializes " +
      "through the lease; single-process behavior unchanged") {
    val s = spark
    import s.implicits._
    val dir = tempRoot().toString
    val a = new graft.GraftTable(s, dir, Seq("v"))
    val b = new graft.GraftTable(s, dir, Seq("v"))
    a.put(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), $"id",
      lit("2020-01-01").cast("timestamp"), None, Seq("v" -> $"x"),
      ts("2024-01-01 00:00:00"))
    // both instances maintain sequentially — one JVM is ONE maintainer,
    // so no contention and no behavior change
    a.compact()
    b.put(Seq((3L, 30L)).toDF("id", "x"), $"id",
      lit("2020-01-01").cast("timestamp"), None, Seq("v" -> $"x"),
      ts("2024-01-02 00:00:00"))
    b.compact()
    a.vacuumLog()
    assert(a.current().count() == 3 && b.current().count() == 3)
    assert(!Files.exists(Paths.get(dir, "_maintainer_lease")),
      "lease must not outlive maintenance")

    // a SECOND maintainer process (simulated by a foreign live lease
    // file) blocks BOTH instances' maintenance until it expires
    Files.write(Paths.get(dir, "_maintainer_lease"),
      s"o@h\n${System.currentTimeMillis() + 60000}\nvacuum".getBytes(UTF_8))
    a.put(Seq((4L, 40L)).toDF("id", "x"), $"id",
      lit("2020-01-01").cast("timestamp"), None, Seq("v" -> $"x"),
      ts("2024-01-03 00:00:00"))
    assert(intercept[IllegalStateException](a.compact())
      .getMessage.contains("held by"))
    assert(intercept[IllegalStateException](b.vacuumLog())
      .getMessage.contains("held by"))
    // reads stay lease-free — only maintenance is fenced
    assert(a.current().count() == 4)
    // crash recovery: the foreign lease expires, maintenance proceeds
    Files.write(Paths.get(dir, "_maintainer_lease"),
      s"o@h\n${System.currentTimeMillis() - 1}\nvacuum".getBytes(UTF_8))
    a.compact()
    assert(a.current().count() == 4)
  }

  test("matview + join-matview refresh acquire the table lease(s)") {
    val s = spark
    import s.implicits._
    val dir = tempRoot().toString
    val t = new graft.GraftTable(s, dir, Seq("g", "v"))
    t.put(Seq((1L, "a", 5L)).toDF("id", "g0", "x"), $"id",
      lit("2020-01-01").cast("timestamp"), None,
      Seq("g" -> $"g0", "v" -> $"x"), ts("2024-01-01 00:00:00"))
    val mv = t.matview("lease_mv", Seq("g"), Seq("v"),
      ts("2030-01-01 00:00:00"), nBuckets = Some(2))
    Files.write(Paths.get(dir, "_maintainer_lease"),
      s"o@h\n${System.currentTimeMillis() + 60000}\ncompact".getBytes(UTF_8))
    assert(intercept[IllegalStateException](mv.refresh())
      .getMessage.contains("held by"))
    Files.deleteIfExists(Paths.get(dir, "_maintainer_lease"))
    assert(mv.refresh().head >= 0)

    // join view: a foreign lease on EITHER log fences the refresh
    val dimDir = tempRoot().toString
    val dim = new graft.GraftTable(s, dimDir, Seq("r"))
    dim.put(Seq((1L, "EU")).toDF("id", "r0"), $"id",
      lit("2020-01-01").cast("timestamp"), None, Seq("r" -> $"r0"),
      ts("2024-01-01 00:00:00"))
    val jmv = t.matview("lease_jmv", Seq("r"), Nil,
      ts("2030-01-01 00:00:00"), Seq(dim -> "v"), nBuckets = Some(2))
    Files.write(Paths.get(dimDir, "_maintainer_lease"),
      s"o@h\n${System.currentTimeMillis() + 60000}\ncompact".getBytes(UTF_8))
    assert(intercept[IllegalStateException](jmv.refresh())
      .getMessage.contains("held by"))
    // …and must have released the FACT lease it acquired first
    assert(!Files.exists(Paths.get(dir, "_maintainer_lease")),
      "failed multi-root acquire must release already-held roots")
    Files.deleteIfExists(Paths.get(dimDir, "_maintainer_lease"))
    jmv.refresh()
  }
}
