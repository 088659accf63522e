package graft.connector

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.store.{Commit, InMemoryClaimArbiter, ObjectStoreSim, SnapshotStore}

/** The contracts lock (R15.2): version-less metadata writers — ALTER's
  * `_schema`/`_props` writes and a swap's contract installation —
  * serialize on `_contracts_lock`. Before it, two concurrent ALTERs
  * were last-writer-wins (one statement's changes silently vanished
  * despite reporting success), and an ALTER racing a REPLACE's swap
  * could re-instate the displaced epoch's breadcrumb — the
  * metadata-side door of the frankenschema class.
  */
class ContractsLockSpec extends SparkSpec {

  private val warehouse = Files.createTempDirectory("graft-clock-wh").toString
  locally {
    spark.conf.set("spark.sql.catalog.clk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.clk.root", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS clk.ns")
  }

  test("concurrent ALTERs all land (no last-writer-wins lost updates)") {
    spark.sql("""CREATE TABLE clk.ns.t1 (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    val n = 8
    val futs = (0 until n).map { i =>
      Future(spark.sql(s"ALTER TABLE clk.ns.t1 SET TBLPROPERTIES ('p$i'='$i')"))
    }
    Await.result(Future.sequence(futs), 120.seconds): Unit
    val props = SnapshotStore.readProps(spark, s"$warehouse/ns/t1")
    (0 until n).foreach { i =>
      assert(props.get(s"p$i").contains(i.toString),
        s"ALTER #$i's property vanished — lost update (props: $props)")
    }
  }

  test("concurrent ADD COLUMNs all land") {
    spark.sql("""CREATE TABLE clk.ns.t2 (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    val n = 4
    val futs = (0 until n).map { i =>
      Future(spark.sql(s"ALTER TABLE clk.ns.t2 ADD COLUMN c$i STRING"))
    }
    Await.result(Future.sequence(futs), 120.seconds): Unit
    val cols = spark.table("clk.ns.t2").columns.toSet
    (0 until n).foreach(i => assert(cols.contains(s"c$i"),
      s"ADD COLUMN c$i vanished — lost update (cols: $cols)"))
  }

  test("an abandoned lock file is reclaimed past the grace") {
    spark.sql("""CREATE TABLE clk.ns.t3 (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    val root = s"$warehouse/ns/t3"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(root, "_contracts_lock")
    fs.create(p, true).close()
    val old = System.currentTimeMillis() - 60000L // past the 15 s grace
    fs.setTimes(p, old, old)
    // a crashed holder must not wedge DDL: the waiter reclaims and lands
    spark.sql("ALTER TABLE clk.ns.t3 SET TBLPROPERTIES ('x'='1')")
    assert(SnapshotStore.readProps(spark, root).get("x").contains("1"))
    assert(!fs.exists(p), "the lock must be released after the ALTER")
  }

  test("a LIVE holder outliving the grace is NOT reclaimed (heartbeat keeps it fresh)") {
    // r15 advice #1: the lock body can include long-running Spark jobs
    // (ALTER's mergeSchema footer read, delta-mode validation scans).
    // Pre-fix, a holder whose body outlived the 15 s grace had its lock
    // reclaimed by a waiter — re-opening the concurrent-contract-writer
    // race. Shrink the grace so the spec stages "body ≫ grace" in
    // milliseconds, then prove the waiter SERIALIZES behind the slow
    // holder instead of reclaiming.
    spark.sql("""CREATE TABLE clk.ns.t5 (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    val root = s"$warehouse/ns/t5"
    System.setProperty("graft.snapshot.contractsLockGraceMs", "300")
    try {
      val aInBody = new java.util.concurrent.atomic.AtomicBoolean(false)
      val aEntered = new java.util.concurrent.CountDownLatch(1)
      val overlap = new java.util.concurrent.atomic.AtomicBoolean(false)
      val slow = Future {
        Commit.withContractsLock(spark, root) {
          aInBody.set(true); aEntered.countDown()
          Thread.sleep(1500) // 5× the grace
          aInBody.set(false)
          "slow-done"
        }
      }
      aEntered.await()
      val waiter = Future {
        Commit.withContractsLock(spark, root) {
          if (aInBody.get()) overlap.set(true)
          "waiter-done"
        }
      }
      // the slow holder must finish CLEANLY (no "reclaimed while alive")
      assert(Await.result(slow, 120.seconds) == "slow-done")
      assert(Await.result(waiter, 120.seconds) == "waiter-done")
      assert(!overlap.get(),
        "the waiter entered the critical section while the live slow " +
          "holder was still inside it — the lock was reclaimed from a " +
          "live holder despite the heartbeat")
    } finally System.clearProperty("graft.snapshot.contractsLockGraceMs")
  }

  test("a holder whose lock WAS stolen must not delete the thief's lock, and must fail loudly") {
    // the token-compare release (r15 advice #1): pre-fix the finally
    // block deleted `_contracts_lock` unconditionally, so a reclaimed
    // slow holder's exit removed the RECLAIMER's fresh lock and
    // admitted a third concurrent writer — and the holder reported
    // success although its writes may have interleaved.
    spark.sql("""CREATE TABLE clk.ns.t6 (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    val root = s"$warehouse/ns/t6"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(root, "_contracts_lock")
    val stolen = new java.util.concurrent.CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Commit.withContractsLock(spark, root) {
        // play the reclaimer: replace the holder's lock with a rival's
        fs.delete(p, false)
        val out = fs.create(p, true)
        out.write("rival-token".getBytes("UTF-8")); out.close()
        stolen.countDown()
        "body-ok"
      }
    }
    assert(e.getMessage.contains("reclaimed while this holder was alive"),
      s"wrong failure: ${e.getMessage}")
    // the rival's lock must survive the victim's exit
    val content = {
      val in = fs.open(p)
      try { val b = new Array[Byte](64); val n = in.read(b); new String(b, 0, n, "UTF-8") }
      finally in.close()
    }
    assert(content == "rival-token",
      s"the victim's release deleted or replaced the thief's lock: '$content'")
    fs.delete(p, false): Unit // unwedge the table for later suites
  }

  test("heartbeat stays operative on stores that reject setTimes (content-rewrite fallback)") {
    // r16 advice #2: the heartbeat refreshed liveness via fs.setTimes,
    // which object-store adapters leave unsupported (keys have no
    // mutable mtime) — and the catch-Throwable swallowed that
    // PERMANENTLY, so on such stores a live holder outliving the grace
    // was still reclaimed. The fallback re-PUTs the lock content
    // (token-guarded), which bumps the key's mtime on any store.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.osim.impl", classOf[ObjectStoreSim].getName)
    val root = "osim://" +
      Files.createTempDirectory("graft-clock-osim").toString
    ObjectStoreSim.reset()
    ObjectStoreSim.rejectSetTimes = true
    System.setProperty("graft.snapshot.contractsLockGraceMs", "300")
    try {
      val aInBody = new java.util.concurrent.atomic.AtomicBoolean(false)
      val aEntered = new java.util.concurrent.CountDownLatch(1)
      val overlap = new java.util.concurrent.atomic.AtomicBoolean(false)
      val slow = Future {
        Commit.withContractsLock(spark, root) {
          aInBody.set(true); aEntered.countDown()
          Thread.sleep(1500) // 5x the grace
          aInBody.set(false)
          "slow-done"
        }
      }
      aEntered.await()
      val waiter = Future {
        Commit.withContractsLock(spark, root) {
          if (aInBody.get()) overlap.set(true)
          "waiter-done"
        }
      }
      // pre-fix: setTimes threw, the heartbeat silently did nothing,
      // the waiter reclaimed at 300 ms and the slow holder exited with
      // "reclaimed while alive" — both assertions below caught it
      assert(Await.result(slow, 120.seconds) == "slow-done")
      assert(Await.result(waiter, 120.seconds) == "waiter-done")
      assert(!overlap.get(),
        "the waiter entered while the live slow holder was inside the " +
          "critical section — the heartbeat was inoperative on a " +
          "setTimes-rejecting store")
    } finally {
      System.clearProperty("graft.snapshot.contractsLockGraceMs")
      ObjectStoreSim.reset()
    }
  }

  test("content-rewrite heartbeat: a holder that observes itself reclaimed fails loudly even if the file carries its token again at release") {
    // r17 advice #3: the heartbeat's content-rewrite fallback is
    // check-then-overwrite — a waiter reclaiming between the contains
    // check and the overwrite gets its fresh lock clobbered. The
    // readback after the rewrite detects the rival, marks this holder
    // reclaimed, STOPS heartbeating, and fails the release — EVEN IF
    // by release time the lock file carries the holder's token again
    // (a rival cycle ending back on the clobbered content), the one
    // interleave the release-time token compare alone cannot see.
    // Pre-fix that interleave released silently after the two holders'
    // contract writes had already interleaved.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.osim.impl", classOf[ObjectStoreSim].getName)
    val root = "osim://" +
      Files.createTempDirectory("graft-clock-hbrb").toString
    ObjectStoreSim.reset()
    ObjectStoreSim.rejectSetTimes = true // force the rewrite fallback
    System.setProperty("graft.snapshot.contractsLockGraceMs", "300")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lockPath = new Path(root, "_contracts_lock")
    def readLock(): String = {
      val in = fs.open(lockPath)
      try {
        val b = new Array[Byte](128)
        val n = in.read(b)
        new String(b, 0, math.max(n, 0), "UTF-8").trim
      } finally in.close()
    }
    @volatile var holderToken: String = null
    val clobbered = new java.util.concurrent.CountDownLatch(1)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    SnapshotStore.contractsHeartbeatHook = { p =>
      if (fired.compareAndSet(false, true)) {
        // the rival's reclaim lands between the holder's rewrite and
        // its readback: capture the holder's token, then overwrite
        holderToken = readLock()
        val o = fs.create(p, true)
        o.write("rival-token".getBytes("UTF-8")); o.close()
        clobbered.countDown()
      }
    }
    try {
      val e = intercept[IllegalStateException] {
        Commit.withContractsLock(spark, root) {
          assert(clobbered.await(30, java.util.concurrent.TimeUnit.SECONDS),
            "no heartbeat rewrite happened within 30s")
          Thread.sleep(300) // let the readback run and the flag land
          // the rival's cycle ends with the HOLDER's token back in the
          // file — release-time comparison alone would read this as a
          // clean release
          val o = fs.create(lockPath, true)
          o.write(holderToken.getBytes("UTF-8")); o.close()
          "body-ok"
        }
      }
      assert(e.getMessage.contains("reclaimed while this holder was alive"),
        s"wrong failure: ${e.getMessage}")
    } finally {
      SnapshotStore.contractsHeartbeatHook = _ => ()
      System.clearProperty("graft.snapshot.contractsLockGraceMs")
      ObjectStoreSim.reset()
    }
  }

  test("a waiter's delayed reclaim never deletes a rival's FRESH lock (compare-content-then-delete)") {
    // r16 advice #3: between a waiter's stillAged re-check and its
    // delete, a rival can reclaim the aged lock AND confirm its own
    // fresh one — the waiter's delayed delete then removed the rival's
    // live lock and admitted a third holder. The token compare makes
    // the rival's fresh lock (different token) unmistakable.
    spark.sql("""CREATE TABLE clk.ns.t7 (k BIGINT, v BIGINT) USING graft
                 TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
    val root = s"$warehouse/ns/t7"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(root, "_contracts_lock")
    // stage an abandoned holder's aged lock
    val out0 = fs.create(p, true)
    out0.write("dead-holder".getBytes("UTF-8")); out0.close()
    val old = System.currentTimeMillis() - 60000L
    fs.setTimes(p, old, old)
    // grace well above the rival's 400 ms hold: the rival must stay
    // FRESH for its whole tenure (a rival aging out mid-hold is the
    // legitimate crashed-holder reclaim, not this TOCTOU)
    System.setProperty("graft.snapshot.contractsLockGraceMs", "5000")
    val rivalReleased = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    SnapshotStore.contractsReclaimHook = { lockPath =>
      if (fired.compareAndSet(false, true)) {
        // the rival wins the TOCTOU window: reclaims the aged lock and
        // confirms its OWN fresh one...
        fs.delete(lockPath, false)
        val o = fs.create(lockPath, true)
        o.write("rival-token".getBytes("UTF-8")); o.close()
        // ...holds it live for a while, then releases cleanly
        val t = new Thread({ () =>
          Thread.sleep(400)
          rivalReleased.set(true)
          fs.delete(lockPath, false): Unit
        }: Runnable)
        t.setDaemon(true); t.start()
      }
    }
    try {
      Commit.withContractsLock(spark, root) {
        assert(rivalReleased.get(),
          "the waiter entered the critical section while the rival's " +
            "FRESH lock was live — its delayed delete removed the " +
            "rival's lock (the TOCTOU the token compare closes)")
        "ok"
      }: Unit
    } finally {
      SnapshotStore.contractsReclaimHook = _ => ()
      System.clearProperty("graft.snapshot.contractsLockGraceMs")
    }
  }

  test("plain-PUT: the arbiter row is RELEASED, so back-to-back DDL never waits out the grace") {
    SnapshotStore.manifestArbiter = Some(new InMemoryClaimArbiter(staleMs = 600000L))
    try {
      spark.sql("""CREATE TABLE clk.ns.t4 (k BIGINT, v BIGINT) USING graft
                   TBLPROPERTIES ('keys'='k', 'numBuckets'='2')""")
      val t0 = System.nanoTime()
      spark.sql("ALTER TABLE clk.ns.t4 SET TBLPROPERTIES ('a'='1')")
      spark.sql("ALTER TABLE clk.ns.t4 SET TBLPROPERTIES ('b'='2')")
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(elapsedS < 60.0,
        s"second ALTER waited ${elapsedS}s — the lock row was not released")
      val props = SnapshotStore.readProps(spark, s"$warehouse/ns/t4")
      assert(props.get("a").contains("1") && props.get("b").contains("2"))
    } finally SnapshotStore.manifestArbiter = None
  }
}
