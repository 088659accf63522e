package graft.store

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Scd1

/** Disjoint-bucket concurrent commits REBASE instead of recomputing:
  * the loser's written data re-points onto the winner's manifest when
  * their touched-bucket sets don't intersect; genuinely overlapping
  * writers still serialize through a re-merge.
  */
/** Latches for the executor-side block in the commitDeletes test —
  * top-level so task closures reference JVM statics instead of
  * capturing (CountDownLatch is not serializable; local[*] shares the
  * JVM, so the statics ARE the coordination channel).
  */
object ConcurrentCommitLatches {
  val aStarted = new CountDownLatch(1)
  val go = new CountDownLatch(1)
}

class ConcurrentCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-cc-$tag").toString

  private val plainMerge = (cur: org.apache.spark.sql.DataFrame,
                            delta: org.apache.spark.sql.DataFrame) =>
    Scd1.merge(cur, delta, Seq("k"), Seq(col("ts").desc))

  private def rows(root: String): Set[(Long, String, Long)] =
    SnapshotStore.read(spark, root).select("k", "v", "ts")
      .as[(Long, String, Long)].collect().toSet

  /** Two keys guaranteed to hash into different buckets at `n`. */
  private def disjointKeys(n: Int): (Long, Long) = {
    val bs = (1L to 50L).toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(n)).as("b"))
      .as[(Long, Int)].collect()
    val a = bs.head
    (a._1, bs.find(_._2 != a._2).get._1)
  }

  test("disjoint-bucket loser rebases: merge runs once, data dirs re-point, both commits land") {
    val root = tmpDir("rebase")
    val numBuckets = 4
    val (kA, kB) = disjointKeys(numBuckets)
    SnapshotStore.init(spark, root,
      (1L to 50L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
      Seq("k"), numBuckets = numBuckets)

    val mergeRuns = new AtomicInteger(0)
    val aMerging = new CountDownLatch(1)
    val bCommitted = new CountDownLatch(1)
    // the latch sits in A's merge CALLBACK (plan construction, on A's
    // thread, after A's touched-bucket census against the stale base):
    // B commits in the window, so A deterministically loses the
    // version race with its data already computed
    val fut = Future {
      SnapshotStore.commitDelta(spark, root,
        Seq((kA, "from-A", 100L)).toDF("k", "v", "ts"), Seq("k"),
        (cur, delta) => {
          mergeRuns.incrementAndGet()
          aMerging.countDown()
          assert(bCommitted.await(60, TimeUnit.SECONDS))
          plainMerge(cur, delta)
        })
    }
    assert(aMerging.await(60, TimeUnit.SECONDS))
    val vB = SnapshotStore.commitDelta(spark, root,
      Seq((kB, "from-B", 100L)).toDF("k", "v", "ts"), Seq("k"), plainMerge)
    bCommitted.countDown()
    val vA = Await.result(fut, 120.seconds)

    assert(vB == 1L && vA == 2L)
    assert(mergeRuns.get() == 1, "disjoint loser must NOT recompute its merge")
    val now = rows(root)
    assert(now((kA, "from-A", 100L)) && now((kB, "from-B", 100L)) && now.size == 50)
    // A's committed bucket data lives under the REBASED attempt dir —
    // written once at version 1, re-pointed (renamed) to version 2
    val mA = SnapshotStore.readManifest(spark, root, 2L)
    val bucketA = (1 to 1).map(_ => // bucket id of kA under this layout
      Seq((kA, "", 0L)).toDF("k", "v", "ts")
        .select(pmod(hash(col("k")), lit(numBuckets))).as[Int].head()).head
    assert(mA.buckets(bucketA).dir.startsWith("v=2-"),
      s"expected re-pointed dir, got ${mA.buckets(bucketA).dir}")
    // history is sane: version 1 has B's row but not A's
    val at1 = SnapshotStore.readVersion(spark, root, 1L)
      .select("k", "v", "ts").as[(Long, String, Long)].collect().toSet
    assert(at1((kB, "from-B", 100L)) && !at1.exists(_._2 == "from-A"))
  }

  test("overlapping writers still serialize: the loser re-merges against the winner's state") {
    val root = tmpDir("overlap")
    SnapshotStore.init(spark, root,
      (1L to 20L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
      Seq("k"), numBuckets = 1) // one bucket: every pair overlaps

    val mergeRuns = new AtomicInteger(0)
    val aMerging = new CountDownLatch(1)
    val bCommitted = new CountDownLatch(1)
    val fut = Future {
      SnapshotStore.commitDelta(spark, root,
        Seq((1L, "from-A", 100L)).toDF("k", "v", "ts"), Seq("k"),
        (cur, delta) => {
          if (mergeRuns.incrementAndGet() == 1) {
            aMerging.countDown()
            assert(bCommitted.await(60, TimeUnit.SECONDS))
          }
          plainMerge(cur, delta)
        })
    }
    assert(aMerging.await(60, TimeUnit.SECONDS))
    SnapshotStore.commitDelta(spark, root,
      Seq((2L, "from-B", 100L)).toDF("k", "v", "ts"), Seq("k"), plainMerge)
    bCommitted.countDown()
    val vA = Await.result(fut, 120.seconds)

    assert(vA == 2L)
    assert(mergeRuns.get() == 2, "overlapping loser must re-merge on the new base")
    val now = rows(root)
    assert(now((1L, "from-A", 100L)) && now((2L, "from-B", 100L)) && now.size == 20)
  }

  test("commitDeletes rebases across a disjoint winner") {
    val root = tmpDir("del")
    val numBuckets = 4
    val (kDel, kB) = disjointKeys(numBuckets)
    SnapshotStore.init(spark, root,
      (1L to 50L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
      Seq("k"), numBuckets = numBuckets)

    val aStarted = ConcurrentCommitLatches.aStarted
    val go = ConcurrentCommitLatches.go
    // the latch rides INSIDE the delete-keys evaluation (executor
    // task, same JVM — referenced via the static holder so the closure
    // captures nothing unserializable): A's sidecar write blocks
    // mid-job while B commits
    val delKeys = spark.sparkContext.parallelize(Seq(kDel), 1).map { k =>
      ConcurrentCommitLatches.aStarted.countDown()
      assert(ConcurrentCommitLatches.go.await(60, TimeUnit.SECONDS))
      k
    }.toDF("k")
    val fut = Future {
      SnapshotStore.commitDeletes(spark, root, delKeys, Seq("k"))
    }
    assert(aStarted.await(60, TimeUnit.SECONDS))
    val vB = SnapshotStore.commitDelta(spark, root,
      Seq((kB, "from-B", 100L)).toDF("k", "v", "ts"), Seq("k"), plainMerge)
    go.countDown()
    val vA = Await.result(fut, 120.seconds)

    assert(vB == 1L && vA == 2L)
    val now = rows(root)
    assert(!now.exists(_._1 == kDel) && now((kB, "from-B", 100L)) && now.size == 49)
  }

  test("createExclusive: exactly one winner per path under a 16-thread hammer") {
    // the arbitration PRIMITIVE itself: local-FS create(overwrite=false)
    // is check-then-act, so two racers could both open one manifest
    // path and the later writer clobbered the earlier one AFTER its
    // successful readback (the scale-10 OCC soak reproduced a lost
    // fleet commit). createExclusive claims via O_EXCL — this hammer
    // pins exactly-one-winner per round.
    val root = tmpDir("excl")
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nThreads = 16
    (1 to 25).foreach { round =>
      val target = new org.apache.hadoop.fs.Path(root, f"m-$round%05d")
      val gate = new CountDownLatch(1)
      val futs = (0 until nThreads).map { i =>
        Future {
          gate.await()
          Claims.createExclusive(hfs, target) match {
            case Some(out) =>
              try out.write(s"winner-$i".getBytes("UTF-8")) finally out.close()
              1
            case None => 0
          }
        }
      }
      gate.countDown()
      val winners = Await.result(Future.sequence(futs), 60.seconds).sum
      assert(winners == 1, s"round $round: $winners winners claimed one path")
    }
  }

  test("shared-bucket commit fleet: every reported version is distinct and every write survives") {
    // end-to-end regression net over the arbiter: writers with disjoint
    // KEYS but fully shared BUCKETS hammer one table; a double-granted
    // version (the pre-createExclusive clobber) would surface as two
    // writers reporting the same version, a lost manifest, or a
    // dropped row
    val root = tmpDir("fleet")
    SnapshotStore.init(spark, root,
      Seq((1000000L, "seed", 0L)).toDF("k", "v", "ts"), Seq("k"), numBuckets = 2)
    val nWriters = 6
    val opsPer = 3
    val gate = new CountDownLatch(1)
    val futs = (0 until nWriters).map { i =>
      Future {
        gate.await()
        (1 to opsPer).map { op =>
          SnapshotStore.commitDelta(spark, root,
            Seq((i.toLong, s"w$i-op$op", op.toLong)).toDF("k", "v", "ts"),
            Seq("k"), SnapshotStore.upsertMerge(Seq("k")),
            maxAttempts = 8 * nWriters)
        }
      }
    }
    gate.countDown()
    val versions = Await.result(Future.sequence(futs), 300.seconds).flatten
    assert(versions.size == nWriters * opsPer &&
      versions.toSet.size == versions.size,
      s"every commit must be granted a DISTINCT version: $versions")
    assert(SnapshotStore.latestVersion(spark, root).get ==
      (nWriters * opsPer).toLong)
    val end = rows(root)
    (0 until nWriters).foreach { i =>
      assert(end((i.toLong, s"w$i-op$opsPer", opsPer.toLong)),
        s"writer $i's final upsert must survive the contention")
    }
    assert(end((1000000L, "seed", 0L)) && end.size == nWriters + 1)
  }

  test("an unreadable manifest inside the epoch-guard window fails the commit CLOSED") {
    // The lost-generation guard scans (planned, base] for epoch-flagged
    // manifests. r13 swallowed EVERY read failure as "no boundary" — a
    // transient IO error (or a torn byte) in the window silently waved
    // a stale-planned delta across a possible REPLACE boundary. Only a
    // VANISHED manifest (vacuumed to its checkpoint) may answer false;
    // anything else must surface, not commit.
    val root = tmpDir("guard-closed")
    SnapshotStore.init(spark, root,
      (1L to 20L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts"),
      Seq("k"), numBuckets = 4)
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "u1", 100L)).toDF("k", "v", "ts"), Seq("k"), plainMerge) // v1
    SnapshotStore.commitDelta(spark, root,
      Seq((2L, "u2", 101L)).toDF("k", "v", "ts"), Seq("k"), plainMerge) // v2
    // checkpoint v2 so base-manifest reads never walk through v1 —
    // isolates the corruption to the guard's own scan
    assert(SnapshotStore.checkpoint(spark, root) == 2L)
    val m1 = java.nio.file.Paths.get(root, "_commits", f"${1L}%020d")
    val lines = java.nio.file.Files.readAllLines(m1)
    lines.set(0, "buckets:garbage") // header unparseable; terminator intact
    java.nio.file.Files.write(m1, lines)
    intercept[Exception] {
      SnapshotStore.commitDelta(spark, root,
        Seq((3L, "u3", 102L)).toDF("k", "v", "ts"), Seq("k"), plainMerge,
        plannedVersion = Some(0L)) // forces the guard to scan (0, 2]
    }
    assert(SnapshotStore.latestVersion(spark, root).contains(2L),
      "the stale-planned commit must NOT have landed past an unreadable window")
  }
}
