package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Vacuum's reader-protection age floor + the documented
  * concurrent-vacuum read error (found by the R15.2 widened chaos
  * vocabulary: an in-flight MERGE read manifest v while a racing
  * vacuum legally reclaimed it — raw FileNotFoundException out of the
  * DML path).
  *
  * Contract: (a) versions younger than `minAgeMs` are NEVER reclaimed
  * (a running statement may hold them as its read snapshot — the
  * Delta/Iceberg retention-window analog, default 10 min via
  * `graft.snapshot.vacuumMinAgeMs`, harness-pinned to 0 in build.sbt);
  * (b) when the floor is disabled/short and a reader DOES lose its
  * snapshot, the failure is the documented ConcurrentModificationException
  * ("re-run the statement"), never a raw FileNotFoundException; (c) a
  * manifest missing INSIDE retention stays loud.
  */
class VacuumMinAgeSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def threeVersions(): String = {
    val root = Files.createTempDirectory("graft-vacage").toString + "/t"
    SnapshotStore.init(spark, root,
      (1L to 8L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    SnapshotStore.commitDelta(spark, root, Seq((1L, "x")).toDF("k", "v"),
      Seq("k"), SnapshotStore.upsertMerge(Seq("k")))
    SnapshotStore.commitDelta(spark, root, Seq((2L, "y")).toDF("k", "v"),
      Seq("k"), SnapshotStore.upsertMerge(Seq("k")))
    root
  }

  test("the age floor keeps young versions; backdated ones reclaim") {
    val root = threeVersions()
    val fs = fsOf(root)
    assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L, 2L))

    // every manifest is seconds old: with the production floor nothing
    // reclaims even at keepLast=1
    val kept = SnapshotStore.vacuum(spark, root, keepLast = 1,
      minAgeMs = 600000L)
    assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L, 2L),
      s"a young version was reclaimed under the age floor (swept $kept)")

    // age v0/v1 past the floor: they reclaim, the young tip stays
    Seq(0L, 1L).foreach { v =>
      val p = new Path(root, f"_commits/$v%020d")
      val old = System.currentTimeMillis() - 700000L
      fs.setTimes(p, old, old)
    }
    SnapshotStore.vacuum(spark, root, keepLast = 1, minAgeMs = 600000L): Unit
    // a floor-advancing vacuum publishes one EMPTY serialization commit
    // (v3) — the OCC win that fences concurrent restores off the dirs
    // being reclaimed
    assert(SnapshotStore.versions(spark, root) == Seq(2L, 3L),
      "aged versions below keepLast must reclaim once past the floor")
    assert(SnapshotStore.read(spark, root).count() == 8L)
    assert(SnapshotStore.vacuumFloor(spark, root) == 2L)
  }

  test("a restore targeting a version below the committed floor is refused") {
    val root = threeVersions()
    val fs = fsOf(root)
    // simulate the mid-sweep window: the floor marker is committed but
    // the below-floor manifests still linger in the listing
    val out = fs.create(new Path(root, "_commits/_floorv-2"), true)
    out.write("2\n".getBytes("UTF-8")); out.close()
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.restore(spark, root, 0L)
    }
    assert(e.getMessage.contains("below the committed vacuum floor"))
    val t = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.createTag(spark, root, "old", version = Some(1L))
    }
    assert(t.getMessage.contains("below the committed vacuum floor"))
    // at/above the floor both work
    SnapshotStore.createTag(spark, root, "tip", version = Some(2L)): Unit
    assert(SnapshotStore.restore(spark, root, 2L) == 2L)
  }

  test("vacuum defers (reclaims nothing) while a rival commit is in flight") {
    val root = threeVersions()
    val fs = fsOf(root)
    Seq(0L, 1L).foreach { v =>
      val p = new Path(root, f"_commits/$v%020d")
      val old = System.currentTimeMillis() - 700000L
      fs.setTimes(p, old, old)
    }
    // a rival writer holds the next slot, terminator-less and YOUNG —
    // vacuum's serialization commit cannot win, so the sweep must
    // defer entirely rather than delete under the rival's feet
    val slot = new Path(root, f"_commits/${3L}%020d")
    val out = fs.create(slot, true)
    out.write("buckets:2\nformat:5\n".getBytes("UTF-8")); out.close()
    val swept = SnapshotStore.vacuum(spark, root, keepLast = 1,
      minAgeMs = 600000L)
    assert(swept == 0, s"vacuum must defer under a live rival (swept $swept)")
    assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L, 2L))
    // rival resolves (crashed attempt ages out / is removed): vacuum
    // proceeds on the next run
    fs.delete(slot, false)
    SnapshotStore.vacuum(spark, root, keepLast = 1, minAgeMs = 600000L): Unit
    assert(SnapshotStore.versions(spark, root) == Seq(2L, 3L))
  }

  test("a reader losing its snapshot to a concurrent vacuum gets the documented re-run error") {
    val root = threeVersions()
    SnapshotStore.vacuum(spark, root, keepLast = 1, minAgeMs = 0L): Unit
    // v3 = the floor-advance's empty serialization commit
    assert(SnapshotStore.versions(spark, root) == Seq(2L, 3L))
    // a statement that pinned v0 before the vacuum now re-reads its
    // manifest: documented concurrent-modification, not a raw FNF
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.readManifest(spark, root, 0L)
    }
    assert(e.getMessage.contains("concurrent vacuum") &&
      e.getMessage.contains("re-run"),
      s"wrong message: ${e.getMessage}")
    assert(e.getCause.isInstanceOf[java.io.FileNotFoundException])
    // the hunts' classifier must recognize it
    assert(graft.connector.ChaosOps.documented(e))
  }

  test("a manifest missing INSIDE retention stays a loud error") {
    val root = threeVersions()
    val fs = fsOf(root)
    // sabotage: delete a retained version's manifest directly (simulates
    // corruption, NOT a legal vacuum — v1 is above the retention floor
    // v0). Reading v1 must not be classified as a benign race.
    // (Checkpoint-less delta chain: deleting v1 breaks v2's chain too,
    // but here we read v1 itself.)
    fs.delete(new Path(root, f"_commits/${1L}%020d"), false)
    val e = intercept[Throwable] {
      SnapshotStore.readManifest(spark, root, 1L)
    }
    assert(!e.isInstanceOf[java.util.ConcurrentModificationException],
      s"an in-retention hole must not be classified as a vacuum race: $e")
  }
}
