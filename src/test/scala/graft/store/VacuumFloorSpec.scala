package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The R16 floor-marker protocol (r15 advice #2): the old single
  * overwritten `_commits/_floor` file was published BEFORE the
  * serialization commit, so a sweep that restarted (mid-sweep pin) or
  * lost all its OCC laps left the marker permanently overshooting the
  * actually-enforced floor — restore/createTag/cloneTable then refused
  * intact, retained versions for as long as the overshoot lived (which
  * was forever). Now:
  *
  *  - `_floor_intent-<token>` carries the pre-commit intent, is dropped
  *    on every non-confirming exit, and AGES OUT of readers' effective
  *    floor after the reclaim grace — a crashed sweep over-restricts
  *    for at most the grace, never forever;
  *  - `_floorv-<value>` is the durable committed floor, written only
  *    after the OCC win + pin re-list confirm the sweep will reclaim at
  *    that floor; create-only value-named files make it monotonic by
  *    construction (a suspended laggard cannot regress a rival's higher
  *    floor the way an overwritten shared file could).
  */
class VacuumFloorSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def threeVersions(): String = {
    val root = Files.createTempDirectory("graft-vfloor").toString + "/t"
    SnapshotStore.init(spark, root,
      (1L to 8L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    SnapshotStore.commitDelta(spark, root, Seq((1L, "x")).toDF("k", "v"),
      Seq("k"), SnapshotStore.upsertMerge(Seq("k")))
    SnapshotStore.commitDelta(spark, root, Seq((2L, "y")).toDF("k", "v"),
      Seq("k"), SnapshotStore.upsertMerge(Seq("k")))
    root
  }

  private def commitNames(root: String): Seq[String] =
    fsOf(root).listStatus(new Path(root, "_commits")).toSeq
      .map(_.getPath.getName)

  test("a confirmed data-freeing sweep leaves a durable _floorv- marker and no intent") {
    val root = threeVersions()
    SnapshotStore.vacuum(spark, root, keepLast = 1, minAgeMs = 0L): Unit
    assert(SnapshotStore.versions(spark, root) == Seq(2L, 3L))
    val names = commitNames(root)
    assert(names.contains("_floorv-2"),
      s"confirmed sweep must write the durable floor (have: $names)")
    assert(!names.exists(_.startsWith("_floor_intent-")),
      s"the intent must be dropped once subsumed by _floorv- (have: $names)")
    assert(SnapshotStore.vacuumFloor(spark, root) == 2L)
  }

  test("a pin seeded in the post-commit window restarts the sweep with NO floor overshoot") {
    // the exact r15 advice #2 schedule: a change-feed consumer seeds at
    // a below-keepFrom offset between the sweep's first listing and its
    // pin re-list. The sweep must restart and reclaim nothing below the
    // pin — and the floor must NOT stay at the abandoned keepFrom
    // (pre-fix, the marker stayed at 2 and restore(0) was refused
    // forever despite v0 being fully intact).
    val root = threeVersions()
    SnapshotStore.vacuumPostCommitHook = r =>
      if (r == root) ChangeFeed.seedConsumer(spark, root, "late", 0L)
    try SnapshotStore.vacuum(spark, root, keepLast = 1, minAgeMs = 0L): Unit
    finally SnapshotStore.vacuumPostCommitHook = _ => ()
    // nothing below the pin reclaimed; the aborted attempt's empty
    // serialization commit (v3) legitimately lands
    assert(SnapshotStore.versions(spark, root).startsWith(Seq(0L, 1L, 2L)),
      s"pinned versions were reclaimed: ${SnapshotStore.versions(spark, root)}")
    assert(SnapshotStore.vacuumFloor(spark, root) == -1L,
      "the abandoned sweep's floor intent must not survive as an overshoot")
    assert(!commitNames(root).exists(_.startsWith("_floor_intent-")),
      s"stale intent left behind: ${commitNames(root)}")
    // the overshoot's observable symptom, now gone: v0 is intact and
    // pinned, so re-pointing at it must succeed
    assert(SnapshotStore.restore(spark, root, 0L) > 0L)
    assert(SnapshotStore.read(spark, root).count() == 8L)
  }

  test("a crashed sweep's intent over-restricts for at most the reclaim grace") {
    val root = threeVersions()
    val fs = fsOf(root)
    val intent = new Path(root, "_commits/_floor_intent-deadcafe")
    val out = fs.create(intent, true)
    out.write("2\n".getBytes("UTF-8")); out.close()
    // fresh intent: an in-flight sweep has committed to floor 2 —
    // restore below it must refuse (the mid-sweep protection window)
    assert(SnapshotStore.vacuumFloor(spark, root) == 2L)
    val e = intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.restore(spark, root, 0L)
    }
    assert(e.getMessage.contains("below the committed vacuum floor"))
    // the sweep crashed: past the grace the intent ages out of the
    // effective floor (pre-fix this overshoot was permanent)
    val old = System.currentTimeMillis() - 700000L // > 10 min grace
    fs.setTimes(intent, old, old)
    assert(SnapshotStore.vacuumFloor(spark, root) == -1L)
    assert(SnapshotStore.restore(spark, root, 0L) == 3L)
    // and maintenance reclaims the dead intent file itself
    SnapshotStore.vacuum(spark, root, keepLast = 10, minAgeMs = 0L): Unit
    assert(!commitNames(root).exists(_.startsWith("_floor_intent-")),
      s"aged intent not swept: ${commitNames(root)}")
  }

  test("durable floor is the max of value files; hygiene keeps only the max") {
    val root = threeVersions()
    val fs = fsOf(root)
    Seq("_floorv-1" -> "1\n", "_floorv-2" -> "2\n")
      .foreach { case (n, body) =>
        val out = fs.create(new Path(root, s"_commits/$n"), true)
        out.write(body.getBytes("UTF-8")); out.close()
      }
    assert(SnapshotStore.vacuumFloor(spark, root) == 2L)
    // reclaim below the already-committed floor: no new marker needed
    SnapshotStore.vacuum(spark, root, keepLast = 1, minAgeMs = 0L): Unit
    val names = commitNames(root)
    assert(names.contains("_floorv-2"), s"max durable floor lost: $names")
    assert(!names.contains("_floorv-1"), s"sub-max floor file kept: $names")
    assert(SnapshotStore.vacuumFloor(spark, root) == 2L)
  }
}
