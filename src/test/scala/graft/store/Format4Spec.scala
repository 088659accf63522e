package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Manifest lines added in format 4: per-bucket `rows:` counts,
  * in-commit `ts:` timestamps (TIMESTAMP AS OF resolution), persisted
  * `keys:`, and the tombstone-fold threshold.
  */
class Format4Spec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-f4-$tag").toString

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("rows: every entry carries the exact physical bucket count after init, delta, compact") {
    val root = tmpDir("rows")
    val df = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
    SnapshotStore.init(spark, root, df, Seq("k"), numBuckets = 4)

    def assertExact(v: Long): Unit = {
      val m = SnapshotStore.readManifest(spark, root, v)
      assert(m.buckets.nonEmpty)
      assert(m.buckets.values.map(_.rows).sum ==
        SnapshotStore.readVersion(spark, root, v).count(),
        s"v$v: manifest rows must sum to the table count")
    }
    assertExact(0L)

    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "x"), (300L, "n")).toDF("k", "v"), Seq("k"),
      SnapshotStore.upsertMerge(Seq("k")))
    assertExact(1L) // untouched buckets carried their v0 entries — rows survive the carry

    // force a fragmented bucket (two sidecar-free files) then compact:
    // the rewritten entry must carry a FRESH count
    SnapshotStore.commitDeletes(spark, root, Seq(5L, 6L).toDF("k"), Seq("k"))
    SnapshotStore.compact(spark, root, minFiles = 2)
    val vc = SnapshotStore.latestVersion(spark, root).get
    assertExact(vc)
  }

  test("rows stays a physical count across merge-on-read deletes; compact refreshes it") {
    val root = tmpDir("rows-del")
    SnapshotStore.init(spark, root,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    SnapshotStore.commitDeletes(spark, root,
      (1L to 40L).toDF("k"), Seq("k"))
    val m = SnapshotStore.readManifest(spark, root,
      SnapshotStore.latestVersion(spark, root).get)
    // physical rows unchanged (sidecars, not rewrites) — consumers must
    // gate exactness on tombstones.isEmpty
    assert(m.buckets.values.map(_.rows).sum == 100L)
    assert(m.buckets.values.exists(_.tombstones.nonEmpty))
    SnapshotStore.compact(spark, root, minFiles = 2) // folds the deletes
    val mc = SnapshotStore.readManifest(spark, root,
      SnapshotStore.latestVersion(spark, root).get)
    assert(mc.buckets.values.forall(_.tombstones.isEmpty))
    assert(mc.buckets.values.map(_.rows).sum == 60L)
    assert(SnapshotStore.read(spark, root).count() == 60L)
  }

  test("TIMESTAMP AS OF resolves from in-commit ts, surviving skewed file mtimes") {
    val root = tmpDir("tsof")
    SnapshotStore.init(spark, root,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 1)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "b")).toDF("k", "v"), Seq("k"),
      SnapshotStore.upsertMerge(Seq("k")))

    // timestamps are monotone and header-readable
    val t0 = SnapshotStore.commitTimeMillis(spark, root, 0L)
    val t1 = SnapshotStore.commitTimeMillis(spark, root, 1L)
    assert(t0 < t1)

    // SKEW the commit-file mtimes hard (a copied/migrated table, touch):
    // v0 looks newer than v1 by mtime; ts: lines must win
    val f = fs(root)
    f.setTimes(new Path(root, f"_commits/${0L}%020d"),
      System.currentTimeMillis() + 86400000L, -1)
    f.setTimes(new Path(root, f"_commits/${1L}%020d"), 1000L, -1)

    assert(SnapshotStore.versionAt(spark, root, between).contains(0L))
    assert(SnapshotStore.versionAt(spark, root, System.currentTimeMillis())
      .contains(1L))
    assert(SnapshotStore.versionAt(spark, root, t0 - 10).isEmpty)
  }

  test("tombstoneFoldBytes: under the threshold maintain leaves sidecars, past it folds") {
    val root = tmpDir("fold")
    SnapshotStore.init(spark, root,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 1)
    SnapshotStore.commitDeletes(spark, root, Seq(1L, 2L).toDF("k"), Seq("k"))
    def sidecars(): Int = SnapshotStore.readManifest(spark, root,
      SnapshotStore.latestVersion(spark, root).get)
      .buckets.values.map(_.tombstones.size).sum

    assert(sidecars() == 1)
    // huge threshold (and minFiles above the file count): nothing to do
    val before = SnapshotStore.latestVersion(spark, root).get
    graft.pipeline.Warehouse.maintain(spark, Seq(root), minFiles = 100,
      keepVersions = 100, tombstoneFoldBytes = 1L << 40)
    assert(SnapshotStore.latestVersion(spark, root).get == before)
    assert(sidecars() == 1)

    // default threshold 0 = always fold
    graft.pipeline.Warehouse.maintain(spark, Seq(root), minFiles = 100,
      keepVersions = 100)
    assert(sidecars() == 0)
    assert(SnapshotStore.read(spark, root).count() == 98L)
  }
}
