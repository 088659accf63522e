package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Scd1

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-snap-$tag").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.select("k", "v", "ts").as[(Long, String, Long)].collect().toSet

  private val merge = (cur: org.apache.spark.sql.DataFrame,
                       delta: org.apache.spark.sql.DataFrame) =>
    Scd1.merge(cur, delta, Seq("k"), Seq(col("ts").desc))

  test("init + read round-trips; commitDelta merges and bumps the version") {
    val root = tmpDir("basic")
    val v0 = (1L to 100L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    assert(SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 8) == 0L)
    assert(rows(SnapshotStore.read(spark, root)) == rows(v0))

    // update 3 keys, insert 2 new ones
    val delta = Seq((1L, "v1b", 2L), (2L, "v2b", 2L), (3L, "v3b", 2L),
      (101L, "v101", 2L), (102L, "v102", 2L)).toDF("k", "v", "ts")
    val v1 = SnapshotStore.commitDelta(spark, root, delta, Seq("k"), merge)
    assert(v1 == 1L)
    val got = rows(SnapshotStore.read(spark, root))
    assert(got.size == 102)
    assert(got((1L, "v1b", 2L)) && got((101L, "v101", 2L)))
    assert(got((4L, "v4", 1L))) // untouched key intact
  }

  test("copy-on-write: untouched bucket files are re-pointed, not rewritten") {
    val root = tmpDir("cow")
    val v0 = (1L to 200L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 8)
    val m0 = SnapshotStore.readManifest(spark, root, 0L)

    val delta = Seq((1L, "v1b", 2L)).toDF("k", "v", "ts")
    SnapshotStore.commitDelta(spark, root, delta, Seq("k"), merge)
    val m1 = SnapshotStore.readManifest(spark, root, 1L)

    val touched = m1.buckets.filter { case (_, e) => e.dir.startsWith("v=1-") }
    assert(touched.size == 1) // exactly the one bucket key 1 hashes to
    // every other bucket still points at its ORIGINAL v=0 directory
    (m1.buckets -- touched.keySet).foreach { case (b, e) =>
      assert(e.dir == m0.buckets(b).dir)
    }
  }

  test("readForKeys prunes to the key's buckets and returns exactly the requested rows") {
    val root = tmpDir("lookup")
    val v0 = (1L to 500L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 16)
    val got = SnapshotStore.readForKeys(spark, root, Seq("k"), Seq(Seq(7L), Seq(400L)))
    assert(rows(got) == Set((7L, "v7", 1L), (400L, "v400", 1L)))
    // the scan under the hood touches at most 2 of the 16 bucket dirs
    val scanned = got.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.flatMap(_.relation.location.rootPaths.map(_.toString)).distinct
    assert(scanned.size <= 2, s"expected ≤2 bucket dirs, scanned $scanned")
  }

  test("readForKeys routes its keys on the driver: building the lookup starts no Spark job") {
    val root = tmpDir("lookup-jobs")
    SnapshotStore.init(spark, root, (1L to 200L).map(k => (k, s"v$k", 1L))
      .toDF("k", "v", "ts"), Seq("k"), numBuckets = 8)
    SnapshotStore.commitDeletes(spark, root, Seq(9L).toDF("k"), Seq("k"))
    var got: org.apache.spark.sql.DataFrame = null
    val jobs = jobsRun {
      got = SnapshotStore.readForKeys(spark, root, Seq("k"), Seq(Seq(7L), Seq(9L), Seq(150L)))
    }
    assert(jobs == 0, s"building the lookup started $jobs Spark jobs")
    assert(rows(got) == Set((7L, "v7", 1L), (150L, "v150", 1L)))
    // a composite (string, int) key routes to the buckets its rows were written to
    val croot = tmpDir("lookup-composite")
    SnapshotStore.init(spark, croot, (1 to 120).map(i => (s"s${i % 7}", i, s"v$i"))
      .toDF("s", "i", "v"), Seq("s", "i"), numBuckets = 8)
    assert(SnapshotStore.readForKeys(spark, croot, Seq("s", "i"),
      Seq(Seq("s3", 3), Seq("s5", 12), Seq("s1", 2))).as[(String, Int, String)]
      .collect().toSet == Set(("s3", 3, "v3"), ("s5", 12, "v12")))
  }

  test("readers never see a torn state: uncommitted data dirs are invisible") {
    val root = tmpDir("crash")
    val v0 = (1L to 50L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    // simulate a writer that crashed after writing data, before commit
    Seq((999L, "ghost", 9L)).toDF("k", "v", "ts")
      .write.parquet(Paths.get(root, "v=1", s"${SnapshotStore.BucketCol}=0").toString)
    assert(SnapshotStore.latestVersion(spark, root).contains(0L))
    assert(!rows(SnapshotStore.read(spark, root)).exists(_._1 == 999L))
  }

  test("time travel: every committed version stays readable until vacuumed") {
    val root = tmpDir("tt")
    val v0 = (1L to 20L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "v1b", 2L)).toDF("k", "v", "ts"), Seq("k"), merge)
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "v1c", 3L)).toDF("k", "v", "ts"), Seq("k"), merge)

    assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L, 2L))
    assert(rows(SnapshotStore.readVersion(spark, root, 0L))((1L, "v1", 1L)))
    assert(rows(SnapshotStore.readVersion(spark, root, 1L))((1L, "v1b", 2L)))
    assert(rows(SnapshotStore.readVersion(spark, root, 2L))((1L, "v1c", 3L)))
  }

  test("vacuum removes orphans and unreferenced old versions; latest stays readable") {
    val root = tmpDir("vac")
    val v0 = (1L to 100L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "v1b", 2L)).toDF("k", "v", "ts"), Seq("k"), merge)
    // orphan from a crashed writer at an old version — aged past the
    // torn-claim grace (a YOUNG never-committed dir may be a
    // same-version loser still writing and must survive the sweep;
    // VacuumInFlightSpec pins that side)
    Seq((999L, "ghost", 9L)).toDF("k", "v", "ts")
      .write.parquet(Paths.get(root, "v=1", s"${SnapshotStore.BucketCol}=99").toString)
    locally {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val old = System.currentTimeMillis() - SnapshotStore.reclaimGraceMs - 60000L
      fs.setTimes(new org.apache.hadoop.fs.Path(
        Paths.get(root, "v=1").toString), old, old)
    }

    val expected = rows(SnapshotStore.read(spark, root))
    assert(SnapshotStore.vacuum(spark, root, keepLast = 1) > 0)
    assert(rows(SnapshotStore.read(spark, root)) == expected)
    // v2 = the floor-advance's empty serialization commit
    assert(SnapshotStore.versions(spark, root) == Seq(1L, 2L))
    assert(!Files.exists(Paths.get(root, "v=1", s"${SnapshotStore.BucketCol}=99")))
    // v=0 bucket dirs still referenced by v1's manifest must survive
    val m1 = SnapshotStore.readManifest(spark, root, 1L)
    m1.buckets.values.foreach(e => assert(Files.exists(Paths.get(root, e.dir))))
  }

  test("rebucket: new layout carries the same rows, folds tombstones, recomputes stats, and composes with later deltas") {
    val root = tmpDir("rebucket")
    val v0 = (1L to 200L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 2,
      statsCols = Seq("ts"))
    SnapshotStore.commitDeletes(spark, root, Seq(Tuple1(5L)).toDF("k"), Seq("k"))
    val expected = rows(v0) - ((5L, "v5", 5L))

    val v = SnapshotStore.rebucket(spark, root, Seq("k"), newNumBuckets = 8)
    assert(v == 2L)
    val m = SnapshotStore.readManifest(spark, root, v)
    assert(m.numBuckets == 8 && m.buckets.size > 2)
    m.buckets.values.foreach { e =>
      assert(e.tombstones.isEmpty) // folded by the rewrite
      assert(e.stats.nonEmpty)     // stats recomputed under the new layout
    }
    assert(rows(SnapshotStore.read(spark, root)) == expected)
    // same-count rebucket is a no-op
    assert(SnapshotStore.rebucket(spark, root, Seq("k"), 8) == v)
    // a rebucket is layout-only: the change feed sees zero row changes
    assert(ChangeFeed.readChanges(spark, root, Seq("k"), 1L, v).isEmpty)
    // time travel still reaches the old layout (and pre-delete state)
    assert(rows(SnapshotStore.readVersion(spark, root, 0L)) == rows(v0))

    // point lookups and merges run against the NEW layout
    val lookup = SnapshotStore.readForKeys(spark, root, Seq("k"), Seq(Seq(7L)))
    assert(rows(lookup) == Set((7L, "v7", 7L)))
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "v1b", 900L), (5L, "v5b", 901L)).toDF("k", "v", "ts"),
      Seq("k"), merge)
    assert(rows(SnapshotStore.read(spark, root)) ==
      expected - ((1L, "v1", 1L)) + ((1L, "v1b", 900L)) + ((5L, "v5b", 901L)))
    // pruning works on the recomputed stats
    assert(rows(SnapshotStore.readRange(spark, root, "ts", 899L, null)) ==
      Set((1L, "v1b", 900L), (5L, "v5b", 901L)))
  }

  test("a deltaBucketsHint computed under an earlier layout is not trusted: a rebucket in between loses no rows") {
    val root = tmpDir("stale-hint")
    val v0 = (1L to 200L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    def bucket(k: Long, n: Int): Int =
      SnapshotStore.bucketOf(Seq(org.apache.spark.sql.catalyst.expressions.Literal(k)), n)
    // a key whose 8-bucket id is >= 4: no census under 4 buckets names it
    val k = (1L to 200L).find(bucket(_, 8) >= 4).get
    val hint = SnapshotStore.BucketsHint(4, Set(bucket(k, 4)))
    // the census ran, then the layout moved before the commit
    SnapshotStore.rebucket(spark, root, Seq("k"), newNumBuckets = 8)
    SnapshotStore.commitDelta(spark, root, Seq((k, "new", 2L)).toDF("k", "v", "ts"),
      Seq("k"), merge, deltaBucketsHint = Some(hint))
    // every other row of k's new bucket is still there
    assert(rows(SnapshotStore.read(spark, root)) ==
      rows(v0) - ((k, s"v$k", 1L)) + ((k, "new", 2L)))
  }

  test("data skipping: range reads prune to the buckets whose min/max overlap") {
    val root = tmpDir("skip")
    // keys and ts correlated so different buckets carry different ranges
    val v0 = (1L to 400L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 8,
      statsCols = Seq("ts", "v"))
    val m = SnapshotStore.readManifest(spark, root, 0L)
    assert(m.statsCols == Seq(("ts", "num"), ("v", "str")))
    m.buckets.values.foreach(e => assert(e.stats.size == 2))

    // ts ∈ [1, 3]: only buckets whose recorded min ≤ 3 qualify — with
    // 400 keys over 8 buckets every bucket has min >> 3 except those
    // holding k ∈ {1,2,3}
    val pruned = SnapshotStore.pruneBuckets(m, "ts", 1L, 3L)
    assert(pruned.size < m.buckets.size, s"pruned=$pruned")
    // the pruned read returns exactly what a full scan + filter would
    val got = rows(SnapshotStore.readRange(spark, root, "ts", 1L, 3L))
    assert(got == Set((1L, "v1", 1L), (2L, "v2", 2L), (3L, "v3", 3L)))
    // and it provably read fewer bucket directories
    val scanned = SnapshotStore.readRange(spark, root, "ts", 1L, 3L)
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.flatMap(_.relation.location.rootPaths.map(_.toString)).distinct
    assert(scanned.size == pruned.size && pruned.size < 8,
      s"expected a pruned scan, got $scanned")

    // commits refresh stats for touched buckets and keep the rest
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "v1b", 900L)).toDF("k", "v", "ts"), Seq("k"), merge)
    val m1 = SnapshotStore.readManifest(spark, root, 1L)
    val touchedBucket = m1.buckets.collect {
      case (b, e) if e.dir.startsWith("v=1-") => b
    }.head
    // that bucket's ts max now reflects the update
    val Some((_, mx)) = m1.buckets(touchedBucket).stats.head
    assert(BigDecimal(mx) == BigDecimal(900))
    // a range query beyond every original ts finds only the update
    assert(rows(SnapshotStore.readRange(spark, root, "ts", 500L, null)) ==
      Set((1L, "v1b", 900L)))
    assert(SnapshotStore.pruneBuckets(m1, "ts", 500L, null) == Set(touchedBucket))
  }

  test("txn idempotence: a redelivered (writerId, batchId) commit is a no-op") {
    val root = tmpDir("txn")
    val v0 = Seq(("d1", 100L)).toDF("day", "cents")
    val sum2 = (cur: org.apache.spark.sql.DataFrame, delta: org.apache.spark.sql.DataFrame) =>
      cur.unionByName(delta).groupBy("day").agg(sum(col("cents")).as("cents"))
    SnapshotStore.init(spark, root, v0, Seq("day"), numBuckets = 4,
      txn = Some(("w1", 0L)))
    val delta = Seq(("d1", 50L)).toDF("day", "cents")
    val v1 = SnapshotStore.commitDelta(spark, root, delta, Seq("day"), sum2,
      txn = Some(("w1", 1L)))
    assert(v1 == 1L)
    def state = SnapshotStore.read(spark, root)
      .as[(String, Long)].collect().toSet
    assert(state == Set(("d1", 150L)))
    // replay of batch 1: summed a second time this would give 200
    val vReplay = SnapshotStore.commitDelta(spark, root, delta, Seq("day"), sum2,
      txn = Some(("w1", 1L)))
    assert(vReplay == 1L)        // no new version
    assert(state == Set(("d1", 150L))) // aggregate not corrupted
    // replay of the INIT batch (0) is also skipped
    val vReplay0 = SnapshotStore.commitDelta(spark, root, v0, Seq("day"), sum2,
      txn = Some(("w1", 0L)))
    assert(vReplay0 == 1L)
    assert(state == Set(("d1", 150L)))
    // a different writer's batch 1 is NOT confused with w1's
    SnapshotStore.commitDelta(spark, root, Seq(("d1", 7L)).toDF("day", "cents"),
      Seq("day"), sum2, txn = Some(("w2", 1L)))
    assert(state == Set(("d1", 157L)))
    // replaceAll skips a redelivery the same way: the head comes back,
    // no version is committed and no attempt dir is left behind
    val vAll = SnapshotStore.replaceAll(spark, root,
      Seq(("d2", 1L)).toDF("day", "cents"), Seq("day"), txn = Some(("w3", 1L)))
    assert(state == Set(("d2", 1L)))
    assert(SnapshotStore.replaceAll(spark, root, Seq(("d9", 9L)).toDF("day", "cents"),
      Seq("day"), txn = Some(("w3", 1L))) == vAll)
    assert(SnapshotStore.latestVersion(spark, root).contains(vAll))
    assert(state == Set(("d2", 1L)))
    assert(!Files.list(Paths.get(root))
      .anyMatch(p => p.getFileName.toString.startsWith(s"v=${vAll + 1}-")))
  }

  test("lost commit race: loser keeps its hands off the winner's data and re-merges") {
    val root = tmpDir("race")
    val v0 = (1L to 40L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    // interleave a competing writer INSIDE the loser's merge callback:
    // the inner commit wins version 1; the outer writer must lose the
    // manifest race, delete only its own attempt dir, and re-merge
    // against the winner's snapshot
    var innerDone = false
    val outerDelta = Seq((1L, "outer", 3L)).toDF("k", "v", "ts")
    val v = SnapshotStore.commitDelta(spark, root, outerDelta, Seq("k"),
      (cur, delta) => {
        if (!innerDone) {
          innerDone = true
          SnapshotStore.commitDelta(spark, root,
            Seq((2L, "inner", 2L)).toDF("k", "v", "ts"), Seq("k"), merge)
        }
        merge(cur, delta)
      })
    assert(v == 2L) // outer lost v1, retried, committed v2
    val got = rows(SnapshotStore.read(spark, root))
    assert(got((1L, "outer", 3L)) && got((2L, "inner", 2L))) // BOTH commits survive
    // the winner's v1 snapshot is intact (its data was never clobbered
    // or deleted by the loser's cleanup)
    val atV1 = rows(SnapshotStore.readVersion(spark, root, 1L))
    assert(atV1((2L, "inner", 2L)) && atV1((1L, "v1", 1L)))
    // and no stray attempt dirs beyond the referenced ones survive a vacuum
    SnapshotStore.vacuum(spark, root, keepLast = 3)
    assert(rows(SnapshotStore.read(spark, root)) == got)
  }

  test("streaming scd1SnapshotSink commits one atomic version per micro-batch") {
    val root = tmpDir("stream")
    val ckpt = tmpDir("stream-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val q = SnapshotStore.scd1SnapshotSink(
      mem.toDF().toDF("k", "v", "ts"), root, ckpt,
      Seq("k"), Seq(col("ts").desc), numBuckets = 4)
    try {
      mem.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      assert(rows(SnapshotStore.read(spark, root)) ==
        Set((1L, "a", 1L), (2L, "b", 1L)))
      mem.addData((1L, "a2", 2L), (3L, "c", 2L))
      q.processAllAvailable()
      assert(rows(SnapshotStore.read(spark, root)) ==
        Set((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 2L)))
      assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L))
    } finally q.stop()
  }

  test("scd1SnapshotSink consumes DELETE tombstones (key removed, atomically versioned)") {
    val root = tmpDir("snap-del")
    val ckpt = tmpDir("snap-del-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, Boolean)]
    val q = SnapshotStore.scd1SnapshotSink(
      mem.toDF().toDF("k", "v", "ts", "_deleted"), root, ckpt,
      Seq("k"), Seq(col("ts").desc), numBuckets = 4,
      deleteCol = Some("_deleted"))
    try {
      mem.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable()
      mem.addData((1L, null, 2L, true), (3L, "c", 2L, false)) // delete 1, insert 3
      q.processAllAvailable()
      val got = SnapshotStore.read(spark, root)
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(got == Set((2L, "b"), (3L, "c")))
      assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L))
    } finally q.stop()
  }

  test("aggSnapshotSink maintains a materialized aggregate == full recompute") {
    val root = tmpDir("mv")
    val ckpt = tmpDir("mv-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long)]
    // rows arrive as (day, revenue_cents, n_orders=1): partials and raw
    // rows share the schema, so one re-aggregation serves both merges
    val q = SnapshotStore.aggSnapshotSink(
      mem.toDF().toDF("day", "revenue_cents", "n_orders"), root, ckpt,
      Seq("day"),
      Seq(sum(col("revenue_cents")).as("revenue_cents"),
        sum(col("n_orders")).as("n_orders")),
      numBuckets = 4)
    try {
      val b1 = Seq(("d1", 100L, 1L), ("d1", 250L, 1L), ("d2", 40L, 1L))
      val b2 = Seq(("d1", 60L, 1L), ("d3", 10L, 1L))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val got = SnapshotStore.read(spark, root)
        .select("day", "revenue_cents", "n_orders")
        .as[(String, Long, Long)].collect().toSet
      assert(got == Set(("d1", 410L, 3L), ("d2", 40L, 1L), ("d3", 10L, 1L)))
      assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L))
    } finally q.stop()
  }

  test("scd2SnapshotSink: incremental history fold equals full rebuild, atomically versioned") {
    val root = tmpDir("scd2")
    val ckpt = tmpDir("scd2-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val q = SnapshotStore.scd2SnapshotSink(
      mem.toDF().toDF("k", "v", "ts"), root, ckpt,
      Seq("k"), ts = "ts", tiebreak = "v", numBuckets = 4)
    try {
      val b1 = Seq((1L, "a", 1L), (2L, "b", 1L))
      val b2 = Seq((1L, "a2", 5L), (3L, "c", 5L))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()

      val expected = graft.operators.Scd2.buildHistory(
        (b1 ++ b2).toDF("k", "v", "ts"), Seq("k"), "ts", "v")
        .select("k", "v", "ts", "eff_start_ts", "eff_end_ts", "current_flag")
        .as[(Long, String, Long, Long, Option[Long], Boolean)].collect().toSet
      val got = SnapshotStore.read(spark, root)
        .select("k", "v", "ts", "eff_start_ts", "eff_end_ts", "current_flag")
        .as[(Long, String, Long, Long, Option[Long], Boolean)].collect().toSet
      assert(got == expected)
      assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L))

      // redelivery of batch 2 (at-least-once replay) leaves the history unchanged
      SnapshotStore.commitDelta(spark, root, b2.toDF("k", "v", "ts"), Seq("k"),
        (cur, delta) => graft.operators.Scd2.applyDelta(cur, delta, Seq("k"), "ts", "v"))
      val replayed = SnapshotStore.read(spark, root)
        .select("k", "v", "ts", "eff_start_ts", "eff_end_ts", "current_flag")
        .as[(Long, String, Long, Long, Option[Long], Boolean)].collect().toSet
      assert(replayed == expected)
    } finally q.stop()
  }

  test("a terminator-less manifest (crashed committer) is invisible and gets reclaimed") {
    val root = tmpDir("torn")
    val v0 = (1L to 50L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)

    // simulate a committer that died mid-manifest: version 1 exists on
    // disk but has no terminator line
    val torn = Paths.get(root, "_commits", f"${1L}%020d")
    Files.write(torn, "buckets:4\n0\tv=1-dead\n".getBytes("UTF-8"))

    // readers: the torn file is NOT a committed version
    assert(SnapshotStore.versions(spark, root) == Seq(0L))
    assert(SnapshotStore.latestVersion(spark, root).contains(0L))
    assert(rows(SnapshotStore.read(spark, root)) == rows(v0))
    intercept[IllegalStateException] {
      SnapshotStore.readManifest(spark, root, 1L)
    }

    // while the leftover is FRESH it might be a live writer mid-write:
    // the reclaim lease blocks competing committers (they lose their
    // OCC attempts instead of deleting a file someone may be writing)
    val delta = Seq((1L, "v1b", 2L)).toDF("k", "v", "ts")
    intercept[IllegalStateException] {
      SnapshotStore.commitDelta(spark, root, delta, Seq("k"), merge, maxAttempts = 2)
    }

    // once it ages past the grace period it is a demonstrable crash
    // leftover — the next committer of version 1 reclaims it and wins
    Files.setLastModifiedTime(torn,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    assert(SnapshotStore.commitDelta(spark, root, delta, Seq("k"), merge) == 1L)
    assert(SnapshotStore.versions(spark, root) == Seq(0L, 1L))
    assert(rows(SnapshotStore.read(spark, root))((1L, "v1b", 2L)))
  }

  test("manifest commit arbiter: a second committer of the same version loses cleanly") {
    // drive writeManifestAtomic's public surface: two sequential
    // commitDelta calls race-free bump versions; and a manifest that is
    // already COMPLETE can never be replaced by a competing write of
    // the same version (exclusive create + ownership check) -- proxied
    // here by asserting the committed terminator survives a re-read
    val root = tmpDir("arbiter")
    val v0 = (1L to 20L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 2)
    val p = Paths.get(root, "_commits", f"${0L}%020d")
    val lines = new String(Files.readAllBytes(p), "UTF-8").split("\n")
    assert(lines.last.startsWith("end:"), "manifest must end with the terminator line")
    // a complete manifest is final: a competing commit of v0 must fail
    // (exercised through init, which tries to create version 0 again)
    intercept[IllegalArgumentException] {
      SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 2)
    }
  }

  test("compact collapses fragmented buckets to one file each; data and stats unchanged") {
    val root = tmpDir("compact")
    // 4 input partitions x 4 buckets: every bucket dir gets several files
    val v0 = (1L to 400L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts").repartition(4)
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4, statsCols = Seq("ts"))
    val m0 = SnapshotStore.readManifest(spark, root, 0L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def files(dir: String): Int = fs
      .listStatus(new org.apache.hadoop.fs.Path(root, dir))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(m0.buckets.values.exists(e => files(e.dir) >= 2), "fixture must be fragmented")

    val before = rows(SnapshotStore.read(spark, root))
    val v1 = SnapshotStore.compact(spark, root)
    assert(v1 == 1L)
    val m1 = SnapshotStore.readManifest(spark, root, 1L)
    // every compacted bucket: exactly one data file, stats carried over verbatim
    m1.buckets.foreach { case (b, e) =>
      assert(files(e.dir) == 1, s"bucket $b not compacted")
      assert(e.stats == m0.buckets(b).stats, s"bucket $b stats must carry over")
    }
    assert(rows(SnapshotStore.read(spark, root)) == before)

    // already compact: a second call is a no-op (no version bump)
    assert(SnapshotStore.compact(spark, root) == 1L)

    // normal life continues after compaction: merge + vacuum
    val delta = Seq((1L, "v1b", 999L)).toDF("k", "v", "ts")
    assert(SnapshotStore.commitDelta(spark, root, delta, Seq("k"), merge) == 2L)
    assert(rows(SnapshotStore.read(spark, root))((1L, "v1b", 999L)))
    SnapshotStore.vacuum(spark, root)
    assert(rows(SnapshotStore.read(spark, root)).size == 400)
  }

  test("clustered compaction sorts rows within bucket files (row-group skipping layout)") {
    val root = tmpDir("cluster")
    val rnd = new scala.util.Random(11)
    // ts deliberately shuffled so unsorted files interleave ranges
    val v0 = rnd.shuffle((1L to 400L).toVector).map(k => (k, s"v$k", k))
      .toDF("k", "v", "ts").repartition(4)
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4, statsCols = Seq("ts"))
    val before = rows(SnapshotStore.read(spark, root))

    val v1 = SnapshotStore.compact(spark, root, clusterBy = Seq("ts"))
    assert(v1 == 1L)
    val m1 = SnapshotStore.readManifest(spark, root, 1L)
    // data unchanged, stats carried over
    assert(rows(SnapshotStore.read(spark, root)) == before)
    // every compacted bucket FILE is internally sorted by ts — the
    // layout parquet needs for tight per-row-group min/max
    m1.buckets.values.foreach { e =>
      val ts = spark.read.parquet(
          new org.apache.hadoop.fs.Path(root, e.dir).toString)
        .select("ts").as[Long].collect()
      assert(ts.sameElements(ts.sorted), s"bucket ${e.dir} not clustered")
    }
  }

  private def dataFiles(root: String, dir: String): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(root, dir)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName)
  }

  test("per-file stats: manifest round-trips them and range reads prune FILES inside kept buckets") {
    val root = tmpDir("fstats")
    // range-partitioned input: each of the 4 tasks holds a tight ts
    // range, so every bucket dir gets ~4 files each covering a
    // DISTINCT slice — the layout file-level pruning pays off on
    val v0 = (1L to 400L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
      .repartitionByRange(4, $"ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 2, statsCols = Seq("ts"))
    val m = SnapshotStore.readManifest(spark, root, 0L)

    // producer + round-trip: every data file on disk has a stats entry
    m.buckets.foreach { case (b, e) =>
      val onDisk = dataFiles(root, e.dir).toSet
      assert(e.fileStats.keySet == onDisk, s"bucket $b fileStats must cover $onDisk")
      assert(onDisk.size >= 2, s"fixture bucket $b must be multi-file")
      e.fileStats.values.foreach(st => assert(st.size == 1))
      // file ranges nest inside the bucket range
      val Some((bmn, bmx)) = e.stats.head
      e.fileStats.values.foreach { st =>
        val Some((mn, mx)) = st.head
        assert(BigDecimal(mn) >= BigDecimal(bmn) && BigDecimal(mx) <= BigDecimal(bmx))
      }
    }

    // pruneFiles keeps a strict subset for a narrow range
    m.buckets.keys.foreach { b =>
      val kept = SnapshotStore.pruneFiles(m, b, "ts", 1L, 3L).get
      assert(kept.size < m.buckets(b).fileStats.size, s"bucket $b: no file pruned")
    }

    // the pruned read ≡ full scan + filter, and provably reads fewer FILES
    val ranged = SnapshotStore.readRange(spark, root, "ts", 1L, 3L)
    assert(rows(ranged) == Set((1L, "v1", 1L), (2L, "v2", 2L), (3L, "v3", 3L)))
    val executed = SnapshotStore.readRange(spark, root, "ts", 1L, 3L)
    assert(executed.collect().length == 3) // executes this exact plan → metrics below
    val scan = executed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val totalFiles = m.buckets.values.map(_.fileStats.size).sum
    assert(scan.metrics("numFiles").value < totalFiles,
      s"expected a file-pruned scan, read ${scan.metrics("numFiles").value} of $totalFiles")

    // commits refresh per-file stats for rewritten buckets
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "v1b", 900L)).toDF("k", "v", "ts"), Seq("k"), merge)
    val m1 = SnapshotStore.readManifest(spark, root, 1L)
    val touched = m1.buckets.collect { case (b, e) if e.dir.startsWith("v=1-") => b }.head
    assert(m1.buckets(touched).fileStats.keySet == dataFiles(root, m1.buckets(touched).dir).toSet)
    assert(rows(SnapshotStore.readRange(spark, root, "ts", 500L, null)) ==
      Set((1L, "v1b", 900L)))
  }

  test("compaction carries per-file stats onto the compacted file; file pruning still works") {
    val root = tmpDir("fstats-compact")
    val v0 = (1L to 400L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
      .repartitionByRange(4, $"ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4, statsCols = Seq("ts"))
    val before = rows(SnapshotStore.read(spark, root))
    SnapshotStore.compact(spark, root, clusterBy = Seq("ts"))
    val m1 = SnapshotStore.readManifest(spark, root, 1L)
    m1.buckets.foreach { case (b, e) =>
      val onDisk = dataFiles(root, e.dir)
      assert(onDisk.size == 1)
      assert(e.fileStats == Map(onDisk.head -> e.stats),
        s"bucket $b: compacted file must inherit the bucket stats")
    }
    assert(rows(SnapshotStore.read(spark, root)) == before)
    assert(rows(SnapshotStore.readRange(spark, root, "ts", 1L, 3L)) ==
      Set((1L, "v1", 1L), (2L, "v2", 2L), (3L, "v3", 3L)))
  }

  test("merge-on-read deletes: a point-delete commit writes tombstones, not buckets") {
    val root = tmpDir("mor")
    val v0 = (1L to 400L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 8, statsCols = Seq("ts"))
    val m0 = SnapshotStore.readManifest(spark, root, 0L)

    val v1 = SnapshotStore.commitDeletes(spark, root,
      Seq(7L, 123L, 999L).toDF("k"), Seq("k")) // 999 doesn't exist
    assert(v1 == 1L)
    val m1 = SnapshotStore.readManifest(spark, root, 1L)
    // NO data bucket was rewritten — every entry still points at v=0 dirs
    m1.buckets.foreach { case (b, e) => assert(e.dir == m0.buckets(b).dir) }
    // only the buckets of the deleted keys carry a sidecar
    val tombed = m1.buckets.filter(_._2.tombstones.nonEmpty).keys.toSet
    assert(tombed.nonEmpty && tombed.size <= 3, s"tombed=$tombed")
    // the commit wrote O(deleted keys), far below the table's data size
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def dirBytes(rel: String): Long = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(root, rel.split("/").head)).getLength
    val tombBytes = dirBytes(m1.buckets(tombed.head).tombstones.head)
    val dataBytes = dirBytes(m0.buckets.values.head.dir)
    assert(tombBytes < dataBytes / 2, s"tombstones $tombBytes vs data $dataBytes")

    // read ≡ the eager-rewrite result
    val got = rows(SnapshotStore.read(spark, root))
    assert(got.size == 398 && !got.exists(r => r._1 == 7L || r._1 == 123L))
    // pruned paths subtract tombstones too
    assert(rows(SnapshotStore.readRange(spark, root, "ts", 1L, 10L)) ==
      (1L to 10L).filterNot(_ == 7L).map(k => (k, s"v$k", k)).toSet)
    assert(rows(SnapshotStore.readForKeys(spark, root, Seq("k"), Seq(Seq(7L), Seq(8L)))) ==
      Set((8L, "v8", 8L)))
    // time travel: the pre-delete version still shows the rows
    assert(rows(SnapshotStore.readVersion(spark, root, 0L)).size == 400)

    // a second delete on the same bucket accumulates sidecars
    SnapshotStore.commitDeletes(spark, root, Seq(8L).toDF("k"), Seq("k"))
    assert(rows(SnapshotStore.read(spark, root)).size == 397)

    // re-upsert after delete: the merge folds the tombstone away
    SnapshotStore.commitDelta(spark, root,
      Seq((7L, "v7b", 500L)).toDF("k", "v", "ts"), Seq("k"), merge)
    val got3 = rows(SnapshotStore.read(spark, root))
    assert(got3((7L, "v7b", 500L)) && got3.size == 398)
    val m3 = SnapshotStore.readManifest(spark, root,
      SnapshotStore.latestVersion(spark, root).get)
    m3.buckets.values.filter(_.dir.startsWith("v=3-"))
      .foreach(e => assert(e.tombstones.isEmpty, "rewrite must clear tombstones"))
  }

  test("compaction folds tombstones into the data files and vacuum reclaims the sidecars") {
    val root = tmpDir("mor-fold")
    val v0 = (1L to 200L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4, statsCols = Seq("ts"))
    SnapshotStore.commitDeletes(spark, root, Seq(1L, 2L, 3L).toDF("k"), Seq("k"))
    val m1 = SnapshotStore.readManifest(spark, root, 1L)
    val sidecars = m1.buckets.values.flatMap(_.tombstones).toSeq
    assert(sidecars.nonEmpty)
    val expected = rows(SnapshotStore.read(spark, root))

    val v2 = SnapshotStore.compact(spark, root)
    val m2 = SnapshotStore.readManifest(spark, root, v2)
    m2.buckets.values.foreach(e => assert(e.tombstones.isEmpty, "compact must fold"))
    assert(rows(SnapshotStore.read(spark, root)) == expected)
    // the folded files genuinely no longer contain the deleted keys
    val raw = spark.read.parquet(m2.buckets.values.map(e =>
      new org.apache.hadoop.fs.Path(root, e.dir).toString).toSeq: _*)
    assert(!raw.select("k").as[Long].collect().exists(Set(1L, 2L, 3L)))

    // vacuum reclaims the now-unreferenced sidecar files
    assert(SnapshotStore.vacuum(spark, root, keepLast = 1) > 0)
    sidecars.foreach(d =>
      assert(!Files.exists(Paths.get(root, d)), s"sidecar $d must be reclaimed"))
    assert(rows(SnapshotStore.read(spark, root)) == expected)
  }

  test("merge-on-read deletes can empty a bucket; compaction then drops it") {
    val root = tmpDir("mor-empty")
    val v0 = (1L to 100L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    // delete EVERY key of one bucket
    val m0 = SnapshotStore.readManifest(spark, root, 0L)
    val byBucket = v0.withColumn("b",
        pmod(hash(col("k")), lit(4))).select("k", "b").as[(Long, Int)].collect()
    val victim = byBucket.head._2
    val victimKeys = byBucket.filter(_._2 == victim).map(_._1)
    SnapshotStore.commitDeletes(spark, root, victimKeys.toSeq.toDF("k"), Seq("k"))
    assert(rows(SnapshotStore.read(spark, root)).size == 100 - victimKeys.length)
    val v2 = SnapshotStore.compact(spark, root)
    val m2 = SnapshotStore.readManifest(spark, root, v2)
    assert(!m2.buckets.contains(victim), "emptied bucket must drop out")
    assert(rows(SnapshotStore.read(spark, root)).size == 100 - victimKeys.length)
  }

  test("deleting EVERY row then compacting folds to an empty table (stats path included)") {
    val root = tmpDir("mor-empty-all")
    val v0 = (1L to 40L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    // statsCols set: the fold rewrite re-tightens stats from the
    // attempt dir, which here holds ONLY _SUCCESS (every bucket
    // emptied) — read.parquet on it would fail schema inference
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4, statsCols = Seq("ts"))
    SnapshotStore.commitDeletes(spark, root, (1L to 40L).toDF("k"), Seq("k"))
    assert(rows(SnapshotStore.read(spark, root)).isEmpty)
    val v2 = SnapshotStore.compact(spark, root)
    val m2 = SnapshotStore.readManifest(spark, root, v2)
    assert(m2.buckets.isEmpty, "every bucket must drop out")
    assert(rows(SnapshotStore.read(spark, root)).isEmpty)
    // the table stays writable after the all-empty fold
    SnapshotStore.commitDelta(spark, root,
      Seq((7L, "back", 7L)).toDF("k", "v", "ts"), Seq("k"), (_, delta) => delta)
    assert(rows(SnapshotStore.read(spark, root)).size == 1)
  }

  test("commitDeletes txn idempotence: a redelivered delete batch is a no-op") {
    val root = tmpDir("mor-txn")
    val v0 = (1L to 50L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    val del = Seq(5L).toDF("k")
    val v1 = SnapshotStore.commitDeletes(spark, root, del, Seq("k"), txn = Some("w1" -> 1L))
    assert(v1 == 1L)
    // redelivery of the same batch: same version back, no new sidecar
    assert(SnapshotStore.commitDeletes(spark, root, del, Seq("k"), txn = Some("w1" -> 1L)) == 1L)
    val m = SnapshotStore.readManifest(spark, root, 1L)
    assert(m.buckets.values.map(_.tombstones.size).sum == 1)
    assert(rows(SnapshotStore.read(spark, root)).size == 49)
  }

  test("merge-on-read deletes remove NULL-keyed rows (null-safe anti-join) and compact keeps them gone") {
    val root = tmpDir("mor-null")
    val v0 = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "nullrow"))
      .toDF("k", "v")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 2)
    // delete the null-keyed row via tombstone — a null-UNSAFE anti-join
    // would never match it and silently resurrect the row
    SnapshotStore.commitDeletes(spark, root,
      Seq(Option.empty[Long]).toDF("k"), Seq("k"))
    def vs(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("v").collect().map(_.getString(0)).toSet
    assert(vs(SnapshotStore.read(spark, root)) === Set("a", "b"))
    // compact folds the tombstone; the delete must survive the fold
    // (a fold that missed the null key would discard the tombstone AND
    // keep the row — the delete lost forever)
    SnapshotStore.compact(spark, root)
    val m = SnapshotStore.readManifest(spark, root,
      SnapshotStore.latestVersion(spark, root).get)
    assert(m.buckets.values.forall(_.tombstones.isEmpty))
    assert(vs(SnapshotStore.read(spark, root)) === Set("a", "b"))
  }

  test("manifest format marker: a marker-less, format-4 or future manifest is refused, naming version and format") {
    val root = tmpDir("format")
    val v0 = (1L to 40L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 2, statsCols = Seq("ts"))
    val lines = Files.readAllLines(Paths.get(root, "_commits", f"${0L}%020d"))
      .toArray.map(_.toString).toSeq
    val token = lines.last.split(":")(1)
    val body = lines.dropRight(1)
    // v0's body committed as version v, with a fixed terminator line count
    def commitAs(v: Long, body: Seq[String]): Unit =
      Files.write(Paths.get(root, "_commits", f"$v%020d"),
        (body :+ s"end:$token:${body.size}").mkString("", "\n", "\n").getBytes)
    def stamped(f: String) = body.map(l => if (l.startsWith("format:")) s"format:$f" else l)
    commitAs(1L, body.filterNot(_.startsWith("format:"))) // as a pre-marker writer left it
    commitAs(2L, stamped("4"))
    commitAs(3L, stamped("99"))
    Seq(1L -> "no format: marker (format 2)", 2L -> "is format 4", 3L -> "is format 99")
      .foreach { case (v, what) =>
        val e = intercept[IllegalStateException](SnapshotStore.readManifest(spark, root, v))
        assert(e.getMessage.contains(s"version $v") && e.getMessage.contains(what), e.getMessage)
      }
    assert(SnapshotStore.readManifest(spark, root, 0L).buckets.values.map(_.rows).sum == 40L)
  }

  test("failRules validate inside the attempt-dir write: abort before visibility, no extra scan") {
    import graft.pipeline.Expectations
    import graft.pipeline.Expectations.{Expectation, Fail}
    val root = tmpDir("exp")
    val v0 = (1L to 20L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts")
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)

    // count how many times the delta's lineage is actually evaluated
    val scanned = spark.sparkContext.longAccumulator("delta-rows-scanned")
    def delta = spark.sparkContext
      .parallelize(Seq((1L, "neg", -5L), (21L, "ok", 42L)), 2)
      .map { r => scanned.add(1L); r }.toDF("k", "v", "ts")

    val ex = intercept[Expectations.FailedExpectationException] {
      SnapshotStore.commitDelta(spark, root, delta, Seq("k"),
        (_, d) => d, // keyed-replace-free merge: delta IS the bucket state
        failRules = Seq(Expectation("ts_pos", col("ts") > 0, Fail)))
    }
    assert(ex.rule == "ts_pos" && ex.rows == 1L)
    // nothing published, nothing visible, attempt dir gone
    assert(SnapshotStore.latestVersion(spark, root).contains(0L))
    assert(rows(SnapshotStore.read(spark, root)) == rows(v0))
    assert(!Files.list(Paths.get(root))
      .anyMatch(p => p.getFileName.toString.startsWith("v=1-")))
    // the delta was evaluated exactly twice — commitDelta's standing
    // touched-bucket census plus THE write itself: validation rode the
    // write via observe, adding zero evaluations (the pre-flight style
    // would make this 6: an extra 2-row pass before census + write)
    assert(scanned.value == 4L)

    // a passing commit with the same rules goes through
    scanned.reset()
    val ok = spark.sparkContext
      .parallelize(Seq((21L, "ok", 42L)), 1)
      .map { r => scanned.add(1L); r }.toDF("k", "v", "ts")
    SnapshotStore.commitDelta(spark, root, ok, Seq("k"), merge,
      failRules = Seq(Expectation("ts_pos", col("ts") > 0, Fail)))
    assert(rows(SnapshotStore.read(spark, root)).contains((21L, "ok", 42L)))

    // init validates the same way: a violating version 0 never exists
    val root2 = tmpDir("exp-init")
    intercept[Expectations.FailedExpectationException] {
      SnapshotStore.init(spark, root2,
        Seq((1L, "bad", -1L)).toDF("k", "v", "ts"), Seq("k"),
        failRules = Seq(Expectation("ts_pos", col("ts") > 0, Fail)))
    }
    assert(SnapshotStore.latestVersion(spark, root2).isEmpty)
  }
}
