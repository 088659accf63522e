package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.SnapshotStore

class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedCounts aggregates tumbling windows with a watermark") {
    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamPipeline.windowedCounts(events, "ts", "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      in.addData(
        (ts("2024-01-01 00:05:00"), "click", 1.0),
        (ts("2024-01-01 00:55:00"), "click", 2.0),
        (ts("2024-01-01 01:05:00"), "click", 4.0),
        (ts("2024-01-01 00:30:00"), "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select($"window_start".cast("string"), $"event_type", $"n_events", $"total_value")
        .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(rows.toSeq == Seq(
        ("2024-01-01 00:00:00", "click", 2L, 3.0),
        ("2024-01-01 00:00:00", "view", 1L, 8.0),
        ("2024-01-01 01:00:00", "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("scd1UpsertSink maintains latest-per-key across micro-batches") {
    val dir = Files.createTempDirectory("graft_upsert").toString
    val target = s"$dir/target"
    val ckpt = s"$dir/ckpt"
    val in = MemoryStream[(Long, String, Timestamp)]
    val stream = in.toDF().toDF("k", "v", "ts")
    val q = StreamPipeline.scd1UpsertSink(stream, target, ckpt,
      Seq("k"), Seq(col("ts").desc))
    try {
      in.addData((1L, "a1", ts("2024-01-01 00:00:00")), (2L, "b1", ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      in.addData((1L, "a2", ts("2024-01-02 00:00:00")), (3L, "c1", ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val out = spark.read.parquet(target)
        .select("k", "v").as[(Long, String)].collect().sortBy(_._1)
      assert(out.toSeq == Seq((1L, "a2"), (2L, "b1"), (3L, "c1")))
    } finally q.stop()
  }

  test("changeLog emits I on first sight, U on change, nothing when unchanged") {
    val in = MemoryStream[(Long, String)]
    val q = StreamPipeline.changeLog(in.toDS())
      .writeStream.format("memory").queryName("chg").outputMode("append").start()
    try {
      in.addData((1L, "x"), (2L, "y"))
      q.processAllAvailable()
      in.addData((1L, "x2"), (2L, "y")) // 1 changes, 2 unchanged
      q.processAllAvailable()
      val rows = spark.table("chg")
        .select("key", "action", "new_value")
        .as[(Long, String, String)].collect().sortBy(r => (r._1, r._3))
      assert(rows.toSeq == Seq((1L, "I", "x"), (1L, "U", "x2"), (2L, "I", "y")))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops repeated ids, keeps first occurrence") {
    val in = MemoryStream[(Long, Timestamp, String)]
    val stream = in.toDF().toDF("id", "ts", "v")
    val q = StreamPipeline.dedupWithinWatermark(stream, "id", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(
        (1L, ts("2024-01-01 00:00:00"), "first"),
        (1L, ts("2024-01-01 00:01:00"), "dup"),
        (2L, ts("2024-01-01 00:02:00"), "other"))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 00:03:00"), "dup2"))
      q.processAllAvailable()
      val rows = spark.table("dedup").select("id", "v")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1L, "first"), (2L, "other")))
    } finally q.stop()
  }

  test("intervalStreamJoin matches right rows within the time window, per key") {
    val orders = MemoryStream[(Long, Timestamp, String)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamPipeline.intervalStreamJoin(
      orders.toDF().toDF("user", "order_ts", "order_id"),
      clicks.toDF().toDF("user", "click_ts", "click_id"),
      key = "user", leftTs = "order_ts", rightTs = "click_ts",
      watermark = "1 hour", withinSeconds = 600)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      clicks.addData(
        (1L, ts("2024-01-01 10:00:00"), "c-in"),    // 5 min before order → match
        (1L, ts("2024-01-01 09:00:00"), "c-old"),   // 65 min before → no match
        (2L, ts("2024-01-01 10:00:00"), "c-otheruser"))
      orders.addData((1L, ts("2024-01-01 10:05:00"), "o1"))
      q.processAllAvailable()
      val rows = spark.table("ssj").select("order_id", "click_id")
        .as[(String, String)].collect().toSet
      assert(rows == Set(("o1", "c-in")))
    } finally q.stop()
  }

  test("intervalStreamJoinLeftOuter emits unmatched left rows once the watermark closes them") {
    val orders = MemoryStream[(Long, Timestamp, String)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamPipeline.intervalStreamJoinLeftOuter(
      orders.toDF().toDF("user", "order_ts", "order_id"),
      clicks.toDF().toDF("user", "click_ts", "click_id"),
      key = "user", leftTs = "order_ts", rightTs = "click_ts",
      watermark = "10 minutes", withinSeconds = 600)
    val q = joined.writeStream.format("memory").queryName("ssjlo")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts("2024-01-01 10:00:00"), "c-in"))
      orders.addData(
        (1L, ts("2024-01-01 10:05:00"), "o-matched"),
        (2L, ts("2024-01-01 10:05:00"), "o-unmatched"))
      q.processAllAvailable()
      // push both watermarks far past the interval so the unmatched
      // left row can be finalized and emitted with nulls
      clicks.addData((99L, ts("2024-01-01 12:00:00"), "wm"))
      orders.addData((99L, ts("2024-01-01 12:00:00"), "wm"))
      q.processAllAvailable()
      val rows = spark.table("ssjlo").where($"user" < 99L)
        .select("order_id", "click_id")
        .as[(String, Option[String])].collect().toSet
      assert(rows == Set(("o-matched", Some("c-in")), ("o-unmatched", None)))
    } finally q.stop()
  }

  test("scd2HistorySink maintains effective-dated history across micro-batches") {
    val dir = Files.createTempDirectory("graft_scd2").toString
    val in = MemoryStream[(Long, Long, Timestamp, String)]
    val stream = in.toDF().toDF("k", "id", "ts", "v")
    val q = StreamPipeline.scd2HistorySink(stream, s"$dir/hist", s"$dir/ckpt",
      Seq("k"), "ts", "id")
    try {
      in.addData((1L, 10L, ts("2024-01-01 00:00:00"), "v1"))
      q.processAllAvailable()
      in.addData((1L, 11L, ts("2024-02-01 00:00:00"), "v2"))
      q.processAllAvailable()
      val h = spark.read.parquet(s"$dir/hist")
        .select($"id", $"current_flag", $"eff_end_ts".isNull)
        .as[(Long, Boolean, Boolean)].collect().sortBy(_._1)
      assert(h.toSeq == Seq((10L, false, false), (11L, true, true)))
    } finally q.stop()
  }

  test("upsertBatch / scd2ApplyBatch rewrite only the buckets the delta touches") {
    import java.nio.file.{Path, Paths}
    val dir = Files.createTempDirectory("graft_bucket").toString
    val nb = 4
    // pick two keys that land in different hash buckets (probe the real fn)
    val probe = SnapshotStore.withBucket(
        (1L to 50L).toDF("k"), Seq("k"), nb)
      .as[(Long, Int)].collect().toMap
    val kA = probe.keys.head
    val kB = probe.keys.find(k => probe(k) != probe(kA)).get

    def listing(target: String, bucket: Int): Seq[(String, Long, Long)] = {
      val p = Paths.get(target, s"${SnapshotStore.BucketCol}=$bucket")
      import scala.jdk.CollectionConverters._
      Files.list(p).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => (f.toString, Files.getLastModifiedTime(f).toMillis, Files.size(f)))
        .sortBy(_._1)
    }

    // --- SCD1 target
    val t1 = s"$dir/scd1"
    def batch(rows: (Long, String, Timestamp)*) = rows.toDF("k", "v", "ts")
    StreamPipeline.upsertBatch(
      batch((kA, "a1", ts("2024-01-01 00:00:00")), (kB, "b1", ts("2024-01-01 00:00:00"))),
      t1, Seq("k"), Seq(col("ts").desc), nb)
    val before1 = listing(t1, probe(kB))
    StreamPipeline.upsertBatch(
      batch((kA, "a2", ts("2024-01-02 00:00:00"))), t1, Seq("k"), Seq(col("ts").desc), nb)
    assert(listing(t1, probe(kB)) == before1) // untouched bucket: identical files
    val out1 = spark.read.parquet(t1).select("k", "v")
      .as[(Long, String)].collect().toSet
    assert(out1 == Set((kA, "a2"), (kB, "b1")))
    // a caller passing a different numBuckets cannot corrupt the target:
    // the layout marker pins the bucket count at creation
    StreamPipeline.upsertBatch(
      batch((kB, "b2", ts("2024-01-03 00:00:00"))), t1, Seq("k"),
      Seq(col("ts").desc), numBuckets = 3)
    val out1b = spark.read.parquet(t1).select("k", "v")
      .as[(Long, String)].collect().toSet
    assert(out1b == Set((kA, "a2"), (kB, "b2"))) // no duplicate kB row

    // --- SCD2 target
    val t2 = s"$dir/scd2"
    def feed(rows: (Long, Long, Timestamp, String)*) = rows.toDF("k", "id", "ts", "v")
    StreamPipeline.scd2ApplyBatch(
      feed((kA, 1L, ts("2024-01-01 00:00:00"), "a1"), (kB, 2L, ts("2024-01-01 00:00:00"), "b1")),
      t2, Seq("k"), "ts", "id", nb)
    val before2 = listing(t2, probe(kB))
    StreamPipeline.scd2ApplyBatch(
      feed((kA, 3L, ts("2024-02-01 00:00:00"), "a2")), t2, Seq("k"), "ts", "id", nb)
    assert(listing(t2, probe(kB)) == before2) // untouched bucket: identical files
    val out2 = spark.read.parquet(t2)
      .select($"k", $"id", $"current_flag").as[(Long, Long, Boolean)].collect().toSet
    assert(out2 == Set((kA, 1L, false), (kA, 3L, true), (kB, 2L, true)))
  }

  test("upsertBatch after a batch that deleted every key merges into the emptied target") {
    val target = Files.createTempDirectory("graft_emptied").toString + "/t"
    def batch(rows: (Long, String, Long, Boolean)*) = rows.toDF("k", "v", "ts", "_del")
    def upsert(rows: (Long, String, Long, Boolean)*): Set[(Long, String)] = {
      StreamPipeline.upsertBatch(batch(rows: _*), target, Seq("k"), Seq(col("ts").desc),
        numBuckets = 4, deleteCol = Some("_del"))
      val buckets = new java.io.File(target).list().filter(_.startsWith(s"${SnapshotStore.BucketCol}="))
      if (buckets.isEmpty) Set.empty
      else spark.read.parquet(target).select("k", "v").as[(Long, String)].collect().toSet
    }
    // the first batch's only key resolves to a tombstone: no bucket dir
    assert(upsert((1L, "a", 1L, false), (1L, null, 2L, true)).isEmpty)
    assert(upsert((2L, "b", 1L, false)) == Set((2L, "b")))
    // every key deleted again, then a re-insert
    assert(upsert((2L, null, 2L, true)).isEmpty)
    assert(upsert((2L, "c", 3L, false), (3L, "d", 1L, false)) == Set((2L, "c"), (3L, "d")))
  }

  test("changeLogCdc emits I/U/D; deleted keys clear state so re-insert is a fresh I") {
    val in = MemoryStream[(Long, Option[String])]
    val q = StreamPipeline.changeLogCdc(in.toDS())
      .writeStream.format("memory").queryName("chg_cdc").outputMode("append").start()
    try {
      in.addData((1L, Some("x")), (2L, Some("y")))
      q.processAllAvailable()
      in.addData((1L, None), (2L, Some("y2")), (3L, None)) // 3: delete of unknown key
      q.processAllAvailable()
      in.addData((1L, Some("x3"))) // re-insert after delete
      q.processAllAvailable()
      val rows = spark.table("chg_cdc")
        .select("key", "action", "old_value", "new_value")
        .as[(Long, String, String, String)].collect().toSet
      assert(rows == Set(
        (1L, "I", null, "x"), (2L, "I", null, "y"),
        (1L, "D", "x", null), (2L, "U", "y", "y2"),
        (1L, "I", null, "x3"))) // fresh I, not U — state was cleared
    } finally q.stop()
  }

  test("stateful streams run on the RocksDB state store (off-heap state — the 100 TB option)") {
    // the provider is a per-query conf: state larger than executor
    // heap (billions of CDC keys) spills to local RocksDB instances
    // instead of OOMing the HDFSBackedStateStore's in-memory maps
    val in = MemoryStream[(Long, Option[String])]
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q2 = StreamPipeline.changeLogCdc(in.toDS())
      .writeStream.format("memory").queryName("chg_rocks2").outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_rocks_ckpt2").toString)
      .start()
    try {
      in.addData((1L, Some("x")), (2L, Some("y")))
      q2.processAllAvailable()
      in.addData((1L, None), (2L, Some("y2")))
      q2.processAllAvailable()
      val rows = spark.table("chg_rocks2")
        .select("key", "action", "new_value")
        .as[(Long, String, String)].collect().toSet
      assert(rows == Set((1L, "I", "x"), (2L, "I", "y"),
        (1L, "D", null), (2L, "U", "y2")))
    } finally {
      q2.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("changeLogCdcOrdered applies same-batch events for one key in sequence order") {
    val in = MemoryStream[(Long, Long, Option[String])]
    val q = StreamPipeline.changeLogCdcOrdered(in.toDS())
      .writeStream.format("memory").queryName("chg_seq").outputMode("append").start()
    try {
      // insert, update, AND delete of key 1 inside ONE micro-batch —
      // listed out of sequence order to prove the sort, not luck
      in.addData((1L, 30L, None), (1L, 10L, Some("x")), (1L, 20L, Some("x2")),
        (2L, 11L, Some("y")))
      q.processAllAvailable()
      in.addData((1L, 40L, Some("back")))
      q.processAllAvailable()
      // cross-batch stragglers at or below the high-water mark are
      // fenced: neither may regress state nor emit anything
      in.addData((1L, 25L, Some("stale")), (2L, 11L, Some("dup")))
      q.processAllAvailable()
      in.addData((1L, 50L, Some("fresh"))) // proves state is still "back"
      q.processAllAvailable()
      val rows = spark.table("chg_seq")
        .select("key", "action", "old_value", "new_value")
        .as[(Long, String, String, String)].collect().toSet
      assert(rows == Set(
        (1L, "I", null, "x"), (1L, "U", "x", "x2"), (1L, "D", "x2", null),
        (2L, "I", null, "y"),
        (1L, "I", null, "back"), // deleted in-batch, so re-insert is I
        (1L, "U", "back", "fresh"))) // "stale"/"dup" fenced, no emission
    } finally q.stop()
  }

  test("I/U/D delta through the sinks == snapshot-diff applied state; untouched buckets bit-identical") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft_del").toString
    val nb = 4
    val del = "_graft_deleted"
    // four keys across ≥2 distinct buckets; kDel/kIns chosen in a
    // DIFFERENT bucket than kStable so the delete batch provably
    // leaves kStable's bucket files untouched
    val probe = SnapshotStore.withBucket((1L to 50L).toDF("k"), Seq("k"), nb)
      .as[(Long, Int)].collect().toMap
    val kStable = probe.keys.head
    val other = probe.keys.filter(k => probe(k) != probe(kStable))
    val Seq(kUpd, kDel, kIns) = other.take(3).toSeq

    // old → new snapshot: kStable unchanged, kUpd updated, kDel deleted, kIns inserted
    val oldSnap = Seq((kStable, "s1"), (kUpd, "u1"), (kDel, "d1")).toDF("k", "v")
    val newSnap = Seq((kStable, "s1"), (kUpd, "u2"), (kIns, "i1")).toDF("k", "v")
    val diff = graft.operators.Cdc.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .select($"k", $"action", $"new_v").as[(Long, String, String)].collect().toSeq
    assert(diff.toSet == Set((kUpd, "U", "u2"), (kDel, "D", null), (kIns, "I", "i1")))

    // the diff becomes a tombstone-carrying delta batch
    val t1 = ts("2024-01-01 00:00:00"); val t2 = ts("2024-01-02 00:00:00")
    val delta = diff.map { case (k, a, nv) => (k, nv, t2, a == "D") }
      .toDF("k", "v", "ts", del)

    // --- SCD1 sink path
    val scd1 = s"$dir/scd1"
    StreamPipeline.upsertBatch(
      oldSnap.withColumn("ts", lit(t1)).withColumn(del, lit(false)),
      scd1, Seq("k"), Seq(col("ts").desc), nb, Some(del))
    def listing(target: String, bucket: Int) = {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(target, s"${SnapshotStore.BucketCol}=$bucket"))
        .iterator().asScala.toSeq.map(_.toString).sorted
        .map(f => (f, Files.getLastModifiedTime(Paths.get(f)).toMillis,
          Files.size(Paths.get(f))))
    }
    val before = listing(scd1, probe(kStable))
    StreamPipeline.upsertBatch(delta, scd1, Seq("k"), Seq(col("ts").desc), nb, Some(del))
    assert(listing(scd1, probe(kStable)) == before) // untouched bucket: identical files
    val scd1State = spark.read.parquet(scd1).select("k", "v").as[(Long, String)].collect().toSet
    assert(scd1State == newSnap.as[(Long, String)].collect().toSet) // == diff-applied snapshot

    // --- SCD2 sink path: same delta; live view == new snapshot, and
    // the deleted key's history closes AT THE DELETE TS durably
    val scd2 = s"$dir/scd2"
    def feed(df: org.apache.spark.sql.DataFrame) = df
    StreamPipeline.scd2ApplyBatch(
      feed(oldSnap.withColumn("ts", lit(t1)).withColumn(del, lit(false))),
      scd2, Seq("k"), "ts", "v", nb, Some(del))
    StreamPipeline.scd2ApplyBatch(feed(delta), scd2, Seq("k"), "ts", "v", nb, Some(del))
    val hist = spark.read.parquet(scd2)
    val live = graft.operators.Scd2.currentRows(hist, Some(del))
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(live == newSnap.as[(Long, String)].collect().toSet)
    // kDel's data version is closed at the delete ts; tombstone row flagged
    val delRows = hist.where(col("k") === kDel)
      .select($"v", $"eff_end_ts", col(del)).collect()
    assert(delRows.exists(r => r.getString(0) == "d1" && r.getTimestamp(1) == t2 && !r.getBoolean(2)))
    assert(delRows.exists(_.getBoolean(2))) // the tombstone version row

    // re-insert kDel later: the deletion gap survives re-derivation
    val t3 = ts("2024-03-01 00:00:00")
    StreamPipeline.scd2ApplyBatch(
      feed(Seq((kDel, "d2", t3, false)).toDF("k", "v", "ts", del)),
      scd2, Seq("k"), "ts", "v", nb, Some(del))
    val after = spark.read.parquet(scd2).where(col("k") === kDel)
    val d1End = after.where($"v" === "d1").select($"eff_end_ts").head.getTimestamp(0)
    assert(d1End == t2) // still closed at the DELETE ts, not the re-insert ts
    val liveAfter = graft.operators.Scd2.currentRows(after, Some(del))
      .select("v").as[String].collect().toSeq
    assert(liveAfter == Seq("d2"))
  }

  test("sessionizedCounts: streaming session windows == batch session_window on the same events") {
    val events = Seq(
      (7L, ts("2024-01-01 10:00:00")), // u7 session 1: 3 events
      (7L, ts("2024-01-01 10:10:00")),
      (7L, ts("2024-01-01 10:25:00")),
      (7L, ts("2024-01-01 11:30:00")), // u7 session 2 (65-min gap)
      (9L, ts("2024-01-01 10:05:00"))) // u9 session 1
    val in = MemoryStream[(Long, Timestamp)]
    val q = StreamPipeline.sessionizedCounts(
        in.toDF().toDF("user_id", "ts"), "ts", "user_id",
        watermark = "10 minutes", gap = "30 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      in.addData(events.take(3): _*)
      q.processAllAvailable()
      in.addData(events.drop(3): _*)
      q.processAllAvailable()
      // advance the watermark far past every session end so ALL
      // sessions close and emit
      in.addData((99L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("sessions")
        .where($"user_id" =!= 99L)
        .select($"user_id", $"session_start".cast("string"),
          $"session_end".cast("string"), $"n_events")
        .as[(Long, String, String, Long)].collect().toSet
      // batch twin: the exact q28 shape over the same rows
      val batch = events.toDF("user_id", "ts")
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", date_trunc("second", $"sw.start").cast("string"),
          date_trunc("second", $"sw.end").cast("string"), $"n_events")
        .as[(Long, String, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed.size == 3) // u7 × 2 sessions + u9 × 1
      assert(streamed((7L, "2024-01-01 10:00:00", "2024-01-01 10:55:00", 3L)))
    } finally q.stop()
  }

  test("additive schema evolution: new columns flow mid-stream, old history null-fills, drops still fail") {
    import graft.operators.Scd1
    import graft.store.SnapshotStore
    // --- operator level: delta-only column = evolution; base-only = breakage
    val base = Seq((1L, "a", 1L)).toDF("k", "v", "ts")
    val delta = Seq((2L, "b", 2L, "x")).toDF("k", "v", "ts", "extra")
    val merged = Scd1.merge(base, delta, Seq("k"), Seq(col("ts").desc))
      .select("k", "v", "extra").as[(Long, String, Option[String])].collect().toSet
    assert(merged == Set((1L, "a", None), (2L, "b", Some("x"))))
    intercept[IllegalArgumentException] { // upstream DROPPED a data column
      Scd1.merge(delta.drop("extra").withColumn("extra", lit("e")), base,
        Seq("k"), Seq(col("ts").desc)).collect()
    }

    // --- sink level: evolve an entity MID-STREAM through both targets
    val dir = Files.createTempDirectory("graft_evolve").toString
    val nb = 4
    val probe = SnapshotStore.withBucket((1L to 50L).toDF("k"), Seq("k"), nb)
      .as[(Long, Int)].collect().toMap
    val kOld = probe.keys.head
    val kNew = probe.keys.find(k => probe(k) != probe(kOld)).get

    val scd1 = s"$dir/scd1"
    StreamPipeline.upsertBatch(
      Seq((kOld, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "ts"),
      scd1, Seq("k"), Seq(col("ts").desc), nb)
    def stableFiles() = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(scd1, s"${SnapshotStore.BucketCol}=${probe(kOld)}"))
        .iterator().asScala.map(p => (p.toString, Files.getLastModifiedTime(p).toMillis)).toSeq.sorted
    }
    val before = stableFiles()
    StreamPipeline.upsertBatch( // evolved batch: +loyalty column
      Seq((kNew, "b", ts("2024-01-02 00:00:00"), "gold")).toDF("k", "v", "ts", "loyalty"),
      scd1, Seq("k"), Seq(col("ts").desc), nb)
    assert(stableFiles() == before) // evolution rewrites only touched buckets
    val scd1Rows = spark.read.option("mergeSchema", "true").parquet(scd1)
      .select("k", "v", "loyalty").as[(Long, String, Option[String])].collect().toSet
    assert(scd1Rows == Set((kOld, "a", None), (kNew, "b", Some("gold"))))

    val scd2 = s"$dir/scd2"
    StreamPipeline.scd2ApplyBatch(
      Seq((kOld, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "ts"),
      scd2, Seq("k"), "ts", "v", nb)
    StreamPipeline.scd2ApplyBatch( // evolved batch touches the SAME key
      Seq((kOld, "a2", ts("2024-02-01 00:00:00"), "gold")).toDF("k", "v", "ts", "loyalty"),
      scd2, Seq("k"), "ts", "v", nb)
    val hist = spark.read.option("mergeSchema", "true").parquet(scd2)
      .select($"v", $"loyalty", $"current_flag")
      .as[(String, Option[String], Boolean)].collect().toSet
    // history preserved: the pre-evolution version survives with null loyalty
    assert(hist == Set(("a", None, false), ("a2", Some("gold"), true)))

    // --- SnapshotStore: evolved commit; snapshot spans old+new version dirs
    val snap = s"$dir/snap"
    SnapshotStore.init(spark, snap,
      Seq((kOld, "a", 1L)).toDF("k", "v", "ts"), Seq("k"), numBuckets = 4)
    SnapshotStore.commitDelta(spark, snap,
      Seq((kNew, "b", 2L, "gold")).toDF("k", "v", "ts", "loyalty"), Seq("k"),
      (cur, d) => Scd1.merge(cur, d, Seq("k"), Seq(col("ts").desc)))
    val snapRows = SnapshotStore.read(spark, snap)
      .select("k", "v", "loyalty").as[(Long, String, Option[String])].collect().toSet
    assert(snapRows == Set((kOld, "a", None), (kNew, "b", Some("gold"))))
  }

  test("auditedCsvStream attaches audit columns to staged files") {
    val dir = Files.createTempDirectory("graft_stage").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/part1.csv"), "id,name\n1,alpha\n2,beta\n")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, name STRING")
    val q = StreamPipeline.auditedCsvStream(spark, dir, schema)
      .writeStream.format("memory").queryName("staged").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("staged")
        .select($"id", $"name", $"_stg_file_name".contains("part1.csv"),
          $"_copy_data_ts".isNotNull)
        .as[(Int, String, Boolean, Boolean)].collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1, "alpha", true, true), (2, "beta", true, true)))
    } finally q.stop()
  }

  test("streamingHeavyHitters folds MG state across batches (bounded state, exact below k)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val q = StreamPipeline.streamingHeavyHitters(in.toDS(), k = 16, topN = 3)
      .toDF("grp", "item", "est")
      .writeStream.format("memory").queryName("hh").outputMode("update").start()
    try {
      in.addData(("g", "a"), ("g", "a"), ("g", "a"), ("g", "b"))
      q.processAllAvailable()
      in.addData(("g", "a"), ("g", "a"), ("g", "c"), ("g", "b"))
      q.processAllAvailable()
      val all = spark.table("hh").as[(String, String, Long)].collect().toSeq
      // after batch 1 the top item was (a,3); after batch 2 the folded
      // state must show the CUMULATIVE counts (below k → exact)
      assert(all.contains(("g", "a", 3L)))
      assert(all.contains(("g", "a", 5L)))
      assert(all.contains(("g", "b", 2L)))
      assert(all.contains(("g", "c", 1L)))
    } finally q.stop()
  }

  test("changeLogCdcOrderedTtl evicts idle keys: state tracks the active set") {
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val in = MemoryStream[(Long, Long, Option[String], Timestamp)]
    // 0-second watermark delay + 60 s TTL: eviction is driven purely by
    // event time, so the test is deterministic — no sleeps
    val q = StreamPipeline.changeLogCdcOrderedTtl(in.toDS(), "0 seconds", ttlMillis = 60000L)
      .writeStream.format("memory").queryName("chg_ttl").outputMode("append").start()
    try {
      in.addData((1L, 10L, Some("a"), ts(0)))
      q.processAllAvailable()
      // an unrelated key 5 minutes later pushes the watermark past key
      // 1's (last event + TTL) = 10:01 — key 1's state is evicted
      in.addData((2L, 1L, Some("x"), ts(5)))
      q.processAllAvailable()
      // key 1's (mark=10, value=a) state is gone: a straggler BELOW the
      // old high-water mark is no longer fenced and re-emits as a fresh
      // insert — the documented trade (TTL must exceed the transport's
      // reordering horizon)
      in.addData((1L, 5L, Some("old"), ts(6)))
      q.processAllAvailable()
      val rows = spark.table("chg_ttl")
        .select("key", "action", "old_value", "new_value")
        .as[(Long, String, String, String)].collect().toSet
      assert(rows == Set(
        (1L, "I", null, "a"),
        (2L, "I", null, "x"),
        (1L, "I", null, "old")))
    } finally q.stop()
  }

  test("changeLogCdcOrderedTtl keeps fencing inside the TTL window") {
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val in = MemoryStream[(Long, Long, Option[String], Timestamp)]
    // TTL of one hour: the same straggler arrives well inside it and
    // must stay fenced (state not yet evicted)
    val q = StreamPipeline.changeLogCdcOrderedTtl(in.toDS(), "0 seconds", ttlMillis = 3600000L)
      .writeStream.format("memory").queryName("chg_ttl2").outputMode("append").start()
    try {
      in.addData((1L, 10L, Some("a"), ts(0)))
      q.processAllAvailable()
      in.addData((2L, 1L, Some("x"), ts(5)))
      q.processAllAvailable()
      in.addData((1L, 5L, Some("old"), ts(6)))
      q.processAllAvailable()
      val rows = spark.table("chg_ttl2")
        .select("key", "action").as[(Long, String)].collect().toSeq
      assert(rows.count(_ == (1L, "I")) == 1) // the straggler stayed fenced
    } finally q.stop()
  }

  test("passageDedupStream == batch d08 first-occurrence semantics across micro-batches") {
    val in = MemoryStream[(Long, String)]
    val q = StreamPipeline.passageDedupStream(
        in.toDF().toDF("doc_id", "text"), "text", "doc_id", chunkLen = 2)
      .writeStream.format("memory").queryName("pdedup").outputMode("append").start()
    try {
      // chunkLen=2: doc 1 -> ["a b", "c d"]; doc 2 repeats "a b" and
      // adds "e f"
      in.addData((1L, "a b c d"), (2L, "a b e f"))
      q.processAllAvailable()
      // a later batch re-delivers a seen passage ("c d") and brings a
      // new one ("g h")
      in.addData((3L, "c d g h"))
      q.processAllAvailable()
      val got = spark.table("pdedup")
        .as[StreamPipeline.Passage].collect()
        .map(p => (p.doc_id, p.chunk_idx, p.chunk)).toSet
      // batch-d08 semantics on the same corpus: first occurrence =
      // lowest (doc_id, chunk_idx); doc 2's "a b" and doc 3's "c d" drop
      assert(got == Set(
        (1L, 0L, "a b"), (1L, 1L, "c d"),
        (2L, 1L, "e f"),
        (3L, 1L, "g h")))

      // redelivery idempotence: replaying batch 2 emits nothing new
      in.addData((3L, "c d g h"))
      q.processAllAvailable()
      assert(spark.table("pdedup").count() == 4)
    } finally q.stop()
  }

  test("contaminationGuard flags streamed docs overlapping the benchmark set; no stream state") {
    val bench = Seq("alpha beta gamma delta").toDF("text") // one 4-token passage (chunkLen=4)
    val in = MemoryStream[(Long, String)]
    // APPEND mode runs — proof the guard is stateless (a streaming
    // aggregation would refuse to start without a watermark)
    val q = StreamPipeline.contaminationGuard(
        in.toDF().toDF("doc_id", "text"), bench, "text", "doc_id", "text", chunkLen = 4)
      .writeStream.format("memory").queryName("contam").outputMode("append").start()
    try {
      in.addData(
        (1L, "alpha beta gamma delta unrelated tail words here"), // hit in passage 0
        (2L, "totally clean document with no overlap at all"))
      q.processAllAvailable()
      in.addData((3L, "alpha beta gamma delta")) // later batch still checked
      q.processAllAvailable()
      val got = StreamPipeline.contaminationSummary(spark.table("contam"))
        .select("doc_id", "n_passages", "n_benchmark_hits")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 2L, 1L), (2L, 2L, 0L), (3L, 1L, 1L)))
    } finally q.stop()
  }
}
