package graft.connector

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkSpec
import graft.store.SnapshotStore

/** Pruning observability: the graft scan reports its planning facts
  * (buckets read/pruned, files, planned bytes, tombstone debt, deleted
  * keys loaded) as DSv2 driver metrics, so "did the filter prune?" is
  * readable off the executed plan / Spark UI instead of re-derived by
  * explaining the query. The merge-on-read cases pin what a scan of a
  * table with unfolded delete sidecars pays: the sidecars of its own
  * buckets only, read with no Spark job.
  */
class ScanMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        planNodes(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(planNodes)
  }

  private def scanMetric(plan: SparkPlan, name: String): Long =
    planNodes(plan).filter(_.getClass.getSimpleName == "BatchScanExec")
      .flatMap(_.metrics.get(name).map(_.value)).head

  test("a runtime-pruned scan reports buckets read vs pruned as driver metrics") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = Files.createTempDirectory("graft-sm").toString + "/t"
      (1L to 2000L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.format("graft").option("keys", "k").option("numBuckets", "8")
        .save(root)
      val fact = spark.read.format("graft").load(root)
      val dim = spark.range(1L, 501L).toDF("dk").where(col("dk") % 100 === 0)
      val joined = fact.join(broadcast(dim), fact("k") === dim("dk"))
      assert(joined.collect().length == 5)
      val plan = joined.queryExecution.executedPlan
      val read = scanMetric(plan, "graftBucketsRead")
      val pruned = scanMetric(plan, "graftBucketsPruned")
      assert(read + pruned == 8, s"read=$read pruned=$pruned")
      assert(pruned > 0, "runtime filter should have pruned buckets")
      assert(scanMetric(plan, "graftFilesRead") >= read)
      assert(scanMetric(plan, "graftPlannedBytes") > 0)
      assert(scanMetric(plan, "graftTombstoneBuckets") == 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("tombstone debt surfaces on the scan metrics") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = Files.createTempDirectory("graft-smt").toString + "/t"
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.format("graft").option("keys", "k").option("numBuckets", "4")
        .save(root)
      graft.store.SnapshotStore.commitDeletes(spark, root,
        Seq(5L, 6L).toDF("k"), Seq("k"))
      val df = spark.read.format("graft").load(root)
      assert(df.collect().length == 98)
      assert(scanMetric(df.queryExecution.executedPlan,
        "graftTombstoneBuckets") > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  private def withoutAqe[A](body: => A): A = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  private def bucketOf(k: Long): Int = SnapshotStore.bucketOf(Seq(Literal(k)), 4)

  /** A 4-bucket path table whose buckets hold disjoint key ranges
    * (bucket b: keys in [1000b, 1000b + 1000) that hash to b) with
    * stats on `k`, so `k = x` prunes statically to x's bucket, and a
    * DELETE that left sidecars in every bucket. Returns the root, the
    * keys written and the deleted keys.
    */
  private def tombstonedEveryBucket(): (String, Seq[Long], Seq[Long]) = {
    val root = Files.createTempDirectory("graft-smk").toString + "/t"
    val keys = (0 until 4).flatMap(b =>
      (1000L * b until 1000L * b + 1000L).filter(bucketOf(_) == b).take(40))
    keys.map(k => (k, s"v$k")).toDF("k", "v")
      .write.format("graft").option("keys", "k").option("numBuckets", "4")
      .option("statsCols", "k").save(root)
    val deleted = keys.filter(_ % 3 == 0)
    SnapshotStore.commitDeletes(spark, root, deleted.toDF("k"), Seq("k"))
    val m = SnapshotStore.readManifest(spark, root, 1L)
    assert(m.buckets.size == 4 && m.buckets.values.forall(_.tombstones.nonEmpty),
      "every bucket must carry a delete sidecar")
    (root, keys, deleted)
  }

  test("a point lookup loads only its own bucket's deleted keys and starts no Spark job of its own") {
    withoutAqe {
      val (root, keys, deleted) = tombstonedEveryBucket()
      val live = keys.filter(k => bucketOf(k) == 2 && !deleted.contains(k)).head
      val gone = deleted.filter(bucketOf(_) == 2).head
      def lookup(k: Long, opts: Map[String, String] = Map.empty) =
        spark.read.format("graft").options(opts).load(root).where(col("k") === k)
      // the same lookup at the version before the DELETE has no sidecars
      // to read: its jobs are the query's own
      val before = lookup(live, Map("versionAsOf" -> "0"))
      val after = lookup(live)
      val ownJobs = jobsRun(assert(before.collect().length == 1))
      val jobs = jobsRun(assert(after.collect().map(_.getLong(0)).toSeq == Seq(live)))
      assert(jobs == ownJobs, s"$jobs jobs with sidecars vs $ownJobs without")
      val plan = after.queryExecution.executedPlan
      assert(scanMetric(plan, "graftBucketsRead") == 1)
      assert(scanMetric(plan, "graftTombstoneBuckets") == 4)
      assert(scanMetric(plan, "graftTombstoneKeys") == deleted.count(bucketOf(_) == 2))
      assert(lookup(gone).collect().isEmpty, "a deleted key must stay deleted")
    }
  }

  test("a full scan loads every bucket's deleted keys; rows equal the library read and time travel") {
    withoutAqe {
      val (root, keys, deleted) = tombstonedEveryBucket()
      val df = spark.read.format("graft").load(root)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == (keys.toSet -- deleted).map(k => (k, s"v$k")))
      assert(got == SnapshotStore.read(spark, root).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet)
      assert(scanMetric(df.queryExecution.executedPlan, "graftTombstoneKeys") == deleted.size)
      assert(spark.read.format("graft").option("versionAsOf", "0").load(root)
        .collect().length == keys.size)
    }
  }

  test("composite keys with null components are subtracted null-safely") {
    withoutAqe {
      val root = Files.createTempDirectory("graft-smc").toString + "/t"
      val schema = new StructType().add("a", LongType).add("b", StringType).add("v", StringType)
      val all = (1L to 60L).map(a => Row(a, if (a % 4 == 0) null else s"b${a % 3}", s"v$a"))
      spark.createDataFrame(spark.sparkContext.parallelize(all, 2), schema)
        .write.format("graft").option("keys", "a,b").option("numBuckets", "4").save(root)
      val gone = all.filter(r => r.getLong(0) % 5 == 0 || r.getLong(0) % 8 == 0)
      assert(gone.exists(_.isNullAt(1)) && gone.exists(!_.isNullAt(1)))
      SnapshotStore.commitDeletes(spark, root, spark.createDataFrame(
        spark.sparkContext.parallelize(gone.map(r => Row(r.get(0), r.get(1))), 1),
        new StructType().add("a", LongType).add("b", StringType)), Seq("a", "b"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq).toSet
      val df = spark.read.format("graft").load(root).select("a", "b", "v")
      val got = rows(df)
      assert(got == (all.toSet -- gone).map(_.toSeq))
      assert(got == rows(SnapshotStore.read(spark, root).select("a", "b", "v")))
      assert(scanMetric(df.queryExecution.executedPlan, "graftTombstoneKeys") == gone.size)
      assert(rows(spark.read.format("graft").option("versionAsOf", "0").load(root)
        .select("a", "b", "v")) ==
        all.map(_.toSeq).toSet)
    }
  }

  test("a sidecar longer than one reader batch loads every deleted string key") {
    withoutAqe {
      // one bucket, 18,000 deleted keys over 4 shuffle partitions: each
      // sidecar file spans two of the vectorized reader's 4,096-row
      // batches, whose string bytes the reader overwrites in place
      val root = Files.createTempDirectory("graft-smb").toString + "/t"
      val keys = (0 until 20000).map(i => f"key-$i%05d")
      keys.map(k => (k, k.length)).toDF("k", "v")
        .write.format("graft").option("keys", "k").option("numBuckets", "1").save(root)
      val deleted = keys.filterNot(_.endsWith("0"))
      SnapshotStore.commitDeletes(spark, root, deleted.toDF("k"), Seq("k"))
      val df = spark.read.format("graft").load(root).select("k")
      assert(df.collect().map(_.getString(0)).toSet == (keys.toSet -- deleted))
      assert(scanMetric(df.queryExecution.executedPlan, "graftTombstoneKeys") == deleted.size)
    }
  }

  test("a CoW UPDATE and a delta MERGE after a tombstone DELETE stay correct") {
    val warehouse = Files.createTempDirectory("graft-smdml").toString
    spark.conf.set("spark.sql.catalog.smd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.smd.root", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS smd.ns")
    (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").createOrReplaceTempView("smd_src")
    Seq("cow" -> "", "delta" -> ", 'dml.mode'='delta'").foreach { case (t, prop) =>
      spark.sql(s"""CREATE TABLE smd.ns.$t USING graft
                    |TBLPROPERTIES ('keys'='k', 'numBuckets'='4', 'statsCols'='k'$prop)
                    |AS SELECT * FROM smd_src""".stripMargin)
      val root = s"$warehouse/ns/$t"
      val created = SnapshotStore.latestVersion(spark, root).get
      val deleted = (1L to 40L).groupBy(bucketOf).values.flatMap(_.take(2)).toSeq
      spark.sql(s"DELETE FROM smd.ns.$t WHERE k IN (${deleted.mkString(", ")})")
      val m = SnapshotStore.readManifest(spark, root, SnapshotStore.latestVersion(spark, root).get)
      assert(m.version == created + 1 && m.buckets.values.forall(_.tombstones.nonEmpty),
        s"$t: the DELETE must leave sidecars in every bucket")
      val afterDelete = (1L to 40L).filterNot(deleted.contains).map(k => k -> s"v$k").toMap
      val expected =
        if (t == "cow") {
          spark.sql(s"UPDATE smd.ns.$t SET v = 'u' WHERE k <= 20")
          afterDelete.map { case (k, v) => k -> (if (k <= 20) "u" else v) }
        } else {
          Seq((1L, "m1"), (2L, "m2"), (41L, "m41")).toDF("k", "v")
            .createOrReplaceTempView("smd_changes")
          spark.sql(s"""MERGE INTO smd.ns.$t t USING smd_changes s ON t.k = s.k
                        |WHEN MATCHED THEN UPDATE SET v = s.v
                        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          afterDelete ++ Map(1L -> "m1", 2L -> "m2", 41L -> "m41")
        }
      def state(sql: String): Map[Long, String] =
        spark.sql(sql).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state(s"SELECT k, v FROM smd.ns.$t") == expected, t)
      assert(state(s"SELECT k, v FROM smd.ns.$t VERSION AS OF $created") ==
        (1L to 40L).map(k => k -> s"v$k").toMap, t)
    }
  }
}
