package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.pipeline.Expectations.{Expectation, Quarantine}
import graft.streaming.StreamPipeline

/** The warehouse's fast paths against their slow paths, and the job
  * shape they buy: layers read back by footer schema equal a plain
  * `spark.read.parquet`; one touched-bucket probe per micro-batch feeds
  * both sinks, re-probing only for a target in another bucket layout;
  * a micro-batch whose every row is quarantined writes only the
  * quarantine layer.
  */
class WarehouseFastPathSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }

  private val locCols = Seq("loc_id", "city", "tier", "updated_at", "rec_id")
  private val locCasts = Seq("loc_id" -> "bigint", "tier" -> "int",
    "updated_at" -> "timestamp", "rec_id" -> "bigint")

  private def location(root: String, scd2: Boolean = true) =
    Warehouse.Entity("location", "csv", s"$root/stage/location",
      locCols, locCasts, Seq("loc_id"), "updated_at", "rec_id", scd2 = scd2)

  private def locationCsv(rows: Seq[(Long, Int, String, Long)]): String =
    rows.map { case (k, tier, ts, rec) => s"$k,city$k,$tier,$ts,$rec" }
      .mkString("loc_id,city,tier,updated_at,rec_id\n", "\n", "\n")

  private val qtyPositive = Expectation("qty_pos", col("qty") > 0, Quarantine)

  private def item(root: String) =
    Warehouse.Entity("item", "csv", s"$root/stage/item",
      Seq("item_id", "loc_id", "qty", "updated_at", "rec_id"),
      Seq("item_id" -> "bigint", "loc_id" -> "bigint", "qty" -> "int",
        "updated_at" -> "timestamp", "rec_id" -> "bigint"),
      Seq("item_id"), "updated_at", "rec_id", scd2 = true,
      expectations = Seq(qtyPositive))

  private def itemCsv(rows: Seq[(Long, Int, Long)]): String =
    rows.map { case (k, qty, rec) => s"$k,1,$qty,2024-01-01 00:00:00,$rec" }
      .mkString("item_id,loc_id,qty,updated_at,rec_id\n", "\n", "\n")

  private def tick(cfg: Warehouse.Config, root: String, numBuckets: Int,
                   onExpectations: (String, Map[String, Long]) => Unit = (_, _) => ()): Unit =
    Warehouse.runIncremental(spark, cfg, s"$root/wh", s"$root/ckpt", numBuckets,
      onExpectations).foreach { q =>
      try q.awaitTermination() finally q.stop()
    }

  /** Bucket dir → its parquet file names, for every bucket of `target`. */
  private def layout(target: String): Map[String, Set[String]] =
    if (!Files.isDirectory(Paths.get(target))) Map.empty
    else Files.list(Paths.get(target)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith(s"${StreamPipeline.BucketCol}="))
      .map(b => b.getFileName.toString -> Files.list(b).iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet)
      .toMap

  private def changed(before: Map[String, Set[String]],
                      after: Map[String, Set[String]]): Set[String] =
    after.keySet.filter(b => !before.get(b).contains(after(b))) ++
      before.keySet.filterNot(after.contains)

  private def bucketOf(keys: Seq[Long], n: Int): Map[Long, Int] =
    StreamPipeline.withBucket(keys.toDF("k"), Seq("k"), n)
      .as[(Long, Int)].collect().toMap

  test("every layer runBatch and runFacts return matches spark.read.parquet in rows and schema") {
    val root = Files.createTempDirectory("graft_parity").toString
    write(s"$root/stage/location/a.csv", locationCsv(Seq(
      (1L, 2, "2024-01-01 00:00:00", 101L), (1L, 1, "2024-02-01 00:00:00", 102L),
      (2L, 1, "2024-01-01 00:00:00", 103L))))
    write(s"$root/stage/item/a.csv", itemCsv(Seq((10L, 3, 201L), (11L, 0, 202L), (12L, 5, 203L))))
    write(s"$root/stage/agent/a.json",
      """{"agent_id": "5", "agent_name": "Arjun", "updated_at": "2024-01-01 00:00:00", "rec_id": "301"}
        |""".stripMargin)
    val cfg = Warehouse.Config(
      entities = Seq(location(root), item(root),
        Warehouse.Entity("agent", "json", s"$root/stage/agent",
          Seq("agent_id", "agent_name", "updated_at", "rec_id"),
          Seq("agent_id" -> "bigint", "updated_at" -> "timestamp", "rec_id" -> "bigint"),
          Seq("agent_id"), "updated_at", "rec_id")),
      facts = Seq(Warehouse.Fact("qty_by_city", Seq("clean/item", "clean/location"),
        m => m("clean/item").join(m("clean/location"), "loc_id")
          .groupBy("city").agg(sum("qty").as("qty"), count(lit(1)).as("n")))))

    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def assertParity(out: Map[String, DataFrame]): Unit = out.foreach { case (k, df) =>
      val slow = spark.read.parquet(s"$root/wh/$k").drop(StreamPipeline.BucketCol)
      assert(df.schema == slow.schema, s"$k schema")
      assert(df.schema.map(_.nullable) == slow.schema.map(_.nullable), s"$k nullability")
      assert(rows(df) == rows(slow), s"$k rows")
    }
    val batch = Warehouse.runBatch(spark, cfg, s"$root/wh", numBuckets = 4)
    assert(batch.keySet == Set("clean/location", "dim/location", "clean/item", "dim/item",
      "quarantine/item", "clean/agent", "fact/qty_by_city"))
    assert(batch("quarantine/item").count() == 1)
    assertParity(batch)
    val facts = Warehouse.runFacts(spark, cfg, s"$root/wh")
    assert(facts.keySet == batch.keySet - "quarantine/item")
    assertParity(facts)
  }

  test("a dim in another bucket layout than its clean target is probed and rewritten in its own") {
    val root = Files.createTempDirectory("graft_layout").toString
    val keys = 1L to 12L
    // clean target created at 4 buckets (no dim yet) ...
    write(s"$root/stage/location/a.csv", locationCsv(
      keys.map(k => (k, 1, "2024-01-01 00:00:00", 100 + k))))
    tick(Warehouse.Config(Seq(location(root, scd2 = false))), root, numBuckets = 4)
    // ... the dim created at 8 by a later tick; the clean keeps its 4
    write(s"$root/stage/location/b.csv", locationCsv(
      keys.map(k => (k, 2, "2024-02-01 00:00:00", 200 + k))))
    val cfg = Warehouse.Config(Seq(location(root)))
    tick(cfg, root, numBuckets = 8)
    val (clean, dim) = (s"$root/wh/clean/location", s"$root/wh/dim/location")
    def marker(t: String) = Files.readString(Paths.get(t, "_graft_buckets")).trim.toInt
    assert(marker(clean) == 4 && marker(dim) == 8)

    // two keys whose bucket under 8 is not their bucket under 4
    val b4 = bucketOf(keys, 4)
    val b8 = bucketOf(keys, 8)
    val moved = keys.filter(k => b8(k) >= 4).take(2)
    assert(moved.size == 2)
    write(s"$root/stage/location/c.csv", locationCsv(
      moved.map(k => (k, 3, "2024-03-01 00:00:00", 300 + k))))
    val (cleanBefore, dimBefore) = (layout(clean), layout(dim))
    tick(cfg, root, numBuckets = 16)

    def dirs(bs: Seq[Int]) = bs.map(b => s"${StreamPipeline.BucketCol}=$b").toSet
    assert(changed(dimBefore, layout(dim)) == dirs(moved.map(b8)))
    assert(changed(cleanBefore, layout(clean)) == dirs(moved.map(b4)))
    val d = spark.read.parquet(dim)
    assert(d.groupBy("loc_id", "rec_id").count().where($"count" > 1).isEmpty)
    // every dim row still sits in its key's bucket under 8
    assert(d.select($"loc_id", $"${StreamPipeline.BucketCol}").as[(Long, Int)].collect()
      .forall { case (k, b) => b8(k) == b })
    assert(d.where($"current_flag").select("loc_id", "rec_id").as[(Long, Long)].collect().toMap ==
      keys.map(k => k -> (if (moved.contains(k)) 300 + k else 200 + k)).toMap)
    assert(spark.read.parquet(clean).select("loc_id", "tier").as[(Long, Int)].collect().toMap ==
      keys.map(k => k -> (if (moved.contains(k)) 3 else 2)).toMap)
  }

  test("a micro-batch of only quarantined rows appends them and leaves clean and dim untouched") {
    val root = Files.createTempDirectory("graft_allq").toString
    val cfg = Warehouse.Config(Seq(item(root)))
    val reported = mutable.Buffer.empty[Map[String, Long]]
    val collect = (_: String, m: Map[String, Long]) => { reported += m; () }
    val (clean, dim, quarantine) =
      (s"$root/wh/clean/item", s"$root/wh/dim/item", s"$root/wh/quarantine/item")

    // no target yet: none is created empty
    write(s"$root/stage/item/a.csv", itemCsv(Seq((1L, 0, 1L), (2L, -1, 2L), (3L, 0, 3L))))
    tick(cfg, root, numBuckets = 4, collect)
    assert(!Files.exists(Paths.get(clean)) && !Files.exists(Paths.get(dim)))
    assert(spark.read.parquet(quarantine).count() == 3)
    assert(reported.toSeq == Seq(Map("qty_pos" -> 3L)))

    write(s"$root/stage/item/b.csv", itemCsv(Seq((4L, 2, 4L), (5L, 7, 5L))))
    tick(cfg, root, numBuckets = 4, collect)
    val (cleanBefore, dimBefore) = (layout(clean), layout(dim))
    assert(cleanBefore.nonEmpty && dimBefore.nonEmpty)

    // targets exist: no bucket is rewritten
    write(s"$root/stage/item/c.csv", itemCsv(Seq((4L, 0, 6L), (6L, -2, 7L))))
    tick(cfg, root, numBuckets = 4, collect)
    assert(layout(clean) == cleanBefore && layout(dim) == dimBefore)
    assert(spark.read.parquet(quarantine).count() == 5)
    assert(reported.toSeq == Seq(Map("qty_pos" -> 3L), Map("qty_pos" -> 0L), Map("qty_pos" -> 2L)))
    assert(spark.read.parquet(clean).select("item_id", "qty").as[(Long, Int)].collect().toMap ==
      Map(4L -> 2, 5L -> 7))
  }

  test("runIncremental counts every violating row of a micro-batch, not only the rows a probe read") {
    val root = Files.createTempDirectory("graft_counts").toString
    val reported = mutable.Buffer.empty[Map[String, Long]]
    // a valid row first: a first action that stops at one kept row
    // would see none of the violators after it
    write(s"$root/stage/item/a.csv", itemCsv(
      (1L, 4, 1L) +: (2L to 6L).map(k => (k, 0, k))))
    tick(Warehouse.Config(Seq(item(root))), root, numBuckets = 4,
      (_, m) => { reported += m; () })
    assert(reported.toSeq == Seq(Map("qty_pos" -> 5L)))
    assert(spark.read.parquet(s"$root/wh/clean/item").count() == 1)
  }

  private def jobsRoot(entities: Seq[String]): String = {
    val root = Files.createTempDirectory("graft_jobs").toString
    entities.foreach(n => write(s"$root/stage/$n/a.csv",
      "id,qty,updated_at,rec_id\n1,5,2024-01-01 00:00:00,1\n2,3,2024-01-01 00:00:00,2\n"))
    root
  }

  private def qtyEntity(root: String, n: String) = Warehouse.Entity(n, "csv", s"$root/stage/$n",
    Seq("id", "qty", "updated_at", "rec_id"),
    Seq("id" -> "bigint", "qty" -> "bigint", "updated_at" -> "timestamp", "rec_id" -> "bigint"),
    Seq("id"), "updated_at", "rec_id", scd2 = n == "e1")

  test("job shape: runFacts launches as many jobs for 2 entities as for 6") {
    val names = (1 to 6).map(i => s"e$i")
    val root = jobsRoot(names)
    val fact = Warehouse.Fact("qty", Seq("clean/e1"), m => m("clean/e1").agg(sum("qty").as("qty")))
    def cfg(n: Int) = Warehouse.Config(names.take(n).map(qtyEntity(root, _)), Seq(fact))
    Warehouse.runBatch(spark, cfg(6), s"$root/wh", numBuckets = 4)

    val sc = spark.sparkContext
    def jobsOf(group: String)(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            jobs.incrementAndGet()
      }
      sc.addSparkListener(l)
      sc.setJobGroup(group, group)
      try body
      finally {
        sc.clearJobGroup()
        ListenerBusDrain(sc)
        sc.removeSparkListener(l)
      }
      jobs.get
    }
    val two = jobsOf("facts-2")(Warehouse.runFacts(spark, cfg(2), s"$root/wh"))
    val six = jobsOf("facts-6")(Warehouse.runFacts(spark, cfg(6), s"$root/wh"))
    assert(two > 0 && two == six, s"runFacts jobs: $two for 2 entities, $six for 6")
  }

  test("job shape: a tick over an SCD1+SCD2 entity probes its batch once, with no CollectLimit") {
    val root = jobsRoot(Seq("e1"))
    val one = Warehouse.Config(Seq(qtyEntity(root, "e1")))
    // backfill and catch up on its file, then one tick over a new file
    Warehouse.runBatch(spark, one, s"$root/wh", numBuckets = 4)
    tick(one, root, numBuckets = 4)
    write(s"$root/stage/e1/b.csv", "id,qty,updated_at,rec_id\n1,9,2024-02-01 00:00:00,3\n")
    val queries = mutable.Buffer.empty[(String, QueryExecution)]
    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queries.synchronized(queries += funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try tick(one, root, numBuckets = 4)
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(ql)
    }
    val seen = queries.synchronized(queries.toList)
    assert(seen.nonEmpty)
    val limits = seen.filter { case (f, qe) =>
      f == "isEmpty" || find(qe.executedPlan)(_.isInstanceOf[CollectLimitExec]).isDefined }
    assert(limits.map(_._1) == Nil, "CollectLimit executions")
    val probes = seen.filter { case (_, qe) =>
      qe.analyzed.exists(_.output.map(_.name) == Seq(StreamPipeline.BucketCol)) }
    assert(probes.map(_._1) == Seq("collect"), "touched-bucket probes")
    assert(spark.read.parquet(s"$root/wh/dim/e1").where($"id" === 1).count() == 2)
  }
}
