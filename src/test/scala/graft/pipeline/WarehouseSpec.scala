package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end multi-entity warehouse run over an actual staged layout:
  * csv + json staged files → stage → typed → SCD1 clean → SCD2 dim →
  * fact — the reference's FINAL_PROCEDURE chain
  * (`with procedures/final_proc.sql:29-40`) as one config.
  */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }

  private val locCols = Seq("loc_id", "city", "tier", "updated_at", "rec_id")
  private val locCasts = Seq("loc_id" -> "bigint", "tier" -> "int",
    "updated_at" -> "timestamp", "rec_id" -> "bigint")

  test("runBatch builds clean/dim/fact layers for csv+json entities") {
    val root = Files.createTempDirectory("graft_wh").toString
    write(s"$root/stage/location/location.csv",
      """loc_id,city,tier,updated_at,rec_id
        |1,Pune,2,2024-01-01 00:00:00,101
        |1,Pune,1,2024-02-01 00:00:00,102
        |2,Delhi,1,2024-01-01 00:00:00,103
        |""".stripMargin)
    write(s"$root/stage/restaurant/restaurant.csv",
      """rest_id,rest_name,loc_id,updated_at,rec_id
        |10,Spice Hub,1,2024-01-01 00:00:00,201
        |11,Dosa House,2,2024-01-01 00:00:00,202
        |""".stripMargin)
    write(s"$root/stage/delivery_agent/agents.json",
      """{"agent_id": "5", "agent_name": "Arjun", "phone": "9876543210", "updated_at": "2024-01-01 00:00:00", "rec_id": "301"}
        |""".stripMargin)

    val cfg = Warehouse.Config(
      entities = Seq(
        Warehouse.Entity("location", "csv", s"$root/stage/location",
          locCols, locCasts, Seq("loc_id"), "updated_at", "rec_id", scd2 = true),
        Warehouse.Entity("restaurant", "csv", s"$root/stage/restaurant",
          Seq("rest_id", "rest_name", "loc_id", "updated_at", "rec_id"),
          Seq("rest_id" -> "bigint", "loc_id" -> "bigint",
            "updated_at" -> "timestamp", "rec_id" -> "bigint"),
          Seq("rest_id"), "updated_at", "rec_id"),
        Warehouse.Entity("delivery_agent", "json", s"$root/stage/delivery_agent",
          Seq("agent_id", "agent_name", "phone", "updated_at", "rec_id"),
          Seq("agent_id" -> "bigint", "updated_at" -> "timestamp", "rec_id" -> "bigint"),
          Seq("agent_id"), "updated_at", "rec_id")),
      facts = Seq(
        Warehouse.Fact("restaurant_by_city",
          Seq("clean/restaurant", "clean/location"),
          m => m("clean/restaurant")
            .join(m("clean/location"), "loc_id")
            .groupBy("city").agg(count(lit(1)).as("n_restaurants")))))

    val out = Warehouse.runBatch(spark, cfg, s"$root/wh")

    // SCD1 clean: latest version per key wins
    assert(out("clean/location").where($"loc_id" === 1)
      .select("tier").as[Int].head() == 1)
    assert(out("clean/location").count() == 2)
    // stage audit contract (incl. content md5) survives to the clean layer
    val audit = Seq("_stg_file_name", "_stg_file_load_ts", "_stg_file_size",
      "_stg_file_md5", "_copy_data_ts")
    assert(audit.forall(out("clean/location").columns.contains))
    // SCD2 dim: both versions, one current, chained dates
    val dim = out("dim/location").where($"loc_id" === 1)
    assert(dim.count() == 2)
    assert(dim.where($"current_flag").select("rec_id").as[Long].head() == 102L)
    // JSON-staged entity typed like any other
    assert(out("clean/delivery_agent")
      .select($"agent_id", $"agent_name").as[(Long, String)].collect().toSeq ==
      Seq((5L, "Arjun")))
    // fact over the clean layer
    assert(out("fact/restaurant_by_city")
      .as[(String, Long)].collect().toMap == Map("Pune" -> 1L, "Delhi" -> 1L))
  }

  test("parallel entity fan-out produces exactly the sequential run's layers") {
    val root = Files.createTempDirectory("graft_whp").toString
    write(s"$root/stage/location/location.csv",
      """loc_id,city,tier,updated_at,rec_id
        |1,Pune,2,2024-01-01 00:00:00,101
        |1,Pune,1,2024-02-01 00:00:00,102
        |2,Delhi,1,2024-01-01 00:00:00,103
        |""".stripMargin)
    write(s"$root/stage/restaurant/restaurant.csv",
      """rest_id,rest_name,loc_id,updated_at,rec_id
        |10,Spice Hub,1,2024-01-01 00:00:00,201
        |11,Dosa House,2,2024-01-01 00:00:00,202
        |""".stripMargin)
    val cfg = Warehouse.Config(
      entities = Seq(
        Warehouse.Entity("location", "csv", s"$root/stage/location",
          locCols, locCasts, Seq("loc_id"), "updated_at", "rec_id", scd2 = true),
        Warehouse.Entity("restaurant", "csv", s"$root/stage/restaurant",
          Seq("rest_id", "rest_name", "loc_id", "updated_at", "rec_id"),
          Seq("rest_id" -> "bigint", "loc_id" -> "bigint",
            "updated_at" -> "timestamp", "rec_id" -> "bigint"),
          Seq("rest_id"), "updated_at", "rec_id")),
      facts = Seq(
        Warehouse.Fact("restaurant_by_city",
          Seq("clean/restaurant", "clean/location"),
          m => m("clean/restaurant")
            .join(m("clean/location"), "loc_id")
            .groupBy("city").agg(count(lit(1)).as("n_restaurants")))))

    val seqOut = Warehouse.runBatch(spark, cfg, s"$root/wh-seq", entityParallelism = 1)
    val parOut = Warehouse.runBatch(spark, cfg, s"$root/wh-par", entityParallelism = 4)
    assert(parOut.keySet == seqOut.keySet)
    // volatile audit columns (load ts) differ between the two runs —
    // compare the data columns
    val volatile = Set("_stg_file_load_ts", "_copy_data_ts")
    seqOut.keys.foreach { k =>
      val cols = seqOut(k).columns.filterNot(volatile).sorted.toSeq
      val a = seqOut(k).select(cols.map(col): _*).collect().map(_.toSeq).toSet
      val b = parOut(k).select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(a == b, s"layer $k differs between sequential and parallel runs")
    }
  }

  test("runIncremental folds newly staged files into clean+dim (AvailableNow cron analog)") {
    val root = Files.createTempDirectory("graft_whi").toString
    val cfg = Warehouse.Config(entities = Seq(
      Warehouse.Entity("location", "csv", s"$root/stage/location",
        locCols, locCasts, Seq("loc_id"), "updated_at", "rec_id", scd2 = true),
      Warehouse.Entity("delivery_agent", "json", s"$root/stage/delivery_agent",
        Seq("agent_id", "agent_name", "updated_at", "rec_id"),
        Seq("agent_id" -> "bigint", "updated_at" -> "timestamp", "rec_id" -> "bigint"),
        Seq("agent_id"), "updated_at", "rec_id")))
    write(s"$root/stage/delivery_agent/agents.json",
      """{"agent_id": "5", "agent_name": "Arjun", "updated_at": "2024-01-01 00:00:00", "rec_id": "301"}
        |""".stripMargin)

    write(s"$root/stage/location/batch1.csv",
      """loc_id,city,tier,updated_at,rec_id
        |1,Pune,2,2024-01-01 00:00:00,101
        |2,Delhi,1,2024-01-01 00:00:00,103
        |""".stripMargin)
    // batch backfill writes the same bucketed layout the sinks maintain
    Warehouse.runBatch(spark, cfg, s"$root/wh")
    assert(spark.read.parquet(s"$root/wh/clean/location")
      .where($"loc_id" === 1).select("tier").as[Int].head() == 2)

    // a later staged file arrives; the next scheduled run picks up ONLY it
    write(s"$root/stage/location/batch2.csv",
      """loc_id,city,tier,updated_at,rec_id
        |1,Pune,1,2024-02-01 00:00:00,102
        |""".stripMargin)
    Warehouse.runIncremental(spark, cfg, s"$root/wh", s"$root/ckpt")
      .foreach(_.awaitTermination())
    assert(spark.read.parquet(s"$root/wh/clean/location")
      .where($"loc_id" === 1).select("tier").as[Int].head() == 1)
    val dim = spark.read.parquet(s"$root/wh/dim/location").where($"loc_id" === 1)
    assert(dim.count() == 2)
    assert(dim.where($"current_flag").select("rec_id").as[Long].head() == 102L)
    // the JSON-staged entity flowed through the same incremental path
    assert(spark.read.parquet(s"$root/wh/clean/delivery_agent")
      .select($"agent_id", $"agent_name").as[(Long, String)].collect().toSeq ==
      Seq((5L, "Arjun")))
  }

  test("entity deleteCol: staged tombstones remove keys from clean and close out the dim") {
    val root = Files.createTempDirectory("graft_whd").toString
    val cols = locCols :+ "is_deleted"
    val casts = locCasts :+ ("is_deleted" -> "boolean")
    val cfg = Warehouse.Config(entities = Seq(
      Warehouse.Entity("location", "csv", s"$root/stage/location",
        cols, casts, Seq("loc_id"), "updated_at", "rec_id",
        scd2 = true, deleteCol = Some("is_deleted"))))

    write(s"$root/stage/location/batch1.csv",
      """loc_id,city,tier,updated_at,rec_id,is_deleted
        |1,Pune,2,2024-01-01 00:00:00,101,false
        |2,Delhi,1,2024-01-01 00:00:00,103,false
        |""".stripMargin)
    Warehouse.runBatch(spark, cfg, s"$root/wh")
    assert(spark.read.parquet(s"$root/wh/clean/location").count() == 2)

    // a staged DELETE for loc 1 arrives in the next incremental run
    write(s"$root/stage/location/batch2.csv",
      """loc_id,city,tier,updated_at,rec_id,is_deleted
        |1,,,2024-02-01 00:00:00,104,true
        |""".stripMargin)
    Warehouse.runIncremental(spark, cfg, s"$root/wh", s"$root/ckpt")
      .foreach(_.awaitTermination())
    // clean layer: the key is gone
    assert(spark.read.parquet(s"$root/wh/clean/location")
      .select("loc_id").as[Long].collect().toSeq == Seq(2L))
    // dim: loc 1's version is closed at the delete ts, no live current row
    val dim = spark.read.option("mergeSchema", "true")
      .parquet(s"$root/wh/dim/location").where($"loc_id" === 1)
    val closed = dim.where($"rec_id" === 101L)
      .select($"eff_end_ts".cast("string")).as[String].head()
    assert(closed == "2024-02-01 00:00:00")
    assert(graft.operators.Scd2.currentRows(dim, Some("_graft_deleted")).count() == 0)
  }

  test("a fresh-checkpoint catchup after runBatch stores each quarantined version once") {
    val root = Files.createTempDirectory("graft_whq").toString
    val (wh, quarantine) = (s"$root/wh", s"$root/wh/quarantine/item")
    val cfg = Warehouse.Config(entities = Seq(
      Warehouse.Entity("item", "csv", s"$root/stage/item",
        Seq("item_id", "qty", "updated_at", "rec_id"),
        Seq("item_id" -> "bigint", "qty" -> "int",
          "updated_at" -> "timestamp", "rec_id" -> "bigint"),
        Seq("item_id"), "updated_at", "rec_id", scd2 = true,
        expectations = Seq(Expectations.Expectation(
          "qty_pos", col("qty") > 0, Expectations.Quarantine)))))
    val reported = mutable.Buffer.empty[Long]
    val collect = (_: String, m: Map[String, Long]) => { reported += m("qty_pos"); () }
    def incremental(ckpt: String): Unit =
      Warehouse.runIncremental(spark, cfg, wh, s"$root/$ckpt", numBuckets = 4, collect)
        .foreach(q => try q.awaitTermination() finally q.stop())
    def stored: Seq[(Long, Long)] = spark.read.parquet(quarantine)
      .select("item_id", "rec_id").as[(Long, Long)].collect().toSeq.sorted
    def files: Set[String] = Files.list(Paths.get(quarantine)).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet

    write(s"$root/stage/item/a.csv",
      """item_id,qty,updated_at,rec_id
        |1,3,2024-01-01 00:00:00,11
        |2,0,2024-01-01 00:00:00,12
        |3,-1,2024-01-01 00:00:00,13
        |2,5,2024-02-01 00:00:00,14
        |""".stripMargin)
    Warehouse.runBatch(spark, cfg, wh, numBuckets = 4, onExpectations = collect)
    // a fresh checkpoint re-reads a.csv: its violators are validated and
    // reported again, but not stored a second time
    incremental("ckpt")
    assert(stored == Seq((2L, 12L), (3L, 13L)))
    assert(reported.toSeq == Seq(2L, 2L))

    // a batch without violators writes nothing to the quarantine layer
    val before = files
    write(s"$root/stage/item/b.csv", "item_id,qty,updated_at,rec_id\n4,2,2024-01-01 00:00:00,15\n")
    incremental("ckpt")
    assert(files == before)
    assert(reported.toSeq == Seq(2L, 2L, 0L))

    // another fresh checkpoint over a.csv, b.csv and a new violator
    // stores only the new one
    write(s"$root/stage/item/c.csv", "item_id,qty,updated_at,rec_id\n5,0,2024-01-01 00:00:00,16\n")
    incremental("ckpt2")
    assert(stored == Seq((2L, 12L), (3L, 13L), (5L, 16L)))
    assert(reported.toSeq == Seq(2L, 2L, 0L, 3L))
    assert(spark.read.parquet(s"$wh/clean/item").select("item_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 4L))
  }

  test("maintain compacts and vacuums snapshot tables (the cron-TASK housekeeping analog)") {
    import graft.store.SnapshotStore
    val root = Files.createTempDirectory("graft-maint").toString + "/t"
    // several commits leave multiple versions + multi-file buckets
    val v0 = (1L to 200L).map(k => (k, s"v$k", k)).toDF("k", "v", "ts").repartition(4)
    SnapshotStore.init(spark, root, v0, Seq("k"), numBuckets = 4)
    val merge = (cur: org.apache.spark.sql.DataFrame, delta: org.apache.spark.sql.DataFrame) =>
      graft.operators.Scd1.merge(cur, delta, Seq("k"), Seq(col("ts").desc))
    SnapshotStore.commitDelta(spark, root,
      Seq((1L, "v1b", 999L)).toDF("k", "v", "ts"), Seq("k"), merge)
    val before = SnapshotStore.read(spark, root)
      .select("k", "v", "ts").as[(Long, String, Long)].collect().toSet

    val result = Warehouse.maintain(spark, Seq(root), clusterBy = Seq("ts"), keepVersions = 1)
    val (vAfter, deleted) = result(root)
    assert(vAfter == 2L)      // compaction committed a new version
    assert(deleted > 0)       // old versions vacuumed away
    // v3 = the vacuum floor-advance's empty serialization commit
    assert(SnapshotStore.versions(spark, root) == Seq(2L, 3L))
    assert(SnapshotStore.read(spark, root)
      .select("k", "v", "ts").as[(Long, String, Long)].collect().toSet == before)

    // second pass prunes the serialization commit's predecessor
    // (manifests-only — no new version), third is a true no-op
    val again = Warehouse.maintain(spark, Seq(root), keepVersions = 1)(root)
    assert(again._1 == 3L)
    assert(SnapshotStore.versions(spark, root) == Seq(3L))
    val third = Warehouse.maintain(spark, Seq(root), keepVersions = 1)(root)
    assert(third == (3L, 0))
  }
}
