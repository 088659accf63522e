package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.SnapshotStore
import graft.streaming.StreamPipeline

/** One seeded change feed folded through every place that folds SCD
  * changes — the batch warehouse, the incremental warehouse over two
  * micro-batches, the parquet merge sinks and the snapshot-table sinks
  * — must leave the same clean rows and the same dim rows in each.
  */
class ScdParitySpec extends SparkSpec {
  import spark.implicits._

  /** (loc_id, city, updated_at, rec_id, deleted); a tombstone's city is null. */
  private type Change = (Long, String, String, Long, Boolean)

  private def day(d: Int): String = f"2024-01-$d%02d 00:00:00"

  /** Two micro-batches. Planted: key 1's second batch brings a late
    * version older than its current one; key 2's tombstone shares its
    * change timestamp with the live row it deletes; key 3 is deleted,
    * then re-inserted in the next batch. Keys 10-17 are seeded noise
    * with tombstones.
    */
  private val (batch1, batch2): (Seq[Change], Seq[Change]) = {
    val planted1 = Seq[Change]((1L, "a", day(1), 101L, false), (1L, "c", day(9), 103L, false),
      (2L, "a", day(1), 201L, false), (2L, "b", day(5), 202L, false),
      (3L, "a", day(1), 301L, false), (3L, null, day(4), 302L, true))
    val planted2 = Seq[Change]((1L, "b", day(5), 102L, false),
      (2L, null, day(5), 203L, true), (3L, "b", day(8), 303L, false))
    val rnd = new scala.util.Random(7L)
    val noise = (10L to 17L).flatMap { k =>
      (1 to 1 + rnd.nextInt(3)).map { i =>
        val deleted = i > 1 && rnd.nextInt(4) == 0
        (k, if (deleted) null else s"c${rnd.nextInt(100)}", day(1 + rnd.nextInt(20)),
          k * 100 + i, deleted): Change
      }
    }
    val (n1, n2) = noise.partition(_ => rnd.nextBoolean())
    (planted1 ++ n1, planted2 ++ n2)
  }

  private val keys = Seq("loc_id")
  private val order = Seq(col("updated_at").desc, col("rec_id").desc)
  private val deleted = "_graft_deleted"

  /** Changes typed as the warehouse types them: the timestamp is cast
    * in the session time zone.
    */
  private def typed(df: DataFrame): DataFrame =
    df.toDF("loc_id", "city", "updated_at", "rec_id", deleted)
      .withColumn("updated_at", col("updated_at").cast("timestamp"))

  private val cleanCols = Seq("loc_id", "city", "updated_at", "rec_id")
  private val dimCols = cleanCols ++
    Seq("eff_start_ts", "eff_end_ts", "current_flag", deleted)

  private def rows(df: DataFrame, cols: Seq[String]): Seq[Seq[String]] =
    df.select(cols.map(c => col(c).cast("string")): _*).collect()
      .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
      .sortBy(_.mkString("|"))

  private def csv(changes: Seq[Change]): String =
    changes.map { case (k, city, ts, rec, del) =>
      s"$k,${Option(city).getOrElse("")},$ts,$rec,$del"
    }.mkString("loc_id,city,updated_at,rec_id,is_deleted\n", "\n", "\n")

  private def stage(dir: String, name: String, changes: Seq[Change]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), csv(changes))
  }

  private def config(stageDir: String) = Warehouse.Config(entities = Seq(
    Warehouse.Entity("loc", "csv", stageDir,
      Seq("loc_id", "city", "updated_at", "rec_id", "is_deleted"),
      Seq("loc_id" -> "bigint", "updated_at" -> "timestamp",
        "rec_id" -> "bigint", "is_deleted" -> "boolean"),
      keys, "updated_at", "rec_id", scd2 = true, deleteCol = Some("is_deleted"))))

  /** (clean rows, dim rows) of one path. */
  private type Layers = (Seq[Seq[String]], Seq[Seq[String]])

  private def parquetLayers(wh: String): Layers =
    (rows(spark.read.parquet(s"$wh/clean/loc"), cleanCols),
      rows(spark.read.parquet(s"$wh/dim/loc"), dimCols))

  private def warehouseBatch(root: String): Layers = {
    stage(s"$root/stage", "b1.csv", batch1)
    stage(s"$root/stage", "b2.csv", batch2)
    Warehouse.runBatch(spark, config(s"$root/stage"), s"$root/wh", numBuckets = 4)
    parquetLayers(s"$root/wh")
  }

  private def warehouseIncremental(root: String): Layers = {
    val cfg = config(s"$root/stage")
    Seq(batch1, batch2).zipWithIndex.foreach { case (b, i) =>
      stage(s"$root/stage", s"b$i.csv", b)
      Warehouse.runIncremental(spark, cfg, s"$root/wh", s"$root/ckpt", numBuckets = 4)
        .foreach(q => try q.awaitTermination() finally q.stop())
    }
    parquetLayers(s"$root/wh")
  }

  private def mergeSinks(root: String): Layers = {
    Seq(batch1, batch2).foreach { b =>
      val df = typed(b.toDF())
      StreamPipeline.upsertBatch(df, s"$root/wh/clean/loc", keys, order,
        numBuckets = 4, deleteCol = Some(deleted))
      StreamPipeline.scd2ApplyBatch(df, s"$root/wh/dim/loc", keys, "updated_at", "rec_id",
        numBuckets = 4, deleteCol = Some(deleted))
    }
    parquetLayers(s"$root/wh")
  }

  private def snapshotSinks(root: String): Layers = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val mem = MemoryStream[Change]
    val stream = typed(mem.toDF())
    val queries = Seq(
      SnapshotStore.scd1SnapshotSink(stream, s"$root/clean", s"$root/ckpt-clean",
        keys, order, numBuckets = 4, deleteCol = Some(deleted)),
      SnapshotStore.scd2SnapshotSink(stream, s"$root/dim", s"$root/ckpt-dim",
        keys, "updated_at", "rec_id", numBuckets = 4, deleteCol = Some(deleted)))
    try Seq(batch1, batch2).foreach { b =>
      mem.addData(b)
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    assert(SnapshotStore.versions(spark, s"$root/clean") == Seq(0L, 1L))
    (rows(SnapshotStore.read(spark, s"$root/clean"), cleanCols),
      rows(SnapshotStore.read(spark, s"$root/dim"), dimCols))
  }

  test("one feed folds to the same clean and dim rows in every store") {
    val base = Files.createTempDirectory("graft_parity").toString
    val paths = Seq(
      "Warehouse.runBatch" -> warehouseBatch _,
      "Warehouse.runIncremental, two batches" -> warehouseIncremental _,
      "StreamPipeline.upsertBatch/scd2ApplyBatch" -> mergeSinks _,
      "SnapshotStore.scd1SnapshotSink/scd2SnapshotSink" -> snapshotSinks _)
    val got = paths.zipWithIndex.map { case ((name, run), i) => name -> run(s"$base/p$i") }
    val (refName, (clean, dim)) = got.head

    // the planted cases resolved as the total order says
    val live = clean.map(r => r(0) -> r(3)).toMap
    assert(live("1") == "103", "a late older version must not replace the current one")
    assert(!live.contains("2"), "a tombstone tied on the change timestamp deletes")
    assert(live("3") == "303", "a re-insert after a delete is live")
    assert(dim.count(r => r(0) == "3") == 3 && dim.count(r => r(0) == "2") == 3)
    assert(dim.exists(r => r(0) == "3" && r(3) == "301" && r(5) == day(4)),
      "the pre-delete version ends at the delete")

    got.tail.foreach { case (name, (c, d)) =>
      assert(c == clean, s"clean rows of $name differ from $refName")
      assert(d == dim, s"dim rows of $name differ from $refName")
    }
  }
}
