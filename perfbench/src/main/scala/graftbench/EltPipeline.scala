package graftbench

import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{FactBuilder, Scd2}
import graft.pipeline.{Expectations, Warehouse}

/** The paper's pipeline as a cron loop: staged CSV and JSON files of the
  * restaurant schema go through `Warehouse.runBatch` (backfill), a first
  * `runIncremental` (catchup: a fresh checkpoint re-reads every staged
  * file), then ticks. A tick lands new staged files, runs
  * `runIncremental` and `runFacts`, and reads the KPIs over the facts
  * and dims. Ticks alternate between order appends (every bucket) and
  * small dim updates, late out-of-order updates and tombstone deletes
  * (a few buckets).
  *
  * Every op is checked against the benchmark's own model of the
  * generated versions: clean = latest version per key unless it is a
  * tombstone, dim = every version with its validity interval.
  */
object EltPipeline extends Workload {
  val name = "elt_pipeline"
  val Buckets = 4
  val EntityParallelism = 2
  val Ticks = 1
  val KpiReads: Seq[String] = Seq("top_items", "item_orders", "demand_window", "revenue_by_category")
  def opsPerPass: Int = 2 + Ticks * (2 + KpiReads.size)

  /** A staged entity. Stage columns: key, data columns, updated_at,
    * rec_id and, where deletes exist, is_deleted.
    */
  final case class Spec(name: String, format: String, key: String,
                        data: Seq[(String, String)], scd2: Boolean, deletes: Boolean) {
    def columns: Seq[String] =
      (key +: data.map(_._1)) ++ Seq("updated_at", "rec_id") ++ (if (deletes) Seq("is_deleted") else Nil)
  }

  val Specs: Seq[Spec] = Seq(
    Spec("menu", "csv", "menu_id",
      Seq("item_name" -> "string", "category" -> "string", "price_cents" -> "bigint"),
      scd2 = true, deletes = true),
    Spec("delivery_agent", "json", "agent_id",
      Seq("agent_name" -> "string", "phone" -> "string", "loc_id" -> "bigint"), scd2 = false, deletes = false),
    Spec("orders", "csv", "order_id",
      Seq("loc_id" -> "bigint", "agent_id" -> "bigint", "order_date" -> "date", "status" -> "string"),
      scd2 = false, deletes = true),
    Spec("order_item", "csv", "order_item_id",
      Seq("order_id" -> "bigint", "menu_id" -> "bigint", "quantity" -> "int", "price_cents" -> "bigint"),
      scd2 = false, deletes = false))
  private val spec = Specs.map(s => s.name -> s).toMap

  /** One staged version of a key. Tombstones carry no data. */
  final case class Ver(key: Long, rec: Long, ts: Long, deleted: Boolean, data: Seq[String]) {
    def field(s: Spec, c: String): String = data(s.data.indexWhere(_._1 == c))
  }

  /** Staged versions per drop (0 = backfill, then one per tick), per entity. */
  type Plan = Vector[Map[String, Vector[Ver]]]

  private val Categories = Seq("Appetizers", "Main Course", "Desserts", "Beverages", "Snacks")
  private val Items = Seq("Samosa", "Paneer Tikka", "Biryani", "Dal Makhani", "Gulab Jamun",
    "Masala Chai", "Lassi", "Vada Pav", "Dhokla", "Kulfi")
  private val Statuses = Seq("placed", "preparing", "picked_up", "delivered")
  private val Epoch = LocalDate.of(2024, 1, 1)
  private val EpochS = Epoch.atStartOfDay().toEpochSecond(ZoneOffset.UTC)
  private val Day = 86400L
  val Locations = 24
  val MenuItems = 300
  val Agents = 120
  val BaseOrders = 1000
  val AppendOrders = 150

  /** The seeded version stream. Keys get at most one version per tick;
    * late versions are older than the key's current one but never
    * older than a delete, and deleted keys are never touched again.
    */
  def plan(seed: Long): Plan = {
    val rnd = new scala.util.Random(seed)
    var rec = 0L
    val history = mutable.Map.empty[(String, Long), mutable.ArrayBuffer[Ver]]
    val deleted = mutable.Set.empty[(String, Long)]
    var nextOrder = 1L
    var nextItem = 1L
    def ver(e: String, key: Long, ts: Long, data: Seq[String], del: Boolean = false): Ver = {
      rec += 1
      val v = Ver(key, rec, ts, del, if (del) spec(e).data.map(_ => "") else data)
      history.getOrElseUpdate((e, key), mutable.ArrayBuffer.empty) += v
      if (del) deleted += ((e, key))
      v
    }
    def current(e: String, key: Long): Ver = history((e, key)).maxBy(v => (v.ts, v.rec))
    def live(e: String, n: Long): Seq[Long] = (1L to n).filterNot(k => deleted((e, k)))
    def pick(keys: Seq[Long], n: Int): Seq[Long] = rnd.shuffle(keys).take(n).sorted
    def at(lo: Long): Long = lo + rnd.nextInt(Day.toInt)
    def menu(k: Long, ts: Long) = ver("menu", k, ts, Seq(s"${Items(rnd.nextInt(Items.size))} #$k",
      Categories(rnd.nextInt(Categories.size)), (5000 + rnd.nextInt(45000)).toString))
    def agent(k: Long, ts: Long) = ver("delivery_agent", k, ts,
      Seq(s"Agent $k", f"9${rnd.nextInt(1000000000)}%09d", (1 + rnd.nextInt(Locations)).toString))
    def orders(n: Int, lo: Long): (Vector[Ver], Vector[Ver]) = {
      val os = mutable.ArrayBuffer.empty[Ver]
      val items = mutable.ArrayBuffer.empty[Ver]
      (1 to n).foreach { _ =>
        val o = nextOrder
        nextOrder += 1
        val ts = at(lo)
        val date = Epoch.plusDays((ts - EpochS) / Day).toString
        os += ver("orders", o, ts, Seq((1 + rnd.nextInt(Locations)).toString,
          (1 + rnd.nextInt(Agents)).toString, date, Statuses.head))
        (1 to 1 + rnd.nextInt(4)).foreach { _ =>
          val i = nextItem
          nextItem += 1
          // about one item in a hundred has quantity 0 and is quarantined
          val qty = if (rnd.nextInt(100) == 0) 0 else 1 + rnd.nextInt(5)
          items += ver("order_item", i, ts, Seq(o.toString, (1 + rnd.nextInt(MenuItems)).toString,
            qty.toString, (5000 + rnd.nextInt(45000)).toString))
        }
      }
      (os.toVector, items.toVector)
    }

    val base = {
      val (os, items) = orders(BaseOrders, EpochS)
      Map("menu" -> (1L to MenuItems).map(k => menu(k, at(EpochS))).toVector,
        "delivery_agent" -> (1L to Agents).map(k => agent(k, at(EpochS))).toVector,
        "orders" -> os, "order_item" -> items)
    }
    // a tick appends orders (every bucket of orders and order_item) and
    // brings small menu and agent updates (a few buckets), late
    // out-of-order order updates and tombstones
    val ticks = (0 until Ticks).map { i =>
      val lo = EpochS + (60 + 10 * i) * Day
      val menuKeys = pick(live("menu", MenuItems), 8)
      val keys = pick(live("orders", nextOrder - 1), 24)
      val newer = keys.take(12).map(k => ver("orders", k, at(lo),
        current("orders", k).data.updated(3, Statuses(1 + rnd.nextInt(Statuses.size - 1)))))
      val late = keys.slice(12, 20).map { k =>
        val taken = history(("orders", k)).map(_.ts).toSet
        var ts = current("orders", k).ts - 1 - rnd.nextInt(3600)
        while (taken(ts)) ts -= 1
        ver("orders", k, ts, current("orders", k).data.updated(3, Statuses(1)))
      }
      val gone = keys.drop(20).map(k => ver("orders", k, at(lo), Nil, del = true))
      val (appended, items) = orders(AppendOrders, lo)
      Map("menu" -> (menuKeys.take(6).map(k => menu(k, at(lo))) ++
          menuKeys.drop(6).map(k => ver("menu", k, at(lo), Nil, del = true))).toVector,
        "delivery_agent" -> pick(1L to Agents, 4).map(k => agent(k, at(lo))).toVector,
        "orders" -> (newer ++ late ++ gone ++ appended).toVector,
        "order_item" -> items)
    }
    (base +: ticks).toVector
  }

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def ts(s: Long): String = Instant.ofEpochSecond(s).atOffset(ZoneOffset.UTC).format(TsFormat)

  private def render(s: Spec, vs: Seq[Ver]): String = {
    def fields(v: Ver): Seq[String] =
      (v.key.toString +: v.data) ++ Seq(ts(v.ts), v.rec.toString) ++
        (if (s.deletes) Seq(v.deleted.toString) else Nil)
    s.format match {
      case "csv" => (s.columns.mkString(",") +: vs.map(v => fields(v).mkString(","))).mkString("", "\n", "\n")
      case "json" => vs.map { v =>
        s.columns.zip(fields(v)).map { case (c, x) => s"\"$c\": \"$x\"" }.mkString("{", ", ", "}")
      }.mkString("", "\n", "\n")
    }
  }

  def generate(seed: Long, dir: Path): Unit =
    plan(seed).zipWithIndex.foreach { case (drop, i) =>
      drop.foreach { case (e, vs) =>
        Files.createDirectories(dir.resolve(e))
        Files.writeString(dir.resolve(e).resolve(f"drop-$i%02d.${spec(e).format}"), render(spec(e), vs))
      }
    }

  private val quantityPositive = Expectations.Expectation("quantity_positive",
    col("quantity") > 0, Expectations.Quarantine)

  def config(stage: Path): Warehouse.Config = Warehouse.Config(
    entities = Specs.map(s => Warehouse.Entity(s.name, s.format, stage.resolve(s.name).toString,
      s.columns, (s.key -> "bigint") +: s.data.filterNot(_._2 == "string") ++:
        Seq("updated_at" -> "timestamp", "rec_id" -> "bigint") ++:
        (if (s.deletes) Seq("is_deleted" -> "boolean") else Nil),
      Seq(s.key), "updated_at", "rec_id", scd2 = s.scd2,
      deleteCol = if (s.deletes) Some("is_deleted") else None,
      expectations = if (s.name == "order_item") Seq(quantityPositive) else Nil)),
    facts = Seq(Warehouse.Fact("item_sales", Seq("clean/order_item", "clean/orders", "clean/menu"),
      m => FactBuilder.star(
        m("clean/order_item").select("order_item_id", "order_id", "menu_id", "quantity", "price_cents"),
        Seq(FactBuilder.Dim(m("clean/orders").select(col("order_id").as("o_id"), col("loc_id"),
            col("order_date")), col("order_id") === col("o_id")),
          FactBuilder.Dim(m("clean/menu").select(col("menu_id").as("m_id"), col("item_name"),
            col("category")), col("menu_id") === col("m_id"))))
        .select(col("order_item_id"), col("order_id"), col("menu_id"), col("item_name"),
          col("category"), col("loc_id"), col("order_date"), col("quantity"),
          (col("quantity") * col("price_cents")).as("amount_cents")))))

  // ------------------------------------------------------------------
  // the model
  // ------------------------------------------------------------------

  /** Versions the pipeline keeps: quarantined rows never reach a layer. */
  private def kept(e: String, vs: Seq[Ver]): Seq[Ver] =
    if (e == "order_item") vs.filter(_.field(spec(e), "quantity") != "0") else vs

  def clean(e: String, vs: Seq[Ver]): Map[Long, Ver] =
    kept(e, vs).groupBy(_.key).map { case (k, xs) => k -> xs.maxBy(v => (v.ts, v.rec)) }
      .filterNot(_._2.deleted)

  /** (key, rec, eff_start, eff_end, current, deleted) per dim row. */
  def dim(e: String, vs: Seq[Ver]): Seq[Seq[Any]] =
    kept(e, vs).groupBy(_.key).values.toSeq.flatMap { xs =>
      val s = xs.sortBy(v => (v.ts, v.rec))
      s.zipWithIndex.map { case (v, i) =>
        val end = if (i + 1 < s.size) s(i + 1).ts else null
        Seq(v.key, v.rec, v.ts, end, i + 1 == s.size) ++ (if (spec(e).deletes) Seq(v.deleted) else Nil)
      }
    }

  final case class FactRow(item: Long, order: Long, menu: Long, name: String, category: String,
                           loc: Long, date: String, qty: Long, amount: Long) {
    def cells: Seq[Any] = Seq(item, order, menu, name, category, loc, date, qty, amount)
  }

  def facts(staged: Map[String, Seq[Ver]]): Seq[FactRow] = {
    val c = Specs.map(s => s.name -> clean(s.name, staged.getOrElse(s.name, Nil))).toMap
    val (oi, o, m) = (spec("order_item"), spec("orders"), spec("menu"))
    c("order_item").values.toSeq.flatMap { it =>
      val order = it.field(oi, "order_id").toLong
      val menu = it.field(oi, "menu_id").toLong
      for (ov <- c("orders").get(order); mv <- c("menu").get(menu)) yield {
        val qty = it.field(oi, "quantity").toLong
        FactRow(it.key, order, menu, mv.field(m, "item_name"), mv.field(m, "category"),
          ov.field(o, "loc_id").toLong, ov.field(o, "order_date"), qty,
          qty * it.field(oi, "price_cents").toLong)
      }
    }
  }

  val DemandFrom = "2024-01-15"
  val DemandTo = "2024-03-15"

  /** Expected KPI results, in each read's column order. */
  def kpis(staged: Map[String, Seq[Ver]]): Map[String, Seq[Seq[Any]]] = {
    val f = facts(staged)
    val menuCategory = dim("menu", staged("menu")).collect {
      case Seq(k: Long, rec: Long, _, null, true, false) => k -> rec }.toMap
    val category = staged("menu").map(v => v.rec -> v).toMap
    Map(
      "top_items" -> f.groupBy(r => (r.menu, r.name)).toSeq
        .map { case ((m, n), rs) => (m, n, rs.map(_.qty).sum) }
        .sortBy { case (m, _, q) => (-q, m) }.take(10).map { case (m, n, q) => Seq(m, n, q) },
      "item_orders" -> f.groupBy(_.menu).toSeq.map { case (m, rs) => Seq(m, rs.map(_.order).distinct.size.toLong) },
      "demand_window" -> f.filter(r => r.date >= DemandFrom && r.date <= DemandTo).groupBy(_.category)
        .toSeq.map { case (c, rs) => Seq(c, rs.map(_.qty).sum) },
      "revenue_by_category" -> f.flatMap(r => menuCategory.get(r.menu)
          .map(rec => category(rec).field(spec("menu"), "category") -> r.amount)).groupBy(_._1)
        .toSeq.map { case (c, xs) => Seq(c, xs.map(_._2).sum) })
  }

  // ------------------------------------------------------------------
  // the pass
  // ------------------------------------------------------------------

  private def layer(spark: SparkSession, wh: Path, l: String): DataFrame =
    spark.read.parquet(wh.resolve(l).toString).drop("_graft_bucket")

  def kpiRead(spark: SparkSession, wh: Path, kpi: String): DataFrame = {
    val f = layer(spark, wh, "fact/item_sales")
    kpi match {
      case "top_items" => f.groupBy("menu_id", "item_name").agg(sum("quantity").cast("long").as("qty"))
        .orderBy(col("qty").desc, col("menu_id")).limit(10)
      case "item_orders" => f.groupBy("menu_id").agg(countDistinct("order_id").as("orders"))
      case "demand_window" =>
        f.where(col("order_date").between(lit(DemandFrom).cast("date"), lit(DemandTo).cast("date")))
          .groupBy("category").agg(sum("quantity").cast("long").as("qty"))
      case "revenue_by_category" =>
        val current = Scd2.currentRows(layer(spark, wh, "dim/menu"), Some("_graft_deleted"))
          .select(col("menu_id"), col("category").as("dim_category"))
        f.join(current, "menu_id").groupBy("dim_category").agg(sum("amount_cents").cast("long").as("cents"))
    }
  }

  /** The clean and dim layers (with `entities`) and the fact table (with
    * `withFacts`) compared with the model, all in one Spark job.
    */
  private def check(spark: SparkSession, wh: Path, staged: Map[String, Seq[Ver]],
                    entities: Boolean, withFacts: Boolean): Option[String] = {
    val layers = (if (!entities) Nil else Specs.flatMap { s =>
      val vs = staged.getOrElse(s.name, Nil)
      val c = layer(spark, wh, s"clean/${s.name}").select(col(s.key).cast("long"), col("rec_id").cast("long"))
      val cleanLayer = (s"clean/${s.name}", c, Check.digest(clean(s.name, vs).values.map(v => Seq(v.key, v.rec))))
      cleanLayer +: (if (!s.scd2) Nil else {
        val cols = Seq(col(s.key).cast("long"), col("rec_id").cast("long"),
          col("eff_start_ts").cast("long"), col("eff_end_ts").cast("long"), col("current_flag")) ++
          (if (s.deletes) Seq(col("_graft_deleted")) else Nil)
        Seq((s"dim/${s.name}", layer(spark, wh, s"dim/${s.name}").select(cols: _*), Check.digest(dim(s.name, vs))))
      })
    }) ++ (if (!withFacts) Nil else {
      val f = layer(spark, wh, "fact/item_sales").select(col("order_item_id").cast("long"),
        col("order_id").cast("long"), col("menu_id").cast("long"), col("item_name"), col("category"),
        col("loc_id").cast("long"), col("order_date").cast("string"), col("quantity").cast("long"),
        col("amount_cents").cast("long"))
      Seq(("fact/item_sales", f, Check.digest(facts(staged).map(_.cells))))
    })
    val got = Check.digestsOf(layers.map { case (n, df, _) => n -> df })
    layers.iterator.flatMap { case (n, _, want) => Check.expectDigest(n, got(n), want) }.nextOption()
  }

  /** Bucket directory → (file name → bytes) under every incremental target. */
  private def layout(wh: Path): Map[String, Map[String, Long]] =
    Specs.flatMap(s => Seq(s"clean/${s.name}") ++ (if (s.scd2) Seq(s"dim/${s.name}") else Nil))
      .flatMap { t =>
        val dir = wh.resolve(t)
        if (!Files.isDirectory(dir)) Nil
        else Files.list(dir).iterator.asScala.filter(p => p.getFileName.toString.startsWith("_graft_bucket="))
          .map { b =>
            s"$t/${b.getFileName}" -> Files.list(b).iterator.asScala.filter(_.toString.endsWith(".parquet"))
              .map(p => p.getFileName.toString -> Files.size(p)).toMap
          }.toSeq
      }.toMap

  def pass(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    val (ops, tracer) = (ctx.ops, ctx.tracer)
    val stage = ctx.dir.resolve("stage")
    val wh = ctx.dir.resolve("wh")
    val ckpt = ctx.dir.resolve("ckpt").toString
    val cfg = config(stage)
    val drops = plan(ctx.seed)
    val staged = mutable.Map.empty[String, Seq[Ver]].withDefaultValue(Nil)
    var quarantined = 0L
    var stagedBytes = 0L
    var ingestBytes = 0L
    var rewrittenBuckets = 0L
    var writtenBytes = 0L
    val onExpectations = (_: String, m: Map[String, Long]) => quarantined += m.values.sum

    def land(i: Int): Unit = ops.untimed {
      Files.list(ctx.inputs).iterator.asScala.toSeq.sortBy(_.toString).foreach { e =>
        Files.list(e).iterator.asScala.filter(_.getFileName.toString.startsWith(f"drop-$i%02d.")).foreach { f =>
          Files.createDirectories(stage.resolve(e.getFileName))
          Files.copy(f, stage.resolve(e.getFileName).resolve(f.getFileName))
          stagedBytes += Files.size(f)
        }
      }
      drops(i).foreach { case (e, vs) => staged(e) = staged(e) ++ vs }
    }

    def incremental(opName: String, newBytes: Long): Unit = {
      val before = ops.untimed(layout(wh))
      ops.op(opName, "write") {
        tracer.span("pipeline.incremental") {
          val qs = Warehouse.runIncremental(spark, cfg, wh.toString, ckpt, Buckets, onExpectations)
          try tracer.span("streaming.await")(qs.foreach(_.awaitTermination()))
          finally qs.foreach(_.stop())
        }
      }(_ => check(spark, wh, staged.toMap, entities = true, withFacts = false))
      ops.untimed {
        val after = layout(wh)
        val changed = after.filter { case (b, files) => !before.get(b).contains(files) }
        rewrittenBuckets += changed.size
        writtenBytes += changed.map { case (b, files) =>
          files.filter { case (f, _) => !before.getOrElse(b, Map.empty).contains(f) }.values.sum
        }.sum
        ingestBytes += newBytes
      }
    }

    land(0)
    ops.op("backfill", "write") {
      tracer.span("pipeline.backfill") {
        Warehouse.runBatch(spark, cfg, wh.toString, Buckets, EntityParallelism, onExpectations)
      }
    }(_ => check(spark, wh, staged.toMap, entities = true, withFacts = true))
    incremental("catchup", stagedBytes)
    (0 until Ticks).foreach { t =>
      val before = stagedBytes
      land(t + 1)
      incremental("incremental", stagedBytes - before)
      ops.op("facts", "write") {
        tracer.span("pipeline.facts")(Warehouse.runFacts(spark, cfg, wh.toString))
      }(_ => check(spark, wh, staged.toMap, entities = false, withFacts = true))
      val want = ops.untimed(kpis(staged.toMap))
      KpiReads.foreach { k =>
        ops.op(k, "read", "kpi") {
          tracer.span("spark.kpi") {
            val df = kpiRead(spark, wh, k)
            tracer.span("sink.noop")(Sink.run(df))
          }
        }(got => Check.expectDigest(k, got.digest, Check.digest(want(k))))
      }
    }
    ctx.extra ++= Map(
      "sources.stage_rows" -> drops.map(_.values.map(_.size).sum).sum.toDouble,
      "pipeline.quarantined_rows" -> quarantined.toDouble,
      "streaming.buckets_rewritten" -> rewrittenBuckets.toDouble,
      "streaming.write_amp" -> (if (ingestBytes > 0) writtenBytes.toDouble / ingestBytes else 0.0))
  }
}
