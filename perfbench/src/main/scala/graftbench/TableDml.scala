package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.{ChangeFeed, SnapshotStore}

/** graft tables driven by SQL through `GraftCatalog`. One seeded
  * statement stream runs against a `dml.mode=cow` table and a
  * `dml.mode=delta` table: CTAS, MERGE (a CDC batch with inserts,
  * updates and deletes on zipf-skewed keys), range UPDATE and IN-list
  * DELETE, interleaved with point lookups, stats-pruned range
  * aggregates, a full KPI aggregate and `VERSION AS OF` reads over the
  * table's history. `ChangeFeed.syncDerived` keeps a PII-masked
  * consumption table in step, and compaction, vacuum, change-feed and
  * manifest reads run periodically.
  *
  * Both tables are checked after every write against an in-memory
  * model of the rows; reads are checked against the model's state at
  * the version they read.
  */
object TableDml extends Workload {
  val name = "table_dml"
  val Modes: Seq[String] = Seq("cow", "delta")
  val Buckets = 4
  val BaseRows = 1000
  /** One step per write kind. A plain INSERT is left out for the time
    * budget: MERGE's insert branch and CTAS take its write path.
    */
  val Writes: Seq[String] = Seq("merge", "update", "delete")
  /** Versions a vacuum keeps; `VERSION AS OF` reads pick among them. */
  val KeepVersions = 3
  private val Regions = Seq("north", "south", "east", "west", "central")

  /** Statements run once per table; every other statement is one op. */
  private val PerTable = Set("ctas", "vacuum") ++ Writes

  def opsOf(seed: Long): Int =
    stream(seed)._1.filterNot(_.kind == "manifest").map(s => if (PerTable(s.kind)) Modes.size else 1).sum

  def opsPerPass: Int = opsOf(0)

  final case class Row(id: Long, name: String, email: String, region: String, qty: Long, cents: Long) {
    def cells: Seq[Any] = Seq(id, name, email, region, qty, cents)
    def csv: String = cells.mkString(",")
  }
  type State = Map[Long, Row]

  /** One statement of the stream. `file` names its CSV input, if any. */
  final case class Stmt(kind: String, args: Seq[Long], file: String = "") {
    def line: String = (kind +: file +: args.map(_.toString)).mkString("\t")
  }

  private val Columns = "id,name,email,region,qty,cents"
  private val Schema = "id BIGINT, name STRING, email STRING, region STRING, qty BIGINT, cents BIGINT"

  /** Applies a write statement to the model. `rows` is its CSV input. */
  def applyWrite(s: State, st: Stmt, rows: Seq[(String, Row)]): State = st.kind match {
    case "merge" => rows.foldLeft(s) { case (acc, (op, r)) =>
      if (op == "D") acc - r.id else acc + (r.id -> r)
    }
    case "update" =>
      val Seq(lo, hi) = st.args
      s.map { case (k, r) => k -> (if (k >= lo && k <= hi) r.copy(qty = r.qty + 1, cents = r.cents + 7) else r) }
    case "delete" => s -- st.args
  }

  private def row(rnd: scala.util.Random, id: Long): Row = {
    val name = s"${('a' + rnd.nextInt(26)).toChar}user$id"
    Row(id, name, s"$name@mail.test", Regions(rnd.nextInt(Regions.size)),
      1 + rnd.nextInt(20), 100 + rnd.nextInt(100000))
  }

  /** The seeded statement stream and its CSV inputs (file name → lines). */
  def stream(seed: Long): (Seq[Stmt], Map[String, Seq[(String, Row)]]) = {
    val rnd = new scala.util.Random(seed)
    val files = mutable.LinkedHashMap.empty[String, Seq[(String, Row)]]
    val stmts = mutable.ArrayBuffer.empty[Stmt]
    var state: State = Map.empty
    var nextId = 1L
    def fresh(n: Int): Seq[Row] = (1 to n).map { _ => val r = row(rnd, nextId); nextId += 1; r }
    def emit(st: Stmt): Unit = {
      stmts += st
      if (Writes.contains(st.kind) || st.kind == "ctas")
        state = if (st.kind == "ctas") files(st.file).map { case (_, r) => r.id -> r }.toMap
                else applyWrite(state, st, files.getOrElse(st.file, Nil))
    }
    /** A live id, skewed toward low ids: P(rank k) ~ 1/k. */
    def zipf(ids: IndexedSeq[Long]): Long =
      ids(math.min(ids.size - 1, (math.exp(rnd.nextDouble() * math.log(ids.size + 1.0)) - 1).toInt))
    files("base.csv") = fresh(BaseRows).map("I" -> _)
    emit(Stmt("ctas", Nil, "base.csv"))
    Writes.indices.foreach { step =>
      val ids = state.keys.toIndexedSeq.sorted
      Writes(step) match {
        case "merge" =>
          val touched = Seq.fill(60)(zipf(ids)).distinct
          val f = s"cdc-$step.csv"
          files(f) = touched.map(k => (if (rnd.nextInt(4) == 0) "D" else "U") -> row(rnd, k)) ++
            fresh(20).map("I" -> _)
          emit(Stmt("merge", Nil, f))
        case "update" =>
          val lo = ids(rnd.nextInt(ids.size - 100))
          emit(Stmt("update", Seq(lo, lo + 50)))
        case "delete" =>
          emit(Stmt("delete", Seq.fill(20)(ids(rnd.nextInt(ids.size))).distinct.sorted))
      }
      val live = state.keys.toIndexedSeq.sorted
      val point = if (rnd.nextInt(5) == 0) nextId + 1000 else live(rnd.nextInt(live.size))
      val lo = live(rnd.nextInt(live.size - 300))
      // reads alternate between the tables, so each kind meets both.
      // With the deletes and vacuums they are 16 of the pass's 25 ops:
      // its median and tail fall among them, not in the gap up to the
      // writes, where one op more or less on either side moves them far
      emit(Stmt("point", Seq(point)))
      emit(Stmt("range", Seq(lo, lo + 200)))
      emit(Stmt("kpi", Nil))
      emit(Stmt("asof", Seq(rnd.nextInt(1 << 20).toLong)))
      emit(Stmt("manifest", Nil))
      if (step == Writes.size - 1) {
        emit(Stmt("sync", Nil))
        emit(Stmt("compact", Nil))
        emit(Stmt("vacuum", Nil))
        emit(Stmt("feed", Seq(rnd.nextInt(1 << 20).toLong)))
      }
    }
    (stmts.toSeq, files.toMap)
  }

  def generate(seed: Long, dir: Path): Unit = {
    val (stmts, files) = stream(seed)
    files.foreach { case (f, rows) =>
      Files.writeString(dir.resolve(f),
        rows.map { case (op, r) => s"$op,${r.csv}" }.mkString(s"op,$Columns\n", "\n", "\n"))
    }
    Files.writeString(dir.resolve("statements.tsv"), stmts.map(_.line).mkString("", "\n", "\n"))
  }

  private def readStream(dir: Path): (Seq[Stmt], Map[String, Seq[(String, Row)]]) = {
    val stmts = Files.readAllLines(dir.resolve("statements.tsv")).asScala.toSeq.map { l =>
      val f = l.split("\t", -1)
      Stmt(f(0), f.drop(2).filter(_.nonEmpty).map(_.toLong).toSeq, f(1))
    }
    val files = stmts.map(_.file).filter(_.nonEmpty).distinct.map { f =>
      f -> Files.readAllLines(dir.resolve(f)).asScala.toSeq.drop(1).map { l =>
        val c = l.split(",", -1)
        c(0) -> Row(c(1).toLong, c(2), c(3), c(4), c(5).toLong, c(6).toLong)
      }
    }.toMap
    (stmts, files)
  }

  private val catalogs = new AtomicLong

  private def masked(r: Row): Row = r.copy(email = s"${r.name.take(1).toLowerCase}***@example.com")

  /** Number of change-feed rows between two states: one per insert or
    * delete, two (pre and post image) per changed row.
    */
  private def feedRows(a: State, b: State): Long =
    (a.keySet ++ b.keySet).iterator.map { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(_)) | (Some(_), None) => 1L
        case (Some(x), Some(y)) if x != y => 2L
        case _ => 0L
      }
    }.sum

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def pass(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    val (ops, tracer) = (ctx.ops, ctx.tracer)
    val (stmts, files) = readStream(ctx.inputs)
    val cat = s"perfbench${catalogs.incrementAndGet()}"
    val wh = ctx.dir.resolve("warehouse")
    val consumption = ctx.dir.resolve("consumption").toString
    ops.untimed {
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", wh.toString)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
      files.keys.foreach { f =>
        spark.read.schema(s"op STRING, $Schema").option("header", "true")
          .csv(ctx.inputs.resolve(f).toString)
          .createOrReplaceTempView(f.stripSuffix(".csv").replace('-', '_'))
      }
    }
    def table(m: String) = s"$cat.ns.$m"
    def root(m: String) = wh.resolve("ns").resolve(m).toString
    def view(f: String) = f.stripSuffix(".csv").replace('-', '_')
    val cols = Columns.split(",").toSeq

    var state: State = Map.empty
    /** Model state per committed version, per mode. */
    val history = Modes.map(_ -> mutable.LinkedHashMap.empty[Long, State]).toMap
    var bucketsRewritten = 0L
    var bytesWritten = 0L
    val seenFiles = mutable.Set.empty[String]
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)

    def latest(m: String): Long = SnapshotStore.latestVersion(spark, root(m)).get
    def buckets(m: String): Map[Int, String] =
      SnapshotStore.readManifest(spark, root(m), latest(m)).buckets.map { case (b, e) => b -> e.dir }

    def checkTable(m: String): Option[String] = {
      history(m)(latest(m)) = state
      Check.expectDigest(s"${table(m)} contents", Check.digestOf(spark.table(table(m)).select(cols.map(col): _*)),
        Check.digest(state.values.map(_.cells)))
    }

    def newBytes(): Long = {
      val s = Files.walk(wh)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        if (seenFiles.add(p.toString)) Files.size(p) else 0L
      }.sum finally s.close()
    }

    /** Runs one write on both tables, each checked against the model. */
    def write(kind: String, sql: String => String, next: State): Unit = {
      Modes.foreach { m =>
        val before = if (kind == "ctas") Map.empty[Int, String] else ops.untimed(buckets(m))
        ops.op(s"$kind.$m", "write") {
          tracer.span(s"connector.$kind.$m")(spark.sql(sql(table(m))).collect())
        } { _ =>
          val after = buckets(m)
          bucketsRewritten += after.count { case (b, d) => !before.get(b).contains(d) }
          bytesWritten += newBytes()
          state = next
          checkTable(m)
        }
      }
    }

    def read(kind: String, m: String, family: String, df: => DataFrame, want: Seq[Seq[Any]]): Unit =
      ops.op(s"$kind.$m", "read", family) {
        tracer.span(s"connector.$kind.$m") {
          val d = df
          tracer.span("sink.noop")(Sink.run(d))
        }
      }(got => Check.expectDigest(s"$kind.$m", got.digest, Check.digest(want)))

    def aggregate(s: Iterable[Row]): Seq[Seq[Any]] =
      s.groupBy(_.region).toSeq.map { case (g, rs) => Seq(g, rs.size.toLong, rs.map(_.cents).sum) }

    stmts.foreach { st =>
      // reads alternate between the tables, so each mode gets every read kind
      val m = Modes(seen(st.kind) % Modes.size)
      seen(st.kind) += 1
      st.kind match {
        case "ctas" =>
          val next = files(st.file).map { case (_, r) => r.id -> r }.toMap
          write("ctas", t => s"CREATE TABLE $t USING graft TBLPROPERTIES ('keys'='id', " +
            s"'numBuckets'='$Buckets', 'statsCols'='id,cents'" +
            (if (t.endsWith(".delta")) ", 'dml.mode'='delta'" else "") +
            s") AS SELECT ${cols.mkString(", ")} FROM ${view(st.file)}", next)
        case "merge" =>
          write("merge", t => s"MERGE INTO $t t USING ${view(st.file)} s ON t.id = s.id " +
            "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
            s"WHEN MATCHED THEN UPDATE SET ${cols.tail.map(c => s"$c = s.$c").mkString(", ")} " +
            s"WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (${cols.mkString(", ")}) " +
            s"VALUES (${cols.map("s." + _).mkString(", ")})", applyWrite(state, st, files(st.file)))
        case "update" =>
          val Seq(lo, hi) = st.args
          write("update", t => s"UPDATE $t SET qty = qty + 1, cents = cents + 7 WHERE id BETWEEN $lo AND $hi",
            applyWrite(state, st, Nil))
        case "delete" =>
          write("delete", t => s"DELETE FROM $t WHERE id IN (${st.args.mkString(", ")})",
            applyWrite(state, st, Nil))
        case "point" =>
          val k = st.args.head
          read("point", m, "", spark.sql(s"SELECT ${cols.mkString(", ")} FROM ${table(m)} WHERE id = $k"),
            state.get(k).map(_.cells).toSeq)
        case "range" =>
          val Seq(lo, hi) = st.args
          read("range", m, "", spark.sql(s"SELECT region, count(*) AS n, sum(cents) AS cents " +
            s"FROM ${table(m)} WHERE id BETWEEN $lo AND $hi GROUP BY region"),
            aggregate(state.values.filter(r => r.id >= lo && r.id <= hi)))
        case "kpi" =>
          read("kpi", m, "kpi", spark.sql(s"SELECT region, count(*) AS n, sum(cents) AS cents " +
            s"FROM ${table(m)} GROUP BY region"), aggregate(state.values))
        case "asof" =>
          val versions = history(m).keys.toIndexedSeq.takeRight(KeepVersions)
          val v = versions((st.args.head % versions.size).toInt)
          val s = history(m)(v)
          read("asof", m, "", spark.sql(s"SELECT count(*) AS n, sum(cents) AS cents " +
            s"FROM ${table(m)} VERSION AS OF $v"), Seq(Seq(s.size.toLong, s.values.map(_.cents).sum)))
        case "manifest" =>
          // a per-layer probe of metadata I/O, not an op
          ops.untimed(tracer.span("store.manifest")(SnapshotStore.readManifest(spark, root(m), latest(m))))
        case "sync" =>
          ops.op("sync", "write") {
            tracer.span("store.sync")(ChangeFeed.syncDerived(spark, root("cow"), consumption, "masked",
              Seq("id"), Buckets, df => df.withColumn("email", graft.functions.Funcs.maskEmail(col("name")))))
          } { _ =>
            Check.expectDigest("consumption", Check.digestOf(
              spark.read.format("graft").load(consumption).select(cols.map(col): _*)),
              Check.digest(state.values.map(r => masked(r).cells)))
          }
        case "compact" =>
          // the delta table's DELETEs leave merge-on-read tombstones to fold
          ops.op("compact.delta", "maintain") {
            tracer.span("store.compact")(SnapshotStore.compact(spark, root("delta")))
          }(_ => checkTable("delta"))
        case "vacuum" =>
          Modes.foreach { mm =>
            ops.op(s"vacuum.$mm", "maintain") {
              tracer.span("store.vacuum")(SnapshotStore.vacuum(spark, root(mm), keepLast = KeepVersions, minAgeMs = 0L))
            } { _ =>
              val kept = SnapshotStore.versions(spark, root(mm)).toSet
              history(mm).keys.filterNot(kept).toSeq.foreach(history(mm).remove)
              checkTable(mm)
            }
          }
        case "feed" =>
          val known = history("cow").keys.toIndexedSeq
          val span = math.min(6, known.size - 1)
          val to = known.last
          val from = known(known.size - 1 - span)
          val want = known.takeRight(span + 1).sliding(2).map { case Seq(a, b) =>
            feedRows(history("cow")(a), history("cow")(b)) }.sum
          ops.op("feed", "read") {
            tracer.span("store.feed")(tracer.span("sink.noop")(
              Sink.run(ChangeFeed.readChanges(spark, root("cow"), Seq("id"), from, to))))
          }(got => Ops.expect("feed rows", got.rows, want))
      }
    }

    // per-layer readings, for traced passes only
    if (tracer.enabled) ops.untimed {
      val plain = ctx.dir.resolve("plain")
      spark.table(table("cow")).write.parquet(plain.toString)
      val plainBytes = dirBytes(plain)
      val diskBytes = Modes.map(m => dirBytes(java.nio.file.Paths.get(root(m)))).sum
      val live = Modes.map { m =>
        SnapshotStore.readManifest(spark, root(m), latest(m)).buckets.values.map { e =>
          val d = new org.apache.hadoop.fs.Path(root(m), e.dir)
          val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet")).toLong
        }.sum
      }.sum
      ctx.extra ++= Map(
        "space_amp" -> diskBytes.toDouble / (Modes.size * plainBytes),
        "store.versions" -> Modes.map(m => SnapshotStore.versions(spark, root(m)).size).sum.toDouble,
        "store.files_live" -> live.toDouble,
        "store.disk_mb" -> diskBytes / 1048576.0,
        "store.write_amp" -> bytesWritten.toDouble / (Modes.size * plainBytes),
        "store.buckets_rewritten" -> bucketsRewritten.toDouble)
    }
  }
}
