package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CollectMetrics, LogicalPlan, Project}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def generated(w: Workload, seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory(s"perfbench-${w.name}")
    w.generate(seed, dir)
    files(dir)
  }

  test("the same seed generates byte-identical inputs and statement streams") {
    Workload.All.foreach { w =>
      val a = generated(w, 17)
      assert(a.nonEmpty, w.name)
      assert(a == generated(w, 17), s"${w.name}: seed 17 generated different bytes")
      // query_suite runs its kernels in one fixed order whatever the seed
      if (w == QuerySuite) assert(a == generated(w, 18), "query_suite: the seed changed its inputs")
      else assert(a != generated(w, 18), s"${w.name}: seeds 17 and 18 generated the same bytes")
    }
  }

  test("every seed gives a pass the same number of ops") {
    assert((1L to 5L).map(TableDml.opsOf).distinct == Seq(TableDml.opsPerPass))
    assert((1L to 5L).map(EltPipeline.plan(_).size).distinct == Seq(1 + EltPipeline.Ticks))
  }

  test("the timed plan keeps its projections and is never a bare count") {
    val plans = mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans += qe.optimizedPlan
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = spark.range(100).select(col("id"), (col("id") * 2).as("twice"),
        sha2(col("id").cast("string"), 256).as("digest"),
        row_number().over(Window.partitionBy(col("id") % 3).orderBy(col("id"))).as("rank"))
      val r = Sink.run(df)
      assert(r.rows == 100)
      val (rows, hash) = Check.digestOf(df)
      assert((rows, hash) == r.digest, "the sink and the check hash differently")
    } finally {
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val timed = plans.find(_.exists(_.isInstanceOf[CollectMetrics])).getOrElse(fail("no observed plan"))
    val observed = timed.collectFirst { case c: CollectMetrics => c }.get
    assert(observed.child.output.size == 4, "a projection was pruned from the timed plan")
    assert(!timed.exists {
      case a: Aggregate => a.child match {
        case p: Project => p.projectList.isEmpty
        case _ => false
      }
      case _ => false
    }, "the timed plan is an aggregate over an empty projection")
  }

  test("the driver-side digest equals Spark's hash of the same rows") {
    import spark.implicits._
    val rows = Seq((1L, "a", 3, true, java.time.LocalDate.of(2024, 2, 29)),
      (-7L, null, 0, false, java.time.LocalDate.of(1970, 1, 1)))
    val df = rows.toDF("l", "s", "i", "b", "d")
    assert(Check.digestOf(df) == Check.digest(rows.map(r => r.productIterator.toSeq)))
    val both = Check.digestsOf(Seq("all" -> df, "none" -> df.where("false")))
    assert(both == Map("all" -> Check.digestOf(df), "none" -> ((0L, 0L))))
  }

  test("self time is a span's duration minus what its children cover") {
    val spans = Seq(
      Span(0, -1, 0, "connector.merge", 0, 100),
      Span(1, 0, 0, "store.commit", 10, 40),
      Span(2, 0, 0, "sink.noop", 30, 70),
      Span(3, 1, 0, "store.footer", 15, 20),
      Span(4, -1, 1, "bench.untimed", 100, 130))
    val self = Trace.selfNs(spans)
    assert(self == Map(0 -> 40L, 1 -> 25L, 2 -> 40L, 3 -> 5L, 4 -> 30L))
    assert(Trace.selfByLayerNs(spans) == Map("connector" -> 40L, "store" -> 30L, "sink" -> 40L, "bench" -> 30L))
    assert(Trace.unionNs(Seq((0L, 10L), (5L, 20L), (30L, 35L))) == 25L)
  }

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(10000) == 99.9)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(36) == 70.0)
    assert(Stats.tailPercentile(23) == 55.0)
    assert(Stats.tailPercentile(20) == 50.0)
    // too few samples for any ladder percentile: the slowest op
    assert(Stats.tailPercentile(13) == 100.0)
    assert(Stats.tailPercentile(8) == 100.0)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("steal is taken out of a timing in proportion to the JVM's share of the CPU") {
    // 10 s of wall time, 20 s of JVM CPU, 5 s stolen, nothing else running
    val alone = Host.Reading(wallS = 10, procS = 20, busyS = 20, stealS = 5)
    assert(math.abs(alone.steadyS - 8.0) < 1e-9)
    // another process ran as much CPU as the JVM: half the steal is the JVM's
    val shared = Host.Reading(wallS = 10, procS = 20, busyS = 40, stealS = 5)
    assert(math.abs(shared.steadyS - 10.0 * 20 / 22.5) < 1e-9)
    assert(Host.Reading(wallS = 10, procS = 20, busyS = 20, stealS = 0).steadyS == 10.0)
    assert(math.abs(alone.stealCores - 0.5) < 1e-9)
  }

  test("jobs are attributed to the innermost graft module on their call site") {
    assert(Modules.of("graft.store.SnapshotStore$.commit(SnapshotStore.scala:1)\n" +
      "graft.connector.GraftWrite.x(GraftWrite.scala:2)") == "store")
    assert(Modules.of("java.lang.Thread.run(Thread.java:1)\ngraftbench.Sink$.run(Sink.scala:3)") == "bench")
    assert(Modules.of("graft.Queries$.q18(Queries.scala:9)") == "queries")
    assert(Modules.of("java.lang.Thread.run(Thread.java:1)") == "other")
  }

  test("BENCHMARK.json lists exactly the metrics a run reports") {
    val root = Paths.get(sys.props("user.dir")).getParent
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(root.resolve("BENCHMARK.json").toFile)
    def names(key: String) = json.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(names("end_to_end") == EndToEnd.Units)
    assert(names("per_layer") == LayerMetrics.Units)
  }
}
