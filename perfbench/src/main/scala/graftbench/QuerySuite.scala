package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Eight of the `SparkEntry.queries` operator kernels over read-only
  * inputs, each forced through [[Sink]], measured on their first run in
  * the JVM. They run in one fixed order whatever the seed: a first run's
  * compilation depends on which kernels ran before it, so a seeded order
  * moved the median op from seed to seed by a quarter. Results are
  * checked against the row counts and hashes recorded in
  * `expected/query_suite.tsv`.
  */
object QuerySuite extends Workload {
  val name = "query_suite"

  /** Operator kernels ROADMAP item 1 names as first targets (t04, t10,
    * t12, k02, s06, d10, q34) plus q33, so that the kpi family has two
    * keys, in the order they run. d04, d07, s07 and q21 are left out for
    * the time budget: their first runs cost 1-9 s each (see the README).
    */
  def keys: Seq[String] = TracedKeys.sorted

  def opsPerPass: Int = keys.size

  def family(key: String): String = key.head match {
    case 'q' => "kpi"
    case 'd' => "dedup"
    case 't' | 'f' => "text"
    case 's' => "vector"
    case _ => ""
  }

  /** Keys whose per-layer time the traced run reports on its own. */
  val TracedKeys: Seq[String] = Seq("t04_fingerprint", "d10_semantic_dedup", "t10_repetition",
    "t12_doc_freq_score", "k02_heavy_hitters", "s06_ann_pq", "q34_salted_join", "q33_window_suite")

  /** The read-only inputs, under the benchmark's directory. */
  val DataDir = "data/sf0.01"
  val ExpectedFile = "expected/query_suite.tsv"
  val ExpectedHeader = "# key\trows\thash (- = row count only), recorded with `python3 perfbench/run.py --record-query-suite`"

  /** Recorded result of one key: `hash` is None where only the row count is checked. */
  final case class Expected(rows: Long, hash: Option[Long])

  /** The inputs are the committed data; the op list is [[keys]]. */
  def generate(seed: Long, dir: Path): Unit =
    Files.write(dir.resolve("order.txt"), keys.asJava)

  private var expectedCache: Map[String, Expected] = null

  def expected(file: Path): Map[String, Expected] = {
    if (expectedCache == null)
      expectedCache = Files.readAllLines(file).asScala.toSeq
        .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
          val f = l.split("\t")
          f(0) -> Expected(f(1).toLong, if (f(2) == "-") None else Some(f(2).toLong))
        }.toMap
    expectedCache
  }

  def pass(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    val data = ctx.bench.resolve(DataDir).toString
    val want = expected(ctx.bench.resolve(ExpectedFile))
    Files.readAllLines(ctx.inputs.resolve("order.txt")).asScala.foreach { key =>
      val fn = graft.SparkEntry.queries(key)
      ctx.ops.op(key, "read", family(key)) {
        ctx.tracer.span(s"queries.$key") {
          val df = fn(spark, data)
          ctx.tracer.span("sink.noop")(Sink.run(df))
        }
      } { got =>
        want.get(key) match {
          case None => Some("no recorded result")
          case Some(Expected(rows, hash)) =>
            Ops.expect(s"$key rows", got.rows, rows)
              .orElse(hash.flatMap(h => Ops.expect(s"$key hash", got.hash, h)))
        }
      }
      ctx.ops.untimed {
        spark.catalog.clearCache()
        graft.Caching.unpersistAll()
      }
    }
  }

  /** Runs every key `times` times in one session and returns, per key,
    * the row count and the hash if every run agreed on it.
    */
  def record(spark: SparkSession, data: String, times: Int): Seq[(String, Long, Option[Long])] =
    keys.map { key =>
      val rs = (1 to times).map { _ =>
        val r = Sink.run(graft.SparkEntry.queries(key)(spark, data))
        spark.catalog.clearCache()
        graft.Caching.unpersistAll()
        r
      }
      require(rs.map(_.rows).distinct.size == 1, s"$key: row count differs between runs")
      (key, rs.head.rows, if (rs.map(_.hash).distinct.size == 1) Some(rs.head.hash) else None)
    }
}
