package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and writes the result object.
  *
  * Load model: one process, one closed-loop client (each op waits for
  * the previous one), Spark as `local[2]` with 2 shuffle partitions.
  *
  * Untraced run: set-up (session start and seeded input generation) is
  * repeated [[SetupRounds]] times and `setup_s` is the median. Then
  * whole passes run, at least one and more while the next fits in the
  * time, and the end-to-end metrics are computed over their ops; the
  * first pass is the op list's first run in the JVM, as a job started
  * per run meets it. Every timing has the hypervisor's steal taken out
  * ([[Host]]). Traced run: one set-up, then an untraced, a traced and
  * an untraced pass; listeners, spans and the counting file system are
  * on only in the traced pass.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --bench DIR --work DIR --out FILE
  *        Main --record-query-suite FILE --bench DIR --work DIR
  *        Main --train 1 --bench DIR --work DIR
  */
object Main {
  /** Half the box's 4 cores: other tenants' load then lands on idle
    * cores instead of on the benchmark's critical path.
    */
  val Cores = 2
  val SetupRounds = 7

  def session(work: Path, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.default.parallelism", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("spark-checkpoints").toString)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def gc(): Unit = System.gc()

  private def liveHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** One finished pass. `time` covers the whole pass, the benchmark's
    * own untimed work included; `passS` is the sum of its op latencies.
    */
  final case class PassResult(traced: Boolean, time: Host.Reading, untimedS: Double,
                              ops: Seq[OpSample], layer: Map[String, Double]) {
    def passS: Double = ops.map(_.ms).sum / 1e3
    def wallPassS: Double = time.wallS - untimedS
  }

  /** Exits explicitly: Spark leaves non-daemon threads behind. */
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bench = Paths.get(opts("bench")).toAbsolutePath
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    if (opts.contains("train")) train(bench, work)
    else opts.get("record-query-suite") match {
      case Some(out) => recordQuerySuite(bench, work, Paths.get(out))
      case None =>
        val wl = Workload.byName(opts("workload")).getOrElse(
          throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
        val result = run(wl, opts("seed").toLong, opts("seconds").toDouble,
          opts("trace") == "1", bench, work)
        Files.writeString(Paths.get(opts("out")), Json.writeValueAsString(result) + "\n")
    }
  }

  def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
          bench: Path, work: Path): Map[String, Any] = {
    val load0 = Host.loadavg()
    val tracer = new Tracer(false)
    val all = mutable.ArrayBuffer.empty[OpSample]
    var passNo = 0
    var spark: SparkSession = null
    var inputs: Path = null

    def runPass(traceThis: Boolean, listeners: Option[Listeners]): PassResult = {
      val dir = work.resolve(s"pass-$passNo")
      passNo += 1
      deleteTree(dir)
      Files.createDirectories(dir)
      val ops = new Ops(tracer)
      val ctx = new PassCtx(spark, seed, inputs, bench, dir, ops, tracer)
      gc()
      listeners.foreach(l => if (traceThis) { l.enable(); l.take(Nil) } else l.disable())
      tracer.enabled = traceThis
      tracer.drain()
      val fs0 = FsCounters.now()
      val time = Host.timed(wl.pass(ctx))._2
      val fs1 = FsCounters.now()
      tracer.enabled = false
      val spans = tracer.drain()
      val counters = listeners.filter(_ => traceThis).map(_.take(ops.untimedMs.toSeq))
      // the live heap is a per-layer reading: a traced pass only
      val heap = if (traceThis) { gc(); liveHeapMb() } else 0.0
      all ++= ops.samples
      val layer = counters.fold(Map.empty[String, Double])(c =>
        LayerMetrics.of(time, ops, spans, c, fs1 - fs0 - ops.untimedFs, heap, ctx.extra.toMap))
      deleteTree(dir)
      PassResult(traceThis, time, ops.untimedNs / 1e9, ops.samples.toSeq, layer)
    }

    // the previous round's session is stopped and garbage collected
    // outside the timed window: set-up is session start and generation
    def setUp(round: Int): Host.Reading = {
      if (spark != null) { spark.stop(); gc() }
      setUpTimed(round)
    }
    def setUpTimed(round: Int): Host.Reading = Host.timed {
      spark = session(work, traced)
      inputs = work.resolve(s"inputs-$round")
      deleteTree(inputs)
      Files.createDirectories(inputs)
      wl.generate(seed, inputs)
    }._2

    // wall seconds of each phase of the run, for the summary line
    val phases = mutable.LinkedHashMap("jvm" ->
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    if (traced) org.apache.hadoop.fs.FileSystem.closeAll()
    val setups = (1 to (if (traced) 1 else SetupRounds)).map(setUp)
    phase("setup")
    val listeners = if (traced) Some(new Listeners(spark)) else None
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run brackets its traced pass with untraced ones, for the
    // tracing overhead
    val minPasses = if (traced) 3 else 1
    while (passes.size < minPasses ||
      elapsed + Stats.median(passes.map(_.time.wallS).toSeq) <= seconds) {
      passes += runPass(traceThis = traced && passes.size % 2 == 1, listeners)
    }
    phase("passes")
    val load1 = Host.loadavg()
    spark.stop()
    phase("stop")

    val attempted = all.size
    val failed = all.count(!_.ok)
    val measured = passes.filterNot(_.traced).toSeq
    val tracedPasses = passes.filter(_.traced).toSeq
    val tailN = measured.map(_.ops.size).sum
    val tailP = Stats.tailPercentile(tailN)
    val metrics: Map[String, Double] =
      if (!traced) EndToEnd.of(setups.map(_.steadyS), measured, tailP)
      else {
        // the untraced pass right after a traced one has its warmth,
        // which the first pass, the op list's first
        // run, does not
        val overhead = passes.indices.filter(i => passes(i).traced && i + 1 < passes.size)
          .map(i => passes(i).passS - passes(i + 1).passS)
        LayerMetrics.median(tracedPasses.map(_.layer)) +
          ("trace.overhead_s" -> Stats.median(overhead))
      }
    val units = if (traced) LayerMetrics.Units else EndToEnd.Units
    System.err.println(f"[perfbench] ${wl.name} seed=$seed traced=$traced passes=${passes.size} " +
      f"ops=$attempted failed=$failed loadavg=$load0%.2f→$load1%.2f ext_cores=" +
      passes.map(p => f"${p.time.extCores}%.2f").mkString(",") + " steal_cores=" +
      passes.map(p => f"${p.time.stealCores}%.2f").mkString(",") +
      f" setup_s=${setups.map(s => f"${s.steadyS}%.2f").mkString(",")} pass_s=" +
      passes.map(p => f"${p.passS}%.2f").mkString(",") + " wall_pass_s=" +
      passes.map(p => f"${p.wallPassS}%.2f").mkString(",") + " untimed_s=" +
      passes.map(p => f"${p.untimedS}%.2f").mkString(",") + s" tail=p$tailP of $tailN phases_s=" +
      phases.map { case (n, v) => f"$n:$v%.1f" }.mkString(","))
    Files.writeString(work.resolve("detail.json"), Json.writeValueAsString(Map(
      "workload" -> wl.name, "seed" -> seed, "traced" -> traced,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "setup_s" -> setups.map(_.steadyS), "setup_wall_s" -> setups.map(_.wallS),
      "tail_percentile" -> tailP, "tail_samples" -> tailN, "phases_s" -> phases.toMap,
      "passes" -> passes.map(p => Map("traced" -> p.traced, "pass_s" -> p.passS,
        "wall_pass_s" -> p.wallPassS, "ext_cores" -> p.time.extCores, "steal_cores" -> p.time.stealCores,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "kind" -> o.kind, "ms" -> o.ms,
          "wall_ms" -> o.wallMs, "cpu_ms" -> o.time.procS * 1e3, "busy_ms" -> o.time.busyS * 1e3,
          "steal_ms" -> o.time.stealS * 1e3, "ok" -> o.ok)),
        "layer" -> p.layer)))) + "\n")
    Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> units.map { case (n, u) =>
        n -> Map("value" -> metrics.getOrElse(n, 0.0), "unit" -> u)
      }.toMap)
  }

  /** JSON writer for the result and detail files. */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Runs every workload's set-up and one pass in one JVM, so that the
    * class-data sharing archive written at its exit holds the classes
    * the runs load. Results are not checked or reported.
    */
  private def train(bench: Path, work: Path): Unit = Workload.All.foreach { wl =>
    val dir = work.resolve(wl.name)
    val spark = session(dir, traced = false)
    val inputs = Files.createDirectories(dir.resolve("inputs"))
    wl.generate(0, inputs)
    val tracer = new Tracer(false)
    wl.pass(new PassCtx(spark, 0, inputs, bench, Files.createDirectories(dir.resolve("pass")),
      new Ops(tracer), tracer))
    spark.stop()
  }

  private def recordQuerySuite(bench: Path, work: Path, out: Path): Unit = {
    val spark = session(work, traced = false)
    val rows = QuerySuite.record(spark, bench.resolve(QuerySuite.DataDir).toString, 3)
    spark.stop()
    val lines = rows.map { case (k, n, h) => s"$k\t$n\t${h.fold("-")(_.toString)}" }
    Files.writeString(out, (QuerySuite.ExpectedHeader +: lines).mkString("", "\n", "\n"))
  }
}
