package graftbench

/** The end-to-end metrics of an untraced run. */
object EndToEnd {
  val Units: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_ms_p50" -> "ms", "op_ms_tail" -> "ms",
    "op_ms_geomean" -> "ms", "read_ms_geomean" -> "ms")

  def of(setups: Seq[Double], passes: Seq[Main.PassResult], tailP: Double): Map[String, Double] = {
    val ops = passes.flatMap(_.ops)
    val ms = ops.map(_.ms)
    Map(
      "setup_s" -> Stats.median(setups),
      "pass_s" -> Stats.median(passes.map(_.passS)),
      "op_ms_p50" -> Stats.median(ms),
      "op_ms_tail" -> Stats.percentile(ms, tailP),
      "op_ms_geomean" -> Stats.geomean(ms),
      "read_ms_geomean" -> Stats.geomean(ops.filter(_.kind == "read").map(_.ms)))
  }
}

/** The per-layer metrics of a traced run, one value per traced pass;
  * the run reports each one's median. A metric of a layer the workload
  * never calls reads 0.
  */
object LayerMetrics {
  private val connectorOps = Seq("ctas", "merge", "update", "delete", "point", "range", "asof")
  private val storeSpans = Seq("sync", "feed", "compact", "vacuum", "manifest")
  private val streamDurations = Seq("add_batch" -> "addBatch", "query_planning" -> "queryPlanning",
    "wal_commit" -> "walCommit", "latest_offset" -> "latestOffset", "commit_offsets" -> "commitOffsets")
  val SelfLayers: Seq[String] = Seq("pipeline", "streaming", "connector", "store", "queries",
    "sink", "spark", "bench")

  val Units: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.job_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB") ++
    Modules.All.flatMap(m => Seq(s"jobs.$m" -> "count", s"job_s.$m" -> "s")) ++
    Seq("driver.gap_s" -> "s", "catalyst.plan_ms" -> "ms",
      "fs.read_mb" -> "MB", "fs.write_mb" -> "MB", "fs.read_ops" -> "count",
      "fs.write_ops" -> "count", "fs.list_ops" -> "count", "jvm.live_heap_mb" -> "MB",
      "host.ext_cores" -> "cores", "host.steal_cores" -> "cores",
      "pipeline.backfill_ms" -> "ms", "pipeline.incremental_ms" -> "ms", "pipeline.facts_ms" -> "ms") ++
    streamDurations.map { case (n, _) => s"streaming.${n}_ms" -> "ms" } ++
    Seq("streaming.triggers" -> "count", "streaming.input_rows" -> "count",
      "streaming.buckets_rewritten" -> "count", "streaming.write_amp" -> "ratio",
      "sources.stage_rows" -> "count", "pipeline.quarantined_rows" -> "count") ++
    connectorOps.flatMap(o => Seq("cow", "delta").map(m => s"connector.${o}_ms.$m" -> "ms")) ++
    storeSpans.map(s => s"store.${s}_ms" -> "ms") ++
    Seq("store.versions" -> "count", "store.files_live" -> "count", "store.disk_mb" -> "MB",
      "store.write_amp" -> "ratio", "store.buckets_rewritten" -> "count",
      "scan.buckets_read" -> "count", "scan.buckets_pruned" -> "count") ++
    QuerySuite.TracedKeys.map(k => s"key.${k}_ms" -> "ms") ++
    SelfLayers.map(l => s"self_s.$l" -> "s") ++
    Seq("trace.overhead_s" -> "s", "write_ms_geomean" -> "ms", "backfill_s" -> "s",
      "space_amp" -> "ratio", "kpi_ms_geomean" -> "ms", "dedup_ms_geomean" -> "ms", "text_ms_geomean" -> "ms",
      "vector_ms_geomean" -> "ms")

  def of(time: Host.Reading, ops: Ops, spans: Seq[Span], c: Counters, fs: FsCounters,
         heapMb: Double, extra: Map[String, Double]): Map[String, Double] = {
    val mb = 1048576.0
    val byName = Trace.totalByNameNs(spans).map { case (n, ns) => n -> ns / 1e6 }
    val self = Trace.selfByLayerNs(spans)
    val timedS = time.wallS - ops.untimedNs / 1e9
    val jobUnionS = Trace.unionNs(c.jobIntervalsMs) / 1e3
    val samples = ops.samples.toSeq
    def geo(f: OpSample => Boolean) = {
      val xs = samples.filter(f).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.geomean(xs)
    }
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.job_s" -> jobUnionS,
      "spark.task_cpu_s" -> c.taskCpuNs / 1e9, "spark.gc_s" -> c.gcMs / 1e3,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / mb,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / mb, "spark.spill_mb" -> c.spillBytes / mb,
      "driver.gap_s" -> (timedS - jobUnionS), "catalyst.plan_ms" -> c.planNs / 1e6,
      "fs.read_mb" -> fs.readBytes / mb, "fs.write_mb" -> fs.writeBytes / mb,
      "fs.read_ops" -> fs.readOps.toDouble, "fs.write_ops" -> fs.writeOps.toDouble,
      "fs.list_ops" -> fs.listOps.toDouble, "jvm.live_heap_mb" -> heapMb,
      "host.ext_cores" -> time.extCores, "host.steal_cores" -> time.stealCores,
      "pipeline.backfill_ms" -> byName.getOrElse("pipeline.backfill", 0.0),
      "pipeline.incremental_ms" -> byName.getOrElse("pipeline.incremental", 0.0),
      "pipeline.facts_ms" -> byName.getOrElse("pipeline.facts", 0.0),
      "streaming.triggers" -> c.triggers.toDouble,
      "streaming.input_rows" -> c.streamInputRows.toDouble,
      "scan.buckets_read" -> c.bucketsRead.toDouble,
      "scan.buckets_pruned" -> c.bucketsPruned.toDouble,
      "write_ms_geomean" -> geo(_.kind == "write"),
      "backfill_s" -> samples.filter(_.name == "backfill").map(_.ms / 1e3).sum,
      "kpi_ms_geomean" -> geo(_.family == "kpi"),
      "dedup_ms_geomean" -> geo(_.family == "dedup"),
      "text_ms_geomean" -> geo(_.family == "text"),
      "vector_ms_geomean" -> geo(_.family == "vector")) ++
      Modules.All.flatMap(m => Seq(s"jobs.$m" -> c.jobsByModule.getOrElse(m, 0L).toDouble,
        s"job_s.$m" -> c.jobMsByModule.getOrElse(m, 0L) / 1e3)) ++
      streamDurations.map { case (n, k) => s"streaming.${n}_ms" -> c.streamDurationMs.getOrElse(k, 0L).toDouble } ++
      connectorOps.flatMap(o => Seq("cow", "delta").map(m =>
        s"connector.${o}_ms.$m" -> byName.getOrElse(s"connector.$o.$m", 0.0))) ++
      storeSpans.map(s => s"store.${s}_ms" -> byName.getOrElse(s"store.$s", 0.0)) ++
      QuerySuite.TracedKeys.map(k => s"key.${k}_ms" -> byName.getOrElse(s"queries.$k", 0.0)) ++
      SelfLayers.map(l => s"self_s.$l" -> self.getOrElse(l, 0L) / 1e9) ++
      extra
  }

  def median(passes: Seq[Map[String, Double]]): Map[String, Double] =
    Units.map { case (n, _) => n -> Stats.median(passes.map(_.getOrElse(n, 0.0))) }.toMap
}
