package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The graft module a Spark job was launched from, read off the job's
  * call site: the innermost `graft.*` frame names the module, a
  * `graftbench.*` frame means the benchmark's own code.
  */
object Modules {
  val All: Seq[String] = Seq("store", "connector", "streaming", "pipeline", "operators",
    "sources", "functions", "plans", "queries", "bench", "other")

  private val Packaged = Set("store", "connector", "streaming", "pipeline", "operators",
    "sources", "functions", "plans")

  def of(callSiteLong: String): String =
    callSiteLong.split("\n").iterator.map(_.trim).collectFirst {
      case f if f.startsWith("graftbench.") => "bench"
      case f if f.startsWith("graft.") =>
        val parts = f.split('.')
        if (parts.length > 2 && Packaged(parts(1))) parts(1)
        else if (parts.length > 2 && parts(1).head.isLower) "other"
        else "queries"
    }.getOrElse("other")
}

/** What the listeners saw during one pass. */
final class Events {
  /** (start ms, end ms, module, stage ids) per finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long, String, Seq[Int])]
  /** Task totals per stage: tasks, cpu ns, gc ms, shuffle write, shuffle read, spill bytes. */
  val stageTasks = mutable.Map.empty[Int, Array[Long]]
  /** (analysis start ms, planning ns, buckets read, buckets pruned) per SQL execution. */
  val queries = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  var triggers = 0L
  var streamInputRows = 0L
  val streamDurationMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** Per-pass Spark totals, leaving out the jobs and SQL executions that
  * started inside the benchmark's own untimed work.
  */
final case class Counters(jobs: Long, stages: Long, tasks: Long, jobIntervalsMs: Seq[(Long, Long)],
                          jobsByModule: Map[String, Long], jobMsByModule: Map[String, Long],
                          taskCpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                          shuffleReadBytes: Long, spillBytes: Long, planNs: Long,
                          bucketsRead: Long, bucketsPruned: Long, triggers: Long,
                          streamInputRows: Long, streamDurationMs: Map[String, Long])

object Counters {
  def of(e: Events, untimedMs: Seq[(Long, Long)]): Counters = {
    def untimed(t: Long) = untimedMs.exists { case (a, b) => t >= a && t <= b }
    val jobs = e.jobs.filterNot(j => untimed(j._1)).toSeq
    val stages = jobs.flatMap(_._4).distinct.filter(e.stageTasks.contains)
    def task(i: Int) = stages.map(s => e.stageTasks(s)(i)).sum
    val qs = e.queries.filterNot(q => untimed(q._1)).toSeq
    Counters(jobs.size, stages.size, task(0), jobs.map(j => (j._1, j._2)),
      jobs.groupBy(_._3).map { case (m, js) => m -> js.size.toLong },
      jobs.groupBy(_._3).map { case (m, js) => m -> js.map(j => j._2 - j._1).sum },
      task(1), task(2), task(3), task(4), task(5),
      qs.map(_._2).sum, qs.map(_._3).sum, qs.map(_._4).sum,
      e.triggers, e.streamInputRows, e.streamDurationMs.toMap)
  }
}

/** Registers the SparkListener, QueryExecutionListener and
  * StreamingQueryListener that fill [[Events]]. They are added and
  * removed as a unit, so untraced passes run without them.
  */
final class Listeners(spark: SparkSession) {
  @volatile private var events = new Events
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]
  /** Module of each SQL execution, from the call site that started it. */
  private val executionModules = new java.util.concurrent.ConcurrentHashMap[Long, String]

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executionModules.put(s.executionId, Modules.of(s.details))
      case _ =>
    }
    // jobs of a SQL execution often run on Spark's own threads (adaptive
    // query stages), so the execution's call site names their module
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val module = execution.flatMap(id => Option(executionModules.get(id.toLong)))
        .getOrElse(Modules.of(e.stageInfos.headOption.map(_.details).getOrElse("")))
      jobStarts.put(e.jobId, (e.time, module, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, module, stageIds) =>
        val ev = events
        ev.synchronized(ev.jobs += ((t0, e.time, module, stageIds)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val ev = events
        ev.synchronized {
          val a = ev.stageTasks.getOrElseUpdate(e.stageId, new Array[Long](6))
          a(0) += 1
          a(1) += m.executorCpuTime
          a(2) += m.jvmGCTime
          a(3) += m.shuffleWriteMetrics.bytesWritten
          a(4) += m.shuffleReadMetrics.totalBytesRead
          a(5) += m.diskBytesSpilled
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
      val planNs = phases.map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).sum
      var read = 0L
      var pruned = 0L
      Listeners.planNodes(qe.executedPlan).foreach { p =>
        p.metrics.get("graftBucketsRead").foreach(m => read += m.value)
        p.metrics.get("graftBucketsPruned").foreach(m => pruned += m.value)
      }
      val ev = events
      ev.synchronized(ev.queries += ((start, planNs, read, pruned)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ev = events
      ev.synchronized {
        ev.triggers += 1
        ev.streamInputRows += p.numInputRows
        p.durationMs.forEach((k, v) => ev.streamDurationMs(k) += v.longValue)
      }
    }
  }

  private var on = false

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Delivers every event posted so far and starts a fresh pass. */
  def take(untimedMs: Seq[(Long, Long)]): Counters = {
    drain()
    val e = events
    events = new Events
    e.synchronized(Counters.of(e, untimedMs))
  }

  private def drain(): Unit = org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
}

object Listeners {

  /** Every physical node of an executed plan, through adaptive plans,
    * query stages, subqueries and the physical plan under a command.
    */
  def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def visit(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(root)
    out.toSeq
  }
}
