package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Spark traffic of named oracle keys: runs each `SparkEntry.queries`
  * key and writes its result exactly as `graft.Verify` does (one
  * parquet dir per key under `outDir`, so `tools/compare_dumps.py` can
  * compare two builds' dumps), and prints one JSON line per key and
  * rep with the wall time and the Spark jobs, stages and tasks the key
  * ran. Rep 1 pays the JVM's warm-up; compare later reps.
  *
  * Usage: Test/runMain graft.tools.KeyTraffic sfDir outDir reps key...
  * (`SPARK_GRAFT_CPUS` sets local[n], default 2).
  */
object KeyTraffic {
  private class Counts extends SparkListener {
    val jobs, jobsEnded, stages, tasks = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, reps) = args.take(3)
    val keys = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "2")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (rep <- 1 to reps.toInt; key <- keys) {
      val c = new Counts
      spark.sparkContext.addSparkListener(c)
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$key")
      val wallMs = (System.nanoTime() - t0) / 1000000
      // listener events arrive asynchronously: wait for the last job's end
      val deadline = System.nanoTime() + 10000000000L
      while (c.jobsEnded.get < c.jobs.get && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(c)
      println(s"""{"key": "$key", "rep": $rep, "wall_ms": $wallMs, "jobs": ${c.jobs.get}, """ +
        s""""stages": ${c.stages.get}, "tasks": ${c.tasks.get}}""")
      spark.catalog.clearCache(); graft.Caching.unpersistAll()
    }
    spark.stop()
  }
}
