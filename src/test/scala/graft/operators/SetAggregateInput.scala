package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectSet, Partial}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions.{col, posexplode}

/** Reads, from a query's executed plan, how many rows reached its
  * set-building (`collect_set`) aggregates: the memory a bucket's
  * member set can take is bounded by what this aggregate receives.
  */
object SetAggregateInput {

  /** Collects `df` with AQE off (so the executed plan is the metric-
    * carrying tree) and returns its rows plus the row count feeding
    * every partial `collect_set` aggregate: the `numOutputRows` of the
    * nearest node below it that counts rows.
    */
  def run(spark: SparkSession, df: DataFrame): (Array[org.apache.spark.sql.Row], Long) = {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val rows = df.collect()
      val aggs = df.queryExecution.executedPlan.collect {
        case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
          e.mode == Partial && e.aggregateFunction.isInstanceOf[CollectSet]) => a
      }
      assert(aggs.nonEmpty, s"no partial collect_set aggregate in\n${df.queryExecution.executedPlan}")
      (rows, aggs.map(a => counted(a.child)).sum)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def counted(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => counted(p.children.head)
  }

  /** Member count of every sign-LSH bucket `embedding` vectors fall
    * into under the default 12 tables × 6 planes × 64 dims.
    */
  def signBucketSizes(df: DataFrame): Seq[Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.GraftFunctions.register(spark)
    df.select(posexplode(Similarity.tableBuckets(col("embedding"),
        Similarity.planeTables(12, 6, 64))).as(Seq("t", "b")))
      .groupBy("t", "b").count().select("count").as[Long].collect().toSeq
  }

  /** The bound a capped bucket-member step must keep: each bucket
    * contributes at most `cap + 1` (distinct) ids to the aggregate.
    */
  def cappedBound(bucketSizes: Iterable[Long], cap: Long): Long =
    bucketSizes.map(math.min(_, cap + 1)).sum
}
