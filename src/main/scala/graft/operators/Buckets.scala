package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucket → member set → pairs, the candidate step every LSH path
  * shares ([[Dedup.candidatePairs]], [[Dedup.embeddingNearDupsLsh]],
  * [[Similarity.lshTopK]]), written once and bounded per bucket.
  */
object Buckets {

  /** One row per bucket: the bucket columns plus `members`, the
    * bucket's sorted distinct non-null ids. A bucket with more than
    * `maxBucketSize` distinct ids is dropped (a hot bucket, e.g. the
    * sentinel band every shingle-less doc shares).
    *
    * Memory bound: a `dense_rank` over (bucket, id) keeps only the
    * first `maxBucketSize + 1` distinct ids of each bucket, so the
    * set aggregate never holds more than that many ids per bucket —
    * one past the cap is all it takes to tell an oversized bucket
    * apart. The sort and the window's row buffer under it spill;
    * a set buffer does not.
    * Below `spark.sql.optimizer.windowGroupLimitThreshold` (1,000)
    * Spark also plans the rank filter as a map-side
    * `WindowGroupLimit`, so the exchange carries at most that many
    * ids per bucket per task. Window and aggregate share one shuffle
    * on the bucket key.
    */
  def members(df: DataFrame, bucketCols: Seq[String], id: String,
              maxBucketSize: Long): DataFrame = {
    require(maxBucketSize >= 0 && maxBucketSize < Int.MaxValue, s"maxBucketSize $maxBucketSize")
    val keys = bucketCols.map(col)
    df.where(col(id).isNotNull)
      .withColumn("__rank", dense_rank().over(Window.partitionBy(keys: _*).orderBy(col(id))))
      // an Int literal: Spark infers WindowGroupLimit from integer limits only
      .where(col("__rank") <= (maxBucketSize + 1).toInt)
      .groupBy(keys: _*)
      .agg(sort_array(collect_set(col(id))).as("members"))
      .where(size(col("members")) <= maxBucketSize)
  }

  /** Distinct (a, b) pairs, a < b, of ids sharing a bucket of at most
    * `maxBucketSize` members: each bucket's sorted set fans out inside
    * the reducer, quadratic in the (capped) member count.
    */
  def pairs(df: DataFrame, bucketCols: Seq[String], id: String,
            maxBucketSize: Long, a: String, b: String): DataFrame =
    members(df, bucketCols, id, maxBucketSize)
      .select(explode(col("members")).as(a), col("members"))
      .select(col(a), explode(filter(col("members"), x => x > col(a))).as(b)).distinct()
}
