package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 (full-history) semantics: effective-dated versions with a
  * current-record flag.
  *
  * Reference analog: the consumption-layer dimension MERGEs
  * (`/root/reference/02 Location Entity.sql:282-368` — eff_start_dt /
  * eff_end_dt / current_flag).
  *
  * Spark-first design: instead of a row-at-a-time MERGE loop, the
  * whole history is derived declaratively with a lead() window — one
  * shuffle on the business key, partial-agg free, linear in input.
  */
object Scd2 {

  /** Build the SCD2 history from a change feed.
    *
    * @param changes change rows (one per version)
    * @param keys    business-key columns
    * @param ts      change-timestamp column name (becomes eff_start)
    * @param tieBreak unique column making the ordering total
    * @param deleteCol DELETE tombstone flag (the reference dim MERGE's
    *   `METADATA$ACTION = 'DELETE'` branch, `with
    *   procedures/location_proc.sql:274-286`): a tombstone — a row
    *   flagged true in `deleteCol` — participates in the version
    *   ordering like any change, so the preceding version's
    *   `eff_end_ts` becomes the delete timestamp and the tombstone
    *   itself becomes a flagged version ROW in the history (data
    *   columns null; the flag is made non-null). Keeping the tombstone
    *   row — rather than filtering it — is what makes the deletion
    *   durable: a later re-insert of the key re-derives against a
    *   version sequence that still CONTAINS the delete, so the
    *   pre-delete version keeps ending at the delete timestamp and the
    *   gap stays visible to [[asOf]] (filter `!deleteCol` for live
    *   rows; [[currentRows]] does). A history that dropped tombstones
    *   would retroactively erase the gap on the next touch of the key.
    */
  def buildHistory(changes: DataFrame, keys: Seq[String], ts: String, tieBreak: String,
                   deleteCol: Option[String] = None): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ts).asc, col(tieBreak).asc)
    val history = changes
      .withColumn("eff_start_ts", col(ts))
      .withColumn("eff_end_ts", lead(col(ts), 1).over(w))
      .withColumn("current_flag", lead(col(ts), 1).over(w).isNull)
    deleteCol.fold(history)(c => history.withColumn(c, Scd1.tombstone(c)))
  }

  /** Point-in-time (as-of) lookup against an SCD2 history. */
  def asOf(history: DataFrame, at: Column): DataFrame =
    history.where(col("eff_start_ts") <= at &&
      (col("eff_end_ts").isNull || col("eff_end_ts") > at))

  /** Incremental SCD2 apply: close changed current rows and append the
    * new versions (batch equivalent of the reference's stream-driven
    * dim MERGE). `base` must already carry eff_start_ts / eff_end_ts /
    * current_flag; `delta` is a new change feed batch.
    *
    * Scale design: only keys present in the delta are re-derived. The
    * base history is split with a semi/anti join on the delta's
    * business keys — the (tiny) touched slice goes through
    * [[buildHistory]] together with the delta, the untouched rows pass
    * through untouched. Work per batch is O(|delta| + |history of
    * touched keys|), not O(|full history|); at a 100 TB dim the
    * anti-join side never re-sorts or re-windows.
    *
    * Idempotent under at-least-once delivery: a version is identified
    * by (business key, tieBreak); a redelivered version already in the
    * history is applied once, and the EXISTING history row wins the
    * dedup deterministically (the delta copy of an already-applied
    * version may carry different audit values — e.g. a replay
    * timestamp — and must not overwrite the stored row). Replaying a
    * micro-batch (foreachBatch failure, checkpoint reset over
    * processed input) therefore reproduces the history byte-for-byte —
    * the MERGE-on-key semantics of the reference.
    */
  def applyDelta(base: DataFrame, delta: DataFrame, keys: Seq[String], ts: String,
                 tieBreak: String, deleteCol: Option[String] = None): DataFrame = {
    Scd1.checkDrift(base.columns.filterNot(ScdCols.contains), delta.columns)
    val deltaKeys = delta.select(keys.map(col): _*).distinct()
    val touched = base.join(deltaKeys, keys, "left_semi")
      .drop(ScdCols: _*)
    val untouched = base.join(deltaKeys, keys, "left_anti")
    val src = Scd1.SRC
    val wVer = Window.partitionBy((keys :+ tieBreak).map(col): _*).orderBy(col(src).asc)
    val versions = touched.withColumn(src, lit(0))
      .unionByName(delta.withColumn(src, lit(1)), allowMissingColumns = true)
      .withColumn("__rn", row_number().over(wVer)).where(col("__rn") === 1)
      .drop("__rn", src)
    buildHistory(versions, keys, ts, tieBreak, deleteCol)
      .unionByName(untouched, allowMissingColumns = true)
  }

  /** The live (SCD1-equivalent) view of a history: current rows,
    * excluding keys whose latest version is a delete tombstone.
    */
  def currentRows(history: DataFrame, deleteCol: Option[String] = None): DataFrame = {
    val cur = history.where(col("current_flag"))
    deleteCol.fold(cur)(c => cur.where(!coalesce(col(c), lit(false))))
  }

  private val ScdCols = Seq("eff_start_ts", "eff_end_ts", "current_flag")
}
