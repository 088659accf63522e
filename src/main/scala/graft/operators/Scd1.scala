package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD1 (latest-record-wins) semantics.
  *
  * Reference analog: the clean-layer `MERGE ... WHEN MATCHED UPDATE`
  * statements (e.g. `/root/reference/02 Location Entity.sql:247-280`,
  * `/root/reference/09 Order Entity.sql:110-170`): the newest version
  * of each business key replaces the old one.
  *
  * Spark-first design: one hash shuffle on the business key, a
  * row_number window, no global sort, no driver-side state. AQE
  * handles skewed keys. At 100 TB this is a single exchange over the
  * delta + base union — the same cost profile as a shuffled MERGE.
  */
object Scd1 {

  private val RN = "__graft_rn"
  private[operators] val SRC = "__graft_src"

  /** Schema-drift contract between merge sides (the reference's ELT
    * survives additive entity changes by re-running DDL —
    * `01 Create DB+Schema.sql` is idempotent `CREATE ... IF NOT
    * EXISTS` + per-entity column lists):
    *
    *  - DELTA-ONLY data columns are ADDITIVE EVOLUTION: a new upstream
    *    attribute flows through the merge and existing history
    *    null-fills it (the `unionByName(allowMissingColumns)` path all
    *    merges already take).
    *  - BASE-ONLY data columns mean the upstream DROPPED a column the
    *    target carries — that is breakage and fails loudly; silently
    *    null-filling the newest versions would corrupt latest-wins
    *    semantics. (Replays of pre-evolution batches must read with
    *    the evolved schema, as any table format requires.)
    *  - `_`-prefixed audit columns are free to differ either way.
    */
  private[operators] def checkDrift(base: Seq[String], delta: Seq[String]): Unit = {
    val baseOnly = (base.toSet -- delta).filterNot(_.startsWith("_"))
    require(baseOnly.isEmpty,
      s"SCD merge: delta is missing data columns the target carries " +
        s"(dropped upstream column = breakage, not evolution): $baseOnly")
  }

  /** Latest row per business key, ordered by `orderBy` descending
    * priority (pass e.g. `col("ts").desc, col("id").desc`). The
    * caller must make the ordering total (tie-break on a unique col)
    * for deterministic output.
    *
    * With `deleteCol`, DELETE tombstones are consumed too — the
    * `WHEN MATCHED AND METADATA$ACTION = 'DELETE' THEN DELETE` branch
    * of the reference's clean/dim MERGEs (`with
    * procedures/location_proc.sql:274-286`). Tombstones are rows
    * flagged true in `deleteCol` (an audit-namespaced `_`-column, so
    * [[checkDrift]] tolerates a base not carrying it). They compete in
    * the SAME version ordering as upserts: a key whose winning version
    * is a tombstone disappears from the result, and a tombstone followed
    * by a newer insert resurrects the key with the new row. At an exact
    * `orderBy` tie a tombstone beats the live row (a delete event that
    * reuses the deleted version's change metadata must still delete),
    * so the first batch of a new target resolves tied deletes exactly
    * like every later [[merge]] does. The filter is free: same single
    * shuffle.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column],
                  deleteCol: Option[String] = None): DataFrame =
    latest(df, keys, orderBy, deleteCol, Nil)

  /** SCD1 merge: apply a delta batch onto a base snapshot; the newest
    * version (per `orderBy`, then tombstone before live row as in
    * [[latestByKey]]) survives. Schema drift limited to audit columns
    * is tolerated (null-filled on the side missing them, the additive
    * contract a table-format MERGE gives you); data-column drift fails
    * loudly ([[checkDrift]]). On an exact tie — the at-least-once
    * redelivery case, where the same version arrives again — the BASE
    * row wins deterministically, so a replay can never flip a stored
    * row's audit values. Replay-idempotent either way: the same delta
    * re-applied picks the same winner.
    */
  def merge(base: DataFrame, delta: DataFrame, keys: Seq[String], orderBy: Seq[Column],
            deleteCol: Option[String] = None): DataFrame = {
    checkDrift(base.columns, delta.columns)
    latest(
      base.withColumn(SRC, lit(0))
        .unionByName(delta.withColumn(SRC, lit(1)), allowMissingColumns = true),
      keys, orderBy, deleteCol, Seq(col(SRC).asc))
      .drop(SRC)
  }

  /** The one total order every SCD1 fold uses: `orderBy`, then a
    * tombstone before a live row, then `thenBy`.
    */
  private def latest(df: DataFrame, keys: Seq[String], orderBy: Seq[Column],
                     deleteCol: Option[String], thenBy: Seq[Column]): DataFrame = {
    val deleted = deleteCol.map(c => c -> tombstone(c))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy ++ deleted.map(_._2.desc) ++ thenBy: _*)
    val winners = df.withColumn(RN, row_number().over(w)).where(col(RN) === 1).drop(RN)
    deleted.fold(winners) { case (c, d) => winners.where(!d).drop(c) }
  }

  /** A tombstone flag as a non-null boolean. `deleteCol` must be an
    * audit-namespaced `_`-column.
    */
  private[operators] def tombstone(deleteCol: String): Column = {
    require(deleteCol.startsWith("_"),
      s"deleteCol must be an audit-namespaced _column, got $deleteCol")
    coalesce(col(deleteCol), lit(false))
  }
}
