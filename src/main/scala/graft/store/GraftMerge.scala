package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-MERGE-shaped builder over the snapshot store's commit protocol
  * — the reference's core verb (every load procedure is a MERGE:
  * `/root/reference/with procedures/order_proc.sql:34-88`,
  * `location_proc.sql:160-230`) as a typed API:
  *
  * {{{
  *   GraftMerge.into(spark, root)
  *     .using(changes)                 // source rows
  *     .whenMatchedDelete(expr("source.op = 'D'"))
  *     .whenMatchedUpdate()            // full-row replace with source
  *     .whenNotMatchedInsert()
  *     .execute()                      // => committed version
  * }}}
  *
  * Semantics mirror ANSI/Delta MERGE:
  *   - the join is ALWAYS on the table's merge-identity keys (the
  *     manifest's persisted keys, or `onKeys` for a keyless table —
  *     one created with `keys = Nil`) — graft is a keyed format, so ON
  *     is the identity, not an arbitrary predicate;
  *   - for each matched (target, source) pair the FIRST matched
  *     clause whose condition holds applies (update = replace the
  *     target row with the source row's target-schema projection,
  *     delete = drop); no clause → the target row is kept;
  *   - unmatched source rows insert through the first
  *     `whenNotMatchedInsert` whose condition holds, else drop;
  *   - unmatched target rows are untouched;
  *   - conditions are Columns over `source.*` / `target.*`
  *     (`expr("source.ts > target.ts")`).
  *   - a source with two rows for one key is REJECTED (the ANSI
  *     multiple-matched-rows error) before anything is written.
  *
  * Scale: executes as ONE [[SnapshotStore.commitDelta]] — only the
  * buckets the source keys hash to are read and rewritten (bucket
  * CoW), the merge itself is one full-outer join on the keys inside
  * those buckets, and the commit is the same O(manifest) OCC publish
  * as every write. Deletes fold physically (this is a rewrite path,
  * not a sidecar append).
  */
object GraftMerge {

  def into(spark: SparkSession, root: String): MergeBuilder =
    new MergeBuilder(spark, root)

  private sealed trait Clause { def cond: Option[Column] }
  private final case class Update(cond: Option[Column]) extends Clause
  private final case class Delete(cond: Option[Column]) extends Clause
  private final case class Insert(cond: Option[Column]) extends Clause

  final class MergeBuilder private[store] (spark: SparkSession, root: String) {
    private var source: Option[DataFrame] = None
    private var explicitKeys: Seq[String] = Nil
    private var clauses: Vector[Clause] = Vector.empty
    private var txn: Option[(String, Long)] = None

    def using(df: DataFrame): MergeBuilder = { source = Some(df); this }

    /** Declare the merge identity of a keyless table (created with
      * `keys = Nil`); on a keyed table a mismatch with the persisted
      * keys fails.
      */
    def onKeys(keys: String*): MergeBuilder = { explicitKeys = keys.toSeq; this }

    def whenMatchedUpdate(): MergeBuilder = add(Update(None))
    def whenMatchedUpdate(condition: Column): MergeBuilder =
      add(Update(Some(condition)))
    def whenMatchedDelete(): MergeBuilder = add(Delete(None))
    def whenMatchedDelete(condition: Column): MergeBuilder =
      add(Delete(Some(condition)))
    def whenNotMatchedInsert(): MergeBuilder = add(Insert(None))
    def whenNotMatchedInsert(condition: Column): MergeBuilder =
      add(Insert(Some(condition)))

    /** Writer-id + batch-id redelivery protection, like every sink. */
    def withTxn(writerId: String, batchId: Long): MergeBuilder = {
      txn = Some(writerId -> batchId); this
    }

    private def add(c: Clause): MergeBuilder = { clauses = clauses :+ c; this }

    def execute(): Long = {
      val src = source.getOrElse(throw new IllegalArgumentException(
        "merge needs a source: .using(df)"))
      require(clauses.nonEmpty,
        "merge needs at least one WHEN clause (whenMatchedUpdate / " +
          "whenMatchedDelete / whenNotMatchedInsert)")
      val base = SnapshotStore.latestVersion(spark, root)
      require(base.isDefined, s"no committed graft table at $root — merge needs a target")
      // ONE manifest read plans the statement: its keys, its bucket
      // layout for the census below, and the version the commit's
      // epoch guard measures from
      val planned = SnapshotStore.readManifest(spark, root, base.get)
      val persisted = planned.keys
      val keys =
        if (persisted.nonEmpty) {
          require(explicitKeys.isEmpty || explicitKeys == persisted,
            s"merge keys (${explicitKeys.mkString(",")}) differ from the " +
              s"table's persisted identity (${persisted.mkString(",")})")
          persisted
        } else {
          require(explicitKeys.nonEmpty,
            s"table at $root has no persisted keys: declare .onKeys(...)")
          explicitKeys
        }

      val targetCols = SnapshotStore.read(spark, root).columns.toSeq
      val missing = targetCols.filterNot(src.columns.contains)
      require(missing.isEmpty,
        s"merge source lacks target columns ${missing.mkString(", ")} — " +
          "updates and inserts are full-row replacements from the source")

      // ONE census job answers both pre-commit needs (r19, guide §1.2
      // — was two delta-sized jobs): the ANSI multiple-matched-rows
      // guard (max per-key multiplicity of the source) and the
      // touched-bucket set commitDelta would otherwise re-derive with
      // its own job (passed down as deltaBucketsHint). Equal keys hash
      // to one bucket, so a per-bucket dup is exactly a global dup;
      // ≤ numBuckets rows reach the driver.
      val census = SnapshotStore.withBucket(
          src.select(keys.map(col): _*), keys, planned.numBuckets)
        .groupBy((col(SnapshotStore.BucketCol) +: keys.map(col)): _*)
        .agg(count(lit(1)).as("__graft_n"))
        .groupBy(col(SnapshotStore.BucketCol))
        .agg(max(col("__graft_n")).as("__graft_max"))
        .collect()
      require(!census.exists(_.getLong(1) > 1L),
        "merge source has multiple rows for one merge key — ANSI MERGE " +
          "rejects ambiguous matches; de-duplicate the source first")
      val srcBuckets = census.map(_.getInt(0)).toSet

      val matchedClauses = clauses.collect {
        case c: Update => c: Clause
        case c: Delete => c: Clause
      }
      val insertClauses = clauses.collect { case c: Insert => c }

      val mergeFn: (DataFrame, DataFrame) => DataFrame = (cur, delta) => {
        val srcRow = struct(targetCols.map(delta(_)): _*)
        // commitDelta aligns an all-new-bucket current to the DELTA's
        // schema (which carries source-only condition columns) —
        // project back to the target schema so both structs unify
        val curT = cur.select(targetCols.map(cur(_)): _*)
        val t = curT.select(keys.map(curT(_)) :+
          struct(curT.columns.toSeq.map(curT(_)): _*).as("target"): _*)
        val s = delta.select(keys.map(delta(_)) :+
          struct(delta.columns.toSeq.map(delta(_)): _*).as("source") :+
          srcRow.as("__src_row"): _*)
        val j = t.join(s, keys, "full_outer")

        def condOf(c: Clause): Column = c.cond.getOrElse(lit(true))
        // matched: first applicable clause, else keep the target row
        val matchedExpr = matchedClauses.foldRight(col("target")) { (c, els) =>
          val res = c match {
            case Update(_) => col("__src_row")
            case Delete(_) => lit(null)
            case Insert(_) => els // unreachable: filtered above
          }
          when(condOf(c), res).otherwise(els)
        }
        // source-only: first applicable insert, else drop (the null
        // literal unifies to the struct type in the when-chain)
        val insertExpr = insertClauses.foldRight(lit(null): Column) { (c, els) =>
          when(condOf(c), col("__src_row")).otherwise(els)
        }
        val chosen =
          when(col("target").isNotNull && col("source").isNotNull, matchedExpr)
            .when(col("target").isNull, insertExpr)
            .otherwise(col("target"))
        j.select(chosen.as("__r")).where(col("__r").isNotNull).select("__r.*")
      }

      SnapshotStore.commitDelta(spark, root,
        src.select(targetCols.map(src(_)) ++
          src.columns.filterNot(targetCols.contains).map(src(_)): _*),
        keys, mergeFn, txn = txn, plannedVersion = base,
        deltaBucketsHint = Some(SnapshotStore.BucketsHint(planned.numBuckets, srcBuckets)))
    }
  }
}
