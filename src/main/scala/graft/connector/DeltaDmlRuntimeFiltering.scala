package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, DynamicPruningExpression, EqualNullSafe, EqualTo, Expression, InSubquery, ListQuery, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Cross, ExistenceJoin, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.store.SnapshotStore

/** Runtime source-key filtering for DELTA-mode row-level statements —
  * the missing half of the DPP analog: Spark ships
  * `RowLevelOperationRuntimeGroupFiltering` for GROUP-based (CoW)
  * rewrites but nothing for `SupportsDelta` plans, so a selective
  * delta MERGE would read the whole (statically-pruned) target even
  * when its source touches 0.1% of keys.
  *
  * What it does: inside a [[WriteDelta]] rewrite, find the join
  * between the target's [[GraftDeltaScan]] and the source, and — when
  * the join's equi-keys cover the table's merge key and target-only
  * rows cannot reach the output (join-type check) — plant
  * `DynamicPruningExpression(InSubquery(_graft_bucket, <distinct
  * pmod(hash(srcKeys), n)>))` above the target relation. The BUCKET
  * IDS are computed on the SOURCE side with the exact write-path hash
  * (Murmur3 seed 42 + pmod), so:
  *   - the subquery's result is at most `numBuckets` distinct ints —
  *     the driver never collects source keys, no matter how large the
  *     source (the aggregate dedupes on executors);
  *   - composite merge keys work identically (the hash spans all key
  *     columns) — no per-column cross-product needed;
  *   - the scan narrows via its existing `_graft_bucket` runtime
  *     filter handling before planning files.
  * The join re-applies its own condition, so the narrowing is pure
  * I/O savings, never a correctness dependency.
  *
  * Cost gate: the source subplan executes once more (as the pruning
  * subquery). Injection is skipped when the source's estimated size
  * exceeds the target scan's — at that shape the statement touches
  * most buckets anyway and the extra source pass buys nothing.
  *
  * Runs in the "User Provided Optimizers" batch (installed via
  * `spark.experimental.extraOptimizations` — [[install]] is called
  * whenever a delta operation is built), which sits after scan
  * planning and Spark's own dynamic-pruning batches; the planted
  * `InSubquery` is turned into `InSubqueryExec` by the ordinary
  * subquery planning, exactly like Spark's group-filter rule relies
  * on. The batch is a fixed point, so injection is idempotent (an
  * already-filtered target is left alone).
  */
object DeltaDmlRuntimeFiltering extends Rule[LogicalPlan] with PredicateHelper {

  private val EnabledKey = "spark.graft.dml.runtimeFilter.enabled"

  /** Idempotently add this rule to the session's user-provided
    * optimizer batch.
    */
  def install(spark: SparkSession): Unit = spark.synchronized {
    if (!spark.experimental.extraOptimizations.exists(_ eq this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").toBoolean) plan
    else plan.transform {
      case wd: WriteDelta =>
        val newQuery = injectInQuery(wd.query)
        if (newQuery eq wd.query) wd else wd.copy(query = newQuery)
    }
  }

  private def injectInQuery(query: LogicalPlan): LogicalPlan =
    query.transformUp {
      case j @ Join(left, right, joinType, Some(cond), _) =>
        tryInject(j, left, right, joinType, cond)
    }

  /** The unique delta-target scan relation inside one join side (the
    * source side of a self-merge reads through the ordinary scan, so
    * a target match is unambiguous by construction).
    */
  private def targetScanIn(side: LogicalPlan): Option[DataSourceV2ScanRelation] =
    side.collect {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftDeltaScan] => r
    } match {
      case Seq(one) => Some(one)
      case _ => None
    }

  /** Filtering the target by source-derived buckets is sound only when
    * target rows WITHOUT a source match cannot reach the join output
    * (an equi-join never matches a removed-bucket row to any source
    * row; outer-preserved target rows would survive with nulls and
    * MUST still be seen — e.g. MERGE ... NOT MATCHED BY SOURCE plans a
    * full-outer join).
    */
  private def targetSideSafe(targetLeft: Boolean, jt: JoinType): Boolean =
    jt match {
      case Inner | Cross | LeftSemi => true
      case RightOuter => targetLeft
      case LeftOuter | LeftAnti => !targetLeft
      case _: ExistenceJoin => !targetLeft
      case _ => false // FullOuter and anything unknown: never filter
    }

  private def tryInject(j: Join, left: LogicalPlan, right: LogicalPlan,
                        joinType: JoinType, cond: Expression): LogicalPlan = {
    val (scanRelOpt, targetLeft) = targetScanIn(left) match {
      case Some(r) => (Some(r), true)
      case None => (targetScanIn(right), false)
    }
    scanRelOpt match {
      case Some(scanRel) if targetSideSafe(targetLeft, joinType) =>
        val targetSide = if (targetLeft) left else right
        val otherSide = if (targetLeft) right else left
        // idempotency (fixed-point batch) and no double-injection
        val alreadyFiltered = targetSide.exists {
          case Filter(c, r: DataSourceV2ScanRelation) =>
            (r.scan eq scanRel.scan) &&
              c.exists(_.isInstanceOf[DynamicPruningExpression])
          case _ => false
        }
        if (alreadyFiltered || targetScanIn(otherSide).isDefined) j
        else buildFilteredJoin(j, scanRel, targetSide, otherSide, targetLeft, cond)
          .getOrElse(j)
      case _ => j
    }
  }

  private def buildFilteredJoin(j: Join, scanRel: DataSourceV2ScanRelation,
                                targetSide: LogicalPlan, otherSide: LogicalPlan,
                                targetLeft: Boolean,
                                cond: Expression): Option[Join] = {
    val scan = scanRel.scan.asInstanceOf[GraftDeltaScan]
    val keys = scan.mergeKeys
    if (keys.isEmpty) return None
    val bucketAttr = scanRel.output.find(a =>
      conf.resolver(a.name, SnapshotStore.BucketCol)).getOrElse(return None)
    val keyAttrs: Seq[Attribute] = keys.map { k =>
      scanRel.output.find(a => conf.resolver(a.name, k)).getOrElse(return None)
    }
    // one source expression per merge key, from the equi-conjuncts.
    // Bare-attribute target side only: a cast there means the
    // analyzer coerced mismatched types, and hashing the coerced
    // source value would not reproduce the write path's bucket.
    val conjuncts = splitConjunctivePredicates(cond)
    val srcExprs: Seq[Expression] = keyAttrs.map { a =>
      conjuncts.collectFirst {
        case EqualTo(l, r) if l.semanticEquals(a) && usableSource(r, otherSide) => r
        case EqualTo(l, r) if r.semanticEquals(a) && usableSource(l, otherSide) => l
        case EqualNullSafe(l, r) if l.semanticEquals(a) && usableSource(r, otherSide) => r
        case EqualNullSafe(l, r) if r.semanticEquals(a) && usableSource(l, otherSide) => l
      }.getOrElse(return None)
    }
    // re-execution safety: the pruning subquery runs the source
    // subplan a SECOND time, independently of the join's own
    // execution. A plan whose row set can differ between executions —
    // LIMIT without a total order, TABLESAMPLE, any non-deterministic
    // expression (rand(), uuid(), non-deterministic UDFs) — could
    // yield a bucket set missing rows the join WILL match, silently
    // dropping their effects. Decline those outright.
    val replayable = !otherSide.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
      case n => n.expressions.exists(e => !e.deterministic)
    }
    if (!replayable) return None

    // cost gate: re-running a source much larger than the target scan
    // to maybe-prune it is a loss — at that shape the statement
    // touches most buckets anyway. The ratio is generous because
    // size-only estimates carry no filter selectivity.
    val ratio = BigDecimal(conf.getConfString(
      "spark.graft.dml.runtimeFilter.maxSourceRatio", "4.0"))
    if (BigDecimal(otherSide.stats.sizeInBytes) >
        BigDecimal(scanRel.stats.sizeInBytes) * ratio) return None

    // the distinct buckets of the source keys under the write path's
    // own bucket function (SnapshotStore.bucketExpr), deduped on the
    // executors so the subquery yields ≤ n ints
    val bucketExpr = SnapshotStore.bucketExpr(srcExprs, Literal(scan.bucketCount))
    val alias = Alias(bucketExpr, "_graft_src_bucket")()
    val listPlan = Aggregate(Seq(bucketExpr), Seq(alias), otherSide)
    val pruningCond = DynamicPruningExpression(InSubquery(Seq(bucketAttr),
      ListQuery(listPlan, Seq.empty, NamedExpression.newExprId,
        listPlan.output.length)))
    val newTargetSide = targetSide.transformUp {
      case r: DataSourceV2ScanRelation if r eq scanRel => Filter(pruningCond, r)
    }
    Some(if (targetLeft) j.copy(left = newTargetSide)
         else j.copy(right = newTargetSide))
  }

  private def usableSource(e: Expression, otherSide: LogicalPlan): Boolean =
    e.deterministic && e.references.nonEmpty &&
      e.references.subsetOf(otherSide.outputSet)
}
