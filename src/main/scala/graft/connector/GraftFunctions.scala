package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** The catalog's `bucket` function — the SAME hash the write path
  * buckets by (`pmod(murmur3(keys), n)`, seed 42), exposed through
  * [[org.apache.spark.sql.connector.catalog.FunctionCatalog]] so
  * Spark can RESOLVE the partition transform every graft scan reports
  * ([[GraftScan.outputPartitioning]]). That resolution is what turns
  * two graft tables joined on their merge key into a
  * storage-partitioned join: both sides report
  * `bucket(n, keys...)` over the same function identity, Spark aligns
  * the bucket ids, and the join runs with ZERO shuffle on either side
  * (`spark.sql.sources.v2.bucketing.enabled=true`).
  *
  * Also directly callable (`SELECT cat.bucket(8, k)`) — handy for
  * debugging layout questions from SQL.
  */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, cols...): the graft hash-bucket id of a key " +
      "(pmod of the seed-42 murmur3 chain — identical to the write layout)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      "bucket(numBuckets, col [, col...]) needs a bucket count and at least one key column")
    require(inputType.fields.head.dataType == IntegerType,
      s"bucket: first argument is the bucket COUNT (int); got ${inputType.fields.head.dataType}")
    new GraftBoundBucket(inputType)
  }
}

final class GraftBoundBucket(input: StructType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = input.fields.map(_.dataType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  // the identity storage-partitioned-join equality compares: any two
  // graft catalogs' bucket transforms are the same function
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false
  override def isDeterministic: Boolean = true

  // the write path's own bucket function (SnapshotStore.bucketExpr):
  // fields 1..n are the key columns, field 0 the bucket count
  @transient private lazy val bucketExpr: Expression = graft.store.SnapshotStore.bucketExpr(
    input.fields.toIndexedSeq.zipWithIndex.drop(1).map {
      case (f, i) => BoundReference(i, f.dataType, f.nullable): Expression
    }, BoundReference(0, IntegerType, nullable = false))

  override def produceResult(row: InternalRow): Integer =
    bucketExpr.eval(row).asInstanceOf[Integer]
}
