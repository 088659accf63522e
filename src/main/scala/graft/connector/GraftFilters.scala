package graft.connector

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.DataType

import graft.store.SnapshotStore
import graft.store.SnapshotStore.Manifest

/** Shared predicate plumbing for the connector: V1 `Filter` →
  * conjunctive stats bounds (bucket/file pruning), → `Column`
  * (driver-side DML re-evaluation), and literal values → bucket ids
  * (the runtime join-key narrowing). Everything here produces
  * CONSERVATIVE results — unknown shapes simply decline (no bound, no
  * column, all buckets), never a wrong narrowing.
  */
private[connector] object GraftFilters {

  /** Conjunctive [lower, upper] bounds per column, from pushed and
    * runtime filters (nested Ands unwrapped; `In`/`EqualTo` value
    * lists fold to their numeric/timestamp extremes; anything else
    * ignored — pruning only ever narrows).
    */
  def bounds(filters: Seq[Filter]): Map[String, (Option[Any], Option[Any])] = {
    def flatten(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flatten(l) ++ flatten(r)
      case other => Seq(other)
    }
    def norm(v: Any): Any = v match {
      // stats tags encode timestamps as epoch micros; Filter values
      // arrive as java.sql.Timestamp or java.time.Instant per conf
      case i: java.time.Instant =>
        java.lang.Long.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case other => other
    }
    // a comparison key for folding an In-list to [min, max]: numeric
    // (and normalized-timestamp) values only — string extremes would
    // need UTF-8 order, which JVM String comparison does not promise
    def cmpKey(v: Any): Option[BigDecimal] = norm(v) match {
      case n: java.lang.Number => Some(BigDecimal(n.toString))
      case _ => None
    }
    filters.flatMap(flatten).foldLeft(
      Map.empty[String, (Option[Any], Option[Any])]) { (acc, f) =>
      def upd(c: String)(g: ((Option[Any], Option[Any])) => (Option[Any], Option[Any])) =
        acc + (c -> g(acc.getOrElse(c, (None, None))))
      f match {
        case EqualTo(c, v) => upd(c) { case (lo, hi) =>
          (lo.orElse(Some(norm(v))), hi.orElse(Some(norm(v)))) }
        case GreaterThan(c, v) => upd(c) { case (lo, hi) => (Some(norm(v)), hi) }
        case GreaterThanOrEqual(c, v) => upd(c) { case (lo, hi) => (Some(norm(v)), hi) }
        case LessThan(c, v) => upd(c) { case (lo, hi) => (lo, Some(norm(v))) }
        case LessThanOrEqual(c, v) => upd(c) { case (lo, hi) => (lo, Some(norm(v))) }
        case In(c, vs) if vs.nonEmpty =>
          val nonNull = vs.toSeq.filter(_ != null)
          val keyed = nonNull.map(v => cmpKey(v).map(k => (k, v)))
          if (nonNull.isEmpty || keyed.exists(_.isEmpty)) acc
          else {
            val ks = keyed.flatten
            upd(c)(_ => (Some(norm(ks.minBy(_._1)._2)), Some(norm(ks.maxBy(_._1)._2))))
          }
        case IsNotNull(_) => acc
        case _ => acc
      }
    }
  }

  /** Buckets that may hold a row matching `filters`, per manifest
    * stats — the candidate set a filter-scoped overwrite must rewrite
    * (filters on undeclared columns yield no bounds → all buckets).
    */
  def candidateBuckets(m: Manifest, filters: Seq[Filter]): Set[Int] =
    bounds(filters).foldLeft(m.buckets.keySet) { case (keep, (c, (lo, hi))) =>
      keep.intersect(SnapshotStore.pruneBuckets(m, c, lo.orNull, hi.orNull))
    }

  /** V1 filter → `Column`, for the driver-side DML paths (tombstone
    * DELETE's matching-key scan, filter-scoped overwrite's
    * delete-side). None = a shape we will not re-evaluate — the caller
    * refuses and Spark falls back to the rewrite path.
    */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(x) => toColumn(x).map(!_)
    case StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case StringContains(c, v) => Some(col(c).contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** All predicates, translated and AND-folded; None when ANY predicate
    * fails V2→V1 translation or column rebuild (partial translation
    * would silently widen a DML's scope).
    */
  def toCondition(predicates: Array[Predicate]): Option[Column] = {
    val v1 = org.apache.spark.sql.graft.GraftSqlShims.toV1Filters(predicates)
    if (v1.length != predicates.length) None
    else {
      val cols = v1.map(toColumn)
      if (cols.exists(_.isEmpty)) None
      else Some(cols.flatten.reduceOption(_ && _).getOrElse(lit(true)))
    }
  }

  /** The buckets a set of merge-key literals hash into — the write
    * path's own bucket function ([[SnapshotStore.bucketOf]]), evaluated
    * driver-side per value. A null key hashes to the seed, exactly as
    * `functions.hash` does. The one-column case of [[bucketsOfTuples]].
    */
  def bucketsOf(values: Seq[Any], dt: DataType, numBuckets: Int): Set[Int] =
    bucketsOfTuples(Seq(values -> dt), numBuckets, cap = Long.MaxValue).getOrElse(Set.empty)

  /** Composite-key variant of [[bucketsOf]]: per-key-column value
    * lists (in MERGE-KEY ORDER — the hash is over the full tuple)
    * fold to the buckets of their cross-product, a superset of the
    * actual joined tuples, so the narrowing stays conservative. None
    * when a list is empty or the product exceeds `cap` (driver-side
    * hashing must stay metadata-sized) — callers simply skip narrowing.
    */
  def bucketsOfTuples(perKey: Seq[(Seq[Any], DataType)], numBuckets: Int,
                      cap: Long = 65536L): Option[Set[Int]] = {
    val total = perKey.foldLeft(BigInt(1))(_ * _._1.size)
    if (total == 0 || total > cap) None
    else {
      import org.apache.spark.sql.catalyst.expressions.Literal
      def combos(rest: Seq[(Seq[Any], DataType)]): Seq[Seq[Literal]] =
        rest match {
          case Seq() => Seq(Seq.empty)
          case (vs, dt) +: tail =>
            val tails = combos(tail)
            vs.flatMap(v => tails.map(Literal.create(v, dt) +: _))
        }
      Some(combos(perKey).map(SnapshotStore.bucketOf(_, numBuckets)).toSet)
    }
  }
}
