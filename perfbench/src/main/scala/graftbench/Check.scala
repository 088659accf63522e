package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** Digests of expected results, computed on the driver with the same
  * hash [[Sink]] computes in Spark: a (row count, sum of 32-bit row
  * hashes) pair that ignores row order.
  */
object Check {
  private val Seed = 42L

  private def hashValue(v: Any, h: Long): Long = v match {
    case null => h
    case b: Boolean => XXH64.hashInt(if (b) 1 else 0, h)
    case i: Int => XXH64.hashInt(i, h)
    case l: Long => XXH64.hashLong(l, h)
    case d: java.time.LocalDate => XXH64.hashInt(d.toEpochDay.toInt, h)
    case s: String =>
      val b = s.getBytes(UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
    case other => throw new IllegalArgumentException(s"no digest for ${other.getClass}")
  }

  /** Spark's `xxhash64(cols...) & 0xFFFFFFFF` for a row of atomic values. */
  def rowHash(values: Seq[Any]): Long = values.foldLeft(Seed)((h, v) => hashValue(v, h)) & 0xFFFFFFFFL

  def digest(rows: Iterable[Seq[Any]]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map(rowHash).sum)

  /** The same digest of a table: Spark hashes the rows, the driver sums
    * them (untimed).
    */
  def digestOf(df: DataFrame): (Long, Long) = digestsOf(Seq("t" -> df))("t")

  /** [[digestOf]] of several tables, by name, in one Spark job. The
    * tables are small, so their row hashes are collected and summed on
    * the driver rather than in a shuffle.
    */
  def digestsOf(tables: Seq[(String, DataFrame)]): Map[String, (Long, Long)] = {
    val hashes = tables.map { case (name, df) =>
      val named = Sink.positional(df)
      named.select(lit(name).as("table"), Sink.rowHash(named).as("h"))
    }
    val got = hashes.reduce(_ unionByName _).collect()
      .groupMapReduce(_.getString(0))(r => (1L, r.getLong(1)))((a, b) => (a._1 + b._1, a._2 + b._2))
    tables.map { case (name, _) => name -> got.getOrElse(name, (0L, 0L)) }.toMap
  }

  def expectDigest(what: String, got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got._1} rows (hash ${got._2}), want ${want._1} rows (hash ${want._2})")
}
