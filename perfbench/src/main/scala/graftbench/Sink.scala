package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed sink: every column of the result is computed and written
  * to Spark's `noop` format, and an observation on the same pass counts
  * the rows and sums a per-row hash. The hash depends on every column,
  * so the plan keeps every projection; a `.count()` would let the
  * optimizer drop them.
  */
object Sink {

  /** Row count and order-insensitive content hash of one result. */
  final case class Result(rows: Long, hash: Long) {
    def digest: (Long, Long) = (rows, hash)
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong

  def run(df: DataFrame): Result = {
    val named = positional(df)
    val obs = Observation(s"sink${seq.incrementAndGet()}")
    named.observe(obs, count(lit(1)).as("rows"), sum(rowHash(named)).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Result(m("rows").asInstanceOf[Long],
      Option(m("hash")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** `df` with its columns renamed c0, c1, ... so duplicate names resolve. */
  def positional(df: DataFrame): DataFrame = df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  /** Spark's xxhash64 (seed 42) over every column of a [[positional]]
    * frame, cut to 32 bits so a sum over billions of rows cannot overflow.
    */
  def rowHash(named: DataFrame): Column = {
    val cells = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    if (cells.isEmpty) lit(0L) else xxhash64(cells: _*).bitwiseAND(lit(0xFFFFFFFFL))
  }

  /** Spark refuses to hash maps; a map is hashed through its JSON text. */
  private def hashable(c: Column, t: DataType): Column =
    if (containsMap(t)) to_json(c) else c

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }
}
