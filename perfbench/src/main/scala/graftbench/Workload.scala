package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one pass of a workload sees: the generated `inputs`, the
  * benchmark's own directory `bench`, and `dir`, which is empty at the
  * start of every pass so each pass starts from the same state.
  */
final class PassCtx(val spark: SparkSession, val seed: Long, val inputs: Path,
                    val bench: Path, val dir: Path, val ops: Ops, val tracer: Tracer) {
  /** Per-layer readings taken outside the timed window. */
  val extra: mutable.Map[String, Double] = mutable.Map.empty
}

trait Workload {
  def name: String

  /** Ops one pass runs; the same for every seed. */
  def opsPerPass: Int

  /** Writes the seeded inputs (data and statement stream) under `dir`. */
  def generate(seed: Long, dir: Path): Unit

  /** Runs the op list once. */
  def pass(ctx: PassCtx): Unit
}

object Workload {
  val All: Seq[Workload] = Seq(EltPipeline, TableDml, QuerySuite)
  def byName(n: String): Option[Workload] = All.find(_.name == n)
}
