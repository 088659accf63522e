package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed operation. `kind` is read, write or maintain; `family`
  * groups ops for the family geomeans (kpi, dedup, text, vector). `ms`
  * is the op's latency with hypervisor steal taken out (see [[Host]]),
  * `wallMs` its raw wall time.
  */
final case class OpSample(name: String, kind: String, family: String, time: Host.Reading, ok: Boolean) {
  def ms: Double = time.steadyS * 1e3
  def wallMs: Double = time.wallS * 1e3
}

/** Closed-loop op runner of one pass: each op runs only after the
  * previous one returned. An op is timed from the call into graft to
  * the last row leaving the sink; its correctness check runs after the
  * clock stops, and a wrong result counts as a failed op.
  */
final class Ops(tracer: Tracer) {
  val samples = ArrayBuffer.empty[OpSample]
  /** Benchmark work inside the pass that is not graft's: checks, staging, resets. */
  var untimedNs = 0L
  /** Wall-clock intervals (ms) of that work, and the file I/O it did. */
  val untimedMs = ArrayBuffer.empty[(Long, Long)]
  var untimedFs = FsCounters(0, 0, 0, 0, 0)
  private var nextOp = 0

  def op[T](name: String, kind: String, family: String = "")(body: => T)(
      check: T => Option[String]): Unit = {
    tracer.currentOp = nextOp
    nextOp += 1
    val (result, time) = Host.timed(try Right(body) catch { case NonFatal(e) => Left(e) })
    val error = untimed {
      result match {
        case Left(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
        case Right(v) =>
          try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
      }
    }
    tracer.currentOp = -1
    error.foreach(e => System.err.println(s"[perfbench] op $name FAILED: ${e.take(500)}"))
    samples += OpSample(name, kind, family, time, error.isEmpty)
  }

  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    val fs0 = FsCounters.now()
    try tracer.span("bench.untimed")(body)
    finally {
      untimedNs += System.nanoTime() - t0
      untimedMs += ((ms0, System.currentTimeMillis()))
      untimedFs = untimedFs + (FsCounters.now() - fs0)
    }
  }
}

object Ops {
  /** A check that `got` equals `want`, naming both when they differ. */
  def expect[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}
