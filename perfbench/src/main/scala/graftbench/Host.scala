package graftbench

import java.nio.file.{Files, Paths}

/** Host readings. The VM shares its physical cores with other tenants:
  * while the hypervisor runs someone else on a virtual CPU the
  * benchmark wanted, that time is *steal*, and a wall-clock interval
  * stretches by it. Timings are therefore reported with the steal the
  * benchmark's process suffered taken out ([[Host.Reading.steadyS]]);
  * raw wall times go to the run's detail file. Load average and
  * external CPU explain a noisy run; they gate nothing.
  */
object Host {

  /** 1-minute load average, or -1 where /proc is absent. */
  def loadavg(): Double =
    try Files.readAllLines(Paths.get("/proc/loadavg")).get(0).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }

  /** One reading: wall clock, this JVM's CPU time, and the host's busy
    * and steal time from /proc/stat, all in seconds. Busy time is CPU
    * time actually run (user, nice, system, irq, softirq); neither it
    * nor the JVM's CPU time includes steal.
    */
  final case class Reading(wallS: Double, procS: Double, busyS: Double, stealS: Double) {
    def -(o: Reading): Reading = Reading(wallS - o.wallS, procS - o.procS, busyS - o.busyS, stealS - o.stealS)

    /** Steal charged to this JVM: the host's steal in proportion to the
      * JVM's share of the CPU time run.
      */
    def ownStealS: Double =
      if (busyS <= 0) stealS else stealS * math.min(1.0, procS / busyS)

    /** Wall time with this JVM's steal taken out: the interval scaled by
      * the share of its runnable time the JVM actually ran. Exact when
      * the JVM's threads were stolen from evenly over the interval.
      */
    def steadyS: Double = {
      val s = ownStealS
      if (procS <= 0 || s <= 0) wallS else wallS * procS / (procS + s)
    }

    /** Cores kept busy by other processes, and cores stolen, on average. */
    def extCores: Double = if (wallS <= 0) 0.0 else math.max(0.0, busyS - procS) / wallS
    def stealCores: Double = if (wallS <= 0) 0.0 else stealS / wallS
  }

  private val hz = 100.0

  def read(): Reading = {
    val wall = System.nanoTime() / 1e9
    val proc = osBean.fold(0.0)(_.getProcessCpuTime / 1e9)
    val (busy, steal) =
      try {
        // cpu user nice system idle iowait irq softirq steal ...
        val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toDouble)
        ((v(0) + v(1) + v(2) + v(5) + v(6)) / hz, if (v.length > 7) v(7) / hz else 0.0)
      } catch { case _: Exception => (0.0, 0.0) }
    Reading(wall, proc, busy, steal)
  }

  /** Runs `body`; returns its result and the reading over it. */
  def timed[T](body: => T): (T, Reading) = {
    val r0 = read()
    val v = body
    (v, read() - r0)
  }
}
