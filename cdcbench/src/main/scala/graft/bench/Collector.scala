package graft.bench

import graft.sources.{InMemoryRedis, RedisId}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** Polls the target streams every millisecond and records when each entry
  * first becomes visible. It also samples process CPU time, so CPU over any
  * span can be read off afterwards, and (when asked) the source lag.
  */
final class Collector(target: InMemoryRedis, targets: IndexedSeq[String],
                      lag: Option[() => Long]) extends Thread("cdcbench-collector") {
  /** per target: (visible nanos, `ids` field) in stream order */
  val entries: IndexedSeq[ArrayBuffer[(Long, String)]] = targets.map(_ => ArrayBuffer[(Long, String)]())
  /** (nanos, process cpu nanos) */
  val cpu: ArrayBuffer[(Long, Long)] = ArrayBuffer[(Long, Long)]()
  @volatile var lagMax: Long = 0L
  private val last = Array.fill(targets.size)(RedisId.Zero)
  private val MaxId = RedisId(-1L, -1L)
  @volatile private var running = true
  setDaemon(true)

  private def poll(): Unit = {
    var t = 0
    while (t < targets.size) {
      val got = target.xrange(targets(t), last(t), MaxId, 100000)
      if (got.nonEmpty) {
        val now = System.nanoTime()
        got.foreach { case (_, body) => entries(t) += ((now, body.getOrElse("ids", ""))) }
        last(t) = got.last._1
      }
      t += 1
    }
  }

  override def run(): Unit = {
    var nextSample = 0L
    var nextLag = 0L
    while (running) {
      poll()
      val now = System.nanoTime()
      if (now >= nextSample) { cpu += ((now, Host.processCpuNanos())); nextSample = now + 20000000L }
      lag.foreach { f =>
        if (now >= nextLag) { lagMax = math.max(lagMax, f()); nextLag = now + 250000000L }
      }
      LockSupport.parkNanos(2000000L)
    }
  }

  /** Stop polling and pick up whatever is left. */
  def finish(): Unit = {
    running = false
    join()
    poll()
    cpu += ((System.nanoTime(), Host.processCpuNanos()))
  }

  /** Process CPU seconds between two nanoTime instants (interpolated). */
  def cpuSeconds(from: Long, to: Long): Double = {
    def c(i: Int): Double = cpu(i)._2.toDouble
    def at(t: Long): Double = {
      val i = cpu.indexWhere(_._1 >= t)
      if (i == 0) c(0)
      else if (i < 0) c(cpu.size - 1)
      else {
        val t0 = cpu(i - 1)._1; val t1 = cpu(i)._1
        c(i - 1) + (c(i) - c(i - 1)) * (t - t0) / math.max(1L, t1 - t0)
      }
    }
    (at(to) - at(from)) / 1e9
  }
}

/** Host readings: process CPU, peak RSS and stolen CPU from /proc. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNanos(): Long = os.getProcessCpuTime

  /** `VmHWM` of this process in MB. */
  def peakRssMb(): Double = procLine("/proc/self/status", "VmHWM:")
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** (steal seconds, total seconds) summed over all CPUs, from /proc/stat. */
  def cpuTimes(): (Double, Double) = procLine("/proc/stat", "cpu ") match {
    case Some(l) =>
      val f = l.trim.split("\\s+").drop(1).map(_.toDouble)
      val hz = 100.0
      (if (f.length > 7) f(7) / hz else 0.0, f.take(8).sum / hz)
    case None => (0.0, 0.0)
  }

  private def procLine(path: String, prefix: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith(prefix)) finally src.close()
    } catch { case _: java.io.IOException => None }
}
