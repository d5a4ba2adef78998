package perfbench

import java.nio.file.{Files, Paths}
import scala.util.Try

/** Host-noise record taken at the boundaries of the measured region: the
  * 1-minute load average, a fixed CPU work unit and a memory-bandwidth work
  * unit. A CPU-only probe misses drift that only memory-bound work feels,
  * so both are taken. */
object Host {
  final case class Sample(loadavg1: Double, cpuUnitMs: Double, memCopyGBps: Double)

  @volatile private var sink = 0L

  /** Best of three of a fixed xorshift loop. */
  private def cpuUnitMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L; var acc = 0L; var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
    sink += acc
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Best of three copies of a 64 MiB array (read + write bytes / time). */
  private def memCopyGBps(): Double = {
    val a = Array.fill[Long](8 << 20)(1L)
    val b = new Array[Long](8 << 20)
    System.arraycopy(a, 0, b, 0, a.length)
    val best = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      System.arraycopy(a, 0, b, 0, a.length)
      System.nanoTime() - t0
    }.min
    sink += b(b.length - 1)
    2.0 * a.length * 8 / best
  }

  def sample(): Sample = Sample(
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble)
      .getOrElse(-1.0),
    cpuUnitMs(), memCopyGBps())

  /** Largest relative change of either work unit between two samples. */
  def drift(a: Sample, b: Sample): Double =
    math.max(math.abs(b.cpuUnitMs / a.cpuUnitMs - 1.0), math.abs(b.memCopyGBps / a.memCopyGBps - 1.0))
}
