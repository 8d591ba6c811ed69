package graft.telemetry

/** IO-pressure sampler: the CPU-based [[ExternalLoad]] gate is blind
  * to the box's dominant noise source — IO/dispatch pressure waves
  * (loadavg 17-30 at ~zero external CPU inflated six r19 100x rows up
  * to 22x with byte-identical shuffles).
  * The kernel's pressure-stall accounting (`/proc/pressure/io`, PSI)
  * measures exactly that: the cumulative microseconds in which at least
  * one runnable task was stalled on IO. Recording the stall FRACTION of
  * each timed run's wall turns "box weather" from a story into a number
  * the artifact carries per run, next to `ext`.
  */
object IoPressure {
  /** Cumulative "some" IO-stall micros since boot; -1 when PSI is
    * unavailable (kernel without CONFIG_PSI, masked /proc).
    */
  def totalStallUs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/pressure/io")
      try src.getLines().find(_.startsWith("some"))
        .flatMap(_.split("\\s+").find(_.startsWith("total=")))
        .map(_.stripPrefix("total=").toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }
  /** Fraction of `wallSec` during which some task was IO-stalled
    * ([0, 1]); -1 when either sample was unavailable. System-wide, so it
    * includes this JVM's own scans/shuffles — a row's quiet-run fraction
    * is its baseline, and an out-of-band wall with an out-of-band stall
    * fraction is attributed, not suspected.
    */
  def stallFrac(beforeUs: Long, afterUs: Long, wallSec: Double): Double =
    if (beforeUs < 0 || afterUs < 0 || wallSec <= 0) -1.0
    else math.min(1.0, (afterUs - beforeUs) / 1e6 / wallSec)
}
