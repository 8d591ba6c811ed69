package graft.telemetry

/** External-contention estimator for the 100x measurement gate: machine
  * busy cores (/proc/stat deltas) minus THIS JVM's own CPU use
  * (processCpuTime delta) over a window. The 1-min loadavg cannot gate
  * a tier that saturates the box itself — mid-bench it reads ~30
  * whether or not anyone else is running (it lags our own just-finished
  * jobs by its 60 s time constant), which is how r16's artifact
  * recorded 160.6 s for a 40-58 s pageRank. Self-corrected busy cores
  * distinguish the two: our own load subtracts out, an external hog
  * doesn't.
  */
object ExternalLoad {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** (self process CPU ns, machine busy jiffies, machine idle jiffies,
    * wall ns); busy = user+nice+system+irq+softirq+steal (guest time is
    * already inside user time — summing every column double-counts it).
    */
  final case class Snap(selfNs: Long, busy: Long, idle: Long, wallNs: Long)
  def snap(): Snap = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val c = try src.getLines().next().trim.split("\\s+").drop(1)
      .map(_.toLong).padTo(8, 0L) finally src.close()
    Snap(os.getProcessCpuTime,
      c(0) + c(1) + c(2) + c(5) + c(6) + c(7), c(3) + c(4),
      System.nanoTime())
  }
  /** Average busy cores NOT owned by this JVM between two snaps (>= 0);
    * -1 when /proc/stat was unreadable at either end.
    */
  def externalCores(a: Snap, b: Snap, nCpus: Int): Double = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val tot = (b.busy - a.busy) + (b.idle - a.idle)
    if (wall <= 0 || tot <= 0) return -1.0
    val machine = (b.busy - a.busy).toDouble / tot * nCpus
    math.max(0.0, machine - (b.selfNs - a.selfNs) / 1e9 / wall)
  }
  def trySnap(): Option[Snap] =
    try Some(snap()) catch { case _: Throwable => None }
  /** Average external busy cores from `a` to now ([[externalCores]]);
    * -1 when /proc/stat was unreadable at either end.
    */
  def coresSince(a: Option[Snap], nCpus: Int): Double =
    a.flatMap(s => trySnap().map(externalCores(s, _, nCpus))).getOrElse(-1.0)
}
