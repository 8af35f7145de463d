package graft.util

/** Exact foreign-CPU attribution from /proc: over a window, the cores of
  * CPU consumed by processes OTHER than this JVM =
  * (Δtotal-busy − Δown) / Δtotal × ncores, with total-busy summed over
  * /proc/stat's non-idle fields and own from /proc/self/stat
  * utime+stime+cutime+cstime (same USER_HZ units, so the ratio is
  * HZ-free; REAPED children count as own — Hadoop's RawLocalFileSystem
  * shells out for checkpoint-file chmods, and those short-lived children
  * would otherwise read as foreign load).
  *
  * This is the number /proc/loadavg cannot give: loadavg counts OUR
  * runnable and D-state threads and remembers finished bursts for
  * minutes. A foreign CPU eater — the BENCH_r08 `sf1_t9` 20× scenario —
  * shows up here directly and instantly; a purely-I/O foreign hog is the
  * one thing it misses. Returns 0.0 wherever /proc is unavailable
  * (non-Linux): gates never block, rows are never flagged.
  *
  * Used by `graft.Bench` (per-trial contended marking + mid-suite load
  * gates) and `graft.Tools probe` so a drift adjudication carries its
  * own load evidence.
  */
final class ProcCpu {
  // Files.readAllBytes, not scala.io.Source: snap() runs per trial and
  // per gate probe, and an unclosed Source leaks the fd until GC
  private def readProc(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "US-ASCII")

  /** (all-cpus busy jiffies, all-cpus total jiffies, own jiffies). */
  def snap(): (Long, Long, Long) =
    try {
      val cpu = readProc("/proc/stat").linesIterator
        .next().split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest...]
      val total = cpu.take(8).sum
      val busy = total - cpu(3) - cpu(4) // minus idle, iowait
      val self = readProc("/proc/self/stat").split("\\s+")
      val own = self(13).toLong + self(14).toLong +
        self(15).toLong + self(16).toLong
      (busy, total, own)
    } catch { case _: Throwable => (0L, 1L, 0L) }

  /** Host CPU count from the `cpuN` rows of /proc/stat — NOT
    * `availableProcessors`, which reports this JVM's cgroup/affinity
    * quota. The aggregate `cpu` line spans all host CPUs, so scaling its
    * jiffy ratio by a smaller quota would underestimate foreign load and
    * let a contended-host gate pass. Falls back to availableProcessors
    * where /proc is unavailable (where snap() returns zeros anyway).
    */
  lazy val hostCores: Int =
    try {
      val n = readProc("/proc/stat").linesIterator
        .count(l => l.startsWith("cpu") && l.length > 3 && l.charAt(3).isDigit)
      if (n > 0) n else Runtime.getRuntime.availableProcessors
    } catch { case _: Throwable => Runtime.getRuntime.availableProcessors }

  /** Foreign cores consumed between two snapshots. */
  def othersCores(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val dTotal = (b._2 - a._2).max(1L)
    val dOthers = ((b._1 - a._1) - (b._3 - a._3)).max(0L)
    dOthers.toDouble / dTotal * hostCores
  }

  /** Foreign cores over a fresh `windowMs` sampling window. */
  def ambientNow(windowMs: Long = 1000L): Double = {
    val a = snap(); Thread.sleep(windowMs); othersCores(a, snap())
  }
}
