package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The measured Spark geometry: one JVM, `local[N]` with N = 2 task slots
  * (fewer if the JVM may use fewer cores), shuffle partitions pinned to N,
  * no UI, and every Spark scratch directory inside the checkout. The heap is
  * fixed by the launcher (`-Xms` = `-Xmx`).
  *
  * Two slots on a 4-core host leave room for the streaming query threads,
  * the JIT and the collector: with as many slots as cores, any CPU taken by
  * another process stretches every stage and the latencies follow the
  * host's load from run to run.
  */
object Session {
  val Slots = 2

  def cores: Int = math.min(Slots, Runtime.getRuntime.availableProcessors)

  /** Spark's scratch directory for this process, removed after the run. */
  val localDir = new File(s".bench_work/spark-local-${ProcessHandle.current().pid()}")

  def start(): SparkSession = {
    val local = localDir.getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$local/hadoop")
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.tune(spark)
    spark
  }

  /** Live heap after full collections, in MB. */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Wait until the listener bus has delivered the window's last events:
    * the totals hold still for 300 ms (at most 10 s).
    */
  def drainListeners(tap: SparkTap): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = tap.snap()
    var still = 0
    while (still < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = tap.snap()
      if (now.copy(gcMs = 0) == last.copy(gcMs = 0)) still += 1 else still = 0
      last = now
    }
  }
}
