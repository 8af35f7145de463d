package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic entry point: one session (`GraftSession.local` on
  * `SPARK_GRAFT_CPUS` cores, default 8) and one query-name resolver
  * ([[SparkEntry.resolve]]) behind four subcommands.
  *
  * {{{
  * tools/run.sh graft.Tools plan-dump <outDir> <tag> <sfDir> [names...]
  * tools/run.sh graft.Tools plan-audit <sfDir>
  * tools/run.sh graft.Tools probe <name> <sfDir> [trials]
  * tools/run.sh graft.Tools scale-data <srcDir> [outDir] [replicas]
  * }}}
  *
  *  - `plan-dump` writes `.explain("formatted")` of each query to
  *    `<outDir>/<name>_<tag>.txt`: PushedFilters/ReadSchema per scan, the
  *    join strategies and every Exchange, what a plan-diff claim is
  *    checked against.
  *  - `plan-audit` prints each query whose executed plan holds a shape
  *    that hurts at scale (CartesianProduct, nested-loop or sort-merge
  *    joins), then a summary (PLANS.md's method).
  *  - `probe` times one query per trial with the foreign cpu load
  *    measured over the trial ([[graft.util.ProcCpu]]), and prints the
  *    first trial's executed plan after running it (AQE final stages and
  *    ReusedExchange visible).
  *  - `scale-data` generates the N× scale-probe tables the bench's sf1
  *    and sf10 tiers read ([[graft.fixtures.ScaleProbe.ensure]]).
  */
object Tools {

  private val Usage =
    "usage: graft.Tools plan-dump <outDir> <tag> <sfDir> [names...] | " +
      "plan-audit <sfDir> | probe <name> <sfDir> [trials] | " +
      "scale-data <srcDir> [outDir] [replicas]"

  def main(args: Array[String]): Unit = {
    val cmd: (SparkSession, Seq[String]) => Unit = args.headOption match {
      case Some("plan-dump") => planDump
      case Some("plan-audit") => planAudit
      case Some("probe") => probe
      case Some("scale-data") => scaleData
      case _ => throw new IllegalArgumentException(Usage)
    }
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, s"graft-${args(0)}")
    spark.sparkContext.setLogLevel("WARN")
    try cmd(spark, args.toSeq.tail) finally spark.stop()
  }

  private def planDump(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 3, Usage)
    val outDir = Paths.get(args(0))
    val sfDir = args(2)
    val selected = SparkEntry.resolve(args.drop(3))
    Files.createDirectories(outDir)
    selected.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.write(outDir.resolve(s"${name}_${args(1)}.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"wrote $name")
      } catch { case e: Throwable => println(s"$name ERROR ${Bench.firstLine(e)}") }
      spark.catalog.clearCache()
    }
  }

  private def planAudit(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.nonEmpty, Usage)
    val sfDir = args(0)
    val all = SparkEntry.resolve(Nil)
    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    val flagged = all.count { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val shapes = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin")
          .map(count(plan, _))
        if (shapes.sum > 0) println(f"$name%-28s cartesian=${shapes(0)} " +
          s"bnlj=${shapes(1)} smj=${shapes(2)}")
        shapes.sum > 0
      } catch { case e: Throwable => println(s"$name ERROR ${Bench.firstLine(e)}"); false }
      finally spark.catalog.clearCache()
    }
    println(s"== ${all.size} queries, $flagged with non-default join shapes ==")
  }

  private def probe(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2, Usage)
    val (name, fn) = SparkEntry.resolve(args.take(1)).head
    val sfDir = args(1)
    val proc = new graft.util.ProcCpu
    for (t <- 1 to args.lift(2).fold(1)(_.toInt)) {
      val cpu0 = proc.snap()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val amb = proc.othersCores(cpu0, proc.snap())
      println(f"$name trial $t: $n rows in $dt%.2f s (foreign load $amb%.2f cores)")
      if (t == 1) {
        // count() plans its own tree: run this frame's plan so the printout
        // is the final adaptive plan, not isFinalPlan=false
        val qe = df.queryExecution
        qe.executedPlan.execute().count()
        println(qe.executedPlan.toString)
      }
      spark.catalog.clearCache()
    }
  }

  private def scaleData(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.nonEmpty, Usage)
    val src = args(0)
    val out = args.lift(1).getOrElse(new java.io.File("target/sf1").getAbsolutePath)
    val n = args.lift(2).fold(graft.fixtures.ScaleProbe.Replicas)(_.toInt)
    graft.fixtures.ScaleProbe.ensure(spark, src, out, n)
    println(s"probe data at $out (src $src, x$n)")
  }
}
