package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Pre-flight for the one runtime-keyed oracle row: m7's JPEG channel
    * sums are author-time constants exact only on the JDK family that
    * generated `JpegFixtures` (IDCT output legally varies ±1/pixel across
    * JDK builds). On a different runtime the driver's exact-hash compare
    * would fail OPAQUELY; this turns that into a one-line diagnosis with
    * the documented remediation. Returns None when the runtime matches.
    *
    * Matching is by version FAMILY (the `feature.interim.update` triple —
    * everything before the `+` build suffix): the IDCT code is fixed
    * within an update release, so a rebuild/vendor-suffix bump of the
    * same update (e.g. `17.0.20+8-2`) must not cry wolf, while a real
    * update or feature bump still warns.
    */
  def jdkPreflight(runtimeVersion: String): Option[String] = {
    val author = graft.multimodal.JpegFixtures.AuthorJdk
    def family(v: String): String = v.takeWhile(_ != '+')
    if (family(runtimeVersion) == family(author)) None
    else Some(
      s"[verify] JDK mismatch: running on '$runtimeVersion' but the JPEG " +
      s"fixtures were authored on '$author'. The m7_jpeg_pixel_stats oracle " +
      "row is exact only on the authoring JDK family (JPEG IDCT variance is " +
      "legal, +-1/pixel); a hash mismatch on m7 ALONE is expected here, not " +
      "a code defect. To re-pin: re-run tools/AuthorJpegFixtures.java on " +
      "this JDK and refresh JpegFixtures.ChanSums + AuthorJdk.")
  }

  /** Named queries restrict the dump (and both json files) to those, for
    * iterating on a few oracle rows:
    * {{{
    * tools/run.sh graft.Verify <sfDir> <outDir> [names...]
    * tools/parity.py <sfDir> <outDir> [names...]
    * }}}
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [names...]")
    val (sfDir, outDir) = (args(0), args(1))
    val selected = SparkEntry.resolve(args.toSeq.drop(2))
    jdkPreflight(System.getProperty("java.runtime.version"))
      .foreach(System.err.println)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be loud AND durable: round 6 lost 49 queries to one
    // reader bug and the driver saw only silently-absent output dirs.
    // Every failure lands in failures.json next to the results.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> Option(e.getMessage).getOrElse(e.toString)
          .linesIterator.take(3).mkString(" | ").take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected.exists(_._1 == k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} of " +
        s"${selected.size} queries FAILED — see failures.json")
    spark.stop()
  }
}
