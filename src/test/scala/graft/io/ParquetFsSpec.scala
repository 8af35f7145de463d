package graft.io

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkSpec}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** After `GraftSession.tune` every FileSystem-API `file:` lookup of the
  * session finds one [[ForkFreeLocalFileSystem]], and a partitioned parquet
  * write through it lands the same tree, sidecars and mode bits as through
  * Hadoop's stock `LocalFileSystem`.
  */
class ParquetFsSpec extends SparkSpec {
  import spark.implicits._

  private val LocalUri = new URI("file:///")

  test("every file: lookup after tune is one fork-free instance, kept by a second tune") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fromSession = FileSystem.get(LocalUri, spark.sessionState.newHadoopConf())
    assert(fromSession.isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.get(LocalUri, hadoopConf) eq fromSession)
    assert(FileSystem.getLocal(hadoopConf) eq fromSession)
    // what a write job's conf (and so every task's copy) names for `file:`
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") ==
      classOf[ForkFreeLocalFileSystem].getName)
    GraftSession.tune(spark)
    assert(FileSystem.get(LocalUri, spark.sessionState.newHadoopConf()) eq fromSession)
    assert(FileSystem.getLocal(hadoopConf) eq fromSession)
  }

  test("a partitioned parquet write lands the same tree, sidecars and modes as on LocalFileSystem") {
    val rows = (0 until 600).map(i => (i.toLong, i % 5, i % 3, s"v$i"))
    val df = rows.toDF("id", "cell", "g", "v").repartition(3)
    val root = Files.createTempDirectory("graft-pqfs")
    val (free, stock) = (root.resolve("free"), root.resolve("stock"))
    df.write.partitionBy("cell", "g").parquet(free.toString)
    withConf("fs.file.impl" -> classOf[LocalFileSystem].getName,
             "fs.file.impl.disable.cache" -> "true") {
      df.write.partitionBy("cell", "g").parquet(stock.toString)
    }
    val back = spark.read.parquet(free.toString).select("id", "cell", "g", "v")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(back.sorted == rows.sorted)

    val tree = modes(free)
    assert(tree == modes(stock))
    val names = tree.map(_._1)
    assert(names.contains("._SUCCESS.crc"))
    val parts = names.filter(_.endsWith(".parquet"))
    assert(parts.size >= 15 && parts.forall(_.startsWith("cell=")))
    for (p <- parts) {
      val (dir, file) = p.splitAt(p.lastIndexOf('/') + 1)
      assert(names.contains(s"$dir.$file.crc"), p)
    }
    // a data file's mode is the file default under the filesystem's umask
    val fs = FileSystem.get(LocalUri, spark.sparkContext.hadoopConfiguration)
    val fileMode = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(fs.getConf))
    assert(tree.filter(e => parts.contains(e._1)).forall(_._2 == f"${fileMode.toShort.toInt}%04o"))
  }

  /** Every entry under `root` as (relative name, octal mode), sorted, with
    * the write job's UUID in part-file names masked.
    */
  private def modes(root: JPath): Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      val name = root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "*")
      name -> f"${Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff}%04o"
    }.toList.sorted
    finally walk.close()
  }
}
