package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The engine's `spark.graft.*` confs are declared in one place,
  * [[GraftConf]]: operators read them through its typed keys, so a key
  * name, its default and its parse cannot drift apart between readers.
  */
class GraftConfSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val declaring = mainRoot.resolve("graft/GraftConf.scala")

  test("no spark.graft key is spelled outside GraftConf in src/main") {
    assert(Files.isRegularFile(declaring), s"run from the repository root: $declaring")
    val sources = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
    val offenders = for {
      p <- sources if p != declaring
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("\"spark.graft.")
    } yield s"${mainRoot.relativize(p)}:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"declare the key in GraftConf and read it through its Key:\n${offenders.mkString("\n")}")
  }

  test("the declared keys, byte for byte") {
    // a benchmark forces the distributed closure by setting this key by
    // its literal name: renaming it would silently measure the local solve
    assert(GraftConf.LocalSolveMaxPairs.key == "spark.graft.cc.localSolveMaxPairs")
    assert(GraftConf.LocalLoopMaxVocab.key == "spark.graft.bpe.localLoopMaxVocab")
    assert(GraftConf.ReliableCheckpoint.key == "spark.graft.cc.reliableCheckpoint")
    val declared = Files.readAllLines(declaring).asScala
      .flatMap("\"(spark\\.graft\\.[\\w.]+)\"".r.findAllMatchIn(_).map(_.group(1))).toSet
    assert(declared == Set(GraftConf.LocalSolveMaxPairs, GraftConf.LocalLoopMaxVocab,
      GraftConf.ReliableCheckpoint).map(_.key))
  }
}
