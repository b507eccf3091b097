package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source fence: graft.Session is the only place a SparkSession is built,
  * so Bench, Verify, the tests and the tools cannot drift apart again. */
class SourceFenceSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("SparkSession.builder appears only in graft/Session.scala") {
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      scalaFiles(root)
        .filterNot(_.getFileName.toString == "SourceFenceSpec.scala")
        .filter(p => Files.readAllLines(p).asScala
          .exists(l => !isComment(l) && l.contains("SparkSession.builder")))
        .map(p => Paths.get(root).relativize(p).toString)
    }
    assert(hits == Seq("graft/Session.scala"), hits.mkString(", "))
  }
}
