package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft's Spark conf lives in one builder ([[Session]]): a session
  * built anywhere else in the sources would miss every conf decision
  * made there, so the scan below fails on the first one that appears. */
class SessionLintSuite extends AnyFunSuite {

  private val direct = """SparkSession\s*\.\s*builder\s*\(""".r

  test("only graft/Session.scala calls SparkSession.builder") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing source root $r"))
    val allowed = Paths.get("src/main/scala/graft/Session.scala")
    def sources(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    }
    val offenders = for {
      file <- roots.flatMap(sources) if file != allowed
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if direct.findFirstIn(line).isDefined
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "build sessions with graft.Session.builder:\n" + offenders.mkString("\n"))
  }
}
