package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft's Spark conf lives in one builder ([[Session]]): a session
  * built anywhere else in the sources would miss every conf decision
  * made there, so the scan below fails on the first one that appears.
  * Likewise graft materializes intermediates only with
  * `localCheckpoint`: in Spark 4.1.2 every persisted plan leaves a
  * cloned session behind, and a cache outlives the call that made it. */
class SessionLintSuite extends AnyFunSuite {

  private val direct = """SparkSession\s*\.\s*builder\s*\(""".r
  private val persisted = """\.cache\(\)|\.persist\(""".r

  private def sources(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"missing source root $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  /** `file:line: text` of every line under `roots` that `pattern` matches. */
  private def offenders(roots: Seq[String], pattern: scala.util.matching.Regex,
      allowed: Set[Path] = Set.empty): Seq[String] =
    for {
      file <- roots.map(Paths.get(_)).flatMap(sources) if !allowed(file)
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$file:${i + 1}: ${line.trim}"

  test("only graft/Session.scala calls SparkSession.builder") {
    val found = offenders(Seq("src/main/scala", "src/test/scala"), direct,
      Set(Paths.get("src/main/scala/graft/Session.scala")))
    assert(found.isEmpty,
      "build sessions with graft.Session.builder:\n" + found.mkString("\n"))
  }

  test("src/main never calls .cache() or .persist(") {
    val found = offenders(Seq("src/main/scala"), persisted)
    assert(found.isEmpty,
      "materialize with localCheckpoint, not a cache:\n" + found.mkString("\n"))
  }
}
