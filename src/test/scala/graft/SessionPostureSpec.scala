package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the engine session posture. The batch settings live
  * in `Catalog.newSession` and the streaming ones in
  * `Queries.streamSession`; every main builds through them. A
  * hand-copied builder drifts (a probe without GraftExtensions or the
  * AQE settings measures a different engine), so this scans the main
  * sources for copies. It reads files only: calling `Catalog.newSession`
  * here would `getOrCreate` into the shared test session and change its
  * runtime settings.
  */
class SessionPostureSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (file relative to src/main/scala, line number) of every line
    * holding `needle`. */
  private def hits(needle: String): Seq[(String, Int)] = {
    assert(Files.isDirectory(root), s"$root not found: run from the repository root")
    val files = Using.resource(Files.walk(root)) { w =>
      w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    files.sortBy(_.toString).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => (root.relativize(p).toString, i + 1)
      }
    }
  }

  test("SparkSession.builder occurs once in src/main, in core/Catalog.scala") {
    val h = hits("SparkSession.builder")
    assert(h.map(_._1) == Seq("graft/core/Catalog.scala"), h.mkString(", "))
  }

  test("the streaming state-store posture is set only in Queries.scala") {
    val h = hits("stateStore.providerClass")
    assert(h.nonEmpty && h.map(_._1).distinct == Seq("graft/Queries.scala"),
      h.mkString(", "))
  }
}
