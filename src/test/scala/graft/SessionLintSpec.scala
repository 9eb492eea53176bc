package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point builds its session through [[GraftSession]], so the
  * configuration contract has exactly one definition. */
class SessionLintSpec extends AnyFunSuite {

  test("SparkSession.builder appears under src/main/scala only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    val offenders = sources.filter(_.getFileName.toString != "GraftSession.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") => s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    assert(offenders.isEmpty, s"build sessions with GraftSession:\n${offenders.mkString("\n")}")
  }
}
