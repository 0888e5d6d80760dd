package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session builder: every harness session comes from
  * `graft.tools.LocalIo.session`. */
class SessionSpec extends AnyFunSuite {

  test("no src/main graft file outside tools/LocalIo.scala calls " +
    "SparkSession.builder( outside a comment") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => root.relativize(p).toString == "tools/LocalIo.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder(") && {
                val t = line.trim
                !t.startsWith("*") && !t.startsWith("//")
              } => s"$p:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
