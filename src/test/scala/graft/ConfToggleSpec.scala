package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every operator has ONE physical form: a variant that lost its A/B is
  * deleted, not parked behind a `graft.*` session-conf key that no entry
  * point, benchmark or production caller sets. This scans the main
  * sources so a read of such a key cannot come back unnoticed. Spark's own
  * `spark.*` confs are not affected. */
class ConfToggleSpec extends AnyFunSuite {
  test("main code reads no graft.* session-conf key") {
    val read = """(getOption|get)\("graft\.""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    val files = Files.walk(root)
    val hits = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if read.findFirstIn(line).isDefined =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
    assert(hits.isEmpty,
      s"${hits.size} graft.* session-conf read(s) in main code:\n" +
        hits.mkString("\n"))
  }
}
