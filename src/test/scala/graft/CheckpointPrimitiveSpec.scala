package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One materialization primitive: every checkpoint in main goes through
  * `GraftPins.ck` (or its short form `cut`), which owns the policy —
  * local or reliable, layout, pin, observed scalars. A raw
  * `localCheckpoint()`/`checkpoint()` anywhere else bypasses that policy
  * (a scalar then costs its own job, a face forgets its pin), so the
  * source scan fails on the first one. */
class CheckpointPrimitiveSpec extends AnyFunSuite {

  test("no raw localCheckpoint( or .checkpoint( in src/main outside GraftPins.scala") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory, "no src/main in cwd (non-repo-root test run)")
    val raw = "localCheckpoint\\(|\\.checkpoint\\(".r
    val hits = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftPins.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if raw.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }
      .toSeq
    assert(hits.isEmpty, s"raw checkpoints outside GraftPins:\n${hits.mkString("\n")}")
  }
}
