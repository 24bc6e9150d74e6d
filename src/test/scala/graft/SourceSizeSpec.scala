package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The catalog lives in one file per family (`graft.ops.catalog`) with
  * its shared oracle CTEs in `OracleSql`; a file that grows past the
  * bound is the single 7,600-line catalog object growing back, so the
  * source scan fails on it. */
class SourceSizeSpec extends AnyFunSuite {

  test("no src/main Scala file is over 2,000 lines") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory, "no src/main in cwd (non-repo-root test run)")
    val big = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> java.nio.file.Files.readAllLines(p).size)
      .collect { case (p, n) if n > 2000 => s"$p: $n lines" }
      .toSeq
    assert(big.isEmpty, s"src/main files over 2,000 lines:\n${big.mkString("\n")}")
  }
}
