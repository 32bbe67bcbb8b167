package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Library code never writes to stdout: that channel carries the
 * harness mains' machine-read output (Bench's scored JSON line).
 * Diagnostics go to stderr; the mains at the package root are the
 * only stdout writers. */
class NoStdoutSpec extends AnyFunSuite {
  private val libraryDirs =
    Seq("graph", "ops", "queries", "streaming", "wcc", "functions")
  // a bare print/println/printf call (not `x.println`) or System.out
  private val stdoutWrite = """(?<![\w.])(print|println|printf)\s*\(|System\.out""".r

  test("library packages never print to stdout") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val hits = for {
      dir <- libraryDirs
      file <- Files.walk(root.resolve(dir)).iterator().asScala.toSeq
      if file.toString.endsWith(".scala")
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if stdoutWrite.findFirstIn(code.split("//", 2)(0)).isDefined
    } yield s"$file:${i + 1}: $code"
    assert(hits.isEmpty, hits.mkString("stdout writes in library code:\n", "\n", ""))
  }
}
