package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every graft session comes from [[GraftSession]]: a hand-written
  * builder elsewhere in the program is how session configs drift apart
  * (a profiler measuring a different session from the bench it explains).
  */
class SessionLintSpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main/scala only in " +
    "GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repo root: ${root.toAbsolutePath} is not a directory")
    val walk = Files.walk(root)
    val sources: Seq[Path] =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = for {
      p <- sources if p.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"$p:${i + 1}"
    assert(offenders.isEmpty,
      "build sessions with GraftSession.product/harness, not " +
        s"SparkSession.builder: ${offenders.mkString(", ")}")
  }
}
