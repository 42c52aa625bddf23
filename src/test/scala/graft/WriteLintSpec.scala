package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every partitioned store write goes through `Layouts.writePartitioned`:
  * a hand-rolled `.write ... .partitionBy(...)` chain is how a write
  * loses the fixed-count clustering (and runs as one task under AQE) or
  * the spawn-free local filesystem.
  */
class WriteLintSpec extends AnyFunSuite {

  /** From each `Dataset.write` (a parameterless call, unlike a stream's
    * `write(...)`) to the call that names the sink: the writer chain a
    * `partitionBy` would sit in (`Window.partitionBy` never does).
    */
  private val writerChain =
    """(?s)\.write\b(?!\s*\()(.{0,2000}?)\.(parquet|text|json|csv|orc|save|saveAsTable|insertInto)\(""".r

  test("a writer .partitionBy( appears in src/main/scala only in " +
    "Layouts.writePartitioned and IvfIndex's append") {
    val sources = SessionLintSpec.mainSources()
    assert(sources.exists(_.getFileName.toString == "Layouts.scala"))
    val offenders = for {
      p <- sources
      src = new String(Files.readAllBytes(p), "UTF-8")
      m <- writerChain.findAllMatchIn(src)
      if m.group(1).contains(".partitionBy(")
      if !allowed(p.getFileName.toString, src, m.start, m.group(1))
    } yield s"$p:${src.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty,
      "write partitioned stores with Layouts.writePartitioned: " +
        offenders.mkString(", "))
  }

  private def allowed(file: String, src: String, at: Int, chain: String) =
    file match {
      case "Layouts.scala" =>
        val helper = src.indexOf("def writePartitioned(")
        val next = src.indexOf("\n  def ", helper + 1)
        helper >= 0 && at > helper && (next < 0 || at < next)
      // an append adds files per task per touched cell; compact folds
      // them back to one file per cell
      case "IvfIndex.scala" => chain.contains("""mode("append")""")
      case _ => false
    }
}
