package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round plan archiver: write `.explain("formatted")` for the
  * named queries to a directory — the before/after plan evidence the
  * round's OPTIMIZATION_r*.md cites (plans/r21/<query>_<tag>.txt).
  *
  * Usage: runMain graft.PlanSnap <outDir> <tag> <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  * Runs in Bench's session ([[GraftSession.harness]]).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"[plansnap] wrote $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
