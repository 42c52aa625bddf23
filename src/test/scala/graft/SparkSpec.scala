package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Temp directory that is ACTUALLY removed at JVM exit.
    * `File.deleteOnExit` silently no-ops on non-empty directories, so
    * parquet-filled test dirs accumulated across runs (ADVICE r13) —
    * this registers one shutdown-hook recursive walk instead.
    */
  def tempDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(tag)
    SparkSpec.registerForCleanup(d)
    d.toString
  }

  /** [[tempDir]] as a File — the shape most specs consume. */
  def tempDirFile(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(tag)
    SparkSpec.registerForCleanup(d)
    d.toFile
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  private val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val cleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanupDirs.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
            .foreach(p => try java.nio.file.Files.deleteIfExists(p)
            catch { case _: Throwable => () })
        } catch { case _: Throwable => () }
      }))
  }
  def registerForCleanup(p: java.nio.file.Path): Unit = {
    cleanupHook
    cleanupDirs.add(p)
    ()
  }

  // One session per JVM: sbt forks a single test JVM, so specs share it.
  // Bench's and Verify's session shape, on two cores.
  lazy val session: SparkSession = {
    val s = GraftSession.harness(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
