package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.operators.{Layouts, NioLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The in-process permission path sets exactly the modes the stock
  * `chmod` path sets, and a partitioned store write really goes through
  * it.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioLocalFileSystem.Raw)

  private def mode(p: JPath): Int =
    // the permission and sticky bits: octal 7777
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Fixed common modes plus a seeded spread over all 512 rwx modes. */
  private val perms: Seq[FsPermission] = {
    val rnd = new scala.util.Random(7)
    (Seq("644", "755", "700", "600", "444", "777", "640", "751", "000",
      "111").map(perm) ++
      Seq.fill(20)(new FsPermission(rnd.nextInt(512).toShort))).distinct
  }

  private def sameModes(kind: String, make: JPath => Unit,
      perms: Seq[FsPermission]): Unit = {
    val root = Paths.get(tempDir("graft_nio_fs_"))
    perms.zipWithIndex.foreach { case (fp, i) =>
      val a = root.resolve(s"stock_$i")
      val b = root.resolve(s"nio_$i")
      make(a); make(b)
      stock.setPermission(new Path(a.toUri), fp)
      nio.setPermission(new Path(b.toUri), fp)
      val (ma, mb) = (mode(a), mode(b))
      // restore an owner-writable mode so the temp dir can be removed
      Seq(a, b).foreach(p => Files.setPosixFilePermissions(p,
        NioLocalFileSystem.posixOf(perm("700"))))
      assert(mb === ma,
        f"$kind $fp: stock ${ma}%04o, nio ${mb}%04o")
    }
  }

  test("setPermission gives files the modes stock chmod gives them") {
    sameModes("file", p => Files.write(p, Array[Byte](1)): Unit, perms)
  }

  test("setPermission gives directories the modes stock chmod gives " +
    "them, and a sticky bit falls back to chmod") {
    val sticky = Seq("1777", "1755", "1000").map(perm)
    assert(sticky.forall(_.getStickyBit))
    sameModes("dir", p => Files.createDirectory(p): Unit, perms ++ sticky)
  }

  test("a writePartitioned write goes through NioLocalFileSystem and " +
    "lays down the same modes as a stock write") {
    val root = tempDir("graft_nio_write_")
    val df = spark.range(0, 40).select(
      (col("id") % 4).cast("int").as("k"), col("id").cast("double").as("v"))
    @annotation.nowarn("cat=deprecation")
    def nioBytes = FileSystem.getStatistics("file",
      classOf[NioLocalFileSystem.Raw]).getBytesWritten
    val written0 = nioBytes
    Layouts.writePartitioned(df, s"$root/nio", Seq("k"))
    assert(nioBytes > written0, "no bytes went through NioLocalFileSystem")
    df.write.partitionBy("k").parquet(s"$root/stock")

    def modesUnder(dir: String): Map[String, Seq[Int]] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.toList.filterNot(_.toString == dir)
        .groupBy { p =>
          val n = p.getFileName.toString
          if (Files.isDirectory(p)) "dir"
          else if (n.endsWith(".crc")) "crc" else "file"
        }.map { case (k, ps) => k -> ps.map(mode).distinct.sorted }
      finally walk.close()
    }
    val (n, s) = (modesUnder(s"$root/nio"), modesUnder(s"$root/stock"))
    assert(n("dir") === s("dir"))
    assert(n("file") === s("file"))
    assert(n.get("crc") === s.get("crc"))
    assert(spark.read.parquet(s"$root/nio").count() === 40)
  }
}
