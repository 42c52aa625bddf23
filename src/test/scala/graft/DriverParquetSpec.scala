package graft

import graft.operators.DriverParquet
import graft.operators.DriverParquet.Field

/** Driver-written parquet sidecars: rows read back through Spark exactly
  * as written, a row whose width does not match the layout fails fast
  * instead of being silently truncated, and a failed overwrite keeps the
  * old sidecar.
  */
class DriverParquetSpec extends SparkSpec {

  private val fields = Seq(Field("cell", "int"), Field("x", "double"))

  test("overwrite writes rows Spark reads back exactly") {
    val dir = tempDir("graft_driver_parquet_") + "/sidecar"
    DriverParquet.overwrite(spark, dir, fields,
      Iterator(Seq(0, 1.5), Seq(1, -2.25)))
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(back === Seq((0, 1.5), (1, -2.25)))
  }

  test("overwrite refuses a row shorter than the field layout, naming " +
    "both widths") {
    val dir = tempDir("graft_driver_parquet_") + "/sidecar"
    val e = intercept[IllegalArgumentException] {
      DriverParquet.overwrite(spark, dir, fields,
        Iterator(Seq(0, 1.5), Seq(1)))
    }
    assert(e.getMessage.contains("1 values for 2 fields"), e.getMessage)
  }

  test("an overwrite that fails mid-write leaves the old sidecar intact " +
    "and no temp file behind") {
    val dir = tempDir("graft_driver_parquet_") + "/sidecar"
    DriverParquet.overwrite(spark, dir, fields,
      Iterator(Seq(0, 1.5), Seq(1, -2.25)))
    val failing = Iterator.tabulate(1000) { i =>
      if (i == 500) throw new java.io.IOException("disk full")
      Seq(i, i * 0.5)
    }
    val e = intercept[java.io.IOException] {
      DriverParquet.overwrite(spark, dir, fields, failing)
    }
    assert(e.getMessage === "disk full")
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(back === Seq((0, 1.5), (1, -2.25)))
    assert(new java.io.File(dir).list().sorted.toSeq ===
      Seq(".part-00000.parquet.crc", "part-00000.parquet"))
  }

  test("a clean overwrite replaces the sidecar and clears files an older " +
    "layout left") {
    val dir = tempDir("graft_driver_parquet_") + "/sidecar"
    DriverParquet.overwrite(spark, dir, fields, Iterator(Seq(0, 1.5)))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "part-00000.parquet"),
      java.nio.file.Paths.get(dir, "part-00001-stale.snappy.parquet"))
    DriverParquet.overwrite(spark, dir, fields, Iterator(Seq(7, 3.0)))
    assert(spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq === Seq((7, 3.0)))
    assert(new java.io.File(dir).list().sorted.toSeq ===
      Seq(".part-00000.parquet.crc", "part-00000.parquet"))
  }
}
