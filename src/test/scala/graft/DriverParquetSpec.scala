package graft

import graft.operators.DriverParquet
import graft.operators.DriverParquet.Field

/** Driver-written parquet sidecars: rows read back through Spark exactly
  * as written, and a row whose width does not match the layout fails
  * fast instead of being silently truncated.
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
}
