package graft

import java.nio.file.Files

class ScaleStressSpec extends SparkSpec {
  test("scaled warehouses are keyed by their source directory") {
    val root = Files.createTempDirectory("graft_scale").toString
    try {
      def lineitems(dir: String): Long =
        spark.read.parquet(s"$dir/lineitem.parquet").count()
      val small = ScaleStress.warehouseDir(spark, sf("sf0.001"), root, 2)
      val big = ScaleStress.warehouseDir(spark, sf("sf0.01"), root, 2)
      assert(lineitems(small) == 2 * lineitems(sf("sf0.001")))
      assert(lineitems(big) == 2 * lineitems(sf("sf0.01")))
      assert(lineitems(small) != lineitems(big))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
