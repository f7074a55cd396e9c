package graft

import graft.plans.ZOrder
import org.apache.spark.sql.functions._

/** Z-order layout: interleave correctness against a bit-twiddling
  * reference, and the claim that actually matters — files written in z
  * order let ordinary parquet min-max pushdown SKIP data on the
  * second filter column, measured as real records read. */
class ZOrderSpec extends SparkSpec {

  test("zExpr matches a driver-side Morton reference on the fixture") {
    val rows = Catalog.table(spark, sf0001, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        ZOrder.zExpr("l_partkey % 64", "l_suppkey % 64", 6).as("z"))
      .limit(500).collect()
    assert(rows.nonEmpty)
    def ref(x: Long, y: Long): Long =
      (0 until 6).foldLeft(0L) { (acc, b) =>
        acc | (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))
      }
    rows.foreach { r =>
      val (p, s) = (r.getLong(0) % 64, r.getLong(1) % 64)
      assert(r.getLong(2) === ref(p, s), s"z($p,$s)")
    }
  }

  test("z-ordered files prune on the SECOND dimension; a 1-D sort cannot") {
    // both layouts: 32 range-contiguous files of the same sf0.01 rows.
    // The filter is on l_suppkey ONLY — the column the 1-D layout did
    // NOT sort by. Its files all span the full suppkey range (no
    // skipping possible from footer stats); the z-ordered files carry
    // bounded suppkey boxes, so the scan must read strictly less.
    val l = Catalog.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val base = java.nio.file.Files.createTempDirectory("graft-zorder-").toString
    try {
      l.repartitionByRange(32, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(s"$base/linear")
      ZOrder.writeZOrdered(l, "l_partkey % 64", "l_suppkey % 64", 6,
        32, s"$base/zorder")

      def readCount(path: String): (Long, Long) = {
        val (n, m) = EnvCounters.measure(spark) {
          spark.read.parquet(path).filter(col("l_suppkey") <= 2).count()
        }
        (n, m.inputRecords)
      }
      val (nLin, readLin) = readCount(s"$base/linear")
      val (nZ, readZ) = readCount(s"$base/zorder")
      assert(nLin === nZ, "both layouts must return identical results")
      assert(nZ > 0, "filter should select some rows")
      info(s"records read: linear=$readLin, zorder=$readZ (result rows=$nZ)")
      assert(readLin > 0 && readZ > 0)
      assert(readZ * 2 <= readLin,
        s"z-order should at least halve the records read: $readZ vs $readLin")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }
}
