package graft

import org.apache.spark.sql.functions._
import graft.queries.VectorOps

/** r14: v_pca_power's 8 power-iteration rounds moved from a chain of
  * one-row Spark frames to driver math over the collected 64×64
  * covariance ([[VectorOps.powerIterate]]). This pins the driver loop
  * BIT-IDENTICAL to the legacy frame form (crossJoin(broadcast) +
  * aggregate(zip_with) matvec + max|w| rescale + sorted collect_list),
  * reproduced here verbatim, on a deterministic synthetic matrix. */
class PcaIterSpec extends SparkSpec {

  import spark.implicits._

  /** The r13 frame-based loop, verbatim shape. */
  private def legacyIterate(mrows: Array[Array[Double]], iters: Int): (Array[Double], Double) = {
    val cmat = mrows.zipWithIndex
      .map { case (row, k) => (k + 1, row.toSeq) }.toSeq
      .toDF("i", "row_arr")
    var v = spark.range(1).select(expr(
      s"transform(sequence(1, ${mrows.length}), p -> CAST(1.0 AS DOUBLE))").as("v_arr"))
    for (_ <- 1 to iters) {
      val w = cmat.crossJoin(broadcast(v))
        .select(col("i"), expr(
          "aggregate(zip_with(row_arr, v_arr, (x, y) -> x * y)," +
            " CAST(0.0 AS DOUBLE), (a, b) -> a + b)").as("w"))
      val m = w.agg(max(abs(col("w"))).as("m"))
      v = w.crossJoin(broadcast(m))
        .select(col("i"), (col("w") / col("m")).as("wn"))
        .groupBy()
        .agg(expr("transform(sort_array(collect_list(struct(i, wn)))," +
          " s -> s.wn)").as("v_arr"))
    }
    val fin = v.select(col("v_arr"), expr(
        "aggregate(transform(v_arr, x -> x * x)," +
          " CAST(0.0 AS DOUBLE), (a, b) -> a + b)").as("ss"))
      .head()
    (fin.getSeq[Double](0).toArray, fin.getDouble(1))
  }

  /** Deterministic full-rank-ish symmetric 64×64 test matrix with
    * irrational-valued entries so float-op order differences would show. */
  private def synthMatrix(): Array[Array[Double]] = {
    val dim = 64
    Array.tabulate(dim, dim) { (a, b) =>
      val (i, j) = (a + 1, b + 1)
      math.sin(i * 0.37 + j * 0.73) / (1.0 + math.abs(i - j)) +
        (if (i == j) 2.5 + 0.01 * i else 0.0)
    }
  }

  test("powerIterate bit-matches the legacy frame-based loop (8 rounds)") {
    val m = synthMatrix()
    val (vD, ssD) = VectorOps.powerIterate(m, 8)
    val (vF, ssF) = legacyIterate(m, 8)
    assert(vD.length === vF.length)
    vD.indices.foreach { k =>
      assert(java.lang.Double.doubleToLongBits(vD(k)) ===
        java.lang.Double.doubleToLongBits(vF(k)), s"position $k differs")
    }
    assert(java.lang.Double.doubleToLongBits(ssD) ===
      java.lang.Double.doubleToLongBits(ssF))
  }

  test("powerIterate bit-matches the legacy loop at 1 and 3 rounds") {
    val m = synthMatrix()
    for (iters <- Seq(1, 3)) {
      val (vD, ssD) = VectorOps.powerIterate(m, iters)
      val (vF, ssF) = legacyIterate(m, iters)
      vD.indices.foreach { k =>
        assert(java.lang.Double.doubleToLongBits(vD(k)) ===
          java.lang.Double.doubleToLongBits(vF(k)), s"iters=$iters pos $k")
      }
      assert(java.lang.Double.doubleToLongBits(ssD) ===
        java.lang.Double.doubleToLongBits(ssF))
    }
  }
}
