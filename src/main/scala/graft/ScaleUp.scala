package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-only derived dataset: replicate the driver's sf tables `factor`×
  * with consistently key-shifted replicas, preserving referential
  * integrity (a replica's lineitems point at that replica's orders/parts/
  * suppliers) and per-key distributions — the reference's protocol scale
  * is SF1 (reference: benchmarks/gen-tpch.sh:4) and the provided testdata
  * stops at sf0.1, so this is how the multi-GB headroom run is produced.
  * Correctness is still gated ONLY on the driver-provided data; this
  * output exists to catch super-linear plan blowups before they'd appear
  * at 100 TB. region/nation are dimension enums and are copied as-is.
  *
  * usage: ScaleUp <srcSfDir> <outDir> [factor=10]
  */
object ScaleUp {

  /** (table, key columns shifted by that table's own id-space) — foreign
    * keys shift by the REFERENCED table's id-space so joins stay intact. */
  private val primaryKey = Map(
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcSfDir> <outDir> [factor] [saltText]")
    val (src, out) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    // fail fast on a typo'd flag — a silently-ignored "salttext" would make
    // the SCALING control experiment measure the wrong thing with no error
    require(args.length <= 3 || args(3) == "saltText",
      s"unrecognized 4th argument '${args(3)}' — the only supported flag is 'saltText'")
    val saltText = args.length > 3
    val spark = GraftSession.get()
    // events goes through Catalog.table so ts is normalized to the BIGINT
    // epoch-ns contract whatever the fixture's physical type (nanos or
    // micros); the replica then carries plain INT64, which Catalog reads
    // identically
    def table(t: String): DataFrame = Catalog.table(spark, src, t)

    // id-space base per keyed table: max(pk)+1 on the source
    val base: Map[String, Long] = primaryKey.map { case (t, k) =>
      t -> (table(t).agg(max(col(k).cast("long"))).head.getLong(0) + 1L)
    }
    val userBase =
      table("events").agg(max(col("user_id").cast("long"))).head.getLong(0) + 1L

    // every key column a table carries -> the id-space it shifts within
    val shifts: Map[String, Seq[(String, Long)]] = Map(
      "customer" -> Seq("c_custkey" -> base("customer")),
      "supplier" -> Seq("s_suppkey" -> base("supplier")),
      "part" -> Seq("p_partkey" -> base("part")),
      "orders" -> Seq("o_orderkey" -> base("orders"), "o_custkey" -> base("customer")),
      "lineitem" -> Seq("l_orderkey" -> base("orders"),
        "l_partkey" -> base("part"), "l_suppkey" -> base("supplier")),
      "events" -> Seq("event_id" -> base("events"), "user_id" -> userBase),
      "documents" -> Seq("doc_id" -> base("documents")),
      "embeddings" -> Seq("vec_id" -> base("embeddings")))

    Seq("region", "nation").foreach { t =>
      table(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    shifts.foreach { case (t, keyShifts) =>
      val src0 = table(t)
      val types = src0.schema.map(f => f.name -> f.dataType).toMap
      // up-front overflow check: the max shifted key is factor*base - 1;
      // a 32-bit key column under the session's ANSI mode would otherwise
      // abort mid-write with an opaque cast-overflow. Fail fast, loudly,
      // with the limit made explicit.
      keyShifts.foreach { case (k, b) =>
        val lim: Long = types(k) match {
          case org.apache.spark.sql.types.IntegerType => Int.MaxValue.toLong
          case org.apache.spark.sql.types.ShortType   => Short.MaxValue.toLong
          case _                                      => Long.MaxValue
        }
        require(factor.toLong * b - 1 <= lim,
          s"factor=$factor overflows $t.$k (${types(k).simpleString}): " +
            s"max shifted key ${factor.toLong * b - 1} > $lim — lower the " +
            s"factor or widen $k to BIGINT in the source")
      }
      val replicas = (0 until factor).map { i =>
        val shifted = keyShifts.foldLeft(src0) { case (df, (k, b)) =>
          // cast back so replica schemas stay identical to the source's
          df.withColumn(k, (col(k) + lit(i * b)).cast(types(k)))
        }
        // saltText mode: make replica text genuinely DISSIMILAR (interleave
        // a replica token after every second token — most shingles
        // perturbed, cross-replica Jaccard far below the 0.5 near-dup
        // threshold) so near-dup queries measure pipeline scaling rather
        // than the Θ(replicas²) true-pair output that verbatim copies
        // legitimately produce — the control experiment for
        // SCALING_r3.md's output-bound claim
        if (saltText && t == "documents" && i > 0)
          shifted.withColumn("text", concat_ws(" ",
            expr(s"flatten(transform(split(text, ' '), " +
              s"(x, j) -> IF(j % 2 = 1, array(x, 'r$i'), array(x))))")))
        else shifted
      }
      replicas.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t x$factor done")
    }
    spark.stop()
  }
}
