package graft

import graft.util.Num
import org.apache.spark.sql.functions._

/** Hand-computed semantic checks on tiny in-memory data — the unit layer
  * under the oracle gate (≡ the reference's mechanism unit tests,
  * reference: src/flight_service/stream_partitioner_registry.rs:46-126). */
class SemanticsSpec extends SparkSpec {

  import spark.implicits._

  test("Num.dsum is partition-count invariant (bit-exact)") {
    val xs = (1 to 10000).map(i => math.sin(i) * 1e6)
    val a = xs.toDF("x").repartition(1).agg(Num.dsum($"x")).head.getDouble(0)
    val b = xs.toDF("x").repartition(37).agg(Num.dsum($"x")).head.getDouble(0)
    val c = xs.reverse.toDF("x").repartition(5).agg(Num.dsum($"x")).head.getDouble(0)
    assert(a == b && b == c)
    // and it equals the exact scaled-integer sum computed on the driver
    val exact = xs.map(x => math.floor(x * 1e6 + 0.5).toLong).sum / 1e6
    assert(a == exact)
  }

  test("exact dedup groups identical texts and keeps min id") {
    val docs = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("docs_tmp")
    val out = docs.groupBy(md5($"text".cast("binary")))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n"))
      .orderBy($"keeper")
      .select($"keeper", $"n").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("sessionize splits on >30min gaps per user") {
    // user 1: events at 0min, 10min, 50min (gap 40 -> 2 sessions)
    // user 2: one event (1 session)
    val us = 60L * 1000000L
    val events = Seq(
      (1L, 0L * us, 10L), (1L, 10L * us, 11L), (1L, 50L * us, 12L),
      (2L, 5L * us, 20L)).toDF("user_id", "ts_us", "event_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val out = events
      .withColumn("prev", lag($"ts_us", 1).over(w))
      .withColumn("new_sess",
        when($"prev".isNull || $"ts_us" - $"prev" > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy($"user_id").agg(sum($"new_sess").as("n_sessions"))
      .orderBy($"user_id").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 2L), (2L, 1L)))
  }

  test("cosine top-k ranks an identical vector first") {
    val knn = Registry.byName("v_knn_brute").run(spark, sf0001)
      .as[(Long, Int, Long, Double)].collect()
    // per query: 5 neighbors, sims in [-1,1], non-increasing
    val byQ = knn.groupBy(_._1)
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_._2).map(_._4)
      assert(sims.length === 5)
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
      assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    }
  }

  test("minhash-LSH candidates are a subset-quality proxy of exact jaccard") {
    // every reported pair must clear the verification threshold
    val pairs = Registry.byName("t_minhash_lsh").run(spark, sf0001)
      .as[(Long, Long, Double)].collect()
    assert(pairs.forall(_._3 >= 0.5))
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("simhash of identical docs is identical, near-dup hashes are close") {
    val sh = Registry.byName("t_simhash").run(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(sh.size === 500)
    // fingerprints are 60-bit
    assert(sh.values.forall(v => v >= 0L && v < (1L << 60)))
  }
}
