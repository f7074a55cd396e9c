package graft

import graft.plans.Int64List
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

/** Replicas of the reference's own integration tests (FIXTURES.md §§2-4),
  * with in-test deterministic fixtures standing in for its git-lfs data.
  * Expected values are computed on the driver from the same generator —
  * a true differential against Spark's distributed execution. */
object ReferenceParitySpec {
  case class W(RainToday: String, WindGustDir: String, MaxTemp: Option[Double])
}

class ReferenceParitySpec extends SparkSpec {

  import spark.implicits._

  /** weather analog: 366 rows, RainToday 66 Yes / 300 No, 16 compass
    * dirs + "NA", MaxTemp nullable float (reference:
    * tests/distributed_aggregation.rs:70-77, distributed_repartitions.rs). */
  import ReferenceParitySpec.W
  private val dirs = Seq("N","NNE","NE","ENE","E","ESE","SE","SSE",
    "S","SSW","SW","WSW","W","WNW","NW","NNW","NA")
  private lazy val weatherLocal: Seq[W] = (0 until 366).map { i =>
    W(if (i % 5 == 0 && i < 330) "Yes" else "No", // exactly 66 Yes
      dirs(i % dirs.length),
      if (i % 11 == 0) None else Some(10.0 + (i % 25) + i * 0.01))
  }

  test("weather: grouped count matches the reference's 66/300 split") {
    assert(weatherLocal.count(_.RainToday == "Yes") === 66)
    val out = weatherLocal.toDF().groupBy($"RainToday").agg(count(lit(1)).as("n"))
      .orderBy($"RainToday").as[(String, Long)].collect()
    assert(out.toSeq === Seq(("No", 300L), ("Yes", 66L)))
  }

  test("weather: avg MaxTemp per WindGustDir matches driver-side computation") {
    // ≡ tests/distributed_repartitions.rs:123-139 (avg over non-null f64)
    val expected = weatherLocal.filter(_.MaxTemp.isDefined)
      .groupBy(_.WindGustDir).view
      .mapValues(ws => ws.map(_.MaxTemp.get).sum / ws.size).toMap
    val got = weatherLocal.toDF().filter($"MaxTemp".isNotNull)
      .groupBy($"WindGustDir").agg(avg($"MaxTemp").as("a"))
      .as[(String, Double)].collect().toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - expected(k)) < 1e-9, k) }
  }

  test("weather: self-join on WindGustDir broadcasts the collected side") {
    // ≡ HashJoinExec CollectLeft (tests/distributed_repartitions.rs:61)
    val w = weatherLocal.toDF()
    val dirCounts = w.groupBy($"WindGustDir").agg(count(lit(1)).as("n"))
    val joined = w.join(broadcast(dirCounts), "WindGustDir")
    assert(joined.count() === 366L)
    assert(graft.plans.PlanDescriber.broadcasts(joined) >= 1)
  }

  test("flights-1m analog: wide repartition preserves all million rows") {
    // ≡ tests/highly_distributed_query.rs:25,67-73 (SELECT * count through
    // a 9-worker wide exchange; only totals are asserted, SURVEY §2c)
    val flights = spark.range(1000000).select(
      (col("id") % 365).as("FL_DATE"),
      (col("id") % 97).as("DEP_DELAY"), (col("id") % 89).as("ARR_DELAY"),
      (col("id") % 501).as("AIR_TIME"), (col("id") % 2475).as("DISTANCE"),
      (col("id") % 1440).as("DEP_TIME"), (col("id") % 1440).as("ARR_TIME"))
    val wide = flights.repartition(64)
    assert(wide.count() === 1000000L)
    assert(wide.rdd.getNumPartitions === 64)
    // and hash-partitioned totals also survive (co-location, not placement)
    assert(flights.repartition(32, col("FL_DATE")).count() === 1000000L)
  }

  test("Int64List: filter > 1 sorted DESC yields [6,5,4,3,2]") {
    // ≡ tests/custom_extension_codec.rs:78-103
    val out = Int64List.df(spark, Seq(1L, 2L, 3L, 4L, 5L, 6L))
      .filter($"value" > 1).orderBy($"value".desc).as[Long].collect()
    assert(out.toSeq === Seq(6L, 5L, 4L, 3L, 2L))
  }

  test("partitioner totals: round-robin and hash preserve every row") {
    // ≡ stream_partitioner_registry.rs row-count tests, totals-only per
    // SURVEY §2c (Murmur3 placement differs from DataFusion's hash)
    val df = spark.range(150).toDF("c0") // 15 batches x 10 rows in the reference
    val rr = df.repartition(10)
    assert(rr.rdd.getNumPartitions === 10)
    assert(rr.count() === 150)
    val hashed = df.repartition(4, col("c0"))
    assert(hashed.count() === 150)
    // co-location: all copies of a key land in one partition
    val copies = df.union(df).repartition(4, col("c0"))
      .select(spark_partition_id().as("p"), col("c0"))
      .groupBy(col("c0")).agg(countDistinct(col("p")).as("nparts"))
      .agg(max(col("nparts"))).head.getLong(0)
    assert(copies === 1L)
  }

  test("executor-side exception's root message reaches the driver") {
    // ≡ tests/error_propagation.rs:48-66: one of 8 partitions fails in user
    // code, and the driver's exception still carries the root message
    val boom = udf((i: Long) => {
      if (i == 7) throw new IllegalStateException("graft-test-boom-7")
      i
    })
    val e = intercept[SparkException] {
      spark.range(0, 16, 1, 8).select(boom(col("id"))).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => Option(c.getMessage).exists(_.contains("graft-test-boom-7"))),
      s"root message lost: ${chain.map(_.getMessage).mkString(" <- ")}")
  }
}
