package graft

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.SparkListenerEvent

/** The task and job counts `EnvCounters.measure` reads are exact: Spark
  * posts listener events asynchronously, and a read taken without
  * draining the bus misses the last ones whenever delivery lags. */
class EnvCountersSpec extends SparkSpec {

  test("drained counts read exactly one job of seven tasks, run after run") {
    // a listener that spends 2 ms on every event, on the same queue as
    // the counters, makes delivery lag behind the action it reports on
    val slow = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = {
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 2000000L) {}
      }
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      (1 to 20).foreach { i =>
        val (n, m) = EnvCounters.measure(spark) {
          spark.sparkContext.parallelize(1 to 1000, 7).count()
        }
        assert(n === 1000L)
        assert((m.tasks, m.jobs) === ((7L, 1L)), s"run $i read $m")
      }
    } finally spark.sparkContext.removeSparkListener(slow)
  }
}
