package graft

import org.apache.spark.sql.SparkSession

/** Multi-JVM correctness proof: runs the query registry under
  * `local-cluster[2,16,3072]` — Spark standalone with TWO SEPARATE
  * EXECUTOR JVMs, so every task crosses a real process boundary
  * (closure + row serialization, netty block transfer for every shuffle)
  * exactly as on a 1000-executor cluster. This is the Spark-native analog
  * of the reference's core claim — results are identical whether a plan
  * runs in one process or is distributed over Arrow Flight workers
  * (reference: README.md:11-19, src/flight_service/service.rs:17-22,
  * src/plan/arrow_flight_read.rs:25-29).
  *
  * It is Verify's dump under that master (same arguments, same
  * per-query parquet + oracle_sql.json), so `tools/check_oracles.py`
  * gives the same DuckDB equality gate as a Verify run — multi-JVM
  * results must hash-match the oracle. The full registry runs by default
  * (the reference's discipline is every-query distributed equality,
  * tests/tpch.rs:168-194); `only=` narrows it for topology-focused
  * passes. Any failed query fails the run.
  *
  * usage: SPARK_SCALA_VERSION=2.13 sbt "runMain graft.ClusterCheck <sfDir> <outDir> [only=q1,q2]"
  * (the env var is required: outside spark-submit the in-process Worker's
  * command builder cannot infer the Scala version when launching executor
  * JVMs — "Cannot find any build directories" otherwise)
  */
object ClusterCheck {

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = Runner.dumpArgs("ClusterCheck", args)
    // topology override (GRAFT_CLUSTER_TOPOLOGY="4,8,3072"): the default
    // 2x16 proves the process boundary; a wider fan-out (4 executor JVMs)
    // exercises partition placement and block transfer patterns two JVMs
    // can mask — the Spark analog of the reference's 10-worker smoke
    // (tests/highly_distributed_query.rs)
    val spark = session(sys.env.getOrElse("GRAFT_CLUSTER_TOPOLOGY", "2,16,3072"))
    val failed = Runner.dump(spark, sfDir, outDir, names, "cluster-check")
      .filterNot(_.ok).map(_.name)
    require(failed.isEmpty, s"cluster-check failures: ${failed.mkString(", ")}")
    spark.stop()
  }

  /** A session under `local-cluster[topo]` (`workers,coresPerWorker,
    * memPerWorkerMb`), returned once every executor JVM has registered. */
  private[graft] def session(topo: String): SparkSession = {
    val topoParts = topo.split(",").map(_.trim)
    require(topoParts.length == 3 && topoParts.forall(_.matches("\\d+")),
      s"GRAFT_CLUSTER_TOPOLOGY must be workers,coresPerWorker,memPerWorkerMb — got '$topo'")
    val Array(nWorkers, coresPerWorker, memPerWorkerMb) = topoParts.map(_.toInt)
    // executor memory must fit the per-worker budget (third topology
    // field) — a fixed 2g request refuses to launch on narrower workers
    // (8-JVM smoke uses 1536 MiB/worker)
    // executor JVMs are launched by the in-process Worker from SPARK_HOME;
    // they need the application classes (graft.*, incl. codegen'd
    // Expressions and closure classes) on their own classpath
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val spark = GraftSession
      .builderWith(GraftTuning(cpus = nWorkers * coresPerWorker),
        master = Some(s"local-cluster[$topo]"))
      .config("spark.executor.memory", s"${math.min(2048, memPerWorkerMb)}m")
      .config("spark.executor.extraClassPath", classesDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val nExec = waitForExecutors(spark, want = nWorkers)
    require(nExec >= nWorkers,
      s"local-cluster brought up only $nExec executor JVM(s) of $nWorkers — topology short")
    println(s"[cluster-check] $nExec executor JVMs up (this JVM is pid ${ProcessHandle.current().pid()})")
    spark
  }

  /** Standalone executor registration is async; poll until `want`
    * executors have joined (or time out and report what we got). */
  private[graft] def waitForExecutors(spark: SparkSession, want: Int): Int = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var n = 0
    while (n < want && System.nanoTime() < deadline) {
      // getExecutorMemoryStatus includes the driver; executors are the rest
      n = spark.sparkContext.getExecutorMemoryStatus.size - 1
      if (n < want) Thread.sleep(500)
    }
    n
  }
}
