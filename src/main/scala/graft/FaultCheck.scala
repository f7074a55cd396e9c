package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.functions._

/** Failure-injection proof: kill one executor JVM MID-QUERY under
  * `local-cluster[2,16,3072]` and require the healed result to be
  * identical to the failure-free run. This is the missing sibling of the
  * reference's error-propagation test (reference:
  * tests/error_propagation.rs:48-66 proves a worker ERROR surfaces to the
  * caller; this proves a worker DEATH heals silently): the injected
  * `Runtime.halt` takes down the executor while it holds (a) in-flight
  * reduce tasks and (b) the already-written map outputs of the previous
  * stage, so the driver must retry tasks on the surviving executor AND
  * recompute lost shuffle blocks through a fetch-failure stage
  * resubmission — the everyday failure mode of a 1000-executor cluster.
  *
  * The query routes through a round-robin `repartition(32)`, historically
  * the nondeterministic-recompute hazard (a retried map task that dealt
  * rows differently would corrupt a partial result); Spark sorts rows
  * before round-robin distribution precisely so recompute is
  * deterministic (SPARK-23207), and the final aggregate is
  * placement-insensitive by construction (scaled-BIGINT sums), so ANY
  * result difference here indicts the retry path itself.
  *
  * The kill fires on (reduce partition 0, task attempt 0, stage attempt
  * 0) only — retried tasks and resubmitted stages pass through — and the
  * run REQUIRES that an executor was actually removed, so the proof can
  * never silently degrade into a plain re-run.
  *
  * usage: SPARK_SCALA_VERSION=2.13 sbt "runMain graft.FaultCheck <sfDir> <outJson>"
  */
object FaultCheck {

  /** Halts the executor JVM exactly once: first attempt of reduce
    * partition 0 in the stage's first submission. `halt` (not `exit`) so
    * no shutdown hooks run — the process vanishes as on an OOM kill or
    * spot-instance reclaim. */
  private val killOnce = udf { (pid: Int) =>
    val tc = TaskContext.get()
    if (tc != null && pid == 0 && tc.attemptNumber() == 0 &&
      tc.stageAttemptNumber() == 0)
      Runtime.getRuntime.halt(137)
    true
  }.asNondeterministic()

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: FaultCheck <sfDir> <outJson>")
    val Array(sfDir, outJson) = args
    val spark = ClusterCheck.session("2,16,3072")
    val removed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        removed.incrementAndGet(); ()
      }
    })

    def query(inject: Boolean) = {
      val mid = Catalog.table(spark, sfDir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_extendedprice"))
        .repartition(32) // round-robin: the determinism-sensitive exchange
      val src = if (inject) mid.filter(killOnce(spark_partition_id())) else mid
      src.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          graft.util.Num.dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }

    val baseline = query(inject = false).collect()
    println(s"[fault-check] baseline: ${baseline.length} rows")
    val t0 = System.nanoTime()
    val healed = query(inject = true).collect()
    val healMs = (System.nanoTime() - t0) / 1e6
    val nRemoved = removed.get()
    println(s"[fault-check] healed run: ${healed.length} rows, " +
      s"$nRemoved executor(s) removed, ${healMs.round} ms")
    require(nRemoved >= 1,
      "no executor was removed — the fault injection never fired and this " +
        "run proves nothing; check the kill predicate")
    require(baseline.toSeq == healed.toSeq,
      s"healed result differs from baseline:\n  baseline=${baseline.toSeq}\n" +
        s"  healed=${healed.toSeq}")

    // ---- phase 2: executor loss through the localCheckpoint hot path ----
    // The near-dup pipeline truncates lineage (pairsFromSig checkpoints
    // the collapsed signature table), so unlike phase 1 an in-flight kill
    // CANNOT always recompute: blocks that lived only on the dead
    // executor are gone and Spark fails the QUERY (retryable at job
    // level) rather than the task. This phase measures which of the two
    // documented behaviors actually occurs — in-flight heal (kill landed
    // before/during checkpoint materialization, lineage still live, or
    // the blocks happened to live on the survivor) or fail-then-fresh-
    // retry-heals (the checkpoint is rebuilt per invocation, so a fresh
    // run never references lost blocks) — and requires the final result
    // bit-identical either way. (r9 verdict item 4; the production
    // answer at real cluster scale is the file-backed _mat path, which
    // keeps lineage on disk.)
    val waitBack = ClusterCheck.waitForExecutors(spark, want = 2)
    println(s"[fault-check] phase 2: $waitBack executors up (worker respawn)")
    val minhash = SparkEntry.queries("t_minhash_lsh")
    def digest() = minhash(spark, sfDir)
      // bit_xor, not sum: order-independent like a sum but can't hit the
      // ANSI long-overflow error on a large pair set
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(a_id, b_id, jacc))").as("h"))
      .head()
    digest() // cold run: JIT/codegen/layout warm-up would skew the timing
    val t1 = System.nanoTime()
    val base2 = digest()
    val base2Ms = (System.nanoTime() - t1) / 1e6
    println(s"[fault-check] minhash warm baseline: $base2 in ${base2Ms.round} ms")
    val removedBefore = removed.get()
    // OS-level kill (the registry query admits no injected UDF): halve a
    // WARM baseline wall (the killed run is equally warm — a cold-wall
    // delay would fire after the query already finished), then SIGKILL
    // one executor JVM mid-query
    val killer = new Thread(() => {
      Thread.sleep(math.max(200L, (base2Ms * 0.5).toLong))
      val pids = new String(Runtime.getRuntime
        .exec(Array("pgrep", "-f", "CoarseGrainedExecutorBackend"))
        .getInputStream.readAllBytes()).trim.split("\\s+").filter(_.nonEmpty)
      pids.headOption.foreach { pid =>
        println(s"[fault-check] SIGKILL executor pid $pid")
        Runtime.getRuntime.exec(Array("kill", "-9", pid)).waitFor()
      }
    })
    killer.setDaemon(true)
    val t2 = System.nanoTime()
    killer.start()
    val (outcome, result2) =
      try ("healed_in_flight", digest())
      catch {
        case e: Throwable =>
          println(s"[fault-check] in-flight failure (expected for a " +
            s"lineage-truncated plan): ${e.getClass.getSimpleName}")
          ClusterCheck.waitForExecutors(spark, want = 2)
          ("failed_then_fresh_retry", digest())
      }
    val phase2Ms = (System.nanoTime() - t2) / 1e6
    killer.join(5000)
    // the executor-removed listener event can lag the kill by seconds
    val deadline2 = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (removed.get() - removedBefore < 1 && System.nanoTime() < deadline2)
      Thread.sleep(250)
    val removed2 = removed.get() - removedBefore
    println(s"[fault-check] minhash $outcome: $result2, " +
      s"$removed2 executor(s) removed, ${phase2Ms.round} ms")
    require(removed2 >= 1,
      "phase 2 removed no executor — the kill never fired, proves nothing")
    require(base2 == result2,
      s"minhash result diverged after executor loss: base=$base2 got=$result2")

    // provenance-stamped artifact, same contract as BenchFull
    Files.writeString(Paths.get(outJson),
      s"""{"context":{"engine":"graft-spark","master":"local-cluster[2,16,3072]",""" +
        Runner.provenance(sfDir) + "," +
        s""""sf_dir":"$sfDir"},"executors_removed":$nRemoved,""" +
        s""""rows":${healed.length},"healed_ms":${healMs.round},""" +
        s""""identical_to_baseline":true,""" +
        s""""checkpoint_path":{"query":"t_minhash_lsh","outcome":"$outcome",""" +
        s""""executors_removed":$removed2,"elapsed_ms":${phase2Ms.round},""" +
        s""""identical_to_baseline":true}}""")
    println(s"[fault-check] PASS -> $outJson")
    SparkEntry.restore(spark) // drop the last query's execConf overrides
    spark.stop()
  }
}
