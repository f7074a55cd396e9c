package graft

import java.nio.file.{Files, Paths}

/** Reference-protocol benchmark harness: per-query iterations with elapsed
  * ms + row counts, written as one JSON results file (reference:
  * benchmarks/src/util/run.rs:64-132 JSON shape; iterations default 3 per
  * options.rs:36-37). Comparing two results files is
  * `tools/merge_bench.py`'s job.
  *
  * usage: BenchFull <sfDir> <resultsPath> [iterations] [q1,q2,...]
  * (the optional comma-separated name list restricts the run — used for
  * the heavy-query-only scale-headroom runs on 10×/30× replicas)
  */
object BenchFull {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchFull <sfDir> <resultsPath> [iterations] [q1,q2,...]")
    val sfDir = args(0)
    val outPath = args(1)
    val iterations = if (args.length > 2) args(2).toInt else 3
    val names = Runner.select(args.lift(3))
    val spark = GraftSession.get()
    EnvCounters.install(spark)
    Catalog.table(spark, sfDir, "lineitem").count() // warm-up

    val results = Runner.each(spark, sfDir, names, "benchfull") { (name, query) =>
      val qStart = System.currentTimeMillis()
      // row count for the record is taken ONCE, untimed: the timed body
      // is the noop write of Runner.timed
      val rowCount = Runner.attempt("benchfull", name)(query().count())
      val iters = Runner.timed(spark, "benchfull", name, query, iterations)
      val success = rowCount.isRight && iters.forall(_.ok)
      val arr = iters.map { t =>
        val rows = if (t.ok) rowCount.getOrElse(-1L) else -1L
        s"""{"elapsed":${t.wallS * 1e3},"row_count":$rows,"env":${t.env}}"""
      }.mkString(",")
      s"""{"query":"$name","iterations":[$arr],"start_time":${qStart / 1000},"success":$success}"""
    }

    val json =
      s"""{"context":{"benchmark_version":"${BuildInfo.version}","engine":"graft-spark","num_cpus":${Runtime.getRuntime.availableProcessors},"start_time":${System.currentTimeMillis() / 1000},${Runner.provenance(sfDir)},"io":${EnvCounters.ioJson(spark)},"arguments":["$sfDir","iterations=$iterations"]},"queries":[""" +
        results.map(o => o.result.getOrElse(
          s"""{"query":"${o.name}","iterations":[],"success":false}""")).mkString(",") + "]}"
    Files.writeString(Paths.get(outPath), json)
    spark.stop()
  }
}

/** Build metadata (kept trivial; no sbt-buildinfo plugin offline). */
object BuildInfo { val version = "0.1.0" }
