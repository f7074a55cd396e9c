package graft

import java.nio.file.{Files, Paths}

/** Reference-protocol benchmark harness: per-query iterations with elapsed
  * ms + row counts, JSON results file, and >1.2x regression comparison
  * against the previous results at the same path (reference:
  * benchmarks/src/util/run.rs:64-132 JSON shape, 197-260 compare;
  * iterations default 3 per options.rs:36-37).
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
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = GraftSession.get()
    EnvCounters.install(spark)
    Catalog.table(spark, sfDir, "lineitem").count() // warm-up

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    only.foreach { o =>
      val missing = o -- queries.map(_._1).toSet
      require(missing.isEmpty, s"unknown query names: ${missing.mkString(",")}")
    }
    val results = queries.map { case (name, fn) =>
      val qStart = System.currentTimeMillis()
      var success = true
      // row count for the record is taken ONCE, untimed: the timed body
      // is a noop-format write that materializes EVERY output column.
      // (Timing a bare count() lets Catalyst prune the computed columns —
      // a per-row pipeline (fingerprints, signatures) would be "timed"
      // without ever computing its results, under-measuring scan-heavy
      // queries ~2×. Same protocol as Bench, so the driver artifact and
      // this record are comparable.)
      val rowCount = try fn(spark, sfDir).count()
      catch { case e: Throwable => success = false; logFail(name, e); -1L }
      val iters = (1 to iterations).map { _ =>
        val env0 = EnvCounters.snap(spark)
        val t0 = System.nanoTime()
        val rows = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          rowCount
        } catch { case e: Throwable => success = false; logFail(name, e); -1L }
        val ms = (System.nanoTime() - t0) / 1e6
        // environment counters per iteration (r9 verdict item 1)
        (ms, rows, EnvCounters.deltaJson(env0, EnvCounters.snapAfter(spark)))
      }
      // fresh-state boundary between queries (reference protocol: one
      // context per query) — without it checkpoint blocks from ~800
      // earlier executions evict later queries' state to disk
      SparkEntry.restore(spark) // drop this query's execConf overrides
      GraftSession.releaseQueryState(spark)
      (name, qStart, success, iters)
    }

    val prev = readPrevAverages(outPath)
    // provenance stamps: a proof artifact without {commit, testdata_mtime}
    // is undatable against HEAD/fixtures (the round-4 staleness lesson)
    val commit =
      try new String(Runtime.getRuntime.exec(Array("git", "rev-parse", "HEAD"))
        .getInputStream.readAllBytes()).trim
      catch { case _: Throwable => "unknown" }
    val fixtureMtime =
      try new java.io.File(sfDir).listFiles().map(_.lastModified()).max / 1000
      catch { case _: Throwable => 0L }
    val json = new StringBuilder
    json ++= s"""{"context":{"benchmark_version":"${BuildInfo.version}","engine":"graft-spark","num_cpus":${Runtime.getRuntime.availableProcessors},"start_time":${System.currentTimeMillis() / 1000},"commit":"$commit","testdata_mtime":$fixtureMtime,"io":${EnvCounters.ioJson(spark)},"arguments":["$sfDir","iterations=$iterations"]},"queries":["""
    json ++= results.map { case (name, qStart, success, iters) =>
      val arr = iters.map { case (ms, n, env) =>
        s"""{"elapsed":$ms,"row_count":$n,"env":$env}"""
      }.mkString(",")
      s"""{"query":"$name","iterations":[$arr],"start_time":${qStart / 1000},"success":$success}"""
    }.mkString(",")
    json ++= "]}"
    Files.writeString(Paths.get(outPath), json.toString)

    // regression display vs previous run (>1.2x flagged either way)
    results.foreach { case (name, _, _, iters) =>
      val avg = iters.map(_._1).sum / iters.size
      prev.get(name).foreach { old =>
        val ratio = avg / old
        val flag =
          if (ratio > 1.2) "❌ regressed"
          else if (ratio < 1 / 1.2) "✅ improved"
          else "no change"
        println(f"$name%-28s $old%9.1f ms -> $avg%9.1f ms  ${ratio}%5.2fx  $flag")
      }
    }
    spark.stop()
  }

  /** A swallowed failure is undiagnosable after the fact — always leave
    * the root cause on stderr next to the query name. */
  private def logFail(name: String, e: Throwable): Unit =
    System.err.println(s"[benchfull] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")

  /** Per-query average elapsed from a previous results file (minimal
    * parser for our own output shape — no JSON lib on the classpath). */
  private def readPrevAverages(path: String): Map[String, Double] = {
    if (!Files.exists(Paths.get(path))) return Map.empty
    val text = Files.readString(Paths.get(path))
    val q = """"query":"([^"]+)","iterations":\[([^\]]*)\]""".r
    val e = """"elapsed":([0-9.E+-]+)""".r
    q.findAllMatchIn(text).map { m =>
      val es = e.findAllMatchIn(m.group(2)).map(_.group(1).toDouble).toSeq
      m.group(1) -> (if (es.isEmpty) Double.NaN else es.sum / es.size)
    }.toMap
  }
}

/** Build metadata (kept trivial; no sbt-buildinfo plugin offline). */
object BuildInfo { val version = "0.1.0" }
