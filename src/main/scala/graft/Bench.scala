package graft

/** Benchmark main: times every registry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). Mirrors the reference's
  * measurement protocol (reference: benchmarks/src/tpch/run.rs:181-213 —
  * wall-clock around full execution incl. result consumption; per-query
  * timings + aggregate).
  *
  * Output discipline (r11): the adjudicating driver keeps only the LAST
  * ~2000 characters of this run's output and parses the JSON it finds
  * there — ten rounds of BENCH_r*.json carry `parsed: null` because the
  * all-queries-plus-env line had grown to ~100 KB and could never fit.
  * So stdout now carries a COMPACT line — total over the full registry,
  * per-query seconds for the 22 TPC-H headline queries (the reference's
  * own bench set, benchmarks/src/tpch/run.rs:140-143), and min-iteration
  * environment summaries for the driver-divergence watch list — while
  * the complete per-query/per-iteration record (all queries, full env
  * counters) is written to a detail FILE whose path the line names. */
object Bench {

  /** Queries whose driver-vs-local timing divergence is under
    * investigation (r9-r11: v_knn_graph 1.43 s driver vs 1.01 s local,
    * three rounds unattributed) — their min-iteration env counters are
    * recorded in the DETAIL file (r14: they used to ride the compact
    * line, which pushed it to ~1.9 KB and the driver never parsed it —
    * 13 rounds of `parsed: null`). */
  private val watch = Seq(
    "v_knn_graph", "v_lsh_ann", "v_ivf_ann", "v_pq_ann", "r_rank_eval")

  private def r3(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.US, d)

  /** The ONE driver-contract stdout line. Kept deliberately small
    * (< 500 chars; BenchLineSpec pins it): the adjudicating driver
    * parses JSON out of the LAST ~2000 characters of the sbt run's
    * combined output, after sbt's own epilogue lines — every historic
    * all-queries/env-block variant overflowed or failed that window
    * (`parsed: null` in BENCH_r1..r13). Total + the 22 TPC-H headline
    * seconds + counts; everything else lives in the detail file this
    * line names. Entries are only ever ADDED relative to r13's map
    * (same 22 q-keys; watch_env moved to the detail file — it is env
    * metadata, not a query timing, so the `queries` contract of
    * never-remove-never-rename is untouched). */
  private[graft] def compactLine(
      total: Double,
      perQuery: Seq[(String, Option[Double])],
      nq: Int,
      nFailed: Int,
      iterations: Int,
      sfDir: String,
      detailPath: String): String = {
    val tpch = perQuery.filter(_._1.startsWith("q"))
      .map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + v.map(r3).getOrElse("null")
      }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$tpch,"nq":$nq,"failed":$nFailed,"iterations":$iterations,"sf":"$sfDir","detail":"$detailPath"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/tmp/graft_bench_detail.json")
    // optional subset for local iteration; the contract run sets none
    val names = Runner.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = GraftSession.get()
    EnvCounters.install(spark)
    // one warm-up action so JVM/codegen startup isn't billed to query 1
    Catalog.table(spark, sfDir, "lineitem").count()
    // three iterations, min reported: a single-shot timing in a 32-thread
    // shared JVM is vulnerable to one-off GC/compilation spikes (r1 showed
    // a 50-row projection "taking" 65 s once and 0.4 s on re-run); min-of-3
    // matches the repo's bench_results protocol so the driver artifact and
    // the local record are directly comparable
    val iterations = 3
    // per query: (name, min good wall, env array json, min-iter env json)
    val results = Runner.each(spark, sfDir, names, "bench") { (name, query) =>
      val attempts = Runner.timed(spark, "bench", name, query, iterations)
      // min over SUCCESSFUL runs only (a fast time-to-error must not stand
      // in for a real timing); "failed" marks queries with NO good run. A
      // query with zero good runs reports null and contributes NOTHING to
      // total — mixing time-to-error into the headline would make
      // failures look cheap.
      val good = attempts.filter(_.ok)
      val envArr = attempts.map { t =>
        // wall repeated inside the env entry so one iteration's counters
        // and its timing read together without cross-indexing
        s"""{"wall_s":${t.wallS},"env":${t.env}}"""
      }.mkString("[", ",", "]")
      (name, good.map(_.wallS).minOption, envArr, good.minByOption(_.wallS).map(_.env))
    }.map(o => o.result.getOrElse((o.name, None, "[]", None)))
    val failed = results.collect { case (name, None, _, _) => name }
    val total = results.flatMap(_._2).sum

    // ---- detail file: everything, every iteration, full env counters,
    // plus the watch-list min-iteration env summaries (moved here from
    // the compact line in r14 — see compactLine's doc)
    val detailQs = results.map { case (k, v, envArr, _) =>
      "\"" + k + "\":{\"min_s\":" + v.map(_.toString).getOrElse("null") +
        ",\"iterations\":" + envArr + "}"
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val watchEnv = results
      .filter { case (k, _, _, me) => watch.contains(k) && me.nonEmpty }
      .map { case (k, v, _, me) =>
        "\"" + k + "\":{\"min_s\":" + v.map(r3).getOrElse("null") +
          ",\"env\":" + me.get + "}"
      }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","iterations":$iterations,"sf":"$sfDir","failed":$failedJson,"io":${EnvCounters.ioJson(spark)},"watch_env":$watchEnv,"queries":$detailQs}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] full per-iteration record: $detailPath")

    val line = compactLine(total, results.map(r => (r._1, r._2)),
      results.size, failed.size, iterations, sfDir, detailPath)
    // stop the session BEFORE printing, so no Spark shutdown logging can
    // land between the contract line and sbt's epilogue — the line must
    // be the last thing this JVM writes to stdout
    spark.stop()
    println(line)
  }
}
