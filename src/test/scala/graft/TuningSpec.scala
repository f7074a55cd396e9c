package graft

import org.apache.spark.sql.functions._

/** Engine tuning-knob surface + spill-under-pressure proof (≡ the
  * reference's options.rs:34-64,90-115 memory/pool/spill/join-pref/stats
  * surface and its FairSpillPool behavior under a memory cap). */
class TuningSpec extends SparkSpec {

  test("GraftTuning maps the reference's option surface onto Spark configs") {
    // Apply a tuned builder against the shared context: runtime SQL confs
    // land on the session (context-level ones like memory.fraction only
    // apply to a fresh context — same as the reference, where the memory
    // pool is fixed at engine start).
    val s2 = GraftSession.builderWith(GraftTuning(
      cpus = 4, shufflePartitions = Some(4), preferSortMergeJoin = true,
      cboEnabled = false, spillRowThreshold = Some(128),
      columnarBatchSize = 2048)).getOrCreate()
    try {
      assert(s2.conf.get("spark.sql.join.preferSortMergeJoin") === "true")
      assert(s2.conf.get("spark.sql.cbo.enabled") === "false")
      assert(s2.conf.get("spark.sql.cbo.joinReorder.enabled") === "false")
      assert(s2.conf.get("spark.sql.windowExec.buffer.spill.threshold") === "128")
      assert(s2.conf.get("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold") === "128")
      assert(s2.conf.get("spark.sql.parquet.columnarReaderBatchSize") === "2048")
      assert(s2.conf.get("spark.sql.shuffle.partitions") === "4")
    } finally { // restore the shared session's defaults for other suites
      val d = GraftTuning(cpus = 4)
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      s2.conf.set("spark.sql.join.preferSortMergeJoin", d.preferSortMergeJoin.toString)
      s2.conf.set("spark.sql.cbo.enabled", d.cboEnabled.toString)
      s2.conf.set("spark.sql.cbo.joinReorder.enabled", d.cboEnabled.toString)
      s2.conf.set("spark.sql.parquet.columnarReaderBatchSize", d.columnarBatchSize.toString)
      Seq("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold",
        "spark.sql.windowExec.buffer.in.memory.threshold",
        "spark.sql.windowExec.buffer.spill.threshold",
        "spark.sql.sessionWindow.buffer.spill.threshold").foreach(s2.conf.unset)
    }
  }

  test("sessionWith warns loudly when static confs are ignored by an existing context") {
    // spark.memory.fraction is context-level: applying a different value
    // against the already-running shared context is silently dropped by
    // Spark — sessionWith must surface that on stderr so a tuning run
    // can't measure the wrong configuration unaware.
    spark.sparkContext // ensure the shared context exists
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    try {
      System.setErr(new java.io.PrintStream(buf, true))
      GraftSession.sessionWith(GraftTuning(cpus = 4, memoryFraction = 0.31))
    } finally {
      System.setErr(saved)
      spark.sparkContext.setLogLevel("ERROR") // sessionWith raises it to WARN
    }
    val err = buf.toString
    assert(err.contains("spark.memory.fraction") && err.contains("IGNORED"),
      s"expected a static-conf warning, got: ${err.take(400)}")
  }

  test("sort-merge-join buffers past the spill reservation spill and stay correct") {
    try {
      // force the SMJ path (no broadcast) with a 2-row buffer reservation:
      // every multi-line order overflows the match buffer into the
      // force-spilling sorter
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "1")
      spark.conf.set("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "2")
      val o = Catalog.table(spark, sf0001, "orders")
      val l = Catalog.table(spark, sf0001, "lineitem")
      val joined = o.join(l, col("o_orderkey") === col("l_orderkey"))
      val (n, m) = EnvCounters.measure(spark) {
        val n = joined.count()
        joined.collect() // finalize the adaptive plan before inspecting it
        n
      }
      assert(graft.plans.PlanDescriber.simpleString(joined).contains("SortMergeJoin"),
        "join did not take the sort-merge path")
      restoreJoinConfs()
      val expected = o.join(l, col("o_orderkey") === col("l_orderkey")).count()
      assert(n === expected, "spilled SMJ result must match the default-path join")
      assert(m.spillBytes > 0L,
        "expected SMJ buffer spill bytes > 0 under the 2-row reservation")
    } finally restoreJoinConfs()
  }

  /** Restore the GraftSession-pinned join/spill confs (a plain `unset`
    * would fall back to Spark's stock defaults, e.g. a 10 MB broadcast
    * threshold instead of the engine's pinned 64 MB). */
  private def restoreJoinConfs(): Unit = {
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold")
    spark.conf.unset("spark.sql.sortMergeJoinExec.buffer.spill.threshold")
  }

  test("window buffers past the spill reservation spill to disk and stay correct") {
    try {
      // 32-row reservation: every window partition (~2k rows per
      // l_returnflag at sf0.001) must overflow the in-memory buffer and
      // force UnsafeExternalSorter spills — the 100 TB pressure path in
      // miniature, gated on the oracle still matching.
      spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "32")
      spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "32")
      val l = Catalog.table(spark, sf0001, "lineitem")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))
      val (res, m) = EnvCounters.measure(spark) {
        l.select(col("l_returnflag"), count(lit(1)).over(w).as("n"))
          .distinct().orderBy(col("l_returnflag"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      }
      spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
      spark.conf.unset("spark.sql.windowExec.buffer.spill.threshold")
      val expected = l.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(res === expected, "spilled window result must match the aggregate")
      assert(m.spillBytes > 0L,
        "expected task metrics to record spill bytes > 0 under the 32-row reservation")
    } finally {
      spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
      spark.conf.unset("spark.sql.windowExec.buffer.spill.threshold")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    // the runtime half of skew handling (plans/Skew.scala is the manual
    // salting half): one hot key dominates the probe side, AQE detects
    // the oversized shuffle partition at stage boundary and splits it
    val confs = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~200k rows on one hot key vs 64 keys uniform; payload pads bytes
      val left = spark.range(0, 220000L)
        .select((when(col("id") < 200000L, 0L).otherwise(col("id") % 63L + 1L)).as("k"),
          concat(lit("p" * 64), col("id")).as("pad"))
      val right = spark.range(0, 64L).select(col("id").as("k"), (col("id") * 10L).as("w"))
      // global aggregate downstream: no per-key distribution requirement,
      // so AQE is free to split the hot partition (a groupBy on the join
      // key would pin the partitioning and veto the split)
      val j = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("bytes"))
      val row = j.collect().head
      assert(row.getLong(0) == 220000L, s"join row count wrong: ${row.getLong(0)}")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(1200)}")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
