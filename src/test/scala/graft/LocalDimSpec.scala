package graft

import graft.plans.PlanDescriber
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Pins for the round-10 short-query floor levers: tiny-dim LocalRelation
  * inlining (Catalog), driver-side filter folding (FoldLocalFilters),
  * job-free local broadcast builds (DriverLocalScanExec), and the
  * gate-scoped one-partition presentation sort (OnePartitionSort). */
class LocalDimSpec extends SparkSpec {

  test("tiny dims read as LocalRelations; big tables stay file scans") {
    val nation = Catalog.table(spark, sf0001, "nation")
    assert(nation.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "nation under the inline threshold should be a LocalRelation")
    assert(nation.count() === 25)
    val lineitem = Catalog.table(spark, sf0001, "lineitem")
    assert(lineitem.queryExecution.analyzed.collectLeaves().exists(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
      "lineitem is far over the threshold and must stay a file scan")
  }

  test("deterministic filters over an inlined dim fold driver-side") {
    val r = Catalog.table(spark, sf0001, "region").filter(col("r_name") === "EUROPE")
    val opt = r.queryExecution.optimizedPlan
    assert(!opt.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Filter]),
      s"Filter(LocalRelation) should fold into the relation:\n$opt")
    assert(r.count() === 1)
  }

  test("broadcast build over an inlined dim schedules ZERO jobs") {
    // euSupp shape: file-backed supplier probe, filtered-region + nation
    // broadcast builds. With DriverLocalScanExec the builds collect
    // driver-side; every job this query runs must be the probe-side save,
    // never a broadcast materialization of a local dim.
    val s = Catalog.table(spark, sf0001, "supplier")
    val n = Catalog.table(spark, sf0001, "nation")
    val r = Catalog.table(spark, sf0001, "region")
    val joined = s
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("n_name"))
    joined.collect() // warm: plan + codegen settled
    var oneTaskJobs = 0
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs += 1
        if (e.stageInfos.map(_.numTasks).sum <= 1) oneTaskJobs += 1
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      joined.collect()
      org.apache.spark.sql.graft.GraftBridge.drainListenerBus(spark)
      // supplier at sf0.001 is ALSO under the inline threshold, so the
      // whole query may run entirely driver-free of scans — accept any
      // job count as long as no 1-task broadcast-build job appears
      assert(oneTaskJobs === 0,
        s"a local-dim broadcast build scheduled a job ($oneTaskJobs of $jobs)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("gate-scoped global sort becomes 1-partition local sort; ungated keeps range sort") {
    // SparkEntry, not Registry: the AdaptiveGate (whose marker conf scopes
    // OnePartitionSort) is applied by the driver-contract layer only
    val gated = SparkEntry.queries("q02_min_within_group")(spark, sf0001)
    val sGated = PlanDescriber.simpleString(gated)
    assert(!sGated.contains("rangepartitioning"),
      s"gated presentation sort should not range-partition:\n$sGated")
    assert(sGated.contains("Sort"), "the sort itself must survive")
    // and the result is still globally sorted
    val names = gated.select(col("n_name")).collect().map(_.getString(0)).toSeq
    assert(names === names.sorted, "output lost its global order")
  }

  test("top-k Limit(Sort) stays TakeOrderedAndProject under the gate") {
    val df = SparkEntry.queries("q03_topk_revenue")(spark, sf0001)
    val s = PlanDescriber.simpleString(df)
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k must not demote to full sort + limit:\n$s")
  }

  test("correlated predicate over an inlined dim does not crash FoldLocalFilters") {
    // r10 advice (medium): the optimizer re-executes user rules inside
    // subquery plans, where a correlated filter over a catalog-inlined
    // tiny dim carries an OuterReference — folding it driver-side fails
    // attribute binding. The guard must leave such filters alone.
    Catalog.table(spark, sf0001, "nation").createOrReplaceTempView("ld_nation")
    Catalog.table(spark, sf0001, "supplier").createOrReplaceTempView("ld_supplier")
    val scalarCorr = spark.sql(
      """SELECT s_suppkey,
        |  (SELECT n_name FROM ld_nation WHERE n_nationkey = s.s_nationkey) AS nm
        |FROM ld_supplier s ORDER BY s_suppkey LIMIT 5""".stripMargin)
    assert(scalarCorr.collect().length === 5)
    val total = spark.table("ld_supplier").count()
    val existsCorr = spark.sql(
      """SELECT count(*) AS c FROM ld_supplier s
        |WHERE EXISTS (SELECT 1 FROM ld_nation n
        |              WHERE n.n_nationkey = s.s_nationkey AND n.n_name <> '')
        |""".stripMargin)
    assert(existsCorr.collect().head.getLong(0) === total)
  }

  test("a big plan inheriting a leaked gate marker keeps its global sort") {
    // r10 advice (medium): the AdaptiveGate marker conf is session state
    // that can outlive the small query that set it; OnePartitionSort must
    // re-derive smallness from the plan in hand so a big plan planned
    // under a leaked marker never serializes its sort into one partition.
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
    // clean slate, then OWN the marker; restore via reset (NOT a bare
    // unset — that would orphan the adaptive/constraint overrides)
    graft.plans.AdaptiveGate.reset(spark)
    spark.conf.set("graft.autotune.origPartitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    try {
      // Range stats: 8 B x 400 M rows ≈ 3.2 GB, over SmallPlanBytes
      val big = spark.range(400L * 1000 * 1000).orderBy(col("id").desc)
      val bigOpt = big.queryExecution.optimizedPlan
      assert(bigOpt.exists { case s: Sort => s.global; case _ => false },
        s"big plan must keep its parallel global sort:\n$bigOpt")
      assert(!bigOpt.exists {
        case Repartition(1, true, _) => true; case _ => false },
        s"big plan must not be squeezed into one partition:\n$bigOpt")
      // and a genuinely small plan under the same marker still rewrites
      val small = spark.range(100).orderBy(col("id").desc)
      val smallOpt = small.queryExecution.optimizedPlan
      assert(smallOpt.exists {
        case Repartition(1, true, _) => true; case _ => false },
        s"small plan under the gate should take the 1-partition sort:\n$smallOpt")
    } finally graft.plans.AdaptiveGate.reset(spark)
  }

  test("protected top-k survives when its subtree contains a rewritten sort") {
    // r10 advice (low): the old identity-based protection broke when
    // transformUp rebuilt the protected Sort (its subtree changed); the
    // structural recursion must keep Limit(Sort) -> TakeOrderedAndProject
    // while still rewriting the INNER global sort.
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    graft.plans.AdaptiveGate.reset(spark)
    spark.conf.set("graft.autotune.origPartitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    try {
      // monotonically_increasing_id blocks EliminateSorts, so the inner
      // global sort survives into the optimizer where OnePartitionSort
      // sees both sorts in one plan
      val inner = spark.range(100).orderBy(col("id").desc)
        .withColumn("r", monotonically_increasing_id())
      val topk = inner.orderBy(col("id")).limit(5)
      val opt = topk.queryExecution.optimizedPlan
      assert(opt.exists {
        case Repartition(1, true, _) => true; case _ => false },
        s"inner global sort should still be rewritten:\n$opt")
      val phys = topk.queryExecution.executedPlan.toString
      assert(phys.contains("TakeOrderedAndProject"),
        s"outer top-k must stay TakeOrderedAndProject:\n$phys")
      assert(topk.select(col("id")).collect().map(_.getLong(0)).toSeq
        === (0L to 4L), "top-k result wrong")
    } finally graft.plans.AdaptiveGate.reset(spark)
  }
}
