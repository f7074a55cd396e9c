package graft

import graft.plans.PlanDescriber
import org.apache.spark.sql.functions._

/** Plan-shape assertions — the scale contract. These pin the properties
  * that matter at 100 TB: pushdowns reach the parquet scan, small
  * dimensions broadcast, per-row pipelines don't shuffle.
  * (≡ the reference's physical-plan snapshot tests,
  * tests/distributed_aggregation.rs:32-91.) */
class PlanSpec extends SparkSpec {

  private def q(name: String) = {
    // this suite pins plan SHAPES under the session's own conf: clear any
    // AdaptiveGate marker a SparkEntry-path suite left behind in the
    // shared session, or the gate-scoped OnePartitionSort rewrite (r10)
    // leaks into plans that are meant to be ungated
    graft.plans.AdaptiveGate.reset(spark)
    Registry.byName(name).run(spark, sf0001)
  }

  test("q01: filter and projection are pushed into the parquet scan") {
    val plan = PlanDescriber.formatted(q("q01_pricing_summary"))
    assert(plan.contains("PushedFilters:"), "no pushed filters in scan")
    assert(plan.contains("IsNotNull(l_shipdate)") || plan.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate predicate not pushed:\n${plan.take(2000)}")
    // column pruning: the scan must not read join keys the query never uses
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey"), "scan reads unused l_orderkey")
    assert(readSchema.contains("l_returnflag"), "scan misses needed column")
  }

  test("summary counts each parquet scan once") {
    assert(PlanDescriber.summary(q("q01_pricing_summary")).scans === 1)
    assert(PlanDescriber.summary(q("q03_topk_revenue")).scans === 2)
  }

  test("q05: small dimensions join via broadcast, not shuffle") {
    assert(PlanDescriber.broadcasts(q("q05_local_supplier_volume")) >= 2,
      "nation/region should broadcast")
  }

  test("v_knn_native: native expression is codegen'd, query is broadcast-only") {
    val df = q("v_knn_native")
    df.collect() // finalize the adaptive plan so codegen annotations exist
    val s = PlanDescriber.summary(df)
    assert(PlanDescriber.simpleString(df).contains("cosine_sim"))
    assert(s.wholeStageCodegen, "native expression fell out of codegen")
    assert(s.sortMergeJoins === 0, "knn must not sort-merge join")
  }

  test("t_fingerprint: per-row pipeline has no mid-pipeline shuffle") {
    // allowed exchanges: the deliberate scan-spread repartition (the
    // output sort was dropped in r9 — range sampling double-executed
    // the per-row pipeline) — nothing else, so a reintroduced
    // mid-pipeline shuffle fails the pin (advice r9: <=2 would let one
    // slip back in)
    val s = PlanDescriber.simpleString(q("t_fingerprint"))
    val ex = "Exchange".r.findAllIn(s).length
    assert(ex <= 1, s"fingerprint should be scan-parallel, found $ex exchanges:\n$s")
    assert(!s.contains("HashAggregate"), "fingerprint must not aggregate")
  }

  test("a_rfm_segments: quartile bucketing runs without any window") {
    // the NTILE form moved every customer into ONE task's global sort;
    // the boundary-broadcast form must contain no Window operator at all
    // and must broadcast the 9-value boundary row
    val df = q("a_rfm_segments")
    val s = PlanDescriber.simpleString(df)
    assert(!s.contains("Window"), s"global window crept back into RFM:\n$s")
    assert(PlanDescriber.broadcasts(df) >= 1, "boundary row should broadcast")
  }

  test("r_bm25_search: top-10 is TakeOrdered, no global window, stats broadcast") {
    val df = q("r_bm25_search")
    val s = PlanDescriber.simpleString(df)
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k should be TakeOrderedAndProject, not sort+limit:\n$s")
    assert(!s.contains("Window"), "no window belongs in BM25 scoring")
    // r14 token_counts shape: ONE broadcast — stats+df+idf merged into a
    // single 1-row aggregate (was two: df frame + stats frame); and the
    // old explode→groupBy(doc_id,dl,tok) tf shuffle must be gone
    assert(PlanDescriber.broadcasts(df) == 1, "merged corpus-stats broadcast")
    assert(!s.contains("Generate explode"),
      s"per-doc tf comes from token_counts, not an exploded-token shuffle:\n$s")
    assert(s.contains("token_counts"), s"token_counts kernel in the scan:\n$s")
  }

  test("e_scd2: every window is key-partitioned (no global sort)") {
    // gaps-and-islands over users must never degrade to a single-task
    // window; both window specs carry PARTITION BY user_id
    val s = PlanDescriber.simpleString(q("e_scd2"))
    assert(s.contains("Window"), "scd2 is window-based by design")
    val singleParts = "SinglePartition".r.findAllIn(s).length
    // the only SinglePartition allowed is the final presentation sort's
    // boundary (none expected — ORDER BY is a range partitioning)
    assert(singleParts == 0, s"unpartitioned stage in scd2 plan:\n$s")
  }

  test("r_ppl_buckets + r_dsir_select: boundary/weight tables broadcast, no window") {
    for (name <- Seq("r_ppl_buckets", "r_dsir_select")) {
      val df = q(name)
      val s = PlanDescriber.simpleString(df)
      assert(!s.contains("Window"), s"$name must be window-free:\n$s")
      assert(PlanDescriber.broadcasts(df) >= 1, s"$name should broadcast its small side")
    }
  }

  test("t_exact_dedup: one hash shuffle, partial aggregation map-side") {
    val s = PlanDescriber.summary(q("t_exact_dedup"))
    assert(s.hashAggregates >= 2, "expected partial+final hash aggregate")
  }

  test("t_minhash_lsh_mat: band join reads only the signature table, not the corpus") {
    // the returned plan is the post-materialization half: every scan must
    // come from the written signature parquet — zero documents re-scans
    // (the single-plan variant re-scans the corpus once per branch).
    // Since r13 the dup-collapse over the sig parquet is ALSO
    // checkpointed (its grouping key embeds the ak array, so branch
    // re-execution re-shuffled the full table), so the branches read the
    // checkpoint RDD; the no-corpus-re-scan invariant is what the pin
    // keeps asserting.
    val s = PlanDescriber.formatted(q("t_minhash_lsh_mat"))
    assert(!s.contains("documents.parquet"),
      s"materialized variant still scans the corpus:\n${s.take(2000)}")
    assert(s.contains("minhash_sig_") || s.contains("ExistingRDD"),
      "expected signature-table or checkpointed-collapse scans")
  }

  test("p_novelty_incr: corpus side reads the signature store, never the corpus text") {
    // per-ingest cost ∝ batch: the only documents.parquet scans are the
    // BATCH branches, each with the batch filter pushed down; the corpus
    // side comes exclusively from the materialized nvstore parquet
    val s = PlanDescriber.formatted(q("p_novelty_incr"))
    assert(s.contains("graft-nvstore-"),
      s"expected corpus signature-store scans:\n${s.take(2000)}")
    // formatted explain puts Location and PushedFilters on separate
    // lines per scan block: every documents scan must carry the batch
    // bound, so the pushdown count must cover the scan count
    val nDocScans = s.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    val nBatchPush = s.linesIterator.count(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id,400)"))
    assert(nDocScans > 0, "batch branches must read documents")
    assert(nBatchPush >= nDocScans,
      s"only $nBatchPush of $nDocScans documents scans push the batch " +
        s"bound — an unbounded scan would rescan the full corpus at 100 TB")
  }

  test("p_novelty_multi: store grows by the appended batch; verdict never rescans corpus text") {
    // the append cycle itself: bootstrap from corpus(<300), append
    // batch-1 (300..399) computed from ITS text only, and the store's
    // row count must grow by exactly the batch size
    val docs = Catalog.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val nCorpus = docs.filter(col("doc_id") < 300).count()
    val nBatch1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400).count()
    val root = java.nio.file.Files.createTempDirectory("nvspec-").toString
    try {
      graft.queries.TextOps.storeInit(root, docs.filter(col("doc_id") < 300))
      assert(spark.read.parquet(root + "/sig").count() === nCorpus)
      graft.queries.TextOps.storeAppend(root,
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400))
      assert(spark.read.parquet(root + "/sig").count() === nCorpus + nBatch1,
        "append must add exactly the batch's signature rows")
      assert(spark.read.parquet(root + "/dig").count() === nCorpus + nBatch1)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    // verdict phase of the registry query: batch-2 text + the UPDATED
    // store only — every documents scan pushes the batch-2 bound, the
    // corpus/batch-1 side comes exclusively from the nvstore2 parquet
    val s = PlanDescriber.formatted(q("p_novelty_multi"))
    assert(s.contains("graft-nvstore2-"),
      s"expected updated-store scans:\n${s.take(2000)}")
    val nDocScans = s.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    val nBatchPush = s.linesIterator.count(l =>
      l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(doc_id,400)"))
    assert(nDocScans > 0, "batch-2 branches must read documents")
    assert(nBatchPush >= nDocScans,
      s"only $nBatchPush of $nDocScans documents scans push the batch-2 " +
        s"bound — an unbounded scan would rescan the full corpus at 100 TB")
  }

  test("rank<=k filters compile to WindowGroupLimit (no full per-group sort at scale)") {
    // Spark pushes a partial+final group-limit below the window sort for
    // row_number()<=k filters: each map task retains at most k rows per
    // key BEFORE the shuffle. This is what makes window-based top-k
    // (knn ranking, CDC latest-by-key compaction) a MAX-aggregate-shaped
    // plan at 100 TB instead of a full per-group sort.
    // q02/q15 (r11): min/max-within-group selection re-expressed as
    // rank()=1 with ties rides the same machinery — the map-side Partial
    // group-limit is what makes one-scan extreme-selection scale
    Seq("e_upsert_compact", "v_knn_brute",
      "q02_min_within_group", "q15_top_supplier_view").foreach { name =>
      val s = PlanDescriber.simpleString(q(name))
      assert(s.contains("WindowGroupLimit"),
        s"$name: rank filter did not become a group limit:\n${s.take(1500)}")
    }
  }

  test("q21: the 'F'-slice broadcast demotes past the ceiling, never forced") {
    // the orders-'F' build side is a PLANNER choice, not a hint: at bench
    // SFs its estimate sits under the broadcast ceiling and it broadcasts;
    // at real scale (half of orders — grows with the corpus) the same
    // query must degrade to a partitioned join, not force a driver-OOM
    // build. Simulate "side exceeds the ceiling" by disabling the
    // threshold: the only broadcast left must be the explicitly-forced
    // nation dim (25 rows at ANY scale — constant-size dims are the one
    // legitimate forced broadcast), and the lineitem-orders join must
    // appear as a shuffle-side join.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val s = PlanDescriber.simpleString(q("q21_exists_not_exists"))
      val bhj = "BroadcastHashJoin".r.findAllIn(s).length
      assert(bhj == 1, s"expected ONLY the forced nation broadcast, got $bhj:\n${s.take(2000)}")
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"),
        s"orders join did not demote to a shuffle join:\n${s.take(2000)}")
    } finally spark.conf.set(key, saved)
  }

  test("q04: witnesses probe the order slice — no fact-wide pre-aggregate") {
    // the r12 shape: lineitem probes the quarter slice and only DISTINCT
    // witnesses shuffle. A reintroduced per-order aggregate BELOW the
    // join (the old fact-wide max(l_shipdate) rollup, ~3M-row exchange)
    // shows up as extra HashAggregates; the witness plan has exactly 4
    // (distinct partial+final, priority-count partial+final) above one
    // lineitem scan.
    val s = PlanDescriber.simpleString(q("q04_semi_join_exists"))
    val lineitemScans = s.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    assert(lineitemScans == 1,
      s"q04 must scan lineitem exactly once, found $lineitemScans")
    // the invariant itself, not a global operator count (r12 advice): no
    // aggregate may sit BELOW the probe join — in simpleString order the
    // join's children print after the join line, so any (Hash|Object|Sort)
    // aggregate appearing after the first join line is a reintroduced
    // fact-side pre-aggregate. Benign planner variation (distinct planned
    // as ObjectHashAggregate, partial-agg elision) moves aggregates ABOVE
    // the join and stays green.
    val lines = s.linesIterator.toVector
    val joinIdx = lines.indexWhere(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joinIdx >= 0, s"q04 plan lost its probe join:\n${s.take(1500)}")
    val aggBelowJoin = lines.drop(joinIdx + 1).filter(_.contains("Aggregate"))
    assert(aggBelowJoin.isEmpty,
      s"q04 grew a fact-side aggregate below the probe join:\n${aggBelowJoin.mkString("\n")}")
  }

  test("q03: lineitem probes the qualifying orders, unhinted, at any ceiling") {
    // lineitem joins the customer-qualified order slice FIRST and only
    // joined rows are summed. The old form summed every shipped lineitem
    // per order below a shuffle_hash-hinted join; that aggregate
    // reappearing below the join fails the first pin. The order slice
    // is a semi join so its estimate stays scan-sized: the
    // broadcast ceiling alone picks the strategy, lineitem (the fact
    // side) is never the build side, and past the ceiling (simulated by
    // disabling the threshold) the join demotes to a shuffle join with
    // the same rows.
    def shape(): (Vector[String], Seq[Seq[Any]]) = {
      val df = q("q03_topk_revenue")
      val lines = PlanDescriber.simpleString(df).linesIterator.toVector
      (lines, df.collect().map(_.toSeq).toSeq)
    }
    def depth(l: String) = l.indexWhere(ch => !" :+-".contains(ch))
    def isLineitemScan(l: String) = l.contains("Location") && l.contains("lineitem.parquet")
    val (lines, rows) = shape()
    val plan = lines.mkString("\n").take(2500)
    val joinIdx = lines.indexWhere(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joinIdx >= 0, s"q03 plan lost its lineitem join:\n$plan")
    assert(lines.drop(joinIdx + 1).exists(isLineitemScan),
      s"the top join does not read lineitem:\n$plan")
    val aggBelowJoin = lines.drop(joinIdx + 1).filter(_.contains("Aggregate"))
    assert(aggBelowJoin.isEmpty,
      s"q03 aggregates below the lineitem join:\n${aggBelowJoin.mkString("\n")}")
    lines.zipWithIndex.filter(_._1.contains("BroadcastExchange")).foreach { case (b, i) =>
      val subtree = lines.drop(i + 1).takeWhile(l => depth(l) > depth(b))
      assert(!subtree.exists(isLineitemScan), s"q03 broadcasts the lineitem side:\n$plan")
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val (capped, cappedRows) =
      try {
        spark.conf.set(key, "-1")
        shape()
      } finally spark.conf.set(key, saved)
    val cappedPlan = capped.mkString("\n").take(2500)
    assert(!capped.exists(_.contains("BroadcastHashJoin")),
      s"q03 still broadcasts past the ceiling:\n$cappedPlan")
    assert(capped.exists(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
      s"q03 did not demote to a shuffle join:\n$cappedPlan")
    assert(rows.size == 10 && cappedRows == rows, "the join strategy changed q03's rows")
  }

  test("q17: one lineitem scan, window avg, no per-partkey agg broadcast") {
    // the r11 rewrite computes the correlated per-partkey avg as a
    // window over the brand slice: exactly ONE lineitem scan (the old
    // agg+join-back form scanned twice) and no broadcast of the
    // fact-derived averages (a serial driver hash build at bench SFs,
    // an impossible plan at 100 TB)
    val s = PlanDescriber.simpleString(q("q17_corr_avg_subquery"))
    val lineitemScans = s.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    assert(lineitemScans == 1,
      s"q17 must scan lineitem exactly once, found $lineitemScans:\n${s.take(1500)}")
    assert(s.contains("Window"), s"q17 lost its window aggregate:\n${s.take(1500)}")
  }

  test("v_cluster_select: hash pre-gate bounds the rank window input") {
    // the exact-rank window must consume the oversample-gated survivor
    // set (~2·quota·k rows), not the full corpus: the gate Filter sits
    // BELOW the Window in the plan, and the small count/quota frames
    // broadcast
    val df = q("v_cluster_select")
    val s = PlanDescriber.simpleString(df)
    val winAt = s.indexOf("Window")
    assert(winAt >= 0, "expected one rank window")
    val below = s.substring(winAt)
    assert(below.contains("2000000"),
      s"hash pre-gate filter is not below the window:\n${s.take(2000)}")
    assert(PlanDescriber.broadcasts(df) >= 2,
      "cell-count and quota frames should broadcast")
  }

  test("normalized plan text is machine-stable") {
    val a = PlanDescriber.normalized(q("q06_scalar_agg"))
    val b = PlanDescriber.normalized(q("q06_scalar_agg"))
    assert(a === b)
    assert(!a.matches("(?s).*#\\d+.*"), "attribute ids not normalized")
  }

  test("join hints steer the physical join strategy") {
    // the per-join override surface a tuner needs when CBO guesses wrong:
    // the SAME logical join compiles to three different exchanges by hint
    val o = Catalog.table(spark, sf0001, "orders")
    val c = Catalog.table(spark, sf0001, "customer")
    def joined(hint: String) =
      o.join(c.hint(hint), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).count()
    val b = PlanDescriber.simpleString(joined("broadcast"))
    assert(b.contains("BroadcastHashJoin"), s"broadcast hint ignored:\n${b.take(800)}")
    val m = PlanDescriber.simpleString(joined("merge"))
    assert(m.contains("SortMergeJoin"), s"merge hint ignored:\n${m.take(800)}")
    val sh = PlanDescriber.simpleString(joined("shuffle_hash"))
    assert(sh.contains("ShuffledHashJoin"), s"shuffle_hash hint ignored:\n${sh.take(800)}")
    // hints change the plan, never the rows
    val rows = joined("broadcast").collect().map(_.toSeq).toSet
    assert(rows == joined("merge").collect().map(_.toSeq).toSet)
  }
}
