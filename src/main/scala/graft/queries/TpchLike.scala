package graft.queries

import graft.{Catalog, GQuery}
import graft.util.Num._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** The relational capability surface of the reference, proved query-by-query.
  *
  * The reference proves its query surface by executing TPC-H q1-q22 through
  * DataFusion (reference: tests/tpch.rs:21-131, testdata/tpch/queries/).
  * The driver's testdata is a TPC-H-ish star schema without `partsupp` and
  * with simplified columns, so each query here is a *shape-preserving
  * adaptation*: the operator semantics exercised (two-phase aggregation,
  * semi/anti joins from EXISTS/IN, correlated scalar subqueries, disjunctive
  * join predicates, top-k, ...) match the reference query of the same
  * number; constants and columns match the available data.
  *
  * Every query is written twice, independently: once in the DataFrame API
  * (Spark-first — Catalyst plans the distribution) and once as ANSI SQL for
  * the DuckDB oracle. Numeric aggregates use the order-independent
  * fixed-point forms from [[graft.util.Num]] so results are bit-identical
  * across engines and partition counts.
  */
object TpchLike {

  private def d(s: String): Column = lit(java.sql.Date.valueOf(s))

  /** revenue expression used throughout TPC-H */
  private def disc(price: Column, discount: Column): Column =
    price * (lit(1) - discount)

  private val discSql = "l_extendedprice * (1 - l_discount)"

  def queries: Seq[GQuery] = Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22)

  // ---------------------------------------------------------------- q1
  /** Scan + filter + two-phase hash aggregate + sort
    * (reference: testdata/tpch/queries/q1.sql, tests/tpch.rs:21-23). */
  val q1: GQuery = GQuery(
    "q01_pricing_summary",
    "filter + multi-column group-by with sum/avg/count + order-by",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      l.filter(col("l_shipdate") <= d("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(disc(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
          dsum(disc(col("l_extendedprice"), col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${dsumSql("l_quantity")} AS sum_qty,
             ${dsumSql("l_extendedprice")} AS sum_base_price,
             ${dsumSql(discSql)} AS sum_disc_price,
             ${dsumSql(s"$discSql * (1 + l_tax)")} AS sum_charge,
             ${davgSql("l_quantity")} AS avg_qty,
             ${davgSql("l_extendedprice")} AS avg_price,
             ${davgSql("l_discount")} AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= DATE '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q2
  /** Correlated scalar MIN subquery, decorrelated to aggregate + join
    * (reference: q2.sql:24-37 — min supply cost per part; adapted to min
    * account balance per nation, same decorrelation shape). */
  val q2: GQuery = GQuery(
    "q02_min_within_group",
    "correlated scalar min subquery (decorrelated: agg + join-back)",
    (spark, dir) => {
      val s = Catalog.table(spark, dir, "supplier")
      val n = Catalog.table(spark, dir, "nation")
      val r = Catalog.table(spark, dir, "region")
      val euSupp = s
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
      // "balance = MIN(balance) within nation" is exactly rank()=1 with
      // ties, and Catalyst's InferWindowGroupLimit turns the rank filter
      // into a map-side per-partition top-1-with-ties BEFORE the nation
      // shuffle (WindowGroupLimit, Partial then Final). That makes this a
      // ONE-scan, one-job plan — the previous aggregate+join-back form
      // scanned euSupp twice and paid a separate threshold-aggregate job
      // before the main join (the "2-job residue" the r10 floor probe
      // kept finding). Scale note: the shuffle carries only each map
      // partition's local min ties, so per-nation window state stays
      // O(ties), not O(suppliers/nation) — this survives 100 TB where a
      // raw min-over-window by 25 nations would not.
      // NULL guard: rank() orders NULLS FIRST by default, so a NULL
      // acctbal would take rank 1 and displace the true minimum, while
      // the decorrelated MIN() form (and the oracle) ignores NULLs. The
      // fixture schema is NOT NULL, but the rewrite must stay equivalent
      // on nullable inputs — the filter also pushes to the scan.
      val byNation = Window.partitionBy(col("n_nationkey")).orderBy(col("s_acctbal"))
      euSupp
        .filter(col("s_acctbal").isNotNull)
        .withColumn("rk", rank().over(byNation))
        .filter(col("rk") === 1)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
        .orderBy(col("n_name"), col("s_suppkey"))
    },
    Some("""
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier, nation, region
      WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND s_acctbal = (SELECT MIN(s2.s_acctbal)
                         FROM supplier s2, nation n2, region r2
                         WHERE s2.s_nationkey = n2.n_nationkey
                           AND n2.n_regionkey = r2.r_regionkey
                           AND r2.r_name = 'EUROPE'
                           AND n2.n_nationkey = nation.n_nationkey)
      ORDER BY n_name, s_suppkey"""))

  // ---------------------------------------------------------------- q3
  /** 3-way join + aggregate + top-k (TakeOrderedAndProject)
    * (reference: q3.sql; limit table benchmarks/src/tpch/mod.rs:171-194). */
  val q3: GQuery = GQuery(
    "q03_topk_revenue",
    "customer x orders x lineitem join, agg, order-by + limit 10",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val o = Catalog.table(spark, dir, "orders")
      val l = Catalog.table(spark, dir, "lineitem")
      // join first, aggregate after (the shape of the reference's q3.sql):
      // about a tenth of orders qualify, so summing every shipped lineitem
      // per order before the join would build ~9x more groups than the
      // join keeps. Joining first drops the lineitems of other orders at
      // the probe, and the aggregate groups only joined rows.
      // The order side is a left-semi join, not an inner join: c_custkey
      // is customer's key, so both return the same orders, but Spark
      // sizes a semi join like its left scan and an inner join as the
      // product of its inputs. With a scan-sized estimate the session's
      // broadcast ceiling decides the lineitem join with no hint: the
      // order slice broadcasts while it is under the ceiling and the join
      // plans as a shuffle join above it.
      val ord = o.filter(col("o_orderdate") < d("1998-03-15"))
        .join(c.filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderdate"))
      l.filter(col("l_shipdate") > d("1998-03-15"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast(DateType).as("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some(s"""
      SELECT l_orderkey, ${dsumSql(discSql)} AS revenue,
             CAST(o_orderdate AS DATE) AS o_orderdate
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < DATE '1998-03-15' AND l_shipdate > DATE '1998-03-15'
      GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""))

  // ---------------------------------------------------------------- q4
  /** EXISTS -> left-semi join with a non-equi correlated predicate
    * (reference: q4.sql:9-17; semi-join planning SURVEY §2b). */
  val q4: GQuery = GQuery(
    "q04_semi_join_exists",
    "EXISTS subquery planned as left-semi join with non-equi condition",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val l = Catalog.table(spark, dir, "lineitem")
      // EXISTS is witness-detection, not aggregation: probe the (cut)
      // lineitem stream against the 3-month orders slice and keep the
      // DISTINCT qualifying orders. The r11 form pre-aggregated ALL of
      // post-cut lineitem (3M rows at SF1) to per-order max(l_shipdate)
      // — a fact-wide groupBy whose exchange was the query's main cost —
      // only to throw away every order outside the quarter at the join.
      // Probing first inverts that: most lineitems miss the 37k-order
      // hash table, the witness stream is ~|qualifying orders| × small,
      // and the only exchange left is the distinct over witnesses (two
      // orders of magnitude fewer rows than the old pre-agg shuffle).
      // Derived date cut (r11, kept): every qualifying order has
      // o_orderdate ≥ the window start, so only lineitems with
      // l_shipdate > that start can witness — the filter reaches the
      // parquet scan. Scale note: the slice is a constant FRACTION of
      // orders (one quarter), so at 100 TB its estimate exceeds the
      // ceiling and the UNHINTED join degrades to a shuffle join in
      // which only witnesses (not the fact-wide pre-agg) reach the
      // distinct — the same shape, never a driver build.
      val oSlice = o
        .filter(col("o_orderdate") >= d("1997-07-01") && col("o_orderdate") < d("1997-10-01"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      l.filter(col("l_shipdate") > d("1997-07-01"))
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(oSlice, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
        .select(col("o_orderkey"), col("o_orderpriority"))
        .distinct()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= DATE '1997-07-01' AND o_orderdate < DATE '1997-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q5
  /** 6-way join with an extra equality tying two dimension paths together
    * (reference: q5.sql — local supplier volume). */
  val q5: GQuery = GQuery(
    "q05_local_supplier_volume",
    "six-table join incl. same-nation constraint + agg + sort",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val o = Catalog.table(spark, dir, "orders")
      val l = Catalog.table(spark, dir, "lineitem")
      val s = Catalog.table(spark, dir, "supplier")
      val n = Catalog.table(spark, dir, "nation")
      val r = Catalog.table(spark, dir, "region")
      // fact-first join order: lineitem is ALWAYS the stream side. Written
      // dimension-last, the planner's pruned-column size estimate can put
      // the whole fact table under the broadcast threshold and collect it
      // to the driver (observed at the SF1 replica: 6M-row lineitem on a
      // BroadcastExchange) — the one shape that cannot survive scale-up.
      val asiaN = n.join(broadcast(r),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
      l.join(o.filter(col("o_orderdate") >= d("1996-01-01") &&
            col("o_orderdate") < d("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(asiaN), col("s_nationkey") === col("n_nationkey"))
        .join(c, col("c_custkey") === col("o_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some(s"""
      SELECT n_name, ${dsumSql(discSql)} AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""))

  // ---------------------------------------------------------------- q6
  /** Scalar aggregate (no GROUP BY) over BETWEEN-filtered scan
    * (reference: q6.sql — forecast revenue change). */
  val q6: GQuery = GQuery(
    "q06_scalar_agg",
    "ungrouped aggregate with BETWEEN predicates, full filter pushdown",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      l.filter(
          col("l_shipdate") >= d("1997-01-01") && col("l_shipdate") < d("1998-01-01") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },
    Some(s"""
      SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  // ---------------------------------------------------------------- q7
  /** Self-joined dimension (nation x2) with OR-of-ANDs predicate + year
    * extraction (reference: q7.sql — volume shipping). */
  val q7: GQuery = GQuery(
    "q07_volume_shipping",
    "two roles of one dimension, disjunctive filter, year() grouping",
    (spark, dir) => {
      val s = Catalog.table(spark, dir, "supplier")
      val l = Catalog.table(spark, dir, "lineitem")
      val o = Catalog.table(spark, dir, "orders")
      val c = Catalog.table(spark, dir, "customer")
      val n1 = Catalog.table(spark, dir, "nation").alias("n1")
      val n2 = Catalog.table(spark, dir, "nation").alias("n2")
      // derived-filter pushdown: the disjunctive pair predicate implies
      // BOTH roles are one of the two nations, so supplier and customer
      // are pre-cut to 2/25 of their rows BEFORE touching the fact
      // table — lineitem shrinks ~12x at its first (broadcast) join
      // instead of after four joins; the asymmetric pair-OR survives as
      // a residual filter on the tiny joined result
      val sCut = s.join(broadcast(
          n1.filter(col("n1.n_name").isin("NATION_1", "NATION_2"))),
        col("s_nationkey") === col("n1.n_nationkey"))
      val cCut = c.join(broadcast(
          n2.filter(col("n2.n_name").isin("NATION_1", "NATION_2"))),
        col("c_nationkey") === col("n2.n_nationkey"))
      // cut BOTH fact inputs before the orderkey join: lineitem through
      // the supplier side, orders through the customer side — neither
      // full fact table ever sits on a hash-build side. The cut join
      // itself needs the hint: without it the planner broadcast FULL
      // orders (file estimate under the ceiling; BuildLeft keyed
      // o_custkey) — 600 ms of single-threaded driver
      // LongToUnsafeRowMap.append caught by the r11 stack-sampling
      // probe. shuffle_hash builds the 2-nation customer cut
      // per-partition instead; orders only ever streams.
      val oCut = o.join(cCut.hint("shuffle_hash"),
        col("c_custkey") === col("o_custkey"))
      l.filter(col("l_shipdate").between(d("1996-01-01"), d("1997-12-31")))
        .join(sCut, col("s_suppkey") === col("l_suppkey"))
        .join(oCut, col("o_orderkey") === col("l_orderkey"))
        .filter(
          (col("n1.n_name") === "NATION_1" && col("n2.n_name") === "NATION_2") ||
            (col("n1.n_name") === "NATION_2" && col("n2.n_name") === "NATION_1"))
        .select(
          col("n1.n_name").as("supp_nation"),
          col("n2.n_name").as("cust_nation"),
          year(col("l_shipdate")).as("l_year"),
          disc(col("l_extendedprice"), col("l_discount")).as("volume"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(dsum(col("volume")).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some(s"""
      SELECT supp_nation, cust_nation, l_year, ${dsumSql("volume")} AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
                   $discSql AS volume
            FROM supplier, lineitem, orders, customer, nation n1, nation n2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31') shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year"""))

  // ---------------------------------------------------------------- q8
  /** CASE WHEN inside aggregate; ratio of two exact sums
    * (reference: q8.sql — national market share). */
  val q8: GQuery = GQuery(
    "q08_market_share",
    "conditional aggregation ratio over an 8-table join",
    (spark, dir) => {
      val p = Catalog.table(spark, dir, "part")
      val s = Catalog.table(spark, dir, "supplier")
      val l = Catalog.table(spark, dir, "lineitem")
      val o = Catalog.table(spark, dir, "orders")
      val c = Catalog.table(spark, dir, "customer")
      val n1 = Catalog.table(spark, dir, "nation").alias("n1")
      val n2 = Catalog.table(spark, dir, "nation").alias("n2")
      val r = Catalog.table(spark, dir, "region")
      // region predicate pushed below the fact joins: customers are cut
      // to the AMERICA region (≈1/5) via a broadcast dimension chain
      // BEFORE joining, so non-qualifying rows never ride through the
      // orders/customer join (without CBO join reorder, a trailing
      // region filter would only be applied after the full 8-table join)
      val cAmerica = c.join(broadcast(
          n1.join(broadcast(r), col("n1.n_regionkey") === col("r_regionkey"))
            .filter(col("r_name") === "AMERICA")),
        col("c_nationkey") === col("n1.n_nationkey"))
      // orders is a RAW FACT whose compressed-file estimate sits under
      // the broadcast ceiling at bench SFs — broadcasting it meant a
      // ~1.5M-row single-threaded driver HashedRelation build (r11
      // JobProbe: a ~1.0 s dead window between the collect jobs and the
      // main job, of a 1.67 s query). shuffle_hash builds it
      // per-partition after a co-keyed shuffle — the only shape that
      // survives 100 TB, where orders never fits one machine.
      l.join(p.filter(col("p_type") === "ECONOMY"),
          col("p_partkey") === col("l_partkey"))
        .join(s, col("s_suppkey") === col("l_suppkey"))
        .join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .join(cAmerica, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("s_nationkey") === col("n2.n_nationkey"))
        .select(
          year(col("o_orderdate")).as("o_year"),
          disc(col("l_extendedprice"), col("l_discount")).as("volume"),
          col("n2.n_name").as("nation"))
        .groupBy(col("o_year"))
        .agg((dsum(when(col("nation") === "NATION_3", col("volume")).otherwise(lit(0))) /
          dsum(col("volume"))).as("mkt_share"))
        .orderBy(col("o_year"))
    },
    Some(s"""
      SELECT o_year,
             ${dsumSql("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END")} /
             ${dsumSql("volume")} AS mkt_share
      FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                   $discSql AS volume, n2.n_name AS nation
            FROM part, supplier, lineitem, orders, customer,
                 nation n1, nation n2, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
              AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
              AND p_type = 'ECONOMY') all_nations
      GROUP BY o_year
      ORDER BY o_year"""))

  // ---------------------------------------------------------------- q9
  /** LIKE filter + multi-join + year grouping (reference: q9.sql — product
    * profit; amount adapted: retailprice stands in for ps_supplycost). */
  val q9: GQuery = GQuery(
    "q09_product_profit",
    "LIKE '%..%' filter, 5-table join, grouped profit expression",
    (spark, dir) => {
      val p = Catalog.table(spark, dir, "part")
      val s = Catalog.table(spark, dir, "supplier")
      val l = Catalog.table(spark, dir, "lineitem")
      val o = Catalog.table(spark, dir, "orders")
      val n = Catalog.table(spark, dir, "nation")
      // same fact-broadcast hazard as q08: orders' file-size estimate
      // ducks the ceiling and costs a ~0.7 s serial driver build (r11
      // JobProbe: 720 ms gap, 218 ms of actual execution); shuffle_hash
      // keeps the build per-partition and the plan scale-valid
      p.filter(col("p_name").like("%red%"))
        .join(l, col("p_partkey") === col("l_partkey"))
        .join(s, col("s_suppkey") === col("l_suppkey"))
        .join(o.hint("shuffle_hash"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(
          col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"),
          (disc(col("l_extendedprice"), col("l_discount")) -
            col("p_retailprice") * col("l_quantity") * lit(0.1)).as("amount"))
        .groupBy(col("nation"), col("o_year"))
        .agg(dsum(col("amount")).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some(s"""
      SELECT nation, o_year, ${dsumSql("amount")} AS sum_profit
      FROM (SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
                   $discSql - p_retailprice * l_quantity * 0.1 AS amount
            FROM part, supplier, lineitem, orders, nation
            WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
              AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
              AND p_name LIKE '%red%') profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC"""))

  // ---------------------------------------------------------------- q10
  /** Returned-items top 20 (reference: q10.sql; limit per mod.rs:171-194). */
  val q10: GQuery = GQuery(
    "q10_returned_items",
    "4-table join, returnflag filter, top-20 by aggregated revenue",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val o = Catalog.table(spark, dir, "orders")
      val l = Catalog.table(spark, dir, "lineitem")
      val n = Catalog.table(spark, dir, "nation")
      // fact-first (see q5): returned lineitems stream against the
      // 3-month orders slice — then aggregate-below-join (the q13
      // trick): revenue is keyed by custkey alone, and the grouped
      // customer attributes are functionally determined by it, so the
      // per-custkey sum happens BEFORE any dimension join. The dim join
      // then carries one narrow row per returning customer instead of
      // one per returned lineitem, and customer co-partitions against
      // the aggregation's own custkey exchange. Spark sizes the
      // per-custkey frame as a product of its join inputs, so it never
      // broadcasts anyway; the shuffle_hash hint only stops customer
      // (0.7 MB at x4) from broadcasting.
      val revByCust = l.filter(col("l_returnflag") === "R")
        .join(o.filter(col("o_orderdate") >= d("1997-10-01") &&
            col("o_orderdate") < d("1998-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dsum(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      c.hint("shuffle_hash")
        .join(revByCust, col("c_custkey") === col("o_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some(s"""
      SELECT c_custkey, c_name, ${dsumSql(discSql)} AS revenue, c_acctbal, n_name
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= DATE '1997-10-01' AND o_orderdate < DATE '1998-01-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""))

  // ---------------------------------------------------------------- q11
  /** HAVING against an uncorrelated scalar subquery (reference: q11.sql
    * — important stock; adapted to supplier balances per nation). */
  val q11: GQuery = GQuery(
    "q11_having_scalar_subquery",
    "group-by + HAVING compared to a global aggregate subquery",
    (spark, dir) => {
      val s = Catalog.table(spark, dir, "supplier")
      val n = Catalog.table(spark, dir, "nation")
      // ONE supplier scan: the global threshold is derived from the group
      // sums themselves (the raw scaled-BIGINT accumulators window-sum to
      // EXACTLY the global SUM(fix6), so the /1e6 * 0.05 matches the
      // oracle's dsum bit-for-bit). The window is a single 25-row
      // partition — nation cardinality is bounded, so this holds at any
      // corpus size and drops the separate threshold-aggregate job +
      // broadcast that made this query a two-scan, three-job plan.
      val grouped = s
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("s_acctbal")).as("value"),
          sum(fix6(col("s_acctbal"))).as("raw"))
      val all = Window.partitionBy()
      grouped
        .withColumn("threshold",
          sum(col("raw")).over(all).cast("double") / 1000000.0d * lit(0.05))
        .filter(col("value") > col("threshold"))
        .select(col("n_name"), col("value"))
        .orderBy(col("value").desc, col("n_name"))
    },
    Some(s"""
      SELECT n_name, ${dsumSql("s_acctbal")} AS value
      FROM supplier, nation
      WHERE s_nationkey = n_nationkey
      GROUP BY n_name
      HAVING ${dsumSql("s_acctbal")} >
             (SELECT ${dsumSql("s_acctbal")} * 0.05 FROM supplier)
      ORDER BY value DESC, n_name"""))

  // ---------------------------------------------------------------- q12
  /** Join + CASE WHEN counting into two buckets (reference: q12.sql —
    * shipmode priority counts; adapted to order priority classes). */
  val q12: GQuery = GQuery(
    "q12_conditional_counts",
    "join + disjoint CASE WHEN counts per group",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val l = Catalog.table(spark, dir, "lineitem")
      val high = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
      // the one-year lineitem slice is a FILTERED RAW FACT: its post-
      // filter size estimate sneaks under the broadcast ceiling at bench
      // SFs and the planner then builds a ~0.9M-row HashedRelation
      // single-threaded on the driver (r11 JobProbe at SF1: ~1.0 s of a
      // 1.4 s query sat between the broadcast-build job and the probe
      // job). Same rule as q18: fact-cardinality build sides take
      // shuffle_hash — both sides hash on orderkey and the build runs
      // per-partition in parallel; at 100 TB this is the only plan that
      // works at all (the slice never fits one machine).
      val lYear = l
        .filter(col("l_shipdate") >= d("1997-01-01") && col("l_shipdate") < d("1998-01-01"))
        .hint("shuffle_hash")
      // evaluate the priority CASE below the join: the orders-side
      // shuffle then carries (orderkey, bool) instead of the priority
      // string — ~40% less exchange payload on the wider side
      o.select(col("o_orderkey"), high.as("o_high"))
        .join(lYear, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_high"), lit(1L)).otherwise(lit(0L))).as("high_line_count"),
          sum(when(!col("o_high"), lit(1L)).otherwise(lit(0L))).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
    Some("""
      SELECT l_linestatus,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders, lineitem
      WHERE o_orderkey = l_orderkey
        AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      GROUP BY l_linestatus
      ORDER BY l_linestatus"""))

  // ---------------------------------------------------------------- q13
  /** LEFT OUTER join with extra join-condition + count distribution
    * (reference: q13.sql:10-12). */
  val q13: GQuery = GQuery(
    "q13_outer_join_distribution",
    "left outer join with filtered condition, count(col), count-of-counts",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val o = Catalog.table(spark, dir, "orders")
      // aggregate-below-outer-join: count orders per custkey FIRST (narrow
      // 2-column shuffle with map-side combine), then left-join customers
      // to the counts — the join carries one row per customer instead of
      // one per order, and the per-custkey group-by disappears
      val perCust = o.filter(col("o_orderpriority") =!= "5-LOW")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
      // perCust is FACT-DERIVED (one row per ordering customer — it
      // scales with the corpus) and its post-agg estimate ducks the
      // broadcast ceiling: r11 probe showed a ~116 ms driver-serial
      // HashedRelation build in the dead window. shuffle_hash keeps the
      // join co-partitioned with perCust's own aggregation exchange —
      // only the customer side moves, and the build is parallel.
      c.join(perCust.hint("shuffle_hash"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("k"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""
      SELECT c_count, COUNT(*) AS custdist
      FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""))

  // ---------------------------------------------------------------- q14
  /** Conditional-aggregate ratio scaled by literal (reference: q14.sql). */
  val q14: GQuery = GQuery(
    "q14_promo_ratio",
    "scalar CASE-WHEN ratio over join, single-row result",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val p = Catalog.table(spark, dir, "part")
      // part is the one TPC-H "dimension" that scales WITH the corpus
      // (unlike nation/region/supplier-per-nation): at 100 TB it is
      // billions of rows and can never broadcast, and even at bench SF
      // the r11 probe caught its 200k-row LongToUnsafeRowMap building
      // single-threaded on the driver (~100 ms dead window). The month
      // slice of lineitem is ~70k rows, so hashing both sides on partkey
      // moves less data than the broadcast shipped.
      l.filter(col("l_shipdate") >= d("1997-09-01") && col("l_shipdate") < d("1997-10-01"))
        .join(p.hint("shuffle_hash"), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          dsum(when(col("p_type") === "PROMO",
            disc(col("l_extendedprice"), col("l_discount"))).otherwise(lit(0))) /
          dsum(disc(col("l_extendedprice"), col("l_discount")))).as("promo_revenue"))
    },
    Some(s"""
      SELECT 100.0 * ${dsumSql(s"CASE WHEN p_type = 'PROMO' THEN $discSql ELSE 0 END")} /
             ${dsumSql(discSql)} AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= DATE '1997-09-01' AND l_shipdate < DATE '1997-10-01'"""))

  // ---------------------------------------------------------------- q15
  /** View DDL + MAX scalar subquery over the view (reference: q15.sql is a
    * 3-statement create/select/drop special case, run.rs:186-199; Spark temp
    * views make it a single flow). */
  val q15: GQuery = GQuery(
    "q15_top_supplier_view",
    "temp-view DDL + equality against MAX over the view",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val s = Catalog.table(spark, dir, "supplier")
      l.filter(col("l_shipdate") >= d("1997-01-01") && col("l_shipdate") < d("1997-04-01"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(dsum(disc(col("l_extendedprice"), col("l_discount"))).as("total_revenue"))
        .createOrReplaceTempView("revenue0")
      val rev = spark.table("revenue0")
      // spark.table resolved the view EAGERLY into rev's analyzed plan,
      // so the catalog entry can go immediately — completing the
      // reference's actual 3-statement create/select/DROP flow
      // (q15.sql) and keeping the session clean: a leaked revenue0
      // collided with the verbatim q15's plain CREATE VIEW when suites
      // sharing one session ran the registry q15 first.
      spark.catalog.dropTempView("revenue0")
      // "revenue = MAX(revenue) over the view" is global rank()=1 with
      // ties: InferWindowGroupLimit prefilters each partition to its
      // local max ties before the single-partition window, so the only
      // rows that move are one per upstream partition. This replaces a
      // shape that (a) re-executed revenue0 for the MAX (second lineitem
      // scan + its own job) and (b) broadcast the FULL fact-derived view
      // (one row per suppkey — a serial driver HashedRelation build, the
      // same disease JobProbe caught on q03/q12/q08/q09). The surviving
      // broadcast side is ties-of-global-max — ~1 row by construction,
      // dimension-safe at any scale.
      val top = rev
        .withColumn("rk", rank().over(Window.orderBy(col("total_revenue").desc)))
        .filter(col("rk") === 1)
        .drop("rk")
      s.join(broadcast(top), col("s_suppkey") === col("supplier_no"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some(s"""
      WITH revenue0 AS (
        SELECT l_suppkey AS supplier_no, ${dsumSql(discSql)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier, revenue0
      WHERE s_suppkey = supplier_no
        AND total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
      ORDER BY s_suppkey"""))

  // ---------------------------------------------------------------- q16
  /** COUNT(DISTINCT) + NOT IN anti join (reference: q16.sql; lineitem
    * stands in for partsupp as the part-supplier bridge). */
  val q16: GQuery = GQuery(
    "q16_distinct_anti_join",
    "anti join (NOT IN) + count distinct per group",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val p = Catalog.table(spark, dir, "part")
      val s = Catalog.table(spark, dir, "supplier")
      val excluded = s.filter(col("s_name").like("%7%")).select(col("s_suppkey"))
      l.join(p, col("p_partkey") === col("l_partkey"))
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
    Some("""
      SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_name LIKE '%7%')
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))

  // ---------------------------------------------------------------- q17
  /** Correlated scalar AVG subquery (reference: q17.sql:11-15 — small
    * quantity orders; avg written order-independently on both sides). */
  val q17: GQuery = GQuery(
    "q17_corr_avg_subquery",
    "per-key avg subquery, decorrelated to agg + join, scalar output",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val p = Catalog.table(spark, dir, "part")
      // Two structural facts the old agg+join-back form ignored:
      // (1) the correlated avg is PER PARTKEY, so restricting lineitem to
      //     Brand#3 partkeys FIRST leaves every surviving group's avg
      //     unchanged — the aggregate input drops from all of lineitem to
      //     the ~1% brand slice;
      // (2) avg-then-rejoin on the same key is a window aggregate: one
      //     partkey shuffle of the slice, no second scan, no join — and
      //     no fact-derived avgQty broadcast (r11 probe: ~166 ms serial
      //     LongToUnsafeRowMap build of the 200k-row per-partkey avgs in
      //     the dead window between jobs; gate probe 742 -> 404 ms).
      //     Per-group window state is lineitems-per-part (~30,
      //     corpus-invariant), so this holds at 100 TB. The brand-slice
      //     join deliberately carries NO hint: the planner broadcasts the
      //     slice while its estimate sits under the ceiling, and — because
      //     nothing is forced — AQE demotes it to a shuffle join at the
      //     scale where part (which grows with the corpus) no longer fits
      //     one machine. An explicit broadcast() here would bypass the
      //     threshold at every scale and OOM the driver at 100 TB.
      val byPart = Window.partitionBy(col("l_partkey"))
      l.join(p.filter(col("p_brand") === "Brand#3")
            .select(col("p_partkey")),
          col("p_partkey") === col("l_partkey"))
        .withColumn("qty_limit",
          sum(fix6(col("l_quantity"))).over(byPart).cast("double") / 1000000.0d
            / count(col("l_quantity")).over(byPart) * lit(0.5))
        .filter(col("l_quantity") < col("qty_limit"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    },
    Some(s"""
      SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
        AND l_quantity < (SELECT 0.5 * (${dsumSql("l2.l_quantity")} / COUNT(l2.l_quantity))
                          FROM lineitem l2
                          WHERE l2.l_partkey = part.p_partkey)"""))

  // ---------------------------------------------------------------- q18
  /** IN subquery with HAVING + top-k (reference: q18.sql — large volume
    * customers). */
  val q18: GQuery = GQuery(
    "q18_in_subquery_having",
    "IN over grouped HAVING subquery (left-semi), top-100",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val o = Catalog.table(spark, dir, "orders")
      val l = Catalog.table(spark, dir, "lineitem")
      // the IN-subquery aggregate IS the output aggregate: sum_qty per
      // qualifying order is exactly the HAVING sum, so one lineitem
      // aggregation serves both the semi-filter and the result — no second
      // lineitem scan/join (and no fact table ever sits on a build side)
      val bigOrders = l
        .groupBy(col("l_orderkey").as("bk"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      // fact-derived-aggregate rule: bigOrders is one row per
      // qualifying ORDER (293k at SF1 — measured), so its post-filter size
      // estimate tempts the planner into a driver-side broadcast build;
      // shuffle_hash keeps the join co-partitioned with the aggregation
      // exchange and builds in parallel
      o.join(bigOrders.hint("shuffle_hash"), col("o_orderkey") === col("bk"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    Some(s"""
      SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
             o_totalprice, ${dsumSql("l_quantity")} AS sum_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING ${dsumSql("l_quantity")} > 150)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100"""))

  // ---------------------------------------------------------------- q19
  /** Disjunction of conjunctive join predicates (reference: q19.sql —
    * discounted revenue; Catalyst extracts the common equi-key). */
  val q19: GQuery = GQuery(
    "q19_disjunctive_join",
    "OR-of-ANDs join predicate with shared equi-join key",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val p = Catalog.table(spark, dir, "part")
      l.join(p, col("p_partkey") === col("l_partkey") && (
        (col("p_brand") === "Brand#2" && col("l_quantity").between(1, 11) &&
          col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#11" && col("l_quantity").between(10, 20) &&
            col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#20" && col("l_quantity").between(20, 30) &&
            col("p_size").between(1, 15))))
        .agg(dsum(disc(col("l_extendedprice"), col("l_discount"))).as("revenue"))
    },
    Some(s"""
      SELECT ${dsumSql(discSql)} AS revenue
      FROM lineitem, part
      WHERE (p_partkey = l_partkey AND p_brand = 'Brand#2'
             AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
         OR (p_partkey = l_partkey AND p_brand = 'Brand#11'
             AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
         OR (p_partkey = l_partkey AND p_brand = 'Brand#20'
             AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)"""))

  // ---------------------------------------------------------------- q20
  /** Semi join against a grouped-HAVING subquery that itself joins a
    * LIKE-filtered dimension (reference: q20.sql — potential part promotion). */
  val q20: GQuery = GQuery(
    "q20_nested_semi_join",
    "IN (join + group + having) nested subquery as left-semi",
    (spark, dir) => {
      val s = Catalog.table(spark, dir, "supplier")
      val n = Catalog.table(spark, dir, "nation")
      val l = Catalog.table(spark, dir, "lineitem")
      val p = Catalog.table(spark, dir, "part")
      val busySupp = l
        .join(broadcast(p.filter(col("p_name").like("blue%")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .filter(col("l_shipdate") >= d("1997-01-01") && col("l_shipdate") < d("1998-01-01"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_quantity")).as("q"))
        .filter(col("q") > 50)
        .select(col("l_suppkey"))
      s.join(busySupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_5")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    },
    Some(s"""
      SELECT s_name, s_acctbal
      FROM supplier, nation
      WHERE s_suppkey IN (
              SELECT l_suppkey FROM lineitem, part
              WHERE l_partkey = p_partkey AND p_name LIKE 'blue%'
                AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
              GROUP BY l_suppkey
              HAVING ${dsumSql("l_quantity")} > 50)
        AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
      ORDER BY s_name"""))

  // ---------------------------------------------------------------- q21
  /** EXISTS + NOT EXISTS with self-join inequality (reference: q21.sql:14-30
    * — suppliers who kept orders waiting; lateness adapted to
    * shipdate > orderdate + 60 days). Spark-first formulation: the two
    * correlated existentials collapse into one per-order aggregate
    * (distinct suppliers / distinct late suppliers) joined back — one
    * shuffle instead of two correlated joins. */
  val q21: GQuery = GQuery(
    "q21_exists_not_exists",
    "EXISTS + NOT EXISTS with <> self-join, via per-group distinct counts",
    (spark, dir) => {
      val s = Catalog.table(spark, dir, "supplier")
      val l = Catalog.table(spark, dir, "lineitem")
      val o = Catalog.table(spark, dir, "orders")
      val n = Catalog.table(spark, dir, "nation")
      // the 'F' slice broadcasts under the 64 MB raw-fact ceiling (r10
      // A/B adjudication: ~190 ms serial build beats re-shuffling the
      // FULL 6M-row lineitem onto orderkey; re-confirmed r12 under the
      // rollup shape below — shuffle_hash benched 1407 ms vs 965 ms at
      // the SF1 replica). The choice is deliberately UNHINTED: the
      // planner broadcasts while the slice's estimate sits under the
      // ceiling, and AQE demotes it from runtime sizes at the scale
      // where half of orders no longer fits one machine (pinned by
      // PlanSpec's threshold-lowering case — no driver OOM path).
      val lo = l
        .join(o.filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
      // one pass instead of aggregate + join-back, with PRIMITIVE window
      // state: roll lineitem up to one row per (order, supplier) first
      // (late_cnt = this supplier's late rows in the order), then both
      // existential counts are plain count/sum windows over the rollup —
      // n_supp = distinct suppliers, n_late = distinct LATE suppliers.
      // The r11 form computed the distinct counts as collect_set windows
      // over the RAW join output: per-row object hash-set state over 6M
      // rows dominated the main job (probe: 1674 ms -> 543 ms for this
      // rollup under plain AQE). The explicit orderkey repartition makes
      // the rollup and both windows share ONE exchange: hash(orderkey)
      // satisfies the aggregate's (orderkey, suppkey) clustering AND the
      // window's orderkey clustering, so EnsureRequirements inserts no
      // second shuffle — same exchange count as the collect_set form,
      // strictly cheaper per-row state. numwait = sum(late_cnt)
      // reproduces the oracle's per-lineitem-row COUNT(*).
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
      lo
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(sum(when(col("late"), 1L).otherwise(0L)).as("late_cnt"))
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_late",
          sum(when(col("late_cnt") > 0, 1).otherwise(0)).over(w))
        .filter(col("late_cnt") > 0 && col("n_supp") >= 2 && col("n_late") === 1)
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_3")
        .groupBy(col("s_name"))
        .agg(sum(col("late_cnt")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
    Some("""
      SELECT s_name, COUNT(*) AS numwait
      FROM supplier, lineitem l1, orders, nation
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100"""))

  // ---------------------------------------------------------------- q22
  /** substring() bucketing + NOT EXISTS anti join + uncorrelated avg
    * subquery (reference: q22.sql — global sales opportunity). */
  val q22: GQuery = GQuery(
    "q22_substring_anti_join",
    "substring bucket, avg scalar subquery, NOT EXISTS anti join",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val o = Catalog.table(spark, dir, "orders")
      val codes = Seq("1", "2", "3", "4", "5")
      val bucketed = c
        .withColumn("cntrycode", substring(col("c_name"), -1, 1))
        .filter(col("cntrycode").isin(codes: _*))
      val avgBal = bucketed
        .filter(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal")) / count(col("c_acctbal"))).as("avg_bal"))
      // anti-join against URGENT orders only: in this corpus every
      // customer has some order, so the unfiltered NOT EXISTS of the
      // original is vacuously empty; the filtered form keeps the
      // anti-join semantics AND a non-trivial result
      bucketed
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        // the URGENT slice is a FILTERED RAW FACT (~20% of orders): its
        // estimate ducks the broadcast ceiling and the planner builds a
        // ~300k-row LongToUnsafeRowMap single-threaded on the driver
        // (r11 JobProbe stacks caught the build filling the dead window
        // between the collect jobs and the main job). Same rule as
        // q12/q18: fact-cardinality build sides take shuffle_hash.
        .join(o.filter(col("o_orderpriority") === "1-URGENT").hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("cntrycode"))
    },
    Some(s"""
      SELECT cntrycode, COUNT(*) AS numcust, ${dsumSql("c_acctbal")} AS totacctbal
      FROM (SELECT SUBSTRING(c_name, LENGTH(c_name), 1) AS cntrycode, c_acctbal, c_custkey
            FROM customer
            WHERE SUBSTRING(c_name, LENGTH(c_name), 1) IN ('1','2','3','4','5')) bucketed
      WHERE c_acctbal > (SELECT ${dsumSql("c_acctbal")} / COUNT(c_acctbal)
                         FROM customer
                         WHERE c_acctbal > 0.0
                           AND SUBSTRING(c_name, LENGTH(c_name), 1) IN ('1','2','3','4','5'))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
      GROUP BY cntrycode
      ORDER BY cntrycode"""))
}
