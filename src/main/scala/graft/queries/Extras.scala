package graft.queries

import graft.{Catalog, GQuery}
import graft.util.Num._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, IntegerType}

/** Relational capabilities beyond the TPC-H corpus that the reference gets
  * from DataFusion but never exercises (SURVEY §2b flags them "available
  * free"): window functions, set operations, rollup, cross/full-outer joins,
  * string and date function surfaces. Declared here so the capability is
  * *proved* against the oracle, not just assumed.
  */
object Extras {

  def queries: Seq[GQuery] = Seq(
    windowRank, windowRunning, windowRangeFrame, rollupAgg, cubeAgg, pivotAgg,
    unionDistinct,
    intersectKeys, exceptKeys, setOpsAll, fullOuter, crossJoinQ, distinctOrder,
    stringFuncs, dateFuncs, decimalArith, sqlPath, rfmSegments, piiMask,
    dailyRollup, fuzzyMatch, damerauMatch, basketPairs, zorderQ, saltedJoin,
    unionByName, incrRollup, partPrune, dppJoin, kAnonymize, bucketJoin,
    dlqValidate, timeTravel, seasonality, rangeSorted, skewAqe,
    rebalanceWrite, saltedAgg)

  /** Name-based union across drifted schemas — the ingest reality at
    * 100 TB: a table's files span generations (columns added, reordered,
    * dropped), and positional UNION silently mis-binds them. Spark's
    * `unionByName(allowMissingColumns = true)` aligns by NAME and
    * null-fills absences (DuckDB: `UNION ALL BY NAME`). Modeled here as
    * two generations of an order feed: an old one without priority, a new
    * one with it and its columns reordered — the merged view keeps every
    * row, binds columns correctly, and nulls the old generation's missing
    * field. Parquet-side twin: `mergeSchema` on a multi-generation
    * directory (CatalogSpec pins that path). */
  val unionByName: GQuery = GQuery(
    "x_union_by_name",
    "schema-drift union: name-aligned, null-filling merge of two feed generations",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val gen0 = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val gen1 = o.filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderpriority"), col("o_totalprice"),
          col("o_orderkey"), col("o_custkey"))
      gen0.unionByName(gen1, allowMissingColumns = true)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy(col("priority").asc_nulls_first)
    },
    Some(s"""
      WITH merged AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL BY NAME
        SELECT o_orderpriority, o_totalprice, o_orderkey, o_custkey
        FROM orders WHERE o_orderkey % 3 = 1)
      SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
             ${dsumSql("o_totalprice")} AS total
      FROM merged
      GROUP BY priority
      ORDER BY priority ASC NULLS FIRST"""))

  /** Skew-mitigated (salted) join, oracle-proven output-equal to the
    * plain join. THE hot-key defense at 100 TB: a shuffle join hashes
    * each key to one reducer, so one pathological key (the null user,
    * the default supplier) serializes its entire row mass onto a single
    * task. Salting splits every fact row's key into (key, salt∈[0,S))
    * with a deterministic per-row hash and replicates the dimension row
    * S× — the hot key's mass now spreads over S reducers, at the price
    * of an S× dimension expansion (dimensions are small; facts are not).
    *
    * The oracle is the PLAIN join with no salt anywhere — the gate
    * hash-proves the rewrite is invisible to results. A SHUFFLE_HASH
    * hint keeps the exercise honest at test scale (broadcast would
    * bypass the salted shuffle being demonstrated; at 100 TB this form
    * is for dims past the broadcast threshold — under it, broadcast and
    * skip salting entirely). AQE's skewedJoin covers sort-merge skew at
    * runtime (enabled in GraftSession); explicit salting is the plan-
    * level form that also covers hash joins and grouped aggregation. */
  val saltedJoin: GQuery = GQuery(
    "x_salted_join",
    "salted (skew-spread) fact-dim join == plain join, revenue by nation",
    (spark, dir) => {
      val S = 8
      val l = Catalog.table(spark, dir, "lineitem")
      val s = Catalog.table(spark, dir, "supplier")
      // deterministic per-row salt via native xxhash64 (the guide's
      // pmod(xxhash64(...), S) idiom) — the previous md5-based h60 paid
      // string-concat + MD5 + hex-conv per fact row just to pick a salt.
      // Results are salt-placement-independent (exact fix6 aggregation),
      // which is exactly what the salt-free oracle proves.
      val salted = l.select(col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"),
        pmod(xxhash64(lit("salt"), col("l_orderkey"), col("l_linenumber")),
          lit(S.toLong)).as("salt"))
      val dimRep = s.select(col("s_suppkey"), col("s_nationkey"),
        explode(expr(s"sequence(0, ${S - 1})")).as("salt"))
      salted.hint("shuffle_hash")
        .join(dimRep, salted("l_suppkey") === dimRep("s_suppkey") &&
          salted("salt") === dimRep("salt"))
        .groupBy(col("s_nationkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("s_nationkey"))
    },
    // deliberately salt-free: the plain join IS the spec the salted
    // rewrite must reproduce bit-for-bit
    Some(s"""
      SELECT s_nationkey,
             ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
             COUNT(*) AS n_items
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey
      ORDER BY s_nationkey"""))

  /** Salted two-phase aggregation over a Zipfian group key, oracle-proven
    * output-equal to the plain groupBy — the third skew shape after
    * plan-level join salting (x_salted_join) and AQE runtime join
    * splitting (x_skew_aqe). A grouped aggregation hashes each key to one
    * reducer; AQE can split skewed JOIN partitions but NOT skewed
    * aggregation keys (a final aggregate for one key cannot be divided
    * across tasks), so the plan-level fix is [[graft.plans.Skew.saltedSum]]:
    * partial-aggregate on (key, salt∈[0,S)), final-aggregate on key —
    * caps any reducer's input at ~1/S of the hottest key's mass.
    *
    * The key here is deliberately Zipf-shaped: ~70% of lineitem rows
    * collapse onto group 0, the rest spread over six cold groups — the
    * exact "null user / default id" pathology. Results are
    * salt-placement-independent because the double accumulates via fix6
    * fixed-point (exact, associative), so the seeded-random salt never
    * shows in the output; the oracle is the PLAIN salt-free GROUP BY. */
  val saltedAgg: GQuery = GQuery(
    "x_salted_agg",
    "salted two-phase aggregation over a Zipfian hot key == plain groupBy",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
        .select(
          when(col("l_orderkey") % 10 < 7, lit(0L))
            .otherwise(col("l_orderkey") % 20).cast("bigint").as("grp"),
          col("l_extendedprice"))
      graft.plans.Skew.saltedSum(l, "grp", "l_extendedprice", nSalts = 8)
        .orderBy(col("grp"))
    },
    // deliberately salt-free: the plain aggregation IS the spec the
    // salted two-phase rewrite must reproduce bit-for-bit
    Some(s"""
      SELECT grp,
             ${dsumSql("l_extendedprice")} AS sum_l_extendedprice,
             COUNT(*) AS n
      FROM (SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                        ELSE l_orderkey % 20 END AS grp,
                   l_extendedprice
            FROM lineitem)
      GROUP BY grp
      ORDER BY grp"""))

  /** Transposition-aware fuzzy matching through the graft-native
    * `damerau_levenshtein` Expression ([[graft.functions.DamerauLevenshtein]]
    * — full Lowrance-Wagner metric, matching DuckDB's, NOT the restricted
    * OSA variant). Customer names are digit-suffixed, so adjacent-digit
    * swaps ("…412" vs "…421") are exactly the pairs where DL < plain
    * Levenshtein — the query reports, per distance, how many
    * sorted-neighborhood pairs the transposition edit tightens.
    *
    * Blocking scales with the corpus (unlike a constant nation×segment
    * key): the block is the name minus its last 3 chars, so block count
    * grows ∝ N and block size stays ≤ 1000 names at any SF. Within a
    * block: sorted-neighborhood lead(1..3) — O(N·W) distance calls, no
    * self-join, every call inside whole-stage codegen. */
  val damerauMatch: GQuery = GQuery(
    "x_damerau",
    "native full Damerau-Levenshtein vs levenshtein over sorted-neighborhood name pairs",
    (spark, dir) => {
      graft.functions.GraftFunctions.register(spark)
      val c = Catalog.table(spark, dir, "customer")
        .select(col("c_name"),
          expr("substring(c_name, 1, length(c_name) - 3)").as("blk"))
      val w = Window.partitionBy(col("blk")).orderBy(col("c_name"))
      val nbrPairs = c.select(col("c_name"),
          array((1 to 3).map(i => lead(col("c_name"), i).over(w)): _*).as("nbrs"))
        .select(col("c_name"), explode(col("nbrs")).as("b_name"))
        .filter(col("b_name").isNotNull)
      // transposition audit: pair every name against its last-two-chars
      // swap — the one edit where full DL (1) and Levenshtein (2) MUST
      // disagree, so a plain-Levenshtein impostor cannot pass the oracle
      val swapPairs = c.select(col("c_name"),
          expr("concat(substring(c_name, 1, length(c_name) - 2)," +
            " substring(c_name, length(c_name), 1)," +
            " substring(c_name, length(c_name) - 1, 1))").as("b_name"))
        .filter(col("c_name") =!= col("b_name"))
      nbrPairs.union(swapPairs)
        .select(expr("damerau_levenshtein(c_name, b_name)").as("dist"),
          levenshtein(col("c_name"), col("b_name")).as("lev"))
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("dist") < col("lev"), 1L).otherwise(0L)).as("n_tightened"))
        .orderBy(col("dist"))
    },
    Some("""
      WITH g AS (
        SELECT c_name, substr(c_name, 1, len(c_name) - 3) AS blk,
               ROW_NUMBER() OVER (PARTITION BY substr(c_name, 1, len(c_name) - 3)
                                  ORDER BY c_name) AS rk
        FROM customer),
      nbr_pairs AS (
        SELECT x.c_name AS a_name, y.c_name AS b_name
        FROM g x JOIN g y
          ON x.blk = y.blk AND y.rk > x.rk AND y.rk <= x.rk + 3),
      swap_pairs AS (
        SELECT c_name AS a_name,
               substr(c_name, 1, len(c_name) - 2)
                 || substr(c_name, len(c_name), 1)
                 || substr(c_name, len(c_name) - 1, 1) AS b_name
        FROM customer
        WHERE c_name <> substr(c_name, 1, len(c_name) - 2)
                 || substr(c_name, len(c_name), 1)
                 || substr(c_name, len(c_name) - 1, 1)),
      pairs AS (
        SELECT damerau_levenshtein(a_name, b_name) AS dist,
               levenshtein(a_name, b_name) AS lev
        FROM (SELECT * FROM nbr_pairs UNION ALL SELECT * FROM swap_pairs))
      SELECT dist, COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN dist < lev THEN 1 ELSE 0 END) AS BIGINT) AS n_tightened
      FROM pairs GROUP BY dist ORDER BY dist"""))

  /** Sorted-neighborhood fuzzy entity matching — the edit-distance half
    * of entity resolution (the set-similarity half is TextOps'
    * n-gram/minhash family). Round-4 weakness fixed here: blocking on
    * nation × segment alone gives ~125 CONSTANT blocks, so per-block
    * pairs grow quadratically with the corpus. The standard
    * record-linkage cure is the sorted-neighborhood method (Hernández &
    * Stolfo 1995): within each block, sort distinct names and compare
    * each name only against its next [[snWindow]] neighbors in sort
    * order. Candidates are generated by `lead(name, i)` over the sorted
    * window — N·W rows straight out of one window pass, no self-join —
    * so total work is O(N log N) sort + O(N·W) Levenshtein at any
    * corpus size. The per-pair predicate is `levenshtein ≤ 2` — an
    * exact integer metric, identical in both engines, so the distance
    * histogram hash-gates (the DuckDB oracle derives the same candidate
    * set via ROW_NUMBER + a rank-range join).
    *
    * Each Levenshtein runs once per DISTINCT name pair and is weighted
    * by the name-group sizes (na·nb cross pairs; C(n,2) at distance 0
    * within a group) — the quadratic edit-distance work shrinks by the
    * duplication factor squared on a replica-heavy corpus. */
  private val snWindow = 10
  val fuzzyMatch: GQuery = GQuery(
    "a_fuzzy_match",
    s"sorted-neighborhood (W=$snWindow) levenshtein<=2 entity-match pair histogram",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val g = c.groupBy(col("c_nationkey"), col("c_mktsegment"), col("c_name"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("c_name"))
      val leads = g.select(col("c_name"), col("n"),
        array((1 to snWindow).map(i =>
          struct(lead(col("c_name"), i).over(w).as("bname"),
            lead(col("n"), i).over(w).as("bn"))): _*).as("nbrs"))
      val cross = leads
        .select(col("c_name"), col("n"), explode(col("nbrs")).as("p"))
        .filter(col("p.bname").isNotNull)
        // thresholded levenshtein: the 3-arg form runs a banded DP with a
        // length-difference early-out and returns -1 past the threshold;
        // for the kept pairs (0..2) the distance is identical, so the
        // histogram is unchanged and the oracle stays the plain predicate.
        // Measured flat, not faster: in an order-alternating A/B it read
        // 1.51x WORSE in one pass order at sf0.1 (1.15x worse at 10x) and
        // better only in the other. Kept for the bounded per-pair work.
        .select(levenshtein(col("c_name"), col("p.bname"), 2).as("dist"),
          (col("n") * col("p.bn")).as("w"))
        .filter(col("dist") >= 0)
      val self = g.filter(col("n") >= 2)
        .select(lit(0).as("dist"), expr("n * (n - 1) div 2").as("w"))
      cross.union(self)
        .groupBy(col("dist"))
        .agg(sum(col("w")).as("n_pairs"))
        .orderBy(col("dist"))
    },
    Some(s"""
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, c_name, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey, c_mktsegment
                                  ORDER BY c_name) AS rk
        FROM customer GROUP BY c_nationkey, c_mktsegment, c_name),
      cross_pairs AS (
        SELECT levenshtein(x.c_name, y.c_name) AS dist, x.n * y.n AS w
        FROM g x JOIN g y
          ON x.c_nationkey = y.c_nationkey
         AND x.c_mktsegment = y.c_mktsegment
         AND y.rk > x.rk AND y.rk <= x.rk + $snWindow
        WHERE levenshtein(x.c_name, y.c_name) <= 2),
      self_pairs AS (
        SELECT 0 AS dist, n * (n - 1) // 2 AS w FROM g WHERE n >= 2)
      SELECT dist, CAST(SUM(w) AS BIGINT) AS n_pairs
      FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM self_pairs)
      GROUP BY dist ORDER BY dist"""))

  private val sqlPathText = """
      SELECT n_name, COUNT(*) AS n_suppliers,
             CAST(CAST(SUM(CAST(FLOOR(s_acctbal * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS DOUBLE) / CAST(1000000 AS DOUBLE) AS tot_bal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
      HAVING COUNT(*) > 0
      ORDER BY n_name"""

  /** The SQL-text entry path itself as a gated capability: view
    * registration + `spark.sql` over the same ANSI text the oracle runs
    * (reference's primary path is ctx.sql per SURVEY §3). */
  val sqlPath: GQuery = GQuery(
    "x_sql_path",
    "ANSI SQL text through the session over registered views",
    (spark, dir) => {
      Catalog.registerAll(spark, dir)
      spark.sql(sqlPathText)
    },
    Some(sqlPathText))

  /** ROW_NUMBER ranking window — top-3 orders per customer. */
  val windowRank: GQuery = GQuery(
    "x_window_rank",
    "row_number() over (partition by ... order by ...) + rank filter",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
            FROM orders) t
      WHERE rn <= 3
      ORDER BY o_custkey, rn"""))

  /** Running-total window; the accumulator is fixed-point so the prefix sums
    * are exact and engine-independent. */
  val windowRunning: GQuery = GQuery(
    "x_window_running_sum",
    "cumulative sum over an ordered window per partition",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.filter(col("o_custkey") < 200)
        .withColumn("running_spend",
          sum(fix6(col("o_totalprice"))).over(w).cast(DoubleType) / 1000000.0d)
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(CAST(SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS DOUBLE) / 1000000.0 AS running_spend
      FROM orders
      WHERE o_custkey < 200
      ORDER BY o_custkey, o_orderkey"""))

  /** RANGE-frame window: the frame is bounded by ORDER-BY VALUE distance
    * (trailing 90 days), not row offsets — peer rows on the same date
    * share one frame, which ROWS frames cannot express. The sort key is
    * the integer epoch day so the frame bound arithmetic is identical in
    * both engines, and the accumulator is fixed-point. Same per-key
    * window-partitioned scale shape as the running sum. */
  val windowRangeFrame: GQuery = GQuery(
    "x_window_range_frame",
    "trailing-90-day spend per order via a RANGE value-bounded window frame",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("d"))
        .rangeBetween(-89, 0)
      o.filter(col("o_custkey") < 200)
        .withColumn("d", datediff(col("o_orderdate"), lit("1970-01-01").cast(DateType)))
        .withColumn("spend_90d",
          sum(fix6(col("o_totalprice"))).over(w).cast(DoubleType) / 1000000.0d)
        .withColumn("n_90d", count(lit(1)).over(w).cast(IntegerType))
        .select(col("o_custkey"), col("o_orderkey"), col("spend_90d"), col("n_90d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(CAST(SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT))
                  OVER (PARTITION BY o_custkey ORDER BY d
                        RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS DOUBLE) / 1000000.0 AS spend_90d,
             CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY d
                        RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
                  AS INTEGER) AS n_90d
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS INTEGER) AS d
            FROM orders WHERE o_custkey < 200) t
      ORDER BY o_custkey, o_orderkey"""))

  /** ROLLUP grouping sets; subtotal rows keyed with COALESCE to sidestep
    * engine NULL-ordering differences. */
  val rollupAgg: GQuery = GQuery(
    "x_rollup",
    "rollup(flag, status) with subtotal and grand-total rows",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      l.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("qty"))
        .orderBy(col("flag"), col("status"))
    },
    Some(s"""
      SELECT COALESCE(l_returnflag, 'ALL') AS flag,
             COALESCE(l_linestatus, 'ALL') AS status,
             COUNT(*) AS n, ${dsumSql("l_quantity")} AS qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY flag, status"""))

  /** CUBE grouping sets (all four combinations). */
  val cubeAgg: GQuery = GQuery(
    "x_cube",
    "cube(flag, status): all grouping-set combinations",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      l.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"))
        .orderBy(col("flag"), col("status"))
    },
    Some("""
      SELECT COALESCE(l_returnflag, 'ALL') AS flag,
             COALESCE(l_linestatus, 'ALL') AS status,
             COUNT(*) AS n
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY flag, status"""))

  /** PIVOT: wide-format aggregate (one column per l_linestatus value) —
    * the `.groupBy().pivot(col, values)` API with EXPLICIT pivot values:
    * at 100 TB the implicit form first runs a distinct scan to discover
    * values AND caps them at spark.sql.pivotMaxValues; pinning the value
    * list keeps the plan a single two-phase aggregate. Oracle uses the
    * equivalent manual CASE pivot (portable SQL). */
  val pivotAgg: GQuery = GQuery(
    "x_pivot",
    "groupBy(flag).pivot(status) counts with explicit pivot values",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      l.groupBy(col("l_returnflag").as("flag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(col("flag"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"))
        .orderBy(col("flag"))
    },
    Some("""
      SELECT l_returnflag AS flag,
             COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
             COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_o
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY flag"""))

  /** Exact decimal arithmetic — the reference's money type is
    * Decimal128(15,2) (reference: benchmarks/src/tpch/mod.rs:62-72); the
    * testdata carries doubles, so this query casts into DECIMAL(15,2) at
    * the scan and aggregates in exact decimal the whole way (no double
    * re-emission), proving the decimal surface end-to-end. The ingest cast
    * goes through [[graft.util.Num.dec2]]: engines round double→decimal
    * ties differently (Spark HALF_UP, DuckDB round-half-even), so the
    * double is quantized in pure IEEE-754 first — after that, every
    * decimal op here is exact and order-free on both engines. The GATE
    * columns are the decimals rendered as fixed-scale strings
    * (CAST .. AS STRING/VARCHAR — both engines pad to scale, "123.40"):
    * the driver's comparator routes results through pandas, which
    * coerces any DECIMAL dtype to float64 on the oracle side ("123.4")
    * while Spark's parquet decimals stay exact — a decimal-typed gate
    * column hash-diverges on representation even when every value
    * matches (red rounds 1-5). The string render IS the exactness
    * proof: it captures all scale digits. */
  val decimalArith: GQuery = GQuery(
    "x_decimal_arith",
    "decimal(15,2) cast + exact decimal sum/avg arithmetic",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      l.select(col("l_returnflag"),
          graft.util.Num.dec2(col("l_extendedprice")).as("price"),
          graft.util.Num.dec2(col("l_discount")).as("disc"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("price")).cast(DecimalType(18, 2)).cast("string").as("sum_price"),
          sum(expr("price * (1 - disc)")).cast(DecimalType(18, 6)).cast("string")
            .as("sum_disc_price"),
          max(col("price")).cast(DecimalType(18, 2)).cast("string").as("max_price"),
          min(col("disc")).cast(DecimalType(18, 2)).cast("string").as("min_disc"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      SELECT l_returnflag,
             CAST(CAST(SUM(price) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price,
             CAST(CAST(SUM(price * (1 - disc)) AS DECIMAL(18,6)) AS VARCHAR) AS sum_disc_price,
             CAST(CAST(MAX(price) AS DECIMAL(18,2)) AS VARCHAR) AS max_price,
             CAST(CAST(MIN(disc) AS DECIMAL(18,2)) AS VARCHAR) AS min_disc
      FROM (SELECT l_returnflag,
                   ${graft.util.Num.dec2Sql("l_extendedprice")} AS price,
                   ${graft.util.Num.dec2Sql("l_discount")} AS disc
            FROM lineitem) t
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** UNION with distinct semantics. */
  val unionDistinct: GQuery = GQuery(
    "x_union_distinct",
    "UNION (distinct) of two key sets",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val s = Catalog.table(spark, dir, "supplier")
      c.select(col("c_nationkey").as("nk"))
        .union(s.select(col("s_nationkey")))
        .distinct()
        .orderBy(col("nk"))
    },
    Some("""
      SELECT c_nationkey AS nk FROM customer
      UNION
      SELECT s_nationkey FROM supplier
      ORDER BY nk"""))

  /** Bag-semantics set operations — UNION ALL / INTERSECT ALL /
    * EXCEPT ALL. These are DIFFERENT operators from the distinct forms:
    * multiplicities survive (INTERSECT ALL keeps min(count_a, count_b)
    * per value, EXCEPT ALL subtracts counts), and Spark plans them as
    * count-respecting joins rather than dedup aggregates. One row out:
    * the three multiset cardinalities plus a value checksum, so the
    * oracle pins the full bag semantics, not just row counts. */
  val setOpsAll: GQuery = GQuery(
    "x_set_ops_all",
    "UNION ALL / INTERSECT ALL / EXCEPT ALL multiset cardinalities",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val o = Catalog.table(spark, dir, "orders")
      val a = l.filter(col("l_quantity") < 10).select(col("l_orderkey").as("k"))
      val b = o.filter(col("o_totalprice") < 100000.0d).select(col("o_orderkey").as("k"))
      // Dataset.union IS bag-semantics (SQL UNION ALL); dedup is .distinct
      val u = a.union(b).agg(count(lit(1)).as("n_union_all"),
        sum(col("k")).as("sum_union_all"))
      val i = a.intersectAll(b).agg(count(lit(1)).as("n_intersect_all"))
      val x = a.exceptAll(b).agg(count(lit(1)).as("n_except_all"))
      u.crossJoin(i).crossJoin(x)
    },
    Some("""
      WITH a AS (SELECT l_orderkey AS k FROM lineitem WHERE l_quantity < 10),
           b AS (SELECT o_orderkey AS k FROM orders WHERE o_totalprice < 100000.0)
      SELECT
        (SELECT COUNT(*) FROM (SELECT k FROM a UNION ALL SELECT k FROM b) t)
          AS n_union_all,
        (SELECT CAST(SUM(k) AS BIGINT)
         FROM (SELECT k FROM a UNION ALL SELECT k FROM b) t) AS sum_union_all,
        (SELECT COUNT(*) FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t)
          AS n_intersect_all,
        (SELECT COUNT(*) FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t)
          AS n_except_all"""))

  /** INTERSECT. */
  val intersectKeys: GQuery = GQuery(
    "x_intersect",
    "INTERSECT of two key sets",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val p = Catalog.table(spark, dir, "part")
      l.select(col("l_partkey").as("pk"))
        .intersect(p.filter(col("p_size") > 25).select(col("p_partkey")))
        .orderBy(col("pk"))
    },
    Some("""
      SELECT l_partkey AS pk FROM lineitem
      INTERSECT
      SELECT p_partkey FROM part WHERE p_size > 25
      ORDER BY pk"""))

  /** EXCEPT: parts never sold in large quantities. */
  val exceptKeys: GQuery = GQuery(
    "x_except",
    "EXCEPT (set difference) of two key sets",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val p = Catalog.table(spark, dir, "part")
      p.select(col("p_partkey").as("pk"))
        .except(l.filter(col("l_quantity") > 45).select(col("l_partkey")))
        .orderBy(col("pk"))
    },
    Some("""
      SELECT p_partkey AS pk FROM part
      EXCEPT
      SELECT l_partkey FROM lineitem WHERE l_quantity > 45
      ORDER BY pk"""))

  /** FULL OUTER join of two aggregates with COALESCE'd outputs. */
  val fullOuter: GQuery = GQuery(
    "x_full_outer",
    "full outer join of per-nation customer vs supplier counts",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      val s = Catalog.table(spark, dir, "supplier")
      val cc = c.groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust"))
      val ss = s.filter(col("s_suppkey") % 3 === 0)
        .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
      cc.join(ss, col("ck") === col("sk"), "full_outer")
        .select(
          coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
    Some("""
      SELECT COALESCE(ck, sk) AS nationkey,
             COALESCE(n_cust, 0) AS n_cust,
             COALESCE(n_supp, 0) AS n_supp
      FROM (SELECT c_nationkey AS ck, COUNT(*) AS n_cust
            FROM customer GROUP BY c_nationkey) c
      FULL OUTER JOIN
           (SELECT s_nationkey AS sk, COUNT(*) AS n_supp
            FROM supplier WHERE s_suppkey % 3 = 0 GROUP BY s_nationkey) s
        ON ck = sk
      ORDER BY nationkey"""))

  /** CROSS JOIN enumeration (reference: comma-list joins q2.sql:10-23). */
  val crossJoinQ: GQuery = GQuery(
    "x_cross_join",
    "cross join of two dimensions",
    (spark, dir) => {
      val r = Catalog.table(spark, dir, "region")
      val n = Catalog.table(spark, dir, "nation")
      r.crossJoin(n)
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""
      SELECT r_name, n_name
      FROM region CROSS JOIN nation
      ORDER BY r_name, n_name"""))

  /** DISTINCT projection. */
  val distinctOrder: GQuery = GQuery(
    "x_distinct",
    "select distinct over two low-cardinality columns",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      l.select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus
      FROM lineitem
      ORDER BY l_returnflag, l_linestatus"""))

  /** String function surface: upper/lower/length/concat/trim/replace. */
  val stringFuncs: GQuery = GQuery(
    "x_string_funcs",
    "upper, lower, length, concat, replace, substring over a projection",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      c.filter(col("c_custkey") < 50)
        .select(
          col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_u"),
          lower(col("c_name")).as("name_l"),
          length(col("c_name")).as("name_len"),
          concat(col("c_mktsegment"), lit("/"), col("c_name")).as("tagged"),
          regexp_replace(col("c_name"), "0", "").as("squeezed"),
          substring(col("c_name"), 1, 8).as("prefix"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey,
             UPPER(c_mktsegment) AS seg_u,
             LOWER(c_name) AS name_l,
             CAST(LENGTH(c_name) AS INTEGER) AS name_len,
             c_mktsegment || '/' || c_name AS tagged,
             REPLACE(c_name, '0', '') AS squeezed,
             SUBSTRING(c_name, 1, 8) AS prefix
      FROM customer
      WHERE c_custkey < 50
      ORDER BY c_custkey"""))

  /** Date/time function surface: year/month/day, trunc, date arithmetic
    * (reference interval semantics: q4.sql:8, q15.sql:9, q20.sql:31). */
  val dateFuncs: GQuery = GQuery(
    "x_date_funcs",
    "year/month/day extraction, month truncation, interval arithmetic",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      o.filter(col("o_orderkey") < 100)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          (col("o_orderdate") + expr("INTERVAL 3 MONTH")).cast("date").as("plus3m"),
          (col("o_orderdate") - expr("INTERVAL 90 DAY")).cast("date").as("minus90d"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
             CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
             CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS d,
             CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS q,
             CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
             CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
             CAST(o_orderdate - INTERVAL 90 DAY AS DATE) AS minus90d
      FROM orders
      WHERE o_orderkey < 100
      ORDER BY o_orderkey"""))

  /** RFM customer segmentation — the classic recency/frequency/monetary
    * quartile pipeline. Per-customer aggregate (one shuffle on o_custkey),
    * then quartile BOUNDARIES from ONE exact-percentile aggregate
    * broadcast-joined back, then a segment roll-up. Monetary sums use the
    * fix6 order-free accumulation ([[Num.dsum]]) so doubles hash-match
    * across engines.
    *
    * Scale design: NO global window anywhere (the earlier NTILE form put
    * every customer into ONE task's sort — Spark's own "Moving all data
    * to a single partition" warning). Boundaries come from a single
    * 9-value aggregate (scan-parallel, two-phase) and bucketing is a
    * per-row broadcast comparison — the plan is pinned window-free in
    * PlanSpec. At 100 TB swap the exact percentile for approx_percentile
    * and nothing else changes.
    *
    * Cross-engine determinism: Spark `percentile` and DuckDB
    * `quantile_cont` both implement the R-7 interpolated quantile
    * (pos = q·(n−1)); boundaries and metrics are compared in fix6
    * integer space so a final-ulp difference in the interpolation
    * arithmetic cannot flip a bucket (metric values are ≥1e-6 apart by
    * construction; fix6 snaps both sides to the same grid). Quartile
    * semantics are value-based: tied metric values share a bucket
    * (unlike NTILE's positional split — the production-correct choice;
    * segment sizes may be uneven under heavy ties). */
  val rfmSegments: GQuery = GQuery(
    "a_rfm_segments",
    "RFM quartile segmentation of customers from their order history",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val mx = o.agg(max(to_date(col("o_orderdate"))).as("mx"))
      val rfm = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("freq"),
          dsum(col("o_totalprice")).as("monetary"))
        .crossJoin(broadcast(mx))
        .select(col("o_custkey"),
          datediff(col("mx"), col("last_order")).as("recency"),
          col("freq"), col("monetary"))
      // one aggregate for all nine boundaries; recency ascends, freq and
      // monetary descend (quartile 1 = best), matching classic RFM
      val bounds = rfm.agg(
        expr("percentile(recency, array(0.25D, 0.5D, 0.75D))").as("rb"),
        expr("percentile(freq, array(0.75D, 0.5D, 0.25D))").as("fb"),
        expr("percentile(monetary, array(0.75D, 0.5D, 0.25D))").as("mb"))
      val bump = (c: Column) => when(c, 1).otherwise(0)
      def asc3(v: Column, b: String) = (lit(1) +
        bump(fix6(v) > fix6(element_at(col(b), 1))) +
        bump(fix6(v) > fix6(element_at(col(b), 2))) +
        bump(fix6(v) > fix6(element_at(col(b), 3)))).cast("int")
      def desc3(v: Column, b: String) = (lit(1) +
        bump(fix6(v) < fix6(element_at(col(b), 1))) +
        bump(fix6(v) < fix6(element_at(col(b), 2))) +
        bump(fix6(v) < fix6(element_at(col(b), 3)))).cast("int")
      rfm.crossJoin(broadcast(bounds))
        .select(col("o_custkey"), col("monetary"),
          asc3(col("recency"), "rb").as("rq"),
          desc3(col("freq"), "fb").as("fq"),
          desc3(col("monetary"), "mb").as("mq"))
        .groupBy(col("rq"), col("fq"), col("mq"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("monetary")).as("seg_value"))
        .orderBy(col("rq"), col("fq"), col("mq"))
    },
    Some(s"""
      WITH m AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
      rfm AS (SELECT o_custkey,
                     date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                               (SELECT mx FROM m)) AS recency,
                     COUNT(*) AS freq,
                     ${dsumSql("o_totalprice")} AS monetary
              FROM orders GROUP BY o_custkey),
      bounds AS (SELECT quantile_cont(recency, [0.25, 0.5, 0.75]) AS rb,
                        quantile_cont(freq, [0.75, 0.5, 0.25]) AS fb,
                        quantile_cont(monetary, [0.75, 0.5, 0.25]) AS mb
                 FROM rfm),
      q AS (SELECT o_custkey, monetary,
                   CAST(1 + (CASE WHEN ${fix6Sql("recency")} > ${fix6Sql("rb[1]")} THEN 1 ELSE 0 END)
                          + (CASE WHEN ${fix6Sql("recency")} > ${fix6Sql("rb[2]")} THEN 1 ELSE 0 END)
                          + (CASE WHEN ${fix6Sql("recency")} > ${fix6Sql("rb[3]")} THEN 1 ELSE 0 END)
                        AS INTEGER) AS rq,
                   CAST(1 + (CASE WHEN ${fix6Sql("freq")} < ${fix6Sql("fb[1]")} THEN 1 ELSE 0 END)
                          + (CASE WHEN ${fix6Sql("freq")} < ${fix6Sql("fb[2]")} THEN 1 ELSE 0 END)
                          + (CASE WHEN ${fix6Sql("freq")} < ${fix6Sql("fb[3]")} THEN 1 ELSE 0 END)
                        AS INTEGER) AS fq,
                   CAST(1 + (CASE WHEN ${fix6Sql("monetary")} < ${fix6Sql("mb[1]")} THEN 1 ELSE 0 END)
                          + (CASE WHEN ${fix6Sql("monetary")} < ${fix6Sql("mb[2]")} THEN 1 ELSE 0 END)
                          + (CASE WHEN ${fix6Sql("monetary")} < ${fix6Sql("mb[3]")} THEN 1 ELSE 0 END)
                        AS INTEGER) AS mq
            FROM rfm CROSS JOIN bounds)
      SELECT rq, fq, mq, COUNT(*) AS n_cust, ${dsumSql("monetary")} AS seg_value
      FROM q GROUP BY rq, fq, mq
      ORDER BY rq, fq, mq"""))

  /** PII handling for a training-data pipeline: deterministic
    * pseudonymization (md5 surrogate key), masking (digit redaction), and
    * generalization (balance → coarse bucket, k-anonymity style). All
    * per-row codegen'd expressions — a 100 TB scrub is one scan, no
    * shuffle, and the surrogate key is stable across runs/engines so
    * downstream joins survive re-scrubs. */
  val piiMask: GQuery = GQuery(
    "p_pii_mask",
    "pseudonymize + mask + generalize customer PII",
    (spark, dir) => {
      val c = Catalog.table(spark, dir, "customer")
      c.filter(col("c_custkey") < 25)
        .select(
          col("c_custkey"),
          md5(col("c_name").cast("binary")).as("pseud"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked_name"),
          floor(col("c_acctbal") / 1000.0d).cast(IntegerType).as("bal_bucket"),
          col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey,
             md5(c_name) AS pseud,
             regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
             CAST(FLOOR(c_acctbal / 1000.0) AS INTEGER) AS bal_bucket,
             c_mktsegment
      FROM customer
      WHERE c_custkey < 25
      ORDER BY c_custkey"""))

  /** Two-level re-aggregation — the pre-aggregation pattern every 100 TB
    * warehouse lives on: daily partial aggregates (count + fix6-scaled
    * revenue) roll up to monthly totals with NO rescan of the fact table.
    * Works only because the partial states are associative: counts and
    * scaled-int64 sums merge exactly, so daily→monthly equals a direct
    * monthly aggregation (the oracle computes the same two levels — and
    * fix6 makes the double revenue identical regardless of merge order or
    * engine). AVG-style partials would need (sum, count) pairs, never
    * pre-divided averages. */
  /** Market-basket co-occurrence with lift — the classic retail
    * affinity analysis (and, for corpus curation, the same shape as
    * "which tag/source pairs co-occur more than independence predicts").
    *
    * Scale shape: pair generation is a self-join on the ORDER key, so
    * per-order work is C(basket,2) with basket size bounded by the data
    * model (≤7 lineitems/order in TPC-H) — Σk² like the triangle
    * counter, never |items|². The per-part order counts are a
    * |part|-sized dimension joined back (broadcast-eligible), and the
    * total-order count is a 1-row aggregate cross-joined (the pinned
    * scalar pattern). Lift = P(p1,p2)/(P(p1)·P(p2)) computed as one IEEE
    * division of exact BIGINT products, round(·,6) — tie-free for
    * integer ratios (same argument as g_jaccard_links). */
  val basketPairs: GQuery = GQuery(
    "a_basket_pairs",
    "market-basket part-pair co-occurrence with lift vs independence",
    (spark, dir) => {
      // NOT checkpointed (r14 measured negative, 2.73x/1.14x worse in
      // both ABBA orders): the distinct's hash exchange is reused by the
      // pair self-join's BOTH sides as-is, while a localCheckpoint
      // erases the partitioning (ExistingRDD, UnknownPartitioning) and
      // forces fresh exchanges on ok — dearer than the two extra
      // scan+distinct runs behind perPart/nOrders.
      val items = Catalog.table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = items.select(col("ok"), col("pk").as("p1"))
        .join(items.select(col("ok"), col("pk").as("p2")), "ok")
        .filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_both"))
      val perPart = items.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
      val nOrders = items.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      pairs
        .join(broadcast(perPart.withColumnRenamed("pk", "p1")
          .withColumnRenamed("n_part", "n_p1")), "p1")
        .join(broadcast(perPart.withColumnRenamed("pk", "p2")
          .withColumnRenamed("n_part", "n_p2")), "p2")
        .crossJoin(broadcast(nOrders))
        .select(col("p1"), col("p2"), col("n_both"), col("n_p1"), col("n_p2"),
          round((col("n_both") * col("n_orders")).cast(DoubleType) /
            (col("n_p1") * col("n_p2")).cast(DoubleType), 6).as("lift"))
        .orderBy(col("n_both").desc, col("p1"), col("p2"))
        .limit(20)
    },
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
      pairs AS (
        SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_both
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2),
      per_part AS (SELECT pk, COUNT(*) AS n_part FROM items GROUP BY pk),
      tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items)
      SELECT p1, p2, n_both, c1.n_part AS n_p1, c2.n_part AS n_p2,
             ROUND(CAST(n_both * n_orders AS DOUBLE) /
                   CAST(c1.n_part * c2.n_part AS DOUBLE), 6) AS lift
      FROM pairs JOIN per_part c1 ON c1.pk = p1
                 JOIN per_part c2 ON c2.pk = p2, tot
      ORDER BY n_both DESC, p1, p2
      LIMIT 20"""))

  /** Cross-engine proof of the [[graft.plans.ZOrder]] interleave
    * expression: the z-value is pure shift/and/add integer arithmetic,
    * so the 64-cell histogram of the corpus's z-space occupancy must
    * hash-match DuckDB computing the identical formula. The LAYOUT
    * benefit (files written in z order prune on BOTH filter columns via
    * ordinary footer min-max stats) is measured in ZOrderSpec with real
    * parquet reads — a result-hash gate can't see row-group skips. */
  val zorderQ: GQuery = GQuery(
    "x_zorder",
    "Morton z-value interleave of (partkey, suppkey) buckets: cell histogram",
    (spark, dir) => {
      import graft.plans.ZOrder
      Catalog.table(spark, dir, "lineitem")
        .select(ZOrder.zExpr("l_partkey % 64", "l_suppkey % 64", 6).as("z"))
        .groupBy((col("z") / 64).cast("bigint").as("cell"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("z_min"),
          max(col("z")).as("z_max"))
        .orderBy(col("cell"))
    },
    Some(s"""
      SELECT CAST(z // 64 AS BIGINT) AS cell, COUNT(*) AS n,
             MIN(z) AS z_min, MAX(z) AS z_max
      FROM (SELECT ${graft.plans.ZOrder.zExprSql("l_partkey % 64", "l_suppkey % 64", 6)} AS z
            FROM lineitem)
      GROUP BY cell
      ORDER BY cell"""))

  val dailyRollup: GQuery = GQuery(
    "a_daily_rollup",
    "daily partial aggregates re-aggregated to monthly (partial-merge pattern)",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val daily = o
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"), sum(fix6(col("o_totalprice"))).as("tot_fix6"))
      daily
        .groupBy(trunc(col("day"), "month").as("mon"))
        .agg(
          sum(col("n")).as("n_orders"),
          count(lit(1)).as("n_days"),
          (sum(col("tot_fix6")).cast(DoubleType) / 1000000.0d).as("revenue"))
        .orderBy(col("mon"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS tot_fix6
        FROM orders GROUP BY 1)
      SELECT CAST(date_trunc('month', day) AS DATE) AS mon,
             CAST(SUM(n) AS BIGINT) AS n_orders,
             COUNT(*) AS n_days,
             CAST(CAST(SUM(tot_fix6) AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue
      FROM daily GROUP BY 1 ORDER BY 1"""))

  /** Incremental aggregate maintenance — the pipeline shape that makes a
    * 100-TB daily rollup affordable: the historical per-day partial
    * aggregate is MATERIALIZED once (parquet state table; here days
    * before 1997-01-01), each new period computes only ITS delta from raw
    * facts, and the serving aggregate is a merge of state + delta
    * partials — per-period cost ∝ new data, never ∝ history. Works
    * because count/sum partials are commutative monoids (the same algebra
    * Spark's partial/final HashAggregate exploits within one query,
    * lifted across materialization boundaries — and the batch twin of
    * the streaming `hourlyStats` accumulation in streaming/StreamOps).
    *
    * The oracle computes the same monthly result from raw orders in one
    * shot WITH the state/delta day split recomputed independently — so
    * the hash gate proves the incremental path equals the full recompute
    * AND that the bookkeeping attributes each day to the right side. */
  val incrRollup: GQuery = GQuery(
    "a_incr_rollup",
    "incremental rollup: materialized per-day state + fresh delta == full recompute",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val cutoff = "1997-01-01"
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"), sum(fix6(col("o_totalprice"))).as("tot_fix6"))
      // state: historical partials, written once and read back (the
      // production checkpoint; tracked dir, same discipline as the
      // materialized minhash signature table)
      val stateDir = TextOps.trackedTempDir("graft-incr-") + "/state"
      partials(o.filter(to_date(col("o_orderdate")) < to_date(lit(cutoff))))
        .write.mode("overwrite").parquet(stateDir)
      val state = spark.read.parquet(stateDir)
        .withColumn("is_state", lit(1L))
      // delta: only the new period touches raw facts
      val delta = partials(o.filter(to_date(col("o_orderdate")) >= to_date(lit(cutoff))))
        .withColumn("is_state", lit(0L))
      state.unionByName(delta)
        .groupBy(trunc(col("day"), "month").as("mon"))
        .agg(sum(col("n")).as("n_orders"),
          (sum(col("tot_fix6")).cast(DoubleType) / 1000000.0d).as("revenue"),
          sum(col("is_state")).as("n_state_days"),
          sum(lit(1L) - col("is_state")).as("n_delta_days"))
        .orderBy(col("mon"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS tot_fix6,
               CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-01-01'
                    THEN 1 ELSE 0 END AS is_state
        FROM orders GROUP BY 1, 4)
      SELECT CAST(date_trunc('month', day) AS DATE) AS mon,
             CAST(SUM(n) AS BIGINT) AS n_orders,
             CAST(CAST(SUM(tot_fix6) AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue,
             CAST(SUM(is_state) AS BIGINT) AS n_state_days,
             CAST(SUM(1 - is_state) AS BIGINT) AS n_delta_days
      FROM daily GROUP BY 1 ORDER BY 1"""))

  /** Hive-style partition layout + static partition pruning — the
    * physical-layout capability that makes a 100-TB fact table queryable
    * at all: orders are written `partitionBy(o_year)` (directory-encoded
    * partition column, the layout every warehouse uses for time-series
    * facts), then read back with a partition-column filter. Spark's
    * `PartitioningAwareFileIndex` resolves the filter against directory
    * NAMES — the 6 non-matching years are never listed, opened, or
    * footer-read (PartitionPruningSpec pins `PartitionFilters` and a
    * selected-partition count of exactly 1 on this layout; this query is
    * the oracle-gated end-to-end twin). At 100 TB that is
    * the difference between scanning one year and scanning seven.
    * Reference analog: partition_count/file-group pruning surface of its
    * parquet registration (benchmarks/src/tpch/run.rs:328-333) — Spark's
    * directory partitioning is the idiomatic equivalent. */
  val partPrune: GQuery = GQuery(
    "x_part_prune",
    "hive-partitioned write, partition-pruned read: 1996 monthly revenue",
    (spark, dir) => {
      val root = TextOps.cachedLayout("part", dir) { r =>
        Catalog.writePartitioned(
          Catalog.table(spark, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
              year(col("o_orderdate")).as("o_year")),
          r + "/orders_by_year", "o_year")
      } + "/orders_by_year"
      spark.read.parquet(root)
        .filter(col("o_year") === 1996)
        .groupBy(month(col("o_orderdate")).as("mon"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("mon"))
    },
    Some(s"""
      SELECT month(o_orderdate) AS mon, COUNT(*) AS n_orders,
             CAST(CAST(SUM(${fix6Sql("o_totalprice")}) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS revenue
      FROM orders WHERE year(o_orderdate) = 1996
      GROUP BY 1 ORDER BY 1"""))

  /** Dynamic partition pruning — the runtime counterpart of
    * [[partPrune]]: the fact side's partition filter is not known until
    * the dimension side is FILTERED AND EXECUTED (here the dim rows
    * selected by a stored tag that is opaque to static analysis because
    * the dim is round-tripped through parquet, exactly like a real
    * warehouse dimension). Spark plants a `dynamicpruning` subquery on
    * the fact scan that reuses the join's broadcast result, so only the
    * dim-selected years' directories are read — the star-schema
    * date-dimension prune that decides whether a 100-TB join scans 3% or
    * 100% of the fact. PartitionPruningSpec pins `dynamicpruning` in the
    * executed plan for this layout; this query is the oracle-gated twin. */
  val dppJoin: GQuery = GQuery(
    "x_dpp",
    "dynamic partition pruning: fact years selected by a filtered stored dim",
    (spark, dir) => {
      val root = TextOps.cachedLayout("dpp", dir) { r =>
        val o = Catalog.table(spark, dir, "orders")
        Catalog.writePartitioned(
          o.select(col("o_orderkey"), col("o_totalprice"),
            year(col("o_orderdate")).as("o_year")),
          r + "/fact", "o_year")
        o.select(year(col("o_orderdate")).as("y")).distinct()
          .select(col("y"), substring(md5(col("y").cast("string")), 1, 1).as("tag"))
          .write.mode("overwrite").parquet(r + "/dim")
      }
      val fact = spark.read.parquet(root + "/fact")
      val dim = spark.read.parquet(root + "/dim").filter(col("tag") < "8")
      fact.join(broadcast(dim), col("o_year") === col("y"))
        .groupBy(col("o_year"), col("tag"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_year"))
    },
    Some(s"""
      WITH dim AS (
        SELECT y, tag FROM (
          SELECT DISTINCT year(o_orderdate) AS y,
                 substr(md5(CAST(year(o_orderdate) AS VARCHAR)), 1, 1) AS tag
          FROM orders)
        WHERE tag < '8')
      SELECT y AS o_year, tag, COUNT(*) AS n_orders,
             CAST(CAST(SUM(${fix6Sql("o_totalprice")}) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS revenue
      FROM orders JOIN dim ON year(o_orderdate) = y
      GROUP BY 1, 2 ORDER BY 1"""))

  /** Bucketed co-located join — the physical layout that amortizes a
    * repeated 100-TB fact-dim join: both sides are written
    * `bucketBy(8, key) sortBy(key)` managed tables, so the join's
    * distribution requirement is satisfied BY THE FILES and the
    * sort-merge join runs with zero Exchange and zero Sort on either
    * child — the shuffle is paid once at write time, then every
    * subsequent join of these tables is scan-speed (the analog of the
    * reference's sorted-file declaration, benchmarks/src/tpch/run.rs:334-339,
    * lifted from one file to a co-partitioned layout).
    * AggregatorsSpec pins ≤ 1 exchange (the post-join aggregate's) on
    * this exact shape; the oracle is the PLAIN join — the layout must be
    * invisible to results. The merge hint keeps the exercise honest at
    * gate scale, where the dim would otherwise broadcast and bypass the
    * bucketed path being demonstrated. */
  val bucketJoin: GQuery = GQuery(
    "x_bucket_join",
    "bucketed+sorted co-located join == plain join: revenue by segment",
    (spark, dir) => {
      val pid = ProcessHandle.current().pid
      val (oT, cT) = (s"graft_bkt_orders_$pid", s"graft_bkt_cust_$pid")
      Catalog.writeBucketed(
        Catalog.table(spark, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice")),
        oT, 8, "o_custkey", Seq("o_custkey"))
      Catalog.writeBucketed(
        Catalog.table(spark, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
        cT, 8, "c_custkey", Seq("c_custkey"))
      spark.table(oT).hint("merge")
        .join(spark.table(cT), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },
    // deliberately layout-free: the plain join IS the spec the bucketed
    // layout must reproduce bit-for-bit
    Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             ${dsumSql("o_totalprice")} AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  /** Seasonal decomposition (STL-lite): daily revenue splits into a
    * 7-day centered moving-average trend and day-of-week seasonal
    * indices — the classic retail weekly cycle extraction. Exactness
    * discipline: the trend window SUMS exact fix6 BIGINTs (a windowed
    * double average would be evaluation-order-dependent — Spark folds
    * the frame, DuckDB may segment-tree it), residuals are kept scaled
    * by 7 (`7·rev − Σ7`) so they stay exact integers until ONE final
    * division per dow group, and only full 7-day frames contribute (edge
    * frames have n<7 and a different scale factor). Scale shape:
    * aggregate-first — the raw fact table collapses to one row per DAY
    * before any window, so the global time-ordered window runs over a
    * time-span-sized table (~2.5k rows for 7 years), not the corpus; at
    * 100 TB that daily rollup is the only full scan. */
  val seasonality: GQuery = GQuery(
    "a_seasonality",
    "STL-lite: 7-day centered trend + exact day-of-week seasonal indices",
    (spark, dir) => {
      val daily = Catalog.table(spark, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(fix6(col("o_totalprice"))).as("rev6"))
      val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
      daily
        .withColumn("s7", sum(col("rev6")).over(w))
        .withColumn("n7", count(lit(1)).over(w))
        .filter(col("n7") === 7)
        .withColumn("r7", col("rev6") * 7 - col("s7"))
        .withColumn("dow", weekday(col("day")))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"),
          round(sum(col("rev6")).cast("double") /
            (lit(1000000.0d) * count(lit(1))), 4).as("avg_rev"),
          round(sum(col("r7")).cast("double") /
            (lit(7000000.0d) * count(lit(1))), 4).as("seasonal"))
        .orderBy(col("dow"))
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(${fix6Sql("o_totalprice")}) AS BIGINT) AS rev6
        FROM orders GROUP BY 1),
      framed AS (
        SELECT day, rev6,
               SUM(rev6) OVER (ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
               COUNT(*) OVER (ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
        FROM daily)
      SELECT (isodow(day) - 1) AS dow, COUNT(*) AS n_days,
             ROUND(CAST(SUM(rev6) AS DOUBLE) / (1000000.0 * COUNT(*)), 4)
               AS avg_rev,
             ROUND(CAST(SUM(rev6 * 7 - s7) AS DOUBLE) /
                   (7000000.0 * COUNT(*)), 4) AS seasonal
      FROM framed WHERE n7 = 7
      GROUP BY 1 ORDER BY 1"""))

  /** Multi-version time travel (lakehouse AS-OF reads, no table-format
    * dependency): the table is a DELTA LOG in plain parquet — version 1
    * is the base snapshot, version 2 a price-correction upsert batch,
    * version 3 a tombstone (delete) batch — written `partitionBy(version)`
    * so an AS-OF-v read `filter(version <= v)` PARTITION-PRUNES away
    * every later commit. Snapshot reconstruction is latest-record-wins
    * per key via `max(struct(version, ...))` — an ARGMAX as a two-phase
    * aggregate with one-row-per-key state, no window, no global sort —
    * then tombstones drop. The three snapshots give three different
    * answers from one immutable layout: the audit/reproducibility
    * property (train on yesterday's snapshot while today's commits land)
    * that Delta/Iceberg provide, expressed in the engine's own
    * primitives. Sibling of [[graft.queries.EventOps]]'s e_upsert_compact
    * (which materializes ONE latest snapshot; this keeps them all). */
  val timeTravel: GQuery = GQuery(
    "x_time_travel",
    "delta-log time travel: AS-OF snapshots v1/v2/v3 from one versioned layout",
    (spark, dir) => {
      val root = TextOps.cachedLayout("snap", dir) { r =>
        val base = Catalog.table(spark, dir, "orders")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        val v1 = base.select(col("k"), col("p"),
          lit(false).as("deleted"), lit(1).as("version"))
        val v2 = base.filter(col("k") % 7 === 0).select(col("k"),
          (col("p") * 1.1d).as("p"), lit(false).as("deleted"), lit(2).as("version"))
        val v3 = base.filter(col("k") % 11 === 0).select(col("k"),
          lit(0.0d).as("p"), lit(true).as("deleted"), lit(3).as("version"))
        Catalog.writePartitioned(v1.unionByName(v2).unionByName(v3),
          r + "/orders_v", "version")
      } + "/orders_v"
      val log = spark.read.parquet(root)
      (1 to 3).map { v =>
        log.filter(col("version") <= v)
          .groupBy(col("k"))
          .agg(max(struct(col("version"), col("p"), col("deleted"))).as("r"))
          .filter(!col("r.deleted"))
          .agg(count(lit(1)).as("n_live"), dsum(col("r.p")).as("revenue"))
          .select(lit(v).as("as_of"), col("n_live"), col("revenue"))
      }.reduce(_.unionByName(_)).orderBy(col("as_of"))
    },
    Some(s"""
      WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
      vers AS (
        SELECT k, p, FALSE AS del, 1 AS v FROM base
        UNION ALL
        SELECT k, p * 1.1, FALSE, 2 FROM base WHERE k % 7 = 0
        UNION ALL
        SELECT k, 0.0, TRUE, 3 FROM base WHERE k % 11 = 0),
      snap AS (
        SELECT s.as_of, k, p, del,
               ROW_NUMBER() OVER (PARTITION BY s.as_of, k ORDER BY v DESC) AS rn
        FROM vers JOIN (VALUES (1), (2), (3)) s(as_of) ON v <= s.as_of)
      SELECT as_of, COUNT(*) AS n_live,
             ${dsumSql("p")} AS revenue
      FROM snap WHERE rn = 1 AND NOT del
      GROUP BY as_of ORDER BY as_of"""))

  /** Validation quarantine (dead-letter accounting) — the ingest gate
    * that keeps a 100-TB pipeline's bad rows out of downstream tables
    * WITHOUT failing the job: every row is checked against a rule set
    * (outlier value, staleness SLA, referential integrity against the
    * customer dimension) and the report counts each rule's hits, the
    * distinct quarantined total (a row can fail several rules), and the
    * clean remainder. One scan + one dim join; every rule is a codegen'd
    * predicate; the rule flags aggregate in the same pass (no per-rule
    * re-scan). The referential check joins the dimension keys — at gate
    * scale that broadcast-folds, at 100 TB the same plan shuffles on the
    * key; either way the mechanics and the report are identical. */
  val dlqValidate: GQuery = GQuery(
    "p_dlq",
    "validation quarantine: per-rule hit counts + quarantined/clean totals",
    (spark, dir) => {
      val o = Catalog.table(spark, dir, "orders")
      val ck = Catalog.table(spark, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), lit(1L).as("cust_ok"))
      val flagged = o.join(ck, Seq("o_custkey"), "left")
        .select(
          (col("o_totalprice") > 400000.0d).as("f_high"),
          (col("o_orderstatus") === "O" &&
            col("o_orderdate") < to_timestamp(lit("1996-01-01"))).as("f_stale"),
          col("cust_ok").isNull.as("f_orphan"))
      flagged.agg(
          sum(when(col("f_high"), 1L).otherwise(0L)).as("n_high"),
          sum(when(col("f_stale"), 1L).otherwise(0L)).as("n_stale"),
          sum(when(col("f_orphan"), 1L).otherwise(0L)).as("n_orphan"),
          sum(when(col("f_high") || col("f_stale") || col("f_orphan"), 1L)
            .otherwise(0L)).as("n_quar"),
          sum(when(!(col("f_high") || col("f_stale") || col("f_orphan")), 1L)
            .otherwise(0L)).as("n_clean"))
        .select(expr(
          "stack(5, 'high_value', n_high, 'stale_open', n_stale," +
            " 'orphan_customer', n_orphan, 'quarantined_total', n_quar," +
            " 'clean', n_clean) AS (rule, n)"))
        .orderBy(col("rule"))
    },
    Some("""
      WITH flagged AS (
        SELECT (o_totalprice > 400000.0) AS f_high,
               (o_orderstatus = 'O' AND
                o_orderdate < TIMESTAMP '1996-01-01') AS f_stale,
               (c.c_custkey IS NULL) AS f_orphan
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
      agged AS (
        SELECT CAST(SUM(CASE WHEN f_high THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
               CAST(SUM(CASE WHEN f_stale THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
               CAST(SUM(CASE WHEN f_orphan THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
               CAST(SUM(CASE WHEN f_high OR f_stale OR f_orphan
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_quar,
               CAST(SUM(CASE WHEN NOT (f_high OR f_stale OR f_orphan)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        FROM flagged)
      SELECT 'high_value' AS rule, n_high AS n FROM agged
      UNION ALL SELECT 'stale_open', n_stale FROM agged
      UNION ALL SELECT 'orphan_customer', n_orphan FROM agged
      UNION ALL SELECT 'quarantined_total', n_quar FROM agged
      UNION ALL SELECT 'clean', n_clean FROM agged
      ORDER BY rule"""))

  /** k-anonymity suppression (Sweeney 2002) — the privacy gate a
    * training-data release runs after [[piiMask]]'s direct-identifier
    * scrub: rows whose quasi-identifier combination (nation × segment ×
    * coarse balance bucket) identifies fewer than K=10 people are folded
    * into one suppressed '*' class, so every published equivalence class
    * has ≥ K members. Shape at 100 TB: class sizes are ONE tiny two-phase
    * aggregate (bounded by QI-combination cardinality, not rows),
    * broadcast back for a scan-parallel suppress-and-reaggregate — the
    * raw table is never shuffled. Balance means go through the fix6 grid
    * so the published per-class statistic hash-matches DuckDB. */
  val kAnonymize: GQuery = GQuery(
    "p_k_anon",
    "k-anonymity (K=10): suppress quasi-identifier classes smaller than K",
    (spark, dir) => {
      val K = 10L
      val c = Catalog.table(spark, dir, "customer")
        .select(col("c_nationkey").cast("string").as("nat"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 5500.0d).cast("string").as("bal_b"),
          col("c_acctbal"))
      val sizes = c.groupBy(col("nat"), col("seg"), col("bal_b"))
        .agg(count(lit(1)).as("cls_n"))
      c.join(broadcast(sizes), Seq("nat", "seg", "bal_b"))
        .select(
          when(col("cls_n") >= K, col("nat")).otherwise(lit("*")).as("nat"),
          when(col("cls_n") >= K, col("seg")).otherwise(lit("*")).as("seg"),
          when(col("cls_n") >= K, col("bal_b")).otherwise(lit("*")).as("bal_b"),
          col("c_acctbal"))
        .groupBy(col("nat"), col("seg"), col("bal_b"))
        .agg(count(lit(1)).as("n"), davg(col("c_acctbal")).as("avg_bal"))
        .select(col("nat"), col("seg"), col("bal_b"), col("n"),
          round(col("avg_bal"), 4).as("avg_bal"))
        .orderBy(col("nat"), col("seg"), col("bal_b"))
    },
    Some(s"""
      WITH q AS (
        SELECT CAST(c_nationkey AS VARCHAR) AS nat, c_mktsegment AS seg,
               CAST(CAST(FLOOR(c_acctbal / 5500.0) AS BIGINT) AS VARCHAR) AS bal_b,
               c_acctbal
        FROM customer),
      sizes AS (SELECT nat, seg, bal_b, COUNT(*) AS cls_n
                FROM q GROUP BY 1, 2, 3)
      SELECT CASE WHEN cls_n >= 10 THEN q.nat ELSE '*' END AS nat,
             CASE WHEN cls_n >= 10 THEN q.seg ELSE '*' END AS seg,
             CASE WHEN cls_n >= 10 THEN q.bal_b ELSE '*' END AS bal_b,
             COUNT(*) AS n,
             ROUND(CAST(CAST(SUM(${fix6Sql("c_acctbal")}) AS BIGINT) AS DOUBLE)
                   / 1000000.0 / COUNT(*), 4) AS avg_bal
      FROM q JOIN sizes USING (nat, seg, bal_b)
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Declared file sort order end-to-end (reference:
    * benchmarks/src/tpch/run.rs:334-339 — tables registered with a
    * `file_sort_order` the scan may exploit): the layout is written
    * range-partitioned + in-file-sorted on `o_orderdate` via
    * [[graft.Catalog.writeRangeSorted]], then a date-band aggregate
    * reads it back. SortedLayoutSpec introspects the written order
    * (pairwise-disjoint per-file key spans, monotone rows inside each
    * file, the range predicate in PushedFilters — so row-group min/max
    * pruning has tight spans to cut on); this query gates the read
    * path's VALUES against the plain un-laid-out oracle: the layout
    * must be result-invisible, only cheaper to scan. Layout cached per
    * (query, sfDir) like x_part_prune. */
  val rangeSorted: GQuery = GQuery(
    "x_range_sorted",
    "range-partitioned sorted layout; date-band read == plain table scan",
    (spark, dir) => {
      val root = TextOps.cachedLayout("rsort", dir) { r =>
        Catalog.writeRangeSorted(
          Catalog.table(spark, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
          r + "/orders_rs", 8, col("o_orderdate"))
      } + "/orders_rs"
      spark.read.parquet(root)
        .filter(col("o_orderdate")
          .between(lit("1997-01-01"), lit("1997-03-31")))
        .groupBy(month(col("o_orderdate")).as("mon"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("mon"))
    },
    Some(s"""
      SELECT month(o_orderdate) AS mon, COUNT(*) AS n_orders,
             ${dsumSql("o_totalprice")} AS total
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
      GROUP BY 1 ORDER BY 1"""))

  /** Runtime-skew twin of [[saltedJoin]]: the same Zipfian pathology
    * (~80% of fact rows remapped to ONE hot supplier key), but the plan
    * stays a plain sort-merge join and AQE's OptimizeSkewedJoin splits
    * the oversized partition at runtime from observed map-output sizes.
    * Plan-level salting vs runtime splitting is THE trade on skewed
    * 100 TB joins: salting also covers grouped aggregation and shuffled
    * hash joins but pays a dim-replication join always; AQE costs
    * nothing when data turns out balanced and needs no key knowledge
    * up front. SkewJoinSpec pins that the split actually fires
    * (`skew=true` in the executed plan) under thresholds scaled to test
    * data; the oracle pins that runtime splitting is result-invisible. */
  val skewAqe: GQuery = GQuery(
    "x_skew_aqe",
    "Zipfian-key sort-merge join left to AQE runtime skew splitting",
    (spark, dir) => {
      val l = Catalog.table(spark, dir, "lineitem")
      val s = Catalog.table(spark, dir, "supplier")
      // the md5-prefix fingerprint column models the WIDE fact row of a
      // real pipeline (and is near-incompressible, so the hot partition's
      // shuffle BYTES are actually skewed — the narrow all-numeric row
      // lz4-compresses ~16x at test scale and hides the skew from AQE's
      // size stats); 12 hex chars keep the byte-skew visible at a third
      // of the shuffle/sort cost of the full 32-char digest (this is a
      // pedagogy query — the payload is priced, round-7 verdict item 6).
      // The spread repartition models the many-map-task stage a 100 TB
      // scan has naturally (skew splitting works by map-index ranges, so
      // a single-map-task toy stage is unsplittable)
      // even-orderkey half of lineitem: the un-split hot partition is a
      // DELIBERATE straggler (at default thresholds one task sorts ~80%
      // of the rows) — half the volume demonstrates the same pathology
      // at half the price
      val fact = l.filter(col("l_orderkey") % 2 === 0).select(
        when(TextOps.h60(concat_ws(":", lit("zipf"), col("l_orderkey"),
          col("l_linenumber"))) % 5 < 4, lit(1L))
          .otherwise(col("l_suppkey").cast("long")).as("k"),
        col("l_extendedprice"), col("l_discount"),
        substring(md5(concat_ws(":", col("l_orderkey"), col("l_linenumber"))),
          1, 12).as("fp"))
        .repartition(32)
      val dim = s.select(col("s_suppkey").cast("long").as("k"),
        col("s_nationkey"))
      fact.hint("merge").join(dim, "k")
        .groupBy(col("s_nationkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"),
          max(col("fp")).as("max_fp"))
        .orderBy(col("s_nationkey"))
    },
    Some(s"""
      WITH f AS (
        SELECT CASE WHEN ${TextOps.h60Sql(
            "'zipf:' || CAST(l_orderkey AS VARCHAR) || ':' || " +
              "CAST(l_linenumber AS VARCHAR)")} % 5 < 4
                    THEN 1 ELSE l_suppkey END AS k,
               l_extendedprice, l_discount,
               substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                   CAST(l_linenumber AS VARCHAR)), 1, 12) AS fp
        FROM lineitem WHERE l_orderkey % 2 = 0)
      SELECT s_nationkey,
             ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
             COUNT(*) AS n_items,
             MAX(fp) AS max_fp
      FROM f JOIN supplier ON k = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey"""),
    needsAqe = true)

  /** The WRITE-side skew lever, completing the skew triad (plan-level
    * salting x_salted_join, runtime join splitting x_skew_aqe): a
    * hive-partitioned write whose partition column is Zipfian (~80% of
    * orders in one hot segment) uses the REBALANCE hint so AQE's
    * OptimizeSkewInRebalancePartitions splits the hot partition's rows
    * across writer tasks — without it, one task writes the whole hot
    * directory (the classic straggler-writer + one-giant-file failure:
    * at 100 TB the hot tenant/day would serialize onto a single
    * executor). SkewJoinSpec pins the mechanism (hot directory gets
    * multiple part files under a scaled advisory size); the oracle pins
    * the layout result-invisible. Same incompressible-fp trick as
    * x_skew_aqe so the byte skew is real. */
  val rebalanceWrite: GQuery = GQuery(
    "x_rebalance_write",
    "Zipfian-partitioned write through REBALANCE; read-back == plain aggregate",
    (spark, dir) => {
      val root = TextOps.trackedTempDir("graft-rebal-") + "/orders_rb"
      // staged multi-file landing zone (written once, cached): rebalance's
      // skew split works by map-index ranges — same constraint as
      // x_skew_aqe — and an in-plan spread repartition is COLLAPSED into
      // the rebalance exchange by CollapseRepartition, so the many-map-
      // task stage a real ingest has must come from the source layout
      val staged = TextOps.cachedLayout("rbsrc", dir) { r =>
        Catalog.table(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            when(TextOps.h60(concat_ws(":", lit("rb"), col("o_orderkey"))) % 5 < 4,
              lit("hot")).otherwise(col("o_orderpriority")).as("seg"),
            md5(col("o_orderkey").cast("string")).as("fp"))
          .repartition(32)
          .write.mode("overwrite").parquet(r + "/src")
      } + "/src"
      spark.read.parquet(staged).hint("rebalance", col("seg"))
        .write.mode("overwrite").partitionBy("seg").parquet(root)
      spark.read.parquet(root)
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          max(col("fp")).as("max_fp"))
        .orderBy(col("seg"))
    },
    Some(s"""
      WITH o AS (
        SELECT o_totalprice,
               CASE WHEN ${TextOps.h60Sql(
            "'rb:' || CAST(o_orderkey AS VARCHAR)")} % 5 < 4
                    THEN 'hot' ELSE o_orderpriority END AS seg,
               md5(CAST(o_orderkey AS VARCHAR)) AS fp
        FROM orders)
      SELECT seg, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total,
             MAX(fp) AS max_fp
      FROM o GROUP BY seg ORDER BY seg"""),
    needsAqe = true)
}
