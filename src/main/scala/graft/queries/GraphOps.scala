package graft.queries

import graft.{Catalog, GQuery}
import graft.util.Num._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Near-duplicate CLUSTERING: the step between pair generation and actual
  * corpus dedup. LSH emits pairs (a~b, b~c); removing "the second doc of
  * every pair" (as p_clean_corpus deliberately does for its bounded scope)
  * is not transitively consistent — a~b, b~c must collapse a,b,c into ONE
  * cluster keeping ONE representative. That closure is connected
  * components over the pair graph (reference analog: the dedup stage a
  * distributed engine runs between candidate generation and output;
  * DataFusion itself has no recursion operator either — both engines need
  * an iterative driver, which here is a Spark job loop).
  *
  * Algorithm: min-label propagation. Every node starts labeled with its
  * own id; each round every node takes the min of its own and its
  * neighbors' labels; fixpoint = each component uniformly carries its
  * smallest member id. Rounds needed = graph diameter, and near-dup
  * components are dense and tiny (dozens of members, diameter 2-4), so
  * the loop runs ~3 rounds regardless of corpus size — the 100 TB cost
  * is (rounds × one shuffle of the (node,label) edge join), all
  * proportional to |pairs|, never to corpus². For adversarially long
  * path-shaped graphs the alternating large-star/small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) converges in O(log² n) rounds with the same per-round shape;
  * min-label is the right call for near-dup graphs specifically.
  *
  * Determinism: min() is order-free, so the labeling is unique — safe to
  * hash-compare across engines. The DuckDB oracle computes the same
  * closure with a recursive CTE (Spark 4 grew WITH RECURSIVE —
  * `x_recursive_cte` proves it — but its UnionLoop appends every step's
  * rows, the wrong shape for a label FIXPOINT that rewrites labels per
  * round; the job loop IS the Spark-native equivalent, with
  * `localCheckpoint` cutting the per-round lineage growth — on a
  * multi-tenant cluster prefer reliable `checkpoint` to survive
  * executor loss).
  */
object GraphOps {

  def queries: Seq[GQuery] = Seq(
    dedupClusters, dedupCanonical, splitLeakfree, triangleCount, degreeHist,
    jaccardLinks, pageRank, bfsHops, kCore, assortativity, clusteringCoeff)

  /** Per-round lineage cut. Default: `localCheckpoint` — fast, but the
    * truncated lineage lives in executor memory, so on a real cluster an
    * executor loss kills the job mid-loop. Setting the runtime conf
    * `spark.graft.reliableCheckpointDir` to a durable path (HDFS/S3)
    * switches every cut to a RELIABLE `checkpoint`: each round persists
    * to that dir and the fixpoint loop survives executor loss — the
    * multi-tenant production setting, at the price of one durable write
    * per round (each a few (id,lbl) longs per node — tiny next to the
    * LSH pipeline that feeds it). */
  private def cut(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    sess.conf.getOption("spark.graft.reliableCheckpointDir") match {
      case Some(dir) =>
        if (sess.sparkContext.getCheckpointDir.isEmpty)
          sess.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** Connected-component labels (id, lbl) for every node of the
    * undirected pair graph. One (node,label)-shuffle join per round;
    * converges when no label changes. */
  private[graft] def ccLabels(pairs: DataFrame): DataFrame = {
    // cut the PAIR table itself before the two-reference union: the LSH
    // pipeline feeding it is the expensive subtree, and relying on
    // exchange reuse to dedup two union branches is fragile — after the
    // cut, both branches read the same materialized partitions.
    //
    // NOT wrapped in AdaptiveGate.scopedLoop (unlike the k-core/BFS
    // peels): each round here joins edges against the shrinking label
    // table, and AQE demotes that join to a broadcast at runtime — no
    // shuffle at all — which beats the narrow single-shot shuffle form
    // (measured 1.2-1.4x WORSE scoped, on t_dedup_clusters /
    // p_dedup_canonical / p_clean_corpus at sf0.1). The peel loops keep
    // the scope because their rounds are anti-join + count over an
    // already-materialized arc table where AQE has nothing to demote.
    val p = pairs.select(col("a_id"), col("b_id")).transform(cut)
    val edges = p.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(p.select(col("b_id").as("u"), col("a_id").as("v")))
    var labels = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .transform(cut)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      require(rounds <= 60, "cc did not converge in 60 rounds — not a near-dup-shaped graph")
      val nbrMin = edges
        .join(labels.select(col("id").as("u"), col("lbl").as("ulbl")), "u")
        .groupBy(col("v").as("id")).agg(min(col("ulbl")).as("nbr"))
      // carry the previous label through the round so convergence is read
      // off the checkpointed frame directly — the old form re-joined next
      // against labels, one extra (node)-shuffle per round
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"))
        .transform(cut)
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select(col("id"), col("lbl"))
    }
    labels
  }

  /** Recursive-CTE closure over the `pairs` view: ends in a `cc` view of
    * (id, lbl) — the oracle twin of [[ccLabels]]. */
  private val ccSql = """
      edges AS (SELECT a_id AS u, b_id AS v FROM pairs
                UNION SELECT b_id, a_id FROM pairs),
      reach AS (SELECT DISTINCT u AS id, u AS r FROM edges
                UNION
                SELECT re.id, e.v FROM reach re JOIN edges e ON re.r = e.u),
      cc AS (SELECT id, MIN(r) AS lbl FROM reach GROUP BY id)"""

  val dedupClusters: GQuery = GQuery(
    "t_dedup_clusters",
    "connected components over LSH near-dup pairs (transitive closure)",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      ccLabels(TextOps.minhashPairs(TextOps.spread(d).select(col("doc_id"), col("text")), 0.5))
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE ${TextOps.minhashPairsSql("SELECT doc_id, text FROM documents", 0.5)},
      $ccSql
      SELECT id AS doc_id, lbl AS cluster_id FROM cc
      ORDER BY doc_id"""))

  /** The full dedup decision: per cluster keep the highest-quality member
    * (longest token count, ties to smallest doc_id) — the CCNet/RefinedWeb
    * "keep best of cluster" policy rather than "keep first seen". Output
    * is the per-cluster verdict; the surviving corpus is then one
    * left_anti join of documents against (members - kept). */
  val dedupCanonical: GQuery = GQuery(
    "p_dedup_canonical",
    "per near-dup cluster: canonical keeper by token count + member count",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val cl = ccLabels(TextOps.minhashPairs(TextOps.spread(d).select(col("doc_id"), col("text")), 0.5))
      val nt = d.select(col("doc_id").as("id"), size(split(col("text"), " ")).as("n_tok"))
      // keeper + member count in ONE aggregate: argmax via max(struct):
      // (n_tok, -id) orders by token count desc then id asc — replaces
      // the window + sizes-groupBy + join form (three shuffles on the
      // same tiny cluster table; pure job-count floor at bench scale)
      cl.join(nt, "id")
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_tok"), (-col("id")).as("nid"))).as("best"))
        .select(col("lbl").as("cluster_id"), (-col("best.nid")).as("kept_doc"),
          col("n_members"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""
      WITH RECURSIVE ${TextOps.minhashPairsSql("SELECT doc_id, text FROM documents", 0.5)},
      $ccSql,
      nt AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
      ranked AS (SELECT cc.lbl, cc.id,
                        ROW_NUMBER() OVER (PARTITION BY cc.lbl
                          ORDER BY nt.n_tok DESC, cc.id) AS rn
                 FROM cc JOIN nt ON nt.doc_id = cc.id),
      sizes AS (SELECT lbl, COUNT(*) AS n_members FROM cc GROUP BY lbl)
      SELECT r.lbl AS cluster_id, r.id AS kept_doc, s.n_members
      FROM ranked r JOIN sizes s ON s.lbl = r.lbl
      WHERE r.rn = 1 ORDER BY cluster_id"""))

  /** Leakage-free train/val/test split: assignment hashes the near-dup
    * CLUSTER, not the document. A per-doc hash split (p_split) puts two
    * near-duplicates in different splits with probability ~2·0.8·0.2 per
    * pair — the classic eval-contamination bug (test-set answers sitting
    * in the training set as paraphrases). Here every doc's group key is
    * its LSH-cluster label (its own doc_id when it has no near-dup), so a
    * whole cluster moves as one unit and NO cluster can span splits —
    * the property [[graft.LeakageSpec]] pins against the naive split.
    *
    * Scale shape: the minhash/CC machinery is the banded LSH + label
    * propagation already proven at scale (t_dedup_clusters); the label
    * frame holds ONLY docs that have a near-dup (tiny vs the corpus), so
    * the group-key attach is a left join against a small side (AQE
    * broadcasts it), then one (split) partial-agg shuffle. Output is the
    * per-split audit: docs, distinct groups, exact char volume. */
  val splitLeakfree: GQuery = GQuery(
    "p_split_leakfree",
    "cluster-aware 80/10/10 split: near-dup groups never span train/val/test",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val cl = ccLabels(TextOps.minhashPairs(
          TextOps.spread(d).select(col("doc_id"), col("text")), 0.5))
        .withColumnRenamed("id", "doc_id")
      val g = d.join(cl, Seq("doc_id"), "left")
        .select(col("lang"), col("n_chars"),
          coalesce(col("lbl"), col("doc_id")).as("grp"))
      val b = TextOps.h60(concat(lit("gsplit:"), col("grp").cast("string"))) % 100
      g.select(
          when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"),
          col("grp"), col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_groups"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy(col("split"))
    },
    Some(s"""
      WITH RECURSIVE ${TextOps.minhashPairsSql("SELECT doc_id, text FROM documents", 0.5)},
      $ccSql,
      g AS (SELECT d.lang, d.n_chars, COALESCE(cc.lbl, d.doc_id) AS grp
            FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
      s AS (SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split, grp, n_chars
            FROM (SELECT g.*,
                    ${TextOps.h60Sql("'gsplit:' || CAST(grp AS VARCHAR)")} % 100 AS b
                  FROM g))
      SELECT split, COUNT(*) AS n_docs,
             CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM s GROUP BY split ORDER BY split"""))

  // ----- general graph analytics over a derived relation graph -----
  //
  // Edge source: the supplier co-purchase graph — an undirected edge (u<v)
  // between two suppliers whose items appear in the same order, restricted
  // to high-quantity lineitems (l_quantity > 45) so the graph stays SPARSE
  // under scale-up: unfiltered, random supplier assignment makes the graph
  // complete once |orders| >> |suppliers|² (measured: 453k of 500k possible
  // edges at sf0.1), and every graph algorithm degenerates to O(V³). The
  // hot-item restriction keeps avg degree ~20 at both sf0.01 and sf0.1, so
  // each query's cost tracks |E|·degree — the realistic shape for
  // co-occurrence graphs at 100 TB (items-per-basket is scale-free, not
  // corpus-sized).
  //
  // Scale shapes: edge derivation = one self-join shuffle on l_orderkey
  // (both sides identically partitioned) + one distinct shuffle on (u,v);
  // triangle counting = the standard distributed edge-iterator (Suri &
  // Vassilvitskii, WWW'11): paths u-v-w from edges joined on the shared
  // middle node, closed against a third edge copy — cost Σ d(v)², never
  // all-triples; Jaccard = neighbor-list join bounded by Σ d(v)².

  /** Undirected (u<v) distinct supplier pairs co-occurring in an order,
    * both lineitems high-quantity. */
  private[graft] def coSupplyEdges(l: DataFrame): DataFrame = {
    val hot = l.filter(col("l_quantity") > 45)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    hot.select(col("ok"), col("s").as("u"))
      .join(hot.select(col("ok"), col("s").as("v")), "ok")
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
  }

  /** Oracle twin of [[coSupplyEdges]] as a CTE body named `edges`. */
  private val edgesSql = """
      edges AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        WHERE a.l_quantity > 45 AND b.l_quantity > 45)"""

  /** Global triangle count: edges e1(a,b) ⋈ e2(b,c) gives length-2 paths,
    * closed by e3(a,c). All three legs carry the u<v orientation, so each
    * triangle a<b<c is counted exactly once. Spark reuses the distinct's
    * exchange across the three scans (ReusedExchange), so the edge list is
    * derived once. */
  val triangleCount: GQuery = GQuery(
    "g_triangle_count",
    "triangle count over the supplier co-purchase graph",
    (spark, dir) => {
      val e = coSupplyEdges(Catalog.table(spark, dir, "lineitem"))
      val paths = e.select(col("u").as("a"), col("v").as("b"))
        .join(e.select(col("u").as("b"), col("v").as("c")), "b")
      val tri = paths.join(
        e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
      val nodes = e.select(col("u").as("n")).union(e.select(col("v").as("n"))).distinct()
      nodes.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
    },
    Some(s"""
      WITH $edgesSql,
      nodes AS (SELECT u AS n FROM edges UNION SELECT v FROM edges),
      tri AS (SELECT count(*) AS n_triangles
              FROM edges e1
              JOIN edges e2 ON e2.u = e1.v
              JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT (SELECT count(*) FROM nodes) AS n_nodes,
             (SELECT count(*) FROM edges) AS n_edges,
             (SELECT n_triangles FROM tri) AS n_triangles"""))

  /** Degree distribution: per-node degree (UNION ALL of both endpoints →
    * one group-by), then a histogram over degrees — two narrow shuffles,
    * both on already-small data. */
  val degreeHist: GQuery = GQuery(
    "g_degree_hist",
    "degree histogram of the supplier co-purchase graph",
    (spark, dir) => {
      val e = coSupplyEdges(Catalog.table(spark, dir, "lineitem"))
      e.select(col("u").as("n")).union(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("d"))
    },
    Some(s"""
      WITH $edgesSql,
      deg AS (SELECT n, count(*) AS d
              FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) t
              GROUP BY n)
      SELECT d, count(*) AS n_nodes FROM deg GROUP BY d ORDER BY d"""))

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over all edge orientations — ONE number that says
    * whether hubs attach to hubs (positive, social-graph-like) or to
    * leaves (negative, infrastructure-like), which decides whether
    * hub-removal or leaf-pruning strategies (e.g. [[kcore]] peeling,
    * sampling designs) will fragment the graph. Computed from exact
    * integer moments (n, Σdx, Σdx², Σdy, Σdy², Σdxdy — the
    * x_stats_agg discipline) with the float arithmetic confined to one
    * final fixed-order expression, so the correlation hash-gates to 6
    * decimals across engines. Scale: two narrow shuffles (degree count,
    * degree join-back), both ∝ |edges|. */
  val assortativity: GQuery = GQuery(
    "g_assortativity",
    "degree assortativity (endpoint-degree Pearson r) of the co-purchase graph",
    (spark, dir) => {
      val e = coSupplyEdges(Catalog.table(spark, dir, "lineitem"))
      val nbr = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val deg = nbr.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
      val joined = nbr
        .join(deg.select(col("n").as("a"), col("d").as("dx")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("dy")), "b")
      val m = joined.agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy")).as("sy"), sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      val dd = (c: Column) => c.cast("double")
      // a REGULAR graph (every degree equal) zeroes the variance terms;
      // engines disagree on zero-divisor doubles (NULL vs NaN/inf), so
      // the degenerate case is pinned to NULL on BOTH sides (oracle uses
      // NULLIF) — r5 advice
      val denom =
        sqrt(dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))) *
          sqrt(dd(col("n")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy")))
      m.select(
        expr("n div 2").as("n_edges"),
        when(denom === 0.0d, lit(null))
          .otherwise(round(
            (dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) / denom,
            6)).as("assortativity"))
    },
    Some(s"""
      WITH $edgesSql,
      nbr AS (SELECT u AS a, v AS b FROM edges
              UNION ALL SELECT v, u FROM edges),
      deg AS (SELECT a AS n, COUNT(*) AS d FROM nbr GROUP BY 1),
      j AS (SELECT dx.d AS dx, dy.d AS dy
            FROM nbr JOIN deg dx ON nbr.a = dx.n
                     JOIN deg dy ON nbr.b = dy.n),
      m AS (SELECT COUNT(*) AS n,
                   CAST(SUM(dx) AS BIGINT) AS sx,
                   CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                   CAST(SUM(dy) AS BIGINT) AS sy,
                   CAST(SUM(dy * dy) AS BIGINT) AS syy,
                   CAST(SUM(dx * dy) AS BIGINT) AS sxy
            FROM j)
      SELECT n // 2 AS n_edges,
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                   NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                    sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0), 6)
               AS assortativity
      FROM m"""))

  /** Global clustering coefficient — 3·triangles / wedges, the
    * transitivity number that, next to [[assortativity]], characterizes
    * the graph's texture (how often "friends of friends" close).
    * Triangles reuse the oriented 3-way self-join of [[triangleCount]];
    * wedges need no join at all: Σ d(d−1)/2 over the degree table (an
    * integer identity — every unordered neighbor pair at a center is one
    * wedge). The ratio is one fixed-order double division of two exact
    * BIGINTs, round(·,6). Scale: the wedge side is degree-table-sized;
    * the triangle join is the standard Σd² candidate bound. (Declared
    * after [[edgesSql]] — object vals initialize in declaration order.) */
  val clusteringCoeff: GQuery = GQuery(
    "g_clustering_coeff",
    "global clustering coefficient: 3*triangles / wedges over the co-purchase graph",
    (spark, dir) => {
      val e = coSupplyEdges(Catalog.table(spark, dir, "lineitem"))
      val paths = e.select(col("u").as("a"), col("v").as("b"))
        .join(e.select(col("u").as("b"), col("v").as("c")), "b")
      val tri = paths.join(
        e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      // zero wedges (empty/matching-only graph) pins to NULL on both
      // engines — see assortativity's degenerate-divisor note
      wedges.crossJoin(broadcast(tri))
        .select(col("n_wedges"), col("n_triangles"),
          when(col("n_wedges") === 0, lit(null))
            .otherwise(round(lit(3.0d) * col("n_triangles").cast("double") /
              col("n_wedges").cast("double"), 6)).as("global_cc"))
    },
    Some(s"""
      WITH $edgesSql,
      deg AS (SELECT n, COUNT(*) AS d
              FROM (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) t
              GROUP BY n),
      w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
      tri AS (SELECT COUNT(*) AS n_triangles
              FROM edges e1
              JOIN edges e2 ON e2.u = e1.v
              JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT n_wedges, n_triangles,
             ROUND(3.0 * CAST(n_triangles AS DOUBLE) /
                   NULLIF(CAST(n_wedges AS DOUBLE), 0), 6) AS global_cc
      FROM w CROSS JOIN tri"""))

  /** Link prediction: neighbor-overlap Jaccard per existing edge, top-10.
    * jaccard = |N(u)∩N(v)| / (d(u)+d(v)-|N(u)∩N(v)|) — one integer
    * division, bit-identical IEEE-754 on both engines; round(·,6) of a
    * small-integer ratio can never land on a digit-7 tie (that would need
    * a denominator ≥ 2·10⁶), so the hash compare is safe. */
  val jaccardLinks: GQuery = GQuery(
    "g_jaccard_links",
    "top-10 co-purchase edges by neighbor Jaccard overlap",
    (spark, dir) => {
      val e = coSupplyEdges(Catalog.table(spark, dir, "lineitem"))
      val nbr = e.select(col("u").as("n"), col("v").as("m"))
        .union(e.select(col("v").as("n"), col("u").as("m")))
      val deg = nbr.groupBy(col("n")).agg(count(lit(1)).as("d"))
      val common = e
        .join(nbr.select(col("n").as("u"), col("m").as("w")), "u")
        .join(nbr.select(col("n").as("v"), col("m").as("w")), Seq("v", "w"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
      common
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .select(col("u"), col("v"), col("common"), col("du"), col("dv"),
          round(col("common").cast("double") / (col("du") + col("dv") - col("common")), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("u"), col("v"))
        .limit(10)
    },
    Some(s"""
      WITH $edgesSql,
      nbr AS (SELECT u AS n, v AS m FROM edges
              UNION ALL SELECT v, u FROM edges),
      deg AS (SELECT n, count(*) AS d FROM nbr GROUP BY n),
      common AS (SELECT e.u, e.v, count(*) AS common
                 FROM edges e
                 JOIN nbr a ON a.n = e.u
                 JOIN nbr b ON b.n = e.v AND b.m = a.m
                 GROUP BY e.u, e.v)
      SELECT c.u, c.v, c.common, du.d AS du, dv.d AS dv,
             ROUND(CAST(c.common AS DOUBLE) / (du.d + dv.d - c.common), 6) AS jaccard
      FROM common c
      JOIN deg du ON du.n = c.u
      JOIN deg dv ON dv.n = c.v
      ORDER BY jaccard DESC, c.u, c.v
      LIMIT 10"""))

  /** Double quantized onto the fix6 grid (pure IEEE-754 floor arithmetic —
    * bit-identical in any engine). */
  private def q6(c: Column): Column = floor(c * 1000000.0d + 0.5d) / 1000000.0d
  private def q6Sql(e: String): String = s"FLOOR(($e) * 1000000 + 0.5) / 1000000.0"
  private val prIters = 4
  private val prDamp = 0.85d

  /** PageRank (4 damped iterations, d = 0.85) over the symmetrized
    * co-purchase graph — the canonical "importance" ranking for source /
    * document graphs in a curation pipeline (and the textbook iterative
    * distributed workload: Page et al. 1999; Malewicz et al., Pregel,
    * SIGMOD'10).
    *
    * Distribution shape per iteration: one shuffle join of the arc list
    * with the current (node, pr) table on src + one groupBy dst — both
    * key-partitioned, cost ∝ |arcs|, never node². Symmetrized arcs mean
    * no dangling mass (every node has out-degree ≥ 1). A fixed iteration
    * count (not convergence-test) keeps the plan static and the DuckDB
    * oracle expressible as unrolled CTEs.
    *
    * Determinism: each iteration's in-neighbor sum is an exact fix6
    * integer sum (order-free) and the new rank is re-quantized onto the
    * grid, so ranks are bit-identical on any engine / partition count /
    * row order. The oracle CTEs MUST be MATERIALIZED: DuckDB inlines
    * CTEs by default and the 4-deep recurrence re-derives the edge list
    * exponentially without it. */
  /** The iteration core, factored for structural tests: undirected edge
    * list (u,v) → (node, pr) after [[prIters]] damped rounds. */
  private[graft] def pageRankScores(e: DataFrame): DataFrame = {
    // arcs embeds the co-purchase self-join + DISTINCT; every iteration
    // (and deg) references it, so the un-cut form re-plans that subtree
    // 5x into one enormous final plan (4 lineitem scans, 54 Exchange
    // lines at sf0.1 — exchange reuse dedups most runtime but not the
    // plan size or the scan/exchange ladder). Cut arcs once; deg (node-
    // sized, one row per supplier) and its 1-row count feed pr0 plus
    // every iteration's crossJoin(broadcast(n)), so cut it too — the
    // x_histo_quantile checkpointed-scalar pattern.
    val arcs = e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
      .transform(cut)
    val deg = arcs.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .transform(cut)
    val n = deg.agg(count(lit(1)).as("n"))
    var pr = deg.crossJoin(broadcast(n))
      .select(col("src").as("node"), q6(lit(1.0d) / col("n").cast("double")).as("pr"))
    for (_ <- 1 to prIters) {
      pr = arcs
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("node"), (col("pr") / col("d").cast("double")).as("c"))
        .groupBy(col("node"))
        .agg(dsum(col("c")).as("s"))
        .crossJoin(broadcast(n))
        .select(col("node"),
          q6(lit(1.0d - prDamp) / col("n").cast("double") + lit(prDamp) * col("s")).as("pr"))
    }
    pr
  }

  val pageRank: GQuery = GQuery(
    "g_pagerank",
    "top-10 suppliers by 4-iteration PageRank over the co-purchase graph",
    (spark, dir) => {
      val e = coSupplyEdges(Catalog.table(spark, dir, "lineitem"))
      pageRankScores(e).orderBy(col("pr").desc, col("node")).limit(10)
    },
    Some {
      def iter(k: Int): String = s"""
      pr$k AS MATERIALIZED (
        SELECT a.dst AS node,
               ${q6Sql(s"${1.0d - prDamp} / (SELECT n FROM n) + $prDamp * ${dsumSql("p.pr / CAST(d.d AS DOUBLE)")}")} AS pr
        FROM arcs a
        JOIN pr${k - 1} p ON p.node = a.src
        JOIN deg d ON d.src = a.src
        GROUP BY a.dst)"""
      s"""
      WITH $edgesSql,
      arcs AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
                            UNION ALL SELECT v, u FROM edges),
      deg AS MATERIALIZED (SELECT src, count(*) AS d FROM arcs GROUP BY src),
      n AS MATERIALIZED (SELECT count(*) AS n FROM deg),
      pr0 AS MATERIALIZED (
        SELECT src AS node, ${q6Sql("1.0 / (SELECT n FROM n)")} AS pr FROM deg),
      ${(1 to prIters).map(iter).mkString(",")}
      SELECT node, pr FROM pr$prIters ORDER BY pr DESC, node LIMIT 10"""
    })

  // ------------------------------------------------------------ BFS
  private val bfsMaxHops = 3

  /** Frontier BFS core, factored for structural tests: min-hop distance
    * (node, hops ≤ [[bfsMaxHops]]) from the 3 smallest node ids of the
    * undirected edge list. Classic frontier expansion: each round joins
    * the CURRENT frontier (not the whole distance table) against the arc
    * list, anti-joins out already-settled nodes, and the new frontier is
    * exactly the nodes first reached this round — per-round shuffle cost
    * ∝ |frontier|·avg-degree, total Σ = |reached arcs|, never
    * nodes × rounds. Monotone min-distance semantics make the result
    * order-free (deterministic, hash-gateable). Frontiers are
    * lineage-cut per round ([[cut]]); 3 rounds keep even the reliable-
    * checkpoint variant cheap. */
  private[graft] def bfsHopsFrom(e: DataFrame): DataFrame = {
    val arcs = e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
      .transform(cut) // edge derivation costs a self-join — derive once
    val seeds = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .distinct().orderBy(col("node")).limit(3)
    graft.plans.AdaptiveGate.scopedLoop(e.sparkSession, e) {
      var dist = seeds.select(col("node"), lit(0L).as("hops")).transform(cut)
      var frontier = dist.select(col("node"))
      for (h <- 1 to bfsMaxHops) {
        val nxt = arcs
          .join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node")).distinct()
          .join(dist.select(col("node")), Seq("node"), "left_anti")
          .select(col("node"), lit(h.toLong).as("hops"))
          .transform(cut)
        frontier = nxt.select(col("node"))
        dist = dist.union(nxt)
      }
      dist
    }
  }

  /** Multi-source BFS hop distance — reachability radius over the
    * co-purchase graph (curation analog: "how far does contamination
    * spread from these seed documents through the near-dup graph").
    * The DuckDB oracle is a depth-bounded recursive CTE aggregated with
    * MIN(d): path enumeration is fine at oracle scale, while the engine
    * side runs the frontier form that stays linear in |edges| at 100 TB
    * (an unbounded path walk is exponential in the hop budget). */
  val bfsHops: GQuery = GQuery(
    "g_bfs_hops",
    "multi-source frontier BFS: min hop distance (<=3) from 3 seed nodes",
    (spark, dir) => {
      val e = coSupplyEdges(Catalog.table(spark, dir, "lineitem"))
      bfsHopsFrom(e).orderBy(col("node"))
    },
    Some(s"""
      WITH RECURSIVE $edgesSql,
      arcs AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
                            UNION ALL SELECT v, u FROM edges),
      seeds AS (SELECT node FROM (SELECT u AS node FROM edges
                                  UNION SELECT v FROM edges) t
                ORDER BY node LIMIT 3),
      walk(node, d) AS (
        SELECT node, 0 FROM seeds
        UNION ALL
        SELECT a.dst, w.d + 1 FROM walk w
        JOIN arcs a ON a.src = w.node WHERE w.d < $bfsMaxHops)
      SELECT node, CAST(MIN(d) AS BIGINT) AS hops
      FROM walk GROUP BY node ORDER BY node"""))

  // ------------------------------------------------------------ k-core
  private val kCoreK = 2
  private val kCoreOracleRounds = 12

  /** Iterative k-core peel, factored for structural tests: repeatedly
    * drop nodes whose degree (within the surviving subgraph) is < k
    * until no node is dropped; return (node, deg) of the survivors with
    * their in-core degree. The peel is confluent — WHICH order nodes
    * are removed in never changes the fixpoint — so the result is
    * deterministic and hash-gateable.
    *
    * Scale shape: each round is one semi-join of the arc list against
    * the surviving node set (shuffle ∝ surviving arcs, shrinking
    * monotonically) + one degree aggregate; the driver-side convergence
    * check is a count action, not a data collect. Rounds are bounded by
    * the peel depth (pendant-chain length — small for co-occurrence
    * graphs; [[kCoreMaxRounds]] is a runaway stop). Lineage cut per
    * round ([[cut]]). */
  private[graft] val kCoreMaxRounds = 40
  private[graft] def kCorePeel(e: DataFrame, k: Int): (DataFrame, Int) = {
    val arcs = e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
      .transform(cut)
    def degrees(nodes: DataFrame): DataFrame = arcs
      .join(nodes.withColumnRenamed("node", "src"), "src")
      .join(nodes.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    graft.plans.AdaptiveGate.scopedLoop(e.sparkSession, e) {
      var nodes = arcs.select(col("src").as("node")).distinct().transform(cut)
      var n = nodes.count()
      var rounds = 0
      var converged = false
      while (!converged && rounds < kCoreMaxRounds) {
        rounds += 1
        val kept = degrees(nodes).filter(col("deg") >= k)
          .select(col("node")).transform(cut)
        val m = kept.count()
        converged = m == n
        n = m
        nodes = kept
      }
      (degrees(nodes), rounds)
    }
  }

  /** 2-core of the co-supply graph — strip pendant tendrils so only the
    * cyclically-connected backbone remains (curation analog: drop
    * documents whose near-dup evidence hangs off a single link before
    * trusting cluster structure). The DuckDB oracle unrolls
    * [[kCoreOracleRounds]] peel rounds as a CTE chain; KCoreSpec pins
    * that the engine fixpoint lands within that budget, and the peel's
    * confluence makes extra oracle rounds no-ops. */
  val kCore: GQuery = GQuery(
    "g_kcore",
    s"$kCoreK-core backbone of the co-supply graph via iterative peeling",
    (spark, dir) => {
      val e = coSupplyEdges(Catalog.table(spark, dir, "lineitem"))
      kCorePeel(e, kCoreK)._1.orderBy(col("node"))
    },
    Some {
      // each round references the previous round TWICE (src IN …, dst
      // IN …); without MATERIALIZED DuckDB inlines the whole CTE chain at
      // every reference → 2^rounds recomputation (~12 min at sf0.01).
      // MATERIALIZED fences each round: 0.07 s, same rows (measured).
      def round(i: Int) = s"""
        n$i AS MATERIALIZED (
          SELECT src AS node, COUNT(*) AS deg FROM arcs
          WHERE src IN (SELECT node FROM n${i - 1})
            AND dst IN (SELECT node FROM n${i - 1})
          GROUP BY src HAVING COUNT(*) >= $kCoreK)"""
      s"""
      WITH $edgesSql,
      arcs AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
                            UNION ALL SELECT v, u FROM edges),
      n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM arcs),
      ${(1 to kCoreOracleRounds).map(round).mkString(",")}
      SELECT src AS node, COUNT(*) AS deg FROM arcs
      WHERE src IN (SELECT node FROM n$kCoreOracleRounds)
        AND dst IN (SELECT node FROM n$kCoreOracleRounds)
      GROUP BY src ORDER BY node"""
    })
}
