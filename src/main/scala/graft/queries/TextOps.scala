package graft.queries

import graft.{Catalog, GQuery}
import graft.util.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-training-data-pipeline layer (north star; SURVEY §7 step 8).
  * The reference has no counterpart (it is a distribution layer over
  * DataFusion, reference: README.md:3-6); these are designed Spark-first
  * for the 100 TB case: every op is a scan + narrow per-row transform +
  * key-partitioned shuffle — no driver-side collection, no cross-product
  * except where explicitly LSH-bucketed.
  *
  * Cross-engine determinism: all hashes are md5-hex (identical in Spark
  * and DuckDB); numeric hash values are the first 15 hex digits parsed
  * base-16 (fits int64 in both engines); double outputs are rounded.
  */
object TextOps {

  def queries: Seq[GQuery] = Seq(
    tokenCount, langProfile, qualityScore, langId, topTokens,
    exactDedup, ngramJaccard, minhashLsh, minhashLshMat, simhash, simhashNearDup,
    fingerprint, cleanCorpus, cleanCorpusMat,
    stratifiedSample, mixtureBalance, contamination, normalize, packSequences,
    repetition, chunkDedup, tfIdf, bigramLm, noveltyBatch, noveltyIncr,
    noveltyMulti, dupNgrams,
    substrRuns, hashSplit,
    gopherRules, bpeTrain, bpeApply, featureHash, qualityTrim,
    containment, weightedSample, topkGroup, profileColumns, slidingChunks,
    winnow)

  /** Incremental-ingest novelty check — the verdict a streaming/batch
    * ingest pipeline needs per NEW document: exact duplicate of the
    * existing corpus (digest match), near-duplicate (minhash-LSH pair
    * across the batch/corpus boundary), or novel. Fixture split: corpus =
    * doc_id < 400, batch = doc_id ≥ 400.
    *
    * Scale shape: the exact check is one shuffle join on 16-byte digests;
    * the near check is the banded LSH (candidates bounded by shared
    * buckets). This form recomputes corpus signatures per run for the
    * oracle's sake; the production form materializes the corpus signature
    * table once ([[minhashLshMat]]'s shape) and band-joins ONLY the new
    * batch's signatures against it — per-ingest cost ∝ batch, not corpus. */
  // lazy: the oracle text needs helper vals declared further down the file
  lazy val noveltyBatch: GQuery = GQuery(
    "p_novelty_batch",
    "per-new-doc novelty verdict vs existing corpus: exact_dup/near_dup/novel",
    (spark, dir) => {
      val d = spread(Catalog.table(spark, dir, "documents"))
      val cut = 400L
      val dig = d.select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
      val exact = dig.filter(col("doc_id") >= cut).as("b")
        .join(dig.filter(col("doc_id") < cut).as("c"), col("b.dg") === col("c.dg"))
        .groupBy(col("b.doc_id").as("doc_id"))
        .agg(count(lit(1)).as("n_exact"))
      val near = minhashPairs(d.select(col("doc_id"), col("text")), 0.5)
        .filter(col("a_id") < cut && col("b_id") >= cut)
        .groupBy(col("b_id").as("doc_id"))
        .agg(count(lit(1)).as("n_near"))
      d.filter(col("doc_id") >= cut).select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          when(col("n_exact").isNotNull, lit("exact_dup"))
            .when(col("n_near").isNotNull, lit("near_dup"))
            .otherwise(lit("novel")).as("verdict"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ${minhashPairsSql("SELECT doc_id, text FROM documents", 0.5)},
      dig AS (SELECT doc_id, md5(text) AS dg FROM documents),
      exact AS (SELECT b.doc_id, COUNT(*) AS n_exact
                FROM dig b JOIN dig c ON b.dg = c.dg AND c.doc_id < 400
                WHERE b.doc_id >= 400 GROUP BY b.doc_id),
      near AS (SELECT b_id AS doc_id, COUNT(*) AS n_near
               FROM pairs WHERE a_id < 400 AND b_id >= 400 GROUP BY b_id)
      SELECT d.doc_id,
             COALESCE(n_exact, 0) AS n_exact,
             COALESCE(n_near, 0) AS n_near,
             CASE WHEN n_exact IS NOT NULL THEN 'exact_dup'
                  WHEN n_near IS NOT NULL THEN 'near_dup'
                  ELSE 'novel' END AS verdict
      FROM documents d
      LEFT JOIN exact USING (doc_id)
      LEFT JOIN near USING (doc_id)
      WHERE d.doc_id >= 400
      ORDER BY d.doc_id"""))

  /** The PRODUCTION form of [[noveltyBatch]] — per-ingest cost ∝ batch,
    * never ∝ corpus. The corpus side's signature + digest store is
    * materialized to parquet ONCE per (source, JVM) via [[cachedLayout]]
    * (modeling the persistent signature table a 100 TB ingest pipeline
    * maintains across runs: at real scale it is ~3 orders smaller than
    * the text and appended per ingest); each run then (a) computes
    * signatures for the NEW batch only — the corpus TEXT is never
    * rescanned — and (b) band-joins batch buckets against stored corpus
    * buckets via [[pairsAcross]], never corpus×corpus. The oracle is
    * IDENTICAL to p_novelty_batch's full recompute: the incremental path
    * must be verdict-invisible, only cheaper — the same materialization
    * contract t_minhash_lsh_mat pins for the signature table itself. */
  lazy val noveltyIncr: GQuery = GQuery(
    "p_novelty_incr",
    "incremental novelty verdicts off a materialized corpus signature store",
    (spark, dir) => {
      val cut = 400L
      val store = cachedLayout("nvstore", dir) { r =>
        storeInit(r, Catalog.table(spark, dir, "documents")
          .filter(col("doc_id") < cut).select(col("doc_id"), col("text")))
      }
      storeVerdict(spark, store,
        spread(Catalog.table(spark, dir, "documents")
          .filter(col("doc_id") >= cut).select(col("doc_id"), col("text"))))
    },
    // deliberately the FULL-recompute oracle of p_novelty_batch: the
    // stored-signature path must reproduce it exactly
    Some(s"""
      WITH ${minhashPairsSql("SELECT doc_id, text FROM documents", 0.5)},
      dig AS (SELECT doc_id, md5(text) AS dg FROM documents),
      exact AS (SELECT b.doc_id, COUNT(*) AS n_exact
                FROM dig b JOIN dig c ON b.dg = c.dg AND c.doc_id < 400
                WHERE b.doc_id >= 400 GROUP BY b.doc_id),
      near AS (SELECT b_id AS doc_id, COUNT(*) AS n_near
               FROM pairs WHERE a_id < 400 AND b_id >= 400 GROUP BY b_id)
      SELECT d.doc_id,
             COALESCE(n_exact, 0) AS n_exact,
             COALESCE(n_near, 0) AS n_near,
             CASE WHEN n_exact IS NOT NULL THEN 'exact_dup'
                  WHEN n_near IS NOT NULL THEN 'near_dup'
                  ELSE 'novel' END AS verdict
      FROM documents d
      LEFT JOIN exact USING (doc_id)
      LEFT JOIN near USING (doc_id)
      WHERE d.doc_id >= 400
      ORDER BY d.doc_id"""))

  /** The signature-store lifecycle a production ingest pipeline runs —
    * three tiny verbs over a parquet store dir holding `sig` (minhash
    * signatures + shingle sets) and `dig` (md5 digests):
    *  - [[storeInit]]:    bootstrap from the initial corpus (once, ever);
    *  - [[storeAppend]]:  per ingest cycle, add the ACCEPTED batch's rows
    *                      — computed from the batch text only;
    *  - [[storeVerdict]]: per ingest cycle, verdict a new batch against
    *    the store. Reads ONLY the batch text + the store parquet; the
    *    corpus text is never rescanned (NoveltyStoreSpec pins this via
    *    the plan's scan set), and the band join is batch×store, never
    *    store×store.
    * At 100 TB the store is ~3 orders smaller than the text, so each
    * cycle costs ∝ batch + one store-sized broadcast/band join. */
  private[graft] def storeInit(root: String, corpus: DataFrame): Unit = {
    minhashSig(spread(corpus)).write.mode("overwrite").parquet(root + "/sig")
    corpus.select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
      .write.mode("overwrite").parquet(root + "/dig")
  }

  private[graft] def storeAppend(root: String, batch: DataFrame): Unit = {
    minhashSig(batch).write.mode("append").parquet(root + "/sig")
    batch.select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
      .write.mode("append").parquet(root + "/dig")
  }

  private[graft] def storeVerdict(spark: SparkSession, root: String,
      batch: DataFrame): DataFrame = {
    val storeSig = spark.read.parquet(root + "/sig")
    val storeDig = spark.read.parquet(root + "/dig")
    val exact = batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("dg")).as("b")
      .join(storeDig.as("c"), col("b.dg") === col("c.dg"))
      .groupBy(col("b.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_exact"))
    val near = pairsAcross(storeSig, minhashSig(batch), 0.5)
      .groupBy(col("b_id").as("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("n_exact").isNotNull, lit("exact_dup"))
          .when(col("n_near").isNotNull, lit("near_dup"))
          .otherwise(lit("novel")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** TWO full ingest cycles through the store lifecycle — the proof that
    * the incremental path composes across batches, not just once.
    * Cycle 1: store bootstrapped from corpus (doc_id < 300), batch-1
    * (300 ≤ id < 400) signatures computed from its text only and
    * APPENDED. Cycle 2: batch-2 (id ≥ 400) verdicted against the UPDATED
    * store — so a batch-2 doc whose only duplicate lives in batch-1 is
    * caught purely through the store's appended rows. The oracle is the
    * full recompute at the second cut (identical to p_novelty_incr's):
    * two append cycles must be verdict-invisible vs recomputing
    * everything from raw text. */
  lazy val noveltyMulti: GQuery = GQuery(
    "p_novelty_multi",
    "two-ingest novelty cycle: bootstrap, append batch-1, verdict batch-2 off the updated store",
    (spark, dir) => {
      val (cut1, cut2) = (300L, 400L)
      val docs = Catalog.table(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val store = cachedLayout("nvstore2", dir) { r =>
        storeInit(r, docs.filter(col("doc_id") < cut1))
        storeAppend(r, spread(
          docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2)))
      }
      storeVerdict(spark, store, spread(docs.filter(col("doc_id") >= cut2)))
    },
    // full-recompute oracle at the SECOND cut: the two-cycle store path
    // must reproduce the from-scratch verdicts exactly
    Some(s"""
      WITH ${minhashPairsSql("SELECT doc_id, text FROM documents", 0.5)},
      dig AS (SELECT doc_id, md5(text) AS dg FROM documents),
      exact AS (SELECT b.doc_id, COUNT(*) AS n_exact
                FROM dig b JOIN dig c ON b.dg = c.dg AND c.doc_id < 400
                WHERE b.doc_id >= 400 GROUP BY b.doc_id),
      near AS (SELECT b_id AS doc_id, COUNT(*) AS n_near
               FROM pairs WHERE a_id < 400 AND b_id >= 400 GROUP BY b_id)
      SELECT d.doc_id,
             COALESCE(n_exact, 0) AS n_exact,
             COALESCE(n_near, 0) AS n_near,
             CASE WHEN n_exact IS NOT NULL THEN 'exact_dup'
                  WHEN n_near IS NOT NULL THEN 'near_dup'
                  ELSE 'novel' END AS verdict
      FROM documents d
      LEFT JOIN exact USING (doc_id)
      LEFT JOIN near USING (doc_id)
      WHERE d.doc_id >= 400
      ORDER BY d.doc_id"""))

  /** ws-split tokens (keeps empty trailing tokens exactly like DuckDB's
    * string_split, so counts agree). */
  private def toks(c: Column): Column = split(c, " ")

  /** Spread a small-file scan across all cores before CPU-heavy per-row
    * work. A single parquet file arrives as ONE input split, serializing
    * the md5 pipelines onto one core; an explicit-count repartition (which
    * AQE will not coalesce) buys full parallelism for the price of
    * shuffling the raw text once. Guarded: when the scan already produced
    * >= defaultParallelism splits (the normal many-file cluster case) this
    * is the identity — no exchange is inserted, so a 100 TB corpus is
    * never shuffled just to "spread" it. */
  private[queries] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // toRdd reads the physical plan's partitioning without building the
    // row-deserializing `.rdd` lineage (r5 advice nit)
    if (df.queryExecution.toRdd.getNumPartitions >= par) df
    else df.repartition(par)
  }

  /** Session-scoped materialization dirs. Each invocation gets a
    * collision-free temp dir (two JVMs running the registry concurrently —
    * bench + verify — must not overwrite each other's part files
    * mid-read), and every dir is tracked and recursively deleted on JVM
    * exit so a multi-iteration bench run does not accumulate unbounded
    * parquet stages in /tmp across rounds. */
  private val matDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook {
    matDirs.forEach { root =>
      try {
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      } catch { case _: Throwable => () } // best-effort: exit must not fail
    }
  }
  private[queries] def trackedTempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    matDirs.add(p)
    p.toString
  }

  /** Per-JVM cache of IMMUTABLE materialized layouts (partitioned
    * rewrites, version logs): the layout of a given (tag, source dir) is
    * written once and every later invocation — bench iteration 2..n,
    * repeated gate runs — reads the existing files. Without this, each
    * invocation rewrote the full table into a fresh temp dir: disk use
    * multiplied per iteration and the measured time was the WRITE, not
    * the pruned read the query demonstrates (r5 advice). Only valid for
    * source-deterministic layouts — the write lambda must be a pure
    * function of the source dir. Dirs still come from
    * [[trackedTempDir]], so JVM-exit cleanup covers them. */
  private val layoutCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.FutureTask[String]]()
  private[queries] def cachedLayout(tag: String, dir: String)(
      write: String => Unit): String = {
    // putIfAbsent a lazy holder, then run the (multi-second) Spark write
    // OUTSIDE the map's bin lock: computeIfAbsent would hold the bin lock
    // for the write's duration, blocking unrelated keys in the same bin
    // and throwing on a nested cachedLayout call from inside the lambda.
    val task = new java.util.concurrent.FutureTask[String](() => {
      val root = trackedTempDir(s"graft-$tag-")
      write(root)
      root
    })
    val key = s"$tag|$dir"
    val winner = Option(layoutCache.putIfAbsent(key, task)).getOrElse(task)
    winner.run() // no-op if already ran/running; losers just wait in get()
    try winner.get()
    catch { case e: java.util.concurrent.ExecutionException =>
      layoutCache.remove(key, winner) // failed write stays retryable
      throw e.getCause
    }
  }

  /** 60-bit numeric hash of a string, identical in Spark and DuckDB. */
  private[queries] def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast(LongType)
  private[queries] def h60Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** Universal-hash base for minhash: the 60-bit [[h60]] reduced mod a
    * prime; per-seed variants are then pure int64 arithmetic (overflow-free:
    * v < P ~ 1e9, multiplier <= 31). The Spark side computes h60 natively
    * ([[graft.functions.ShingleHv60]]); [[h60Sql]] is the DuckDB mirror. */
  private val MinhashP = 1000000007L

  // ------------------------------------------------------------ token count
  /** Token counting: whitespace tokens + regex word tokens ("BPE-ish"
    * proxy: \w+ runs). One narrow projection — trivially scan-parallel. */
  val tokenCount: GQuery = GQuery(
    "t_token_count",
    "per-doc whitespace + regex token counts",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      d.select(
          col("doc_id"),
          size(toks(col("text"))).as("n_ws_tokens"),
          size(expr("regexp_extract_all(text, '\\\\w+', 0)")).as("n_word_tokens"),
          length(col("text")).as("n_chars_m"))
      // no output orderBy: a per-doc feature table is a SET (driver
      // comparator canonicalizes row order), and a global range sort's
      // SAMPLING job re-executes this scan-direct projection a second
      // time — measured 2.1× on the 10× replica once the single-shot
      // width floor made the sort >1 partition (1-partition sorts skip
      // sampling, which is what had been hiding the cost). Same
      // reasoning as the simhash pair set above.
    },
    Some("""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '\w+')) AS INTEGER) AS n_word_tokens,
             CAST(length(text) AS INTEGER) AS n_chars_m
      FROM documents
      ORDER BY doc_id"""))

  // ------------------------------------------------------------ lang profile
  /** Corpus profile by language tag: doc counts + exact char totals. */
  val langProfile: GQuery = GQuery(
    "t_lang_profile",
    "group-by lang: counts, total/mean chars (exact fixed-point)",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      d.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("tot_chars"),
          davg(col("n_chars").cast("double")).as("avg_chars"))
        .orderBy(col("lang"))
    },
    Some(s"""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
             ${davgSql("CAST(n_chars AS DOUBLE)")} AS avg_chars
      FROM documents
      GROUP BY lang
      ORDER BY lang"""))

  // ------------------------------------------------------------ quality score
  /** Quality scoring: stopword ratio + mean token length, the standard
    * cheap filters before expensive dedup in a training-data pipeline.
    * Pure per-row math: scan-parallel, no shuffle before the sort. */
  val qualityScore: GQuery = GQuery(
    "t_quality_score",
    "per-doc stopword ratio + mean token length",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val stops = "'the','a','of','and','to','in','is','on','for','with'"
      d.select(
          col("doc_id"),
          size(toks(col("text"))).as("n_tok"),
          size(expr(s"filter(split(text, ' '), x -> x IN ($stops))")).as("n_stop"),
          length(col("text")).as("len"))
        .select(
          col("doc_id"),
          round(col("n_stop").cast("double") / col("n_tok"), 6).as("stop_ratio"),
          round((col("len") - (col("n_tok") - 1)).cast("double") / col("n_tok"), 6)
            .as("avg_tok_len"))
      // no output orderBy — scan-direct per-doc features; see
      // t_token_count for the range-sampling double-execution measurement
    },
    Some("""
      SELECT doc_id,
             ROUND(CAST(len(list_filter(string_split(text, ' '),
                     x -> x IN ('the','a','of','and','to','in','is','on','for','with')))
                   AS DOUBLE) / len(string_split(text, ' ')), 6) AS stop_ratio,
             ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS avg_tok_len
      FROM documents
      ORDER BY doc_id"""))

  // ------------------------------------------------------------ language id
  /** Language-ID n-gram/stopword heuristic: English function-word hit
    * ratio, thresholded. (Real model weights would be a broadcast lookup
    * joined the same way — the plumbing is what scales.) */
  val langId: GQuery = GQuery(
    "t_langid",
    "heuristic language-ID by stopword ratio, counts by guess x tag",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val stops = "'the','a','of','and','to','in','is','on','for','with'"
      d.select(
          col("lang"),
          (size(expr(s"filter(split(text, ' '), x -> x IN ($stops))")).cast("double") /
            size(toks(col("text")))).as("ratio"))
        .select(col("lang"), when(col("ratio") >= 0.08, lit("en")).otherwise(lit("other")).as("guess"))
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("guess"))
    },
    Some("""
      SELECT lang, guess, COUNT(*) AS n
      FROM (SELECT lang,
                   CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                          x -> x IN ('the','a','of','and','to','in','is','on','for','with')))
                        AS DOUBLE) / len(string_split(text, ' ')) >= 0.08
                        THEN 'en' ELSE 'other' END AS guess
            FROM documents) t
      GROUP BY lang, guess
      ORDER BY lang, guess"""))

  // ------------------------------------------------------------ exact dedup
  /** Exact deduplication: hash-groupBy on content digest, keep the lowest
    * doc_id per group. One hash shuffle — the 100 TB-safe formulation
    * (no sort, no collect; md5 keys partition uniformly). */
  val exactDedup: GQuery = GQuery(
    "t_exact_dedup",
    "exact dedup via content-hash groupBy, keeper = min doc_id",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      d.groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select(col("keeper"), col("n_copies"))
        .orderBy(col("keeper"))
    },
    Some("""
      SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      FROM documents
      GROUP BY md5(text)
      ORDER BY keeper"""))

  // ---------------------------------------------------------- shingle helpers
  /** Distinct 3-word shingles per doc: (doc_id, sh). Narrow explode —
    * output size is O(total tokens), the scan-proportional shape that
    * survives 100 TB. */
  private def shingles(d: DataFrame): DataFrame =
    d.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(expr(
          "CASE WHEN size(tk) < 3 THEN array() ELSE " +
            "array_distinct(transform(sequence(0, size(tk) - 3)," +
            " i -> array_join(slice(tk, i + 1, 3), ' '))) END")).as("sh"))

  private val shinglesSql =
    """SELECT doc_id, unnest(list_distinct(
         list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS sh
       FROM documents"""

  /** Exact Jaccard over candidate pairs that share >= 1 shingle.
    * `jacc = |A ∩ B| / (|A| + |B| - |A ∩ B|)` — integers, so exact. */
  private def jaccardPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val common = sh.as("x")
      .join(sh.as("y"), col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_sz"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_sz"), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("n_common").cast("double") /
          (col("a_sz") + col("b_sz") - col("n_common")), 6).as("jacc"))
      .filter(col("jacc") >= threshold)
      .orderBy(col("a_id"), col("b_id"))
  }

  // ------------------------------------------------------------ ngram jaccard
  /** Exact n-gram-Jaccard near-dup on a bounded window (doc_id < 500).
    * The exact pairwise form is intentionally window-bounded: with a
    * shared small vocabulary the shingle equi-join is quadratic in bucket
    * size, so at scale the LSH-banded variant below is the real path and
    * this one is its constant-cost verifier (the window is where the
    * corpus generator plants its near-duplicates). */
  val ngramJaccard: GQuery = GQuery(
    "t_ngram_jaccard",
    "exact 3-gram Jaccard pairs >= 0.5 on a bounded doc window",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents").filter(col("doc_id") < 500)
      jaccardPairs(shingles(d), 0.5)
    },
    Some(s"""
      WITH sh AS (${shinglesSql.replace("FROM documents",
        "FROM documents WHERE doc_id < 500")}),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      common AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
                 GROUP BY x.doc_id, y.doc_id)
      SELECT a_id, b_id,
             ROUND(CAST(n_common AS DOUBLE) / (a.sz + b.sz - n_common), 6) AS jacc
      FROM common JOIN sizes a ON a.doc_id = a_id JOIN sizes b ON b.doc_id = b_id
      WHERE CAST(n_common AS DOUBLE) / (a.sz + b.sz - n_common) >= 0.5
      ORDER BY a_id, b_id"""))

  // ------------------------------------------------------------ minhash + LSH
  /** MinHash + LSH banding near-dup: 16 min-hashes (md5 over seeded
    * shingles, min of hex strings — engine-portable), 4 bands x 4 rows;
    * docs agreeing on any full band become candidates; candidates are
    * verified with exact Jaccard >= 0.5.
    *
    * Scale shape: signatures and band hashes are PER-ROW array
    * expressions — zero shuffle until the band equi-join, whose bucket
    * sizes concentrate on genuinely-similar docs (P[band match] = j^4).
    * (A first cut exploded (doc x shingle x seed) through two groupBys —
    * a 38M-row shuffle at sf0.1 and 23 s; this form is scan-bound.) */
  /** Verified near-dup pairs (jacc >= threshold) over any (doc_id, text)
    * frame — the reusable core of minhashLsh and the cleaning pipeline.
    *
    * Shape: shingles are exploded and md5'd ONCE, the 16-seed signature
    * is 16 codegen'd min-aggregates in a single groupBy (map-side partial
    * min — deliberately NOT a higher-order-function pipeline: HOFs skip
    * whole-stage codegen, and CollapseProject inlines a hashed-array
    * column into every consuming lambda, recomputing the md5 batch once
    * per seed; measured 3x slower). Band buckets join; candidates verify
    * by exact Jaccard on per-doc shingle sets, so verify work scales with
    * |candidates|, not corpus².
    *
    * Known single-plan cost: the signature aggregate feeds 4 branches
    * (band self-join × 2, set lookup × 2) and per-branch column pruning
    * correctly splits it into 4 scan pipelines — the optimizer's right
    * call at test scale. At real corpus scale use [[minhashLshMat]],
    * which materializes the signature table once and runs the band join
    * off it: one corpus scan, then joins touch only the
    * (doc_id, sig, shingle-set) columns. */
  private[graft] def minhashPairs(d: DataFrame, threshold: Double): DataFrame =
    pairsFromSig(minhashSig(d), threshold)

  /** The signature table: one row per doc carrying the 16 min-hashes and
    * the shingle-hash set — everything the band join + verify needs, so
    * a consumer that materializes THIS table never rescans the corpus.
    *
    * r13: the shingle substrate is the native [[graft.functions.ShingleHv60]]
    * kernel — distinct 60-bit shingle hashes in one pass over the text
    * bytes — replacing the interpreted HOF pipeline (explode of
    * transform/slice/array_join + md5-hex→conv per shingle) that the
    * 100×-replica JFR profile measured at ~26 µs/shingle and 90% of the
    * query's task time. The seed mins derive from the SAME
    * `h60 % MinhashP` value as before, so signatures and band buckets
    * are bit-identical to the string pipeline; the verify set (`arr`)
    * becomes `array<bigint>` of h60 values instead of the shingle
    * strings — Jaccard over the 60-bit hash space, which the DuckDB
    * oracle mirrors value-for-value ([[minhashPairsSql]]). At 100 TB the
    * hashed set is also what you'd ship: 8 bytes per shingle on the
    * shuffle wire instead of the text n-gram. */
  /** Plan-evidence hook (plans/rN dumps): the signature-build stage
    * exactly as [[minhashLsh]] constructs it, pre-checkpoint — the
    * declared queries only ever show this as a Scan ExistingRDD. */
  private[graft] def minhashSigPlan(spark: SparkSession, dir: String): DataFrame =
    minhashSig(spread(Catalog.table(spark, dir, "documents")))

  private[queries] def minhashSig(d: DataFrame): DataFrame = {
    val hvRows = d
      .select(col("doc_id"), explode(expr("shingle_hv60(text)")).as("h"))
      .select(col("doc_id"), col("h"), (col("h") % MinhashP).as("v"))
    val sigCols = (0 until 16).map(s =>
      min(expr(s"(v * ${2 * s + 1} + ${s * 7919}) % $MinhashP")).as(s"s$s"))
    hvRows
      .groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail :+ collect_set(col("h")).as("arr"): _*)
  }

  /** Band join + exact-Jaccard verify over a (doc_id, s0..s15, arr)
    * signature frame — the post-signature half of the LSH pipeline.
    *
    * Dedup-before-near-dup (round 5): identical shingle sets (⇒ identical
    * signatures) are collapsed to one representative BEFORE the band join
    * — the verify work is per DISTINCT set pair, and member pairs expand
    * back at the end. Output-equal to the naive per-doc form (identical
    * sets give Jaccard exactly 1.0 intra-group and the rep's value for
    * every cross pair), but on a duplication-heavy corpus — the web case
    * LSH dedup exists for — the quadratic band-bucket work shrinks by the
    * duplication factor squared: the 10× replica bench went superlinear
    * (16×) without this. The expansion join is ∝ output size, which is
    * itself quadratic in duplication — that part is inherent to emitting
    * every pair. */
  private[queries] def pairsFromSig(sig: DataFrame, threshold: Double): DataFrame = {
    val sigCols = (0 until 16).map(i => col(s"s$i"))
    val keyed = sig.select(
      (col("doc_id") +: sigCols :+ array_sort(col("arr")).as("ak")): _*)
    // dup-collapse as ONE hash aggregate over the (signature, set) key:
    // min doc_id is the representative, the member list re-expands pairs
    // at the end. The round-5 window form (min/count OVER the same key)
    // carried every row through an exchange + full sort on the wide
    // 17-column key — the creep the r5 verdict flagged; the aggregate
    // combines map-side and shuffles one row per DISTINCT document text.
    //
    // The collapsed table feeds FOUR differently-pruned branches (band
    // self-join: s0..s15; verify sets: ak; member expansion: members;
    // intra-group pairs: gn), so ReuseExchange cannot dedupe them — each
    // branch re-executes the whole upstream pipeline. When that pipeline
    // embeds the corpus scan (shingle explode + 17-column aggregate),
    // the re-execution IS the dominant cost at replica scale: the r9
    // probe on the 100× replica measured the full stage-by-stage cost at
    // ~50 s while the one-plan query ran 220 s — 4 corpus pipelines, not
    // band saturation (candidates were 1.3 M, max bucket 157). So the
    // collapsed table is localCheckpoint()ed — one materialization, four
    // readers. r13 made the checkpoint UNCONDITIONAL: the file-backed
    // variant (minhashLshMat) was presumed to keep "cheap pruned parquet
    // re-scans", but a 100× StageProbe showed the re-executed aggregate
    // is NOT prunable — the grouping key embeds the full `ak` array, so
    // every branch re-shuffled ~360 MB and re-ran the 17-column
    // aggregate (3 partial+final pairs, ~900 s of task time of a
    // 2,640 s query). One materialization beats three wide shuffles at
    // any corpus scale. localCheckpoint, NOT cache(): a cached plan
    // would survive across bench iterations (CacheManager matches by
    // canonicalized subtree), so min-of-3 would time cache hits instead
    // of the query; the eager checkpoint re-materializes per fn()
    // invocation and the harness boundary's pressure GC frees the
    // orphaned blocks.
    val grouped = keyed
      .groupBy(sigCols :+ col("ak"): _*)
      .agg(min(col("doc_id")).as("gid"),
        collect_list(col("doc_id")).as("members"),
        count(lit(1)).as("gn"))
      .localCheckpoint()
    val mem = grouped.select(col("gid"), explode(col("members")).as("doc_id"))
    val reps = grouped
    val bands = bandsOf(reps, "gid")
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.gid") < col("y.gid"))
      .select(col("x.gid").as("ga"), col("y.gid").as("gb"))
      .distinct()
    val sets = reps.select(col("gid"), col("ak"))
    val interReps = cands
      .join(sets.select(col("gid").as("ga"), col("ak").as("a_arr")), "ga")
      .join(sets.select(col("gid").as("gb"), col("ak").as("b_arr")), "gb")
      // size-compatibility prune BEFORE the O(|A|+|B|) intersect:
      // jacc(A,B) <= min(|A|,|B|)/max(|A|,|B|), so a pair whose size
      // ratio is below the threshold can never verify — dropping it here
      // is result-invisible (the oracle's jacc filter rejects the same
      // pairs) and saves the intersect on exactly the coincidental
      // candidates a saturated band space produces
      .filter(least(size(col("a_arr")), size(col("b_arr"))).cast("double") >=
        greatest(size(col("a_arr")), size(col("b_arr"))) * threshold)
      .select(col("ga"), col("gb"),
        size(array_intersect(col("a_arr"), col("b_arr"))).as("n_common"),
        size(col("a_arr")).as("a_sz"), size(col("b_arr")).as("b_sz"))
      .select(col("ga"), col("gb"),
        round(col("n_common").cast("double") /
          (col("a_sz") + col("b_sz") - col("n_common")), 6).as("jacc"))
      .filter(col("jacc") >= threshold)
    // intra-group pairs (identical sets, Jaccard exactly 1.0) ride the
    // SAME two expansion joins as the cross-group pairs: a gn>=2 group
    // contributes a (gid, gid, 1.0) rep pair, and the da<db guard on the
    // diagonal emits each member pair once — the separate intra branch
    // (two more member joins + union legs) was pure stage-count overhead
    val repPairs = interReps.union(
      reps.filter(col("gn") >= 2)
        .select(col("gid").as("ga"), col("gid").as("gb"), lit(1.0).as("jacc")))
    repPairs
      .join(mem.select(col("gid").as("ga"), col("doc_id").as("da")), "ga")
      .join(mem.select(col("gid").as("gb"), col("doc_id").as("db")), "gb")
      .filter(col("ga") =!= col("gb") || col("da") < col("db"))
      .select(least(col("da"), col("db")).as("a_id"),
        greatest(col("da"), col("db")).as("b_id"), col("jacc"))
  }

  /** (id, band, bh) band-bucket rows of a signature frame, `id` being
    * whatever identity column the caller keys on (doc_id or collapsed
    * gid): 4 bands of 4 seeds, band hash = md5 of the comma-joined
    * min-hashes. Shared by the self-join pipeline ([[pairsFromSig]]) and
    * the across-frames incremental form ([[pairsAcross]]). */
  private def bandsOf(sig: DataFrame, id: String): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      md5(concat_ws(",", (0 until 4).map(i => col(s"s${b * 4 + i}")): _*)
        .cast("binary")).as(s"bh$b"))
    sig.select(col(id) +: bandCols: _*)
      .select(col(id), explode(expr(
        "array(struct(0 AS band, bh0 AS bh), struct(1 AS band, bh1 AS bh)," +
          " struct(2 AS band, bh2 AS bh), struct(3 AS band, bh3 AS bh))")).as("bb"))
      .select(col(id), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Verified near-dup pairs ACROSS two signature frames (never within
    * either): band buckets of `aSig` equi-join band buckets of `bSig`,
    * candidates verify by exact Jaccard. This is the incremental-ingest
    * join shape — with `aSig` a materialized corpus store and `bSig` a
    * fresh batch, candidate work scales with the BATCH's bucket
    * occupancy and the corpus is never self-joined. Verification on the
    * true shingle sets makes the candidate path result-invisible: both
    * this and the dup-collapsed self-join candidate exactly the pairs
    * sharing >= 1 full band. */
  private[queries] def pairsAcross(
      aSig: DataFrame, bSig: DataFrame, threshold: Double): DataFrame = {
    val cands = bandsOf(aSig, "doc_id").toDF("a_id", "band", "bh").as("x")
      .join(bandsOf(bSig, "doc_id").toDF("b_id", "band", "bh").as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("a_id"), col("b_id")).distinct()
    val aSets = aSig.select(col("doc_id").as("a_id"),
      array_sort(col("arr")).as("a_arr"))
    val bSets = bSig.select(col("doc_id").as("b_id"),
      array_sort(col("arr")).as("b_arr"))
    cands.join(aSets, "a_id").join(bSets, "b_id")
      // same result-invisible size-ratio prune as pairsFromSig: a pair
      // with min/max set-size below the threshold cannot reach it
      .filter(least(size(col("a_arr")), size(col("b_arr"))).cast("double") >=
        greatest(size(col("a_arr")), size(col("b_arr"))) * threshold)
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_arr"), col("b_arr"))).as("n_common"),
        size(col("a_arr")).as("a_sz"), size(col("b_arr")).as("b_sz"))
      .select(col("a_id"), col("b_id"),
        round(col("n_common").cast("double") /
          (col("a_sz") + col("b_sz") - col("n_common")), 6).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** SQL mirror of [[minhashPairs]]: CTE block ending in a `pairs` view
    * (a_id, b_id, jacc >= threshold). `src` must select (doc_id, text).
    *
    * Mirrors the r13 hashed-set substrate: `h` is the same 60-bit
    * shingle hash [[graft.functions.ShingleHv60]] emits (first 15 hex
    * chars of md5 as a BIGINT), `v = h % P` keeps the seed mins
    * bit-identical to the old string pipeline, and the verify sets are
    * `list(DISTINCT h)` so both engines compute Jaccard over the
    * identical 60-bit value space. */
  private[graft] def minhashPairsSql(src: String, threshold: Double): String = s"""
      sh AS (${shinglesSql.replace("FROM documents", s"FROM ($src) src_t")}),
      hv AS (SELECT doc_id, sh, ${h60Sql("sh")} AS h,
                    ${h60Sql("sh")} % $MinhashP AS v FROM sh),
      sigs AS (SELECT doc_id, seed,
                      MIN((v * (2 * seed + 1) + seed * 7919) % $MinhashP) AS mh
               FROM hv CROSS JOIN (SELECT CAST(unnest(range(16)) AS INTEGER) AS seed)
               GROUP BY doc_id, seed),
      bands AS (SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
                       md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS bh
                FROM sigs GROUP BY doc_id, CAST(seed // 4 AS INTEGER)),
      cands AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                FROM bands x JOIN bands y
                  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      sets AS (SELECT doc_id, list(DISTINCT h) AS arr FROM hv GROUP BY doc_id),
      scored AS (SELECT c.a_id, c.b_id,
                        len(list_intersect(a.arr, b.arr)) AS n_common,
                        len(a.arr) AS a_sz, len(b.arr) AS b_sz
                 FROM cands c JOIN sets a ON a.doc_id = c.a_id
                 JOIN sets b ON b.doc_id = c.b_id),
      pairs AS (SELECT a_id, b_id,
                       ROUND(CAST(n_common AS DOUBLE) / (a_sz + b_sz - n_common), 6) AS jacc
                FROM scored
                WHERE CAST(n_common AS DOUBLE) / (a_sz + b_sz - n_common) >= $threshold)"""

  val minhashLsh: GQuery = GQuery(
    "t_minhash_lsh",
    "minhash(16) + 4-band LSH candidates, verified by exact jaccard",
    (spark, dir) => {
      val d = spread(Catalog.table(spark, dir, "documents"))
      minhashPairs(d, 0.5).orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""
      WITH ${minhashPairsSql("SELECT doc_id, text FROM documents", 0.5)}
      SELECT a_id, b_id, jacc FROM pairs
      ORDER BY a_id, b_id"""))

  /** Corpus-scale variant of [[minhashLsh]]: the signature table is
    * MATERIALIZED to parquet first (an explicit stage boundary, the
    * reference's analog being a stage split at a flight boundary), then
    * the band join + verify run off that table. The single-plan form
    * above feeds the signature aggregate into 4 branches, and per-branch
    * column pruning re-scans the corpus ~4×; here the corpus is scanned
    * exactly ONCE (during the write), after which every join touches only
    * (doc_id, s0..s15, arr). At 100 TB the signature table is ~3 orders
    * smaller than the text — this is the standard production shape.
    * Same oracle as t_minhash_lsh: materialization must not change
    * results. */
  val minhashLshMat: GQuery = GQuery(
    "t_minhash_lsh_mat",
    "minhash LSH off a materialized signature table (one corpus scan)",
    (spark, dir) => {
      val d = spread(Catalog.table(spark, dir, "documents"))
      val matDir = trackedTempDir("graft-mat-") + "/minhash_sig_data"
      minhashSig(d).write.mode("overwrite").parquet(matDir)
      pairsFromSig(spark.read.parquet(matDir), 0.5)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""
      WITH ${minhashPairsSql("SELECT doc_id, text FROM documents", 0.5)}
      SELECT a_id, b_id, jacc FROM pairs
      ORDER BY a_id, b_id"""))

  // ------------------------------------------------------------ simhash
  /** 60-bit SimHash fingerprint: per-token 60-bit hashes vote per bit
    * position (one vote per occurrence ≡ frequency-weighted votes over
    * distinct tokens).
    *
    * Evolution, each step probe-measured: (1) a first cut crossJoined 60
    * bit-rows per token — a 150M-row stream at sf0.1 and 9 s; (2) one
    * explode + ONE groupBy with 60 codegen'd conditional sums — correct
    * scale shape, but the r10/r11 100×-replica reads showed the query
    * GC-BOUND (83 s of gc against a ~100 s wall): the explode still
    * materializes a row per token, and the h60 path allocates three
    * strings per token (md5 hex, substring, conv). (3) now: the native
    * [[graft.functions.SimHash60]] expression — one pass over the
    * document bytes with thread-local primitive state, no explode, no
    * aggregate, no shuffle; the fingerprint is a scan-direct projection.
    * SimHashSpec pins bit-equality against formulation (2). */
  /** (doc_id, simhash) frame — shared by the fingerprint query and the
    * simhash near-dup pairing below. */
  private[queries] def simhashDf(d: DataFrame): DataFrame =
    // row-set equivalence with the legacy explode+groupBy pipeline (and
    // the oracle's unnest CTE): a NULL text produced NO rows there, while
    // the native projection would emit a NULL-fingerprint row — filter so
    // null-text docs drop from the fingerprint frame in both formulations
    d.filter(col("text").isNotNull)
      .select(col("doc_id"), expr("simhash60(text)").as("simhash"))

  /** Formulation (2) above — the explode+groupBy pipeline SimHash60
    * replaced. Kept (test-only) as the differential oracle for
    * SimHashSpec: the native expression must reproduce it bit-for-bit. */
  private[graft] def simhashDfLegacy(d: DataFrame): DataFrame = {
    val votes = (0 until 60).map(b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1L, lit(1L)).otherwise(lit(-1L)))
        .as(s"v$b"))
    val simhashExpr = (0 until 60)
      .map(b => s"IF(v$b > 0, ${1L << b}L, 0L)").mkString(" + ")
    d.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"), h60(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), expr(simhashExpr).as("simhash"))
  }

  /** SQL mirror of [[simhashDf]]: CTE block ending in an `sh` view. */
  private val simhashCteSql = s"""
      th AS (SELECT doc_id, ${h60Sql("tok")} AS h, COUNT(*) AS cnt
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents)
             GROUP BY doc_id, tok),
      votes AS (SELECT doc_id, b,
                       SUM(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS vote
                FROM th CROSS JOIN (SELECT CAST(unnest(range(60)) AS INTEGER) AS b)
                GROUP BY doc_id, b),
      sh AS (SELECT doc_id,
                    CAST(SUM(CASE WHEN vote > 0 THEN 1::BIGINT << b ELSE 0 END)
                         AS BIGINT) AS simhash
             FROM votes GROUP BY doc_id)"""

  val simhash: GQuery = GQuery(
    "t_simhash",
    "per-doc 60-bit simhash fingerprint from token-hash bit votes",
    (spark, dir) =>
      simhashDf(spread(Catalog.table(spark, dir, "documents")))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH $simhashCteSql
      SELECT doc_id, simhash FROM sh
      ORDER BY doc_id"""))

  // ------------------------------------------------------------ simhash near-dup
  /** SimHash near-dup pairing: 60-bit fingerprints blocked into 4 bands
    * of 15 bits — by pigeonhole, any pair within Hamming distance 3
    * agrees on at least one full band, so the band equi-join finds ALL
    * such pairs (exact recall, unlike probabilistic minhash banding) and
    * candidates verify with one bit_count(xor). The scale shape matches
    * t_minhash_lsh: per-row fingerprints, one band self-join whose
    * buckets concentrate on near-identical docs, O(candidates) verify. */
  val simhashNearDup: GQuery = GQuery(
    "t_simhash_neardup",
    "simhash pairs within Hamming<=3 via 4x15-bit band blocking",
    (spark, dir) => {
      val sh = simhashDf(spread(Catalog.table(spark, dir, "documents")))
      // dup-collapse on the EXACT simhash value before the band join —
      // the same discipline as pairsFromSig's signature collapse, and
      // result-identical for the same reason: docs with equal simhash
      // share every band (so intra-group pairs are always candidates,
      // at hamming exactly 0) and contribute identical hamming to every
      // cross pair. On a duplication-heavy corpus the band-bucket
      // quadratic shrinks by the duplication factor squared: the r9
      // probe on the 100× replica measured 500 k docs -> 72,405 distinct
      // simhashes, with the uncollapsed plan spending 300 of its 421 s
      // in a 3.36-BILLION-row candidate distinct (output: 1.04 B genuine
      // pairs — that part is inherent to emitting every pair; this
      // rewrite makes the candidate work scale with DISTINCT fingerprints
      // while the output-sized expansion join stays ∝ result).
      // localCheckpoint (one materialization, three differently-pruned
      // readers), eager per-execution — see pairsFromSig.
      val grouped = sh
        .groupBy(col("simhash"))
        .agg(min(col("doc_id")).as("gid"),
          collect_list(col("doc_id")).as("members"),
          count(lit(1)).as("gn"))
        .localCheckpoint()
      val bands = grouped
        .select(col("gid"), col("simhash"),
          explode(expr("sequence(0, 3)")).as("band"))
        .withColumn("bh", expr("shiftright(simhash, band * 15) & 32767"))
      // ---- interpreted-tail gate (r12 verdict items 5+8) ----
      // The codegen GC pathology needs a LARGE pair expansion; at toy
      // scale the interpreted tail costs +13-17% for nothing. Decide
      // from the data, not a hand tag: (a) zero-cost necessary condition
      // — input bytes (metadata stat only; below 16 MB no corpus can
      // reach a dangerous expansion); (b) when big, measure the EXACT
      // expansion mass from the checkpointed signature table — band-
      // bucket collision mass Σc² (candidate rep-pairs incl. the salted
      // skew that uniform estimates miss; r12: 1.04 B pairs from 500 k
      // sigs) plus intra-group dup mass Σgn² (verbatim-replica regime).
      // Two tiny aggregate jobs over the checkpointed frame — negligible
      // next to any workload that passes (a). Published via session conf
      // for the driver-contract layer's execConfIf (GQuery scaladoc).
      val interpretedTail =
        Catalog.tableBytes(dir, "documents") > (16L << 20) && {
          val bucketMass = bands.groupBy(col("band"), col("bh"))
            .agg(count(lit(1)).as("c"))
            .agg(sum(col("c") * col("c"))).head.getLong(0)
          val dupMass = grouped.agg(sum(col("gn") * col("gn"))).head.getLong(0)
          bucketMass + dupMass > 16L * 1000 * 1000
        }
      spark.conf.set("graft.simhash.interpretedTail", interpretedTail.toString)
      val candReps = bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.gid") < col("y.gid"))
        .select(col("x.gid").as("ga"), col("y.gid").as("gb"),
          col("x.simhash").as("a_sh"), col("y.simhash").as("b_sh"))
        .distinct()
        .withColumn("hamming", expr("cast(bit_count(a_sh ^ b_sh) as int)"))
        .filter(col("hamming") <= 3)
        .select(col("ga"), col("gb"), col("hamming"))
      // intra-group pairs (equal simhash, hamming 0) ride the same two
      // expansion joins via a (gid, gid, 0) diagonal row; the da<db
      // guard on the diagonal emits each member pair once
      val mem = grouped.select(col("gid"), explode(col("members")).as("doc_id"))
      val repPairs = candReps.union(
        grouped.filter(col("gn") >= 2)
          .select(col("gid").as("ga"), col("gid").as("gb"), lit(0).as("hamming")))
      repPairs
        .join(mem.select(col("gid").as("ga"), col("doc_id").as("da")), "ga")
        .join(mem.select(col("gid").as("gb"), col("doc_id").as("db")), "gb")
        .filter(col("ga") =!= col("gb") || col("da") < col("db"))
        .select(least(col("da"), col("db")).as("a_id"),
          greatest(col("da"), col("db")).as("b_id"), col("hamming"))
      // no final orderBy: the result is a pair SET (the driver comparator
      // canonicalizes row order itself), and a global sort of the
      // output-sized frame is the single biggest cost at replica scale —
      // the r9 probe measured the orderBy alone at 214 s of the 100×
      // replica's 331 s (1.04 B pairs through a 32-partition range sort).
      // Nobody range-sorts a billion-pair dedup candidate set at 100 TB.
    },
    Some(s"""
      WITH $simhashCteSql,
      bands AS (SELECT doc_id, simhash, band,
                       (simhash >> (band * 15)) & 32767 AS bh
                FROM sh CROSS JOIN
                  (SELECT CAST(unnest(range(4)) AS INTEGER) AS band)),
      cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                      x.simhash AS a_sh, y.simhash AS b_sh
               FROM bands x JOIN bands y
                 ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
      SELECT a_id, b_id, CAST(bit_count(xor(a_sh, b_sh)) AS INTEGER) AS hamming
      FROM cand
      WHERE bit_count(xor(a_sh, b_sh)) <= 3
      ORDER BY a_id, b_id"""),
    // whole-stage codegen is the WRONG regime for this plan's tail: the
    // two member-expansion joins fuse into one nested codegen loop whose
    // shouldStop() check sits only at the outer rep-pair scan, so every
    // input row appends its ENTIRE gn^2 expansion (10k+ rows on a
    // duplication-heavy corpus) into BufferedRowIterator's LinkedList —
    // each one an UnsafeRow.copy() (r12 JFR on the salted 100x replica:
    // ~all allocation in copy()+linkLast, 6M live rows at collection
    // time, 1-5 s young pauses, 82% of task time in GC). The interpreted
    // iterator path streams matches through reused buffers instead:
    // expansion stage 174.6 s -> 34.2 s (5.1x) on the same workload,
    // bit-identical output. The fingerprint/collapse stage is unaffected
    // — it executes eagerly at build time (localCheckpoint) under the
    // session's codegen'd defaults.
    //
    // SIZE-GATED (r12 item 8): the body measures the expansion mass from
    // the data (see "interpreted-tail gate" above) and the override only
    // applies when the measured regime is the dangerous one — toy-scale
    // runs keep whole-stage codegen and its ~15% edge.
    execConf = Map("spark.sql.codegen.wholeStage" -> "false"),
    execConfIf = Some(s =>
      s.conf.getOption("graft.simhash.interpretedTail").contains("true")))

  // ------------------------------------------------------------ fingerprint
  /** Document fingerprinting: k-min sketch over rolling character
    * 16-grams (hash every offset, keep the 4 smallest per doc, concat).
    * Entirely per-row array expressions — no shuffle anywhere. (A first cut exploded grams into a collect_set groupBy
    * — a 14M-row shuffle at sf0.1 and 7.5 s.) */
  val fingerprint: GQuery = GQuery(
    "t_fingerprint",
    "rolling 16-char-gram k-min-sketch fingerprint per doc",
    (spark, dir) => {
      val d = spread(Catalog.table(spark, dir, "documents"))
      d.select(col("doc_id"),
          expr("array_join(slice(array_sort(array_distinct(" +
            "transform(sequence(1, greatest(length(text) - 15, 1), 4)," +
            " i -> md5(cast(substring(text, i, 16) as binary))))), 1, 4), '|')")
            .as("fp"))
      // no output orderBy — scan-direct per-doc features; see
      // t_token_count for the range-sampling double-execution measurement
    },
    Some("""
      WITH grams AS (
        SELECT doc_id, md5(substr(text, CAST(i AS INTEGER), 16)) AS gh
        FROM documents
        CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(length(text) - 14, 2), 4)) AS i)
      ),
      ranked AS (
        SELECT doc_id, gh,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY gh) AS rn
        FROM (SELECT DISTINCT doc_id, gh FROM grams)
      )
      SELECT doc_id, string_agg(gh, '|' ORDER BY gh) AS fp
      FROM ranked WHERE rn <= 4
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** The terminal training-data op: quality filter -> exact dedup ->
    * LSH near-dup removal, materializing the surviving corpus (here
    * summarized per source; swap the final agg for a `.write.parquet` in
    * production). Every stage is the scale-shaped form proven above —
    * scan-parallel filters, one hash shuffle for exact dedup, banded LSH
    * with candidate-bounded verification — composed into one plan that
    * Catalyst optimizes end to end. */
  val cleanCorpus: GQuery = GQuery(
    "p_clean_corpus",
    "pipeline: quality filter -> exact dedup -> near-dup removal -> stats",
    (spark, dir) => {
      val stops = "'the','a','of','and','to','in','is','on','for','with'"
      val d = spread(Catalog.table(spark, dir, "documents"))
      val q = d
        .withColumn("tk", toks(col("text")))
        .withColumn("n_tok", size(col("tk")))
        .withColumn("n_stop", size(expr(s"filter(tk, x -> x IN ($stops))")))
        .filter(col("n_tok") >= 10 &&
          col("n_stop").cast("double") / col("n_tok") >= 0.02)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      // exact dedup as groupBy-digest + keeper semi-join (NOT a window):
      // the agg shuffles only (digest, min doc_id) pairs — map-side
      // partial min — and the semi-join is an unsorted hash join, so no
      // full-row sort ever happens; at 100 TB the window form would carry
      // every row through a sort on the digest.
      val keepers = q
        .groupBy(md5(col("text").cast("binary")).as("__digest"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val exact = q.join(keepers, Seq("doc_id"), "left_semi")
      val losers = minhashPairs(exact.select(col("doc_id"), col("text")), 0.5)
        .select(col("b_id").as("doc_id")).distinct()
      exact.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_chars"))
        .orderBy(col("source"))
    },
    Some(cleanCorpusSql))

  private lazy val cleanCorpusSql = s"""
      WITH q AS (
        SELECT doc_id, text, source, n_chars FROM documents
        WHERE len(string_split(text, ' ')) >= 10
          AND CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ('the','a','of','and','to','in','is','on','for','with')))
              AS DOUBLE) / len(string_split(text, ' ')) >= 0.02),
      exact AS (
        SELECT doc_id, text, source, n_chars FROM (
          SELECT q.*, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM q)
        WHERE doc_id = keeper),
      ${minhashPairsSql("SELECT doc_id, text FROM exact", 0.5)},
      losers AS (SELECT DISTINCT b_id AS doc_id FROM pairs)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS tot_chars
      FROM exact
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)
      GROUP BY source
      ORDER BY source"""

  /** Staged form of [[cleanCorpus]] — the production shape at 100 TB:
    * quality-filtered, exact-deduped SURVIVORS are materialized to
    * parquet once (an explicit stage boundary, like t_minhash_lsh_mat's),
    * then the expensive near-dup stage and the final decision read only
    * the materialized table. The single-plan form recomputes the
    * filter+tokenize+digest chain in every branch Catalyst can't merge
    * (~6 corpus scans); here the corpus is scanned once, the survivor
    * table ~once per downstream branch — and a crashed near-dup stage
    * restarts from the checkpoint instead of the raw corpus. Same oracle:
    * staging must not change results. */
  val cleanCorpusMat: GQuery = GQuery(
    "p_clean_corpus_mat",
    "cleaning pipeline off materialized exact-dedup survivors (staged form)",
    (spark, dir) => {
      val stops = "'the','a','of','and','to','in','is','on','for','with'"
      val d = spread(Catalog.table(spark, dir, "documents"))
      val q = d
        .withColumn("tk", toks(col("text")))
        .withColumn("n_tok", size(col("tk")))
        .withColumn("n_stop", size(expr(s"filter(tk, x -> x IN ($stops))")))
        .filter(col("n_tok") >= 10 &&
          col("n_stop").cast("double") / col("n_tok") >= 0.02)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val keepers = q
        .groupBy(md5(col("text").cast("binary")).as("__digest"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val stage = trackedTempDir("graft-clean-") + "/survivors"
      q.join(keepers, Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(stage)
      val exact = spark.read.parquet(stage)
      val losers = minhashPairs(exact.select(col("doc_id"), col("text")), 0.5)
        .select(col("b_id").as("doc_id")).distinct()
      exact.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_chars"))
        .orderBy(col("source"))
    },
    Some(cleanCorpusSql))

  // ------------------------------------------------------------ sampling
  /** Deterministic stratified sampling: per-source keep-rates applied via
    * a content-independent hash of doc_id (md5 — identical in any engine,
    * any run, any partitioning; `rand()` would not be reproducible across
    * a re-run or an engine swap, which breaks training-data lineage).
    * Pure per-row filter: scan-parallel at any scale, and the sample of a
    * 100 TB corpus is decided without a single shuffle. */
  val stratifiedSample: GQuery = GQuery(
    "t_sample_stratified",
    "per-source deterministic hash sampling (src0 50%, src1 80%, else 25%)",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val rate = when(col("source") === "src0", 500)
        .when(col("source") === "src1", 800).otherwise(250)
      d.filter(pmod(h60(col("doc_id").cast("string")), lit(1000)) < rate)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("tot_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("source"))
    },
    Some(s"""
      SELECT source, COUNT(*) AS n_sampled,
             CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM documents
      WHERE ${h60Sql("CAST(doc_id AS VARCHAR)")} % 1000 <
            CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 800 ELSE 250 END
      GROUP BY source
      ORDER BY source"""))

  /** Training-mix balancing: down-sample over-represented strata so every
    * stratum contributes an (approximately) equal share — here strata are
    * document-length buckets, the curriculum-mix axis that is genuinely
    * skewed in this corpus. Keep rate per stratum is derived IN-PLAN from
    * corpus counts as an integer permille threshold
    * (floor(1000·min_count/count) — floor pinned explicitly: DuckDB's
    * double→BIGINT cast ROUNDS while Spark's truncates), then applied via
    * the same content-independent md5 gate as [[stratifiedSample]], so
    * the mix is reproducible across engines, runs, and partitionings.
    * Scale: one count aggregate (stratum-sized), broadcast thresholds,
    * one scan-parallel filter — the 100 TB mix costs one pass. */
  val mixtureBalance: GQuery = GQuery(
    "t_mixture_balance",
    "equalize length-bucket contributions via derived permille hash thresholds",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val bdoc = d.select(col("doc_id"),
        least(expr("n_chars div 400"), lit(4L)).as("b"))
      val counts = bdoc.groupBy(col("b")).agg(count(lit(1)).as("c"))
      val thr = counts
        .crossJoin(broadcast(counts.agg(min(col("c")).as("mc"))))
        .select(col("b"), col("c"),
          floor(lit(1000.0d) * col("mc") / col("c")).cast(LongType).as("t"))
      bdoc.join(broadcast(thr), "b")
        .filter(pmod(h60(col("doc_id").cast("string")), lit(1000)) < col("t"))
        .groupBy(col("b"), col("c"), col("t"))
        .agg(count(lit(1)).as("n_kept"))
        .select(col("b"), col("n_kept"), col("c").as("n_total"),
          col("t").as("threshold"))
        .orderBy(col("b"))
    },
    Some(s"""
      WITH bdoc AS (SELECT doc_id, LEAST(n_chars // 400, 4) AS b FROM documents),
      counts AS (SELECT b, COUNT(*) AS c FROM bdoc GROUP BY b),
      thr AS (SELECT b, c,
                     CAST(FLOOR(1000.0 * (SELECT MIN(c) FROM counts) / c) AS BIGINT) AS t
              FROM counts),
      kept AS (SELECT d.b FROM bdoc d JOIN thr ON thr.b = d.b
               WHERE ${h60Sql("CAST(d.doc_id AS VARCHAR)")} % 1000 < thr.t)
      SELECT k.b, COUNT(*) AS n_kept, t.c AS n_total, t.t AS threshold
      FROM kept k JOIN thr t ON t.b = k.b
      GROUP BY k.b, t.c, t.t
      ORDER BY k.b"""))

  // ------------------------------------------------------------ contamination
  /** Benchmark-contamination check: flag corpus documents sharing any
    * word 5-gram with a benchmark set (here: doc_id < 20 stands in for
    * the eval set). The benchmark side is tiny by construction, so its
    * hashed gram set BROADCASTS and the corpus side never shuffles its
    * text — per-row gram explosion, hash-join against the broadcast, one
    * count aggregate keyed by doc_id. This is the shape that holds at
    * 100 TB: cost is one corpus scan regardless of corpus size. */
  val contamination: GQuery = GQuery(
    "t_contamination",
    "corpus docs sharing a word 5-gram with the benchmark set (doc_id<20)",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      // r13: 5-gram hashes via the native one-pass kernel (NgramHv60 —
      // value-identical to the old CASE-guarded transform/concat_ws/md5
      // chain, empty array below 5 tokens, pinned in NgramHvSpec)
      def grams(df: DataFrame): DataFrame = df
        .select(col("doc_id"), explode(expr("ngram_hv60(text, 5)")).as("g"))
        .distinct()
      val bench = grams(d.filter(col("doc_id") < 20))
        .select(col("doc_id").as("bench_id"), col("g"))
      grams(d.filter(col("doc_id") >= 20))
        .join(broadcast(bench), "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_shared_grams"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH grams AS (
        SELECT doc_id, g
        FROM (SELECT doc_id,
                     unnest([${h60Sql("array_to_string(tk[i:i+4], ' ')")}
                             FOR i IN range(1, greatest(len(tk) - 3, 1))]) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents))
        GROUP BY doc_id, g),
      bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE bench_id < 20)
      SELECT c.doc_id,
             COUNT(DISTINCT c.g) AS n_shared_grams,
             COUNT(DISTINCT bench_id) AS n_bench_docs
      FROM grams c JOIN bench ON c.g = bench.g
      WHERE c.doc_id >= 20
      GROUP BY c.doc_id
      ORDER BY c.doc_id"""))

  // ------------------------------------------------------------ normalize
  /** Text normalization (lowercase, strip non-alphanumerics, collapse
    * whitespace) with a content digest of the result — the canonical form
    * exact dedup should key on in a real ingest. Pure per-row regex
    * pipeline: scan-parallel, no shuffle anywhere. */
  val normalize: GQuery = GQuery(
    "t_normalize",
    "per-doc normalized text digest + length",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      d.select(col("doc_id"), md5(norm.cast("binary")).as("norm_md5"),
          length(norm).as("norm_len"))
      // no output orderBy — scan-direct per-doc features; see
      // t_token_count for the range-sampling double-execution measurement
    },
    Some("""
      SELECT doc_id, md5(norm) AS norm_md5,
             CAST(length(norm) AS INTEGER) AS norm_len
      FROM (SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
            FROM documents)
      ORDER BY doc_id"""))

  // ------------------------------------------------------------ repetition
  /** Intra-document repetition (the Gopher-rule quality signal): share of
    * duplicate word 3-grams per doc, reported in exact parts-per-million
    * (integer division — a rounded double ratio can land exactly on a
    * .5e-6 tie for power-of-two gram counts, where Spark HALF_UPs and
    * DuckDB half-evens; ppm integers cannot disagree). Pure per-row array
    * math: scan-parallel, no shuffle anywhere. */
  val repetition: GQuery = GQuery(
    "t_repetition",
    "per-doc duplicate-3-gram ratio (ppm) + Gopher-style repetition flag",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      d.withColumn("tk", toks(col("text")))
        .withColumn("grams", expr(
          "CASE WHEN size(tk) >= 3 THEN transform(sequence(1, size(tk) - 2)," +
            " i -> concat_ws(' ', slice(tk, i, 3)))" +
            " ELSE cast(array() as array<string>) END"))
        .select(col("doc_id"),
          size(col("grams")).cast("long").as("n_grams"),
          size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
        .withColumn("rep_ppm", when(col("n_grams") === 0L, 0L)
          .otherwise(expr("((n_grams - n_distinct) * 1000000) div n_grams")))
        .withColumn("flagged", col("rep_ppm") > 100000L)
      // no output orderBy — scan-direct per-doc features; see
      // t_token_count for the range-sampling double-execution measurement
    },
    Some("""
      SELECT doc_id, n_grams, n_distinct,
             CASE WHEN n_grams = 0 THEN 0
                  ELSE (n_grams - n_distinct) * 1000000 // n_grams
             END AS rep_ppm,
             (CASE WHEN n_grams = 0 THEN 0
                   ELSE (n_grams - n_distinct) * 1000000 // n_grams
              END) > 100000 AS flagged
      FROM (SELECT doc_id,
                   CAST(len(grams) AS BIGINT) AS n_grams,
                   CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
            FROM (SELECT doc_id,
                         [array_to_string(tk[i:i+2], ' ')
                          FOR i IN range(1, greatest(len(tk) - 1, 1))] AS grams
                  FROM (SELECT doc_id, string_split(text, ' ') AS tk
                        FROM documents)))
      ORDER BY doc_id"""))

  // ------------------------------------------------------------ packing
  /** Context-window packing (the concatenate-and-slice scheme LLM
    * pretraining uses): per source, documents concatenate in doc_id order
    * and slice into 2048-token windows; a doc's window is where its first
    * token lands. Pure integer math over ONE running-sum window keyed by
    * source — a single hash shuffle at any corpus size, and the window
    * state is one long per partition. Reports per-source packing stats
    * incl. how many docs straddle a window boundary (the attention-mask
    * complexity a packer trades against padding waste). */
  val packSequences: GQuery = GQuery(
    "t_pack_sequences",
    "2048-token concatenate-and-slice packing stats per source",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 2048L
      val d = Catalog.table(spark, dir, "documents")
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.select(col("source"), col("doc_id"),
          size(toks(col("text"))).cast("long").as("n_tok"))
        .withColumn("start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("first_win", expr(s"start div $budget"))
        .withColumn("last_win", expr(s"(start + n_tok - 1) div $budget"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tot_tokens"),
          expr(s"(sum(n_tok) + ${budget - 1}) div $budget").as("n_windows"),
          sum(when(col("last_win") =!= col("first_win"), 1L).otherwise(0L))
            .as("n_straddling"))
        .orderBy(col("source"))
    },
    Some("""
      WITH packed AS (
        SELECT source, n_tok,
               COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        FROM (SELECT source, doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents))
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS tot_tokens,
             CAST((SUM(n_tok) + 2047) // 2048 AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN (start + n_tok - 1) // 2048 <> start // 2048
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
      FROM packed
      GROUP BY source
      ORDER BY source"""))

  /** Sliding-window chunking with stride — the OTHER long-document
    * scheme next to [[packSequences]]'s concatenate-and-slice: each doc
    * is cut into W=32-token windows advancing by S=24 (overlap W−S keeps
    * boundary context, the BERT/retrieval-chunking recipe; packing
    * instead concatenates docs densely for causal LM). All chunk
    * accounting is closed-form integer math per row — n_chunks =
    * 1 + ⌈(n_tok−W)/S⌉, duplicated = (n_chunks−1)(W−S), pad fills the
    * last window — so the audit is one embarrassingly-parallel scan plus
    * a per-source aggregate: zero shuffles of text at any corpus size,
    * and the duplicated/pad overhead ratios the scheme trades against
    * packing fall out per source. */
  val slidingChunks: GQuery = GQuery(
    "t_sliding_chunks",
    "stride-overlap window chunking (W=32,S=24): per-source chunk/overlap stats",
    (spark, dir) => {
      val (w, s) = (32L, 24L)
      Catalog.table(spark, dir, "documents")
        .select(col("source"), size(toks(col("text"))).cast(LongType).as("n_tok"))
        .withColumn("n_chunks",
          when(col("n_tok") <= w, lit(1L))
            .otherwise(lit(1L) + expr(s"(n_tok - $w + $s - 1) div $s")))
        .withColumn("pad", (col("n_chunks") - 1L) * s + w - col("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tot_tok"),
          sum(col("n_chunks")).as("tot_chunks"),
          sum((col("n_chunks") - 1L) * (w - s)).as("tot_dup"),
          sum(col("pad")).as("tot_pad"),
          round(sum((col("n_chunks") - 1L) * (w - s)).cast("double") /
            sum(col("n_tok")).cast("double"), 6).as("dup_ratio"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (
        SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      c AS (
        SELECT source, n_tok,
               CASE WHEN n_tok <= 32 THEN 1
                    ELSE 1 + (n_tok - 32 + 23) // 24 END AS n_chunks
        FROM d)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
             CAST(SUM(n_chunks) AS BIGINT) AS tot_chunks,
             CAST(SUM((n_chunks - 1) * 8) AS BIGINT) AS tot_dup,
             CAST(SUM((n_chunks - 1) * 24 + 32 - n_tok) AS BIGINT) AS tot_pad,
             ROUND(CAST(SUM((n_chunks - 1) * 8) AS DOUBLE) /
                   CAST(SUM(n_tok) AS DOUBLE), 6) AS dup_ratio
      FROM c GROUP BY source ORDER BY source"""))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): per doc, hash every token 3-gram, slide a window
    * of w=4 hashes, keep each window's minimum (rightmost on ties — the
    * paper's robust-winnowing rule), and dedupe — the selected (pos, h)
    * set GUARANTEES any shared substring of ≥ w+k−1 tokens leaves at
    * least one common fingerprint, at expected density 2/(w+1). Distinct
    * from [[fingerprint]] (k-min sketch: global doc signature, no
    * positional guarantee); winnowing is the plagiarism/near-copy
    * LOCATOR.
    *
    * Both engines compute the identical list formula per row (the window
    * select is array arithmetic inside one projection — no window
    * functions, no shuffle of text), so the whole fingerprint pass is
    * embarrassingly parallel at any corpus size; only the tiny
    * (source, h, doc) fingerprint triples shuffle for the
    * cross-doc-sharing count. */
  val winnow: GQuery = GQuery(
    "t_winnow",
    "MOSS winnowing (k=3,w=4): per-source fingerprint density + cross-doc sharing",
    (spark, dir) => {
      // r13: the ordered 3-gram hash array comes from the native one-pass
      // kernel (NgramHv60 — same values, same positional order as the old
      // per-gram concat_ws/md5-hex→conv transform; pinned in NgramHvSpec).
      // |hs| = |tk| - 2 for winnowable docs, so the w+k-1 shortest-doc
      // filter (size(tk) >= 6) becomes size(hs) >= 4.
      //
      // r14: the winnow summary comes from the struct kernel (WinnowHv):
      // n_fp ≡ size(winnow_fp(hs,4)) and hv ≡ the DISTINCT fingerprint
      // hashes (pinned against the winnow_fp pipeline in NgramHvSpec).
      // The sharing branch then explodes doc-deduped LONGS straight into
      // the (source, h) partial aggregate — the per-fingerprint
      // "<h>:<pos>" strings, the interpreted transform/split projection
      // and the row-level DISTINCT exchange of the r13 shape are gone
      // (guide §2.3/§2.4, §4). The per-doc stats table is checkpointed so
      // the text scan + kernels run ONCE for both consumers instead of
      // once per branch (guide §3.3 materialize shared subtrees — same
      // pattern as the minhash signature tables).
      val d = Catalog.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr("ngram_hv60(text, 3)").as("hs"))
        .filter(size(col("hs")) >= 4) // ≡ size(tk) >= 6: shortest winnowable
        .select(col("doc_id"), col("source"),
          size(col("hs")).cast("long").as("n_grams"),
          expr("winnow_hv(hs, 4)").as("w"))
        .select(col("doc_id"), col("source"), col("n_grams"),
          col("w.n_fp").cast("long").as("n_fp"), col("w.hv").as("hv"))
        .localCheckpoint()
      val perDoc = d.select(col("doc_id"), col("source"),
        col("n_grams"), col("n_fp"))
      val shared = d
        .select(col("source"), explode(col("hv")).as("h")) // doc-distinct h
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .groupBy(col("source")).agg(count(lit(1)).as("n_shared_h"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("tot_grams"),
          sum(col("n_fp")).as("tot_fp"),
          round(sum(col("n_fp")).cast("double") /
            sum(col("n_grams")).cast("double"), 6).as("density"))
        .join(shared, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("tot_grams"), col("tot_fp"),
          col("density"), coalesce(col("n_shared_h"), lit(0L)).as("n_shared_h"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, source, string_split(text, ' ') AS tk
        FROM documents),
      hashed AS (
        SELECT doc_id, source,
               list_transform(range(0, len(tk) - 2), i ->
                 ('0x' || substr(md5(tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]),
                  1, 15))::BIGINT) AS hs
        FROM base WHERE len(tk) >= 6),
      fp AS (
        SELECT doc_id, source, len(hs) AS n_grams,
               list_distinct(list_transform(range(0, len(hs) - 3), j ->
                 CAST(list_min(hs[j+1:j+4]) AS VARCHAR) || ':' ||
                 CAST(j + 4 - list_position(list_reverse(hs[j+1:j+4]),
                        list_min(hs[j+1:j+4])) AS VARCHAR))) AS fps
        FROM hashed),
      per_doc AS (
        SELECT source, doc_id, n_grams, len(fps) AS n_fp FROM fp),
      triples AS (
        SELECT DISTINCT source, doc_id, split_part(f, ':', 1) AS h
        FROM fp, unnest(fps) AS t(f)),
      shared AS (
        SELECT source, COUNT(*) AS n_shared_h
        FROM (SELECT source, h FROM triples GROUP BY source, h
              HAVING COUNT(*) >= 2)
        GROUP BY source)
      SELECT p.source, COUNT(*) AS n_docs,
             CAST(SUM(n_grams) AS BIGINT) AS tot_grams,
             CAST(SUM(n_fp) AS BIGINT) AS tot_fp,
             ROUND(CAST(SUM(n_fp) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE), 6)
               AS density,
             COALESCE(ANY_VALUE(s.n_shared_h), 0) AS n_shared_h
      FROM per_doc p LEFT JOIN shared s ON p.source = s.source
      GROUP BY p.source
      ORDER BY p.source"""))

  /** Corpus vocabulary statistics: global top-20 tokens by frequency —
    * explode + one count shuffle + top-k (map-side partial counts make
    * the shuffle proportional to |vocab| x partitions, not corpus size). */
  val topTokens: GQuery = GQuery(
    "t_top_tokens",
    "global top-20 token frequencies",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      d.select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },
    Some("""
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE length(tok) > 0
      GROUP BY tok
      ORDER BY n DESC, tok
      LIMIT 20"""))

  /** Chunk-level (sub-document) duplication audit — the line/paragraph
    * dedup step of CCNet/RefinedWeb-style pipelines, at chunk granularity:
    * split each document into non-overlapping 20-token chunks, hash each
    * chunk, and surface chunks shared by more than one document. Scale
    * shape: explode to ~rows x (len/20) chunk hashes (32-byte md5 each,
    * NOT the chunk text), then ONE shuffle keyed by chunk hash with
    * map-side partial counts — at 100 TB the shuffled payload is the hash
    * space, orders of magnitude below the corpus. */
  val chunkDedup: GQuery = GQuery(
    "t_chunk_dedup",
    "duplicated 20-token chunks across documents (sub-doc dedup)",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      spread(d)
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .filter(size(col("l")) >= 20)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, CAST(floor(size(l) / 20) AS INT) - 1)," +
            " c -> md5(concat_ws(' ', slice(l, c * 20 + 1, 20))))")).as("chunk_hash"))
        .groupBy(col("chunk_hash"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("chunk_hash"))
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
      ), chunks AS (
        SELECT doc_id,
               md5(array_to_string(l[(c * 20 + 1):(c * 20 + 20)], ' ')) AS chunk_hash
        FROM toks,
             LATERAL (SELECT unnest(range(CAST(floor(len(l) / 20) AS BIGINT))) AS c) g
        WHERE len(l) >= 20
      )
      SELECT chunk_hash, COUNT(*) AS n_occurrences,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM chunks
      GROUP BY chunk_hash
      HAVING COUNT(DISTINCT doc_id) > 1
      ORDER BY n_docs DESC, chunk_hash
      LIMIT 20"""))

  /** Memorization / verbatim-repetition audit (Carlini et al., "Quantifying
    * Memorization", ICLR'23 territory): the most-repeated sliding 8-grams
    * across the corpus with their doc spread — the statistic that flags
    * text an LM will reproduce verbatim. Scale shape: the count phase
    * shuffles 8-byte 60-bit hashes (map-side partials), never the n-gram
    * text; only the 20 winning hashes join back (broadcast) against a
    * second scan to recover a representative string, so the text payload
    * leaving any executor is 20 rows. (At 100 TB the 60-bit space makes
    * occasional collisions possible — a collided pair would merge counts;
    * the recover step's min() keeps the output deterministic either way.) */
  val dupNgrams: GQuery = GQuery(
    "t_dup_ngrams",
    "top-20 most-repeated sliding 8-grams across documents (memorization audit)",
    (spark, dir) => {
      val d = spread(Catalog.table(spark, dir, "documents"))
      // r13: the counting phase needs only the gram HASHES — the native
      // one-pass kernel (NgramHv60, value-identical to the legacy
      // pipeline, pinned in NgramHvSpec) replaces the interpreted
      // transform/slice/array_join + md5-hex→conv chain there.
      val top = d
        .select(col("doc_id"), explode(expr("ngram_hv60(text, 8)")).as("h"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_occurrences").desc, col("h"))
        .limit(20)
      // r14: the recovery probe no longer materializes every gram STRING —
      // the second scan explodes the positional hashes (posexplode of the
      // same kernel), broadcast-joins the 20 winners, and only the
      // SURVIVING occurrences slice their gram text back out of the raw
      // document (gram at 0-based token index j ≡ tokens j+1..j+8 — the
      // byte-slice identity NgramHvSpec pins). The interpreted
      // split/slice/array_join now runs on ~hundreds of winner rows, not
      // every gram in the corpus (guide §4: keep opaque work off the hot
      // path; §2.3: decide with hashes, recover payloads late).
      val ng = d
        .select(col("text"), posexplode(expr("ngram_hv60(text, 8)")).as(Seq("j", "h")))
      ng.join(broadcast(top), "h")
        .select(col("h"), col("n_occurrences"), col("n_docs"),
          expr("array_join(slice(split(text, ' '), j + 1, 8), ' ')").as("ng"))
        .groupBy(col("h"), col("n_occurrences"), col("n_docs"))
        .agg(min(col("ng")).as("ngram"))
        .select(col("ngram"), col("n_docs"), col("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("ngram"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
                 WHERE len(string_split(text, ' ')) >= 8),
      ng AS (SELECT doc_id, ng, ${h60Sql("ng")} AS h
             FROM (SELECT doc_id, array_to_string(tk[g.i:g.i + 7], ' ') AS ng
                   FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk) - 7)) AS i) g) s),
      top AS (SELECT h, COUNT(*) AS n_occurrences,
                     CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM ng GROUP BY h
              HAVING COUNT(DISTINCT doc_id) >= 2
              ORDER BY n_occurrences DESC, h
              LIMIT 20)
      SELECT MIN(ng.ng) AS ngram, ANY_VALUE(top.n_docs) AS n_docs,
             ANY_VALUE(top.n_occurrences) AS n_occurrences
      FROM ng JOIN top USING (h)
      GROUP BY ng.h
      ORDER BY n_occurrences DESC, ngram"""))

  /** Exact-substring duplication audit (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the suffix-array
    * substring-dedup result, re-expressed as distributed dataflow): for
    * every document pair, the LONGEST run of tokens shared verbatim,
    * plus how many distinct rare 8-grams they share at all (a
    * symmetric statistic, stable under the pair-id orientation). Where
    * [[dupNgrams]] counts individual repeated grams, this finds the
    * maximal contiguous duplicated SPANS — the thing substring dedup
    * actually cuts.
    *
    * Distributed shape (no suffix array): (1) every token position emits
    * its sliding 8-gram hash; (2) rare-gram anchoring — grams shared by
    * 2..20 docs — discards boilerplate grams whose bucket pair-count
    * grows quadratically while true long dups stay anchored (the same
    * bounded-bucket principle as the LSH family); (3) matching positions
    * join into (a, b, ia, ib) anchors; (4) a run of L consecutive shared
    * grams lies on ONE diagonal d = ia - ib, so per (a, b, d) the
    * classic islands trick (ia − row_number over ia) labels each
    * contiguous run, whose gram count R covers R+7 tokens. Work is
    * ∝ matching anchor pairs (bucket-bounded), windows partition on
    * (a, b, d) — never a corpus-global sort. */
  val substrRuns: GQuery = GQuery(
    "t_substr_runs",
    "longest verbatim shared token run per doc pair (rare 8-gram anchors, diagonal islands)",
    // Exact-dup collapse FIRST (dedup-before-near-dup, as the minhash and
    // semdedup families): identical texts form a group; anchors, diagonals
    // and runs are computed once between group REPRESENTATIVES, and member
    // pairs expand at the end. Output-equal to the naive per-doc form —
    // the DuckDB oracle deliberately stays the naive definition, so the
    // gate PROVES the collapse equivalence. Intra-group pairs (identical
    // texts) reduce to per-rep consecutive-rare-position islands: any
    // off-diagonal self-match run lies inside a d=0 consecutive stretch,
    // so the d=0 maximum dominates. Gram rarity still counts member DOCS
    // (Σ gn over distinct (gram, group)), matching the naive filter.
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d0 = spread(Catalog.table(spark, dir, "documents"))
        .filter(size(split(col("text"), " ")) >= 8)
        .select(col("doc_id"), col("text"),
          md5(col("text").cast("binary")).as("tkey"))
      // two-phase digest grouping: only (tkey, doc_id) shuffles — the
      // full texts never move (a text-partitioned window was measured 4×
      // slower at sf0.1 purely from shuffling document bodies)
      val groups = d0.groupBy(col("tkey"))
        .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("gn"))
      val mem = d0.select(col("doc_id"), col("tkey"))
        .join(groups.select(col("tkey"), col("gid")), "tkey")
        .select(col("doc_id"), col("gid"))
      // r13: positional 8-gram hashes via the native one-pass kernel
      // (graft.functions.NgramHv60) — same values and order as the
      // interpreted transform/slice/array_join + md5-hex→conv pipeline
      // it replaces (pinned in NgramHvSpec), at ~zero allocations/gram.
      // This stage carried 21.5 s of the query's 21.5 s sf0.1 task time.
      val g = d0.join(groups.select(col("gid"), col("gn")),
          col("doc_id") === col("gid"))
        .select(col("gid"), col("gn"),
          posexplode(expr("ngram_hv60(text, 8)")).as(Seq("p0", "h")))
        .select(col("gid"), col("gn"), (col("p0") + 1).as("pos"), col("h"))
      val rare = g.select(col("h"), col("gid"), col("gn")).distinct()
        .groupBy(col("h")).agg(sum(col("gn")).as("nd"))
        .filter(col("nd").between(2, 20)).select(col("h"))
      val gr = g.join(rare, "h").select(col("gid"), col("pos"), col("h"))
        .localCheckpoint()
      val isl = gr.as("x").join(gr.as("y"),
          col("x.h") === col("y.h") && col("x.gid") < col("y.gid"))
        .select(col("x.gid").as("ga"), col("y.gid").as("gb"), col("x.h").as("h"),
          col("x.pos").as("ia"), (col("x.pos") - col("y.pos")).as("d"))
        .withColumn("isl", col("ia") - row_number().over(
          Window.partitionBy(col("ga"), col("gb"), col("d"))
            .orderBy(col("ia"))))
      val interStats = isl
        .groupBy(col("ga"), col("gb"), col("d"), col("isl"))
        .agg(count(lit(1)).as("ng_run"))
        .groupBy(col("ga"), col("gb"))
        .agg((max(col("ng_run")) + 7L).as("max_run_tokens"))
        .join(isl.groupBy(col("ga"), col("gb"))
          .agg(countDistinct(col("h")).as("n_shared_grams")),
          Seq("ga", "gb"))
      val selfIsl = gr.withColumn("isl", col("pos") - row_number().over(
        Window.partitionBy(col("gid")).orderBy(col("pos"))))
      val selfStats = selfIsl.groupBy(col("gid"), col("isl"))
        .agg(count(lit(1)).as("run"))
        .groupBy(col("gid")).agg((max(col("run")) + 7L).as("max_run_tokens"))
        .join(gr.groupBy(col("gid"))
          .agg(countDistinct(col("h")).as("n_shared_grams")), "gid")
      val interOut = interStats
        .join(mem.select(col("gid").as("ga"), col("doc_id").as("da")), "ga")
        .join(mem.select(col("gid").as("gb"), col("doc_id").as("db")), "gb")
        .select(least(col("da"), col("db")).as("a_id"),
          greatest(col("da"), col("db")).as("b_id"),
          col("max_run_tokens"), col("n_shared_grams"))
      val intraOut = selfStats
        .join(mem.select(col("gid"), col("doc_id").as("da")), "gid")
        .join(mem.select(col("gid"), col("doc_id").as("db")), "gid")
        .filter(col("da") < col("db"))
        .select(col("da").as("a_id"), col("db").as("b_id"),
          col("max_run_tokens"), col("n_shared_grams"))
      interOut.union(intraOut)
        .filter(col("max_run_tokens") >= 15)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
                 WHERE len(string_split(text, ' ')) >= 8),
      g AS MATERIALIZED (
        SELECT doc_id, pos, ${h60Sql("ng")} AS h
        FROM (SELECT doc_id, g.i AS pos,
                     array_to_string(tk[g.i:g.i + 7], ' ') AS ng
              FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk) - 7))
                               AS i) g) s),
      rare AS (SELECT h FROM g GROUP BY h
               HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 20),
      gr AS MATERIALIZED (SELECT g.* FROM g JOIN rare USING (h)),
      isl AS MATERIALIZED (
        SELECT a_id, b_id, h, ia, d,
               ia - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, d
                                       ORDER BY ia) AS isl
        FROM (SELECT x.doc_id AS a_id, y.doc_id AS b_id, x.h AS h,
                     x.pos AS ia, x.pos - y.pos AS d
              FROM gr x JOIN gr y ON x.h = y.h AND x.doc_id < y.doc_id)),
      runs AS (SELECT a_id, b_id, MAX(ng_run) + 7 AS max_run_tokens
               FROM (SELECT a_id, b_id, COUNT(*) AS ng_run
                     FROM isl GROUP BY a_id, b_id, d, isl)
               GROUP BY a_id, b_id),
      sh AS (SELECT a_id, b_id,
                    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_shared_grams
             FROM isl GROUP BY a_id, b_id)
      SELECT runs.a_id, runs.b_id, max_run_tokens, n_shared_grams
      FROM runs JOIN sh USING (a_id, b_id)
      WHERE max_run_tokens >= 15
      ORDER BY a_id, b_id"""))

  /** Deterministic train/val/test split — the last step before a corpus
    * ships to training. Assignment is a pure hash of doc_id (stable across
    * runs, engines, partitionings — re-running the pipeline NEVER moves a
    * doc between splits, the property that keeps eval sets uncontaminated
    * across corpus versions). 80/10/10 by hash bucket; the output is the
    * per-split × language audit table (counts + exact char volume), which
    * doubles as a stratification check. One scan, one tiny shuffle of
    * (split, lang) partial aggregates — nothing at 100 TB. */
  val hashSplit: GQuery = GQuery(
    "p_split",
    "deterministic 80/10/10 train/val/test hash split: per-split x lang audit",
    (spark, dir) => {
      val b = h60(concat(lit("split:"), col("doc_id").cast("string"))) % 100
      spread(Catalog.table(spark, dir, "documents"))
        .select(
          when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"),
          col("lang"), col("n_chars"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy(col("split"), col("lang"))
    },
    Some(s"""
      SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split,
             lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM (SELECT lang, n_chars,
                   ${h60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b
            FROM documents) t
      GROUP BY 1, lang
      ORDER BY split, lang"""))

  /** TF-IDF-style salience: document frequency over the FULL corpus, term
    * frequency over the queried documents, scored tf/df (one IEEE division
    * — deterministic; no ln(), whose libm rounding is engine-specific) and
    * the top term per document selected by window rank. Scale shape: the
    * df branch is a vocabulary-sized two-phase count (map-side partials);
    * the tf branch is pruned to the target docs BEFORE any shuffle; the
    * join is keyed on token (vocabulary-sized build side — broadcastable
    * when the vocab fits, AQE decides). */
  val tfIdf: GQuery = GQuery(
    "t_tfidf",
    "top TF-IDF (tf/df) token per document, corpus-wide document frequency",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val tok = spread(d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val tf = tok.filter(col("doc_id") < 10)
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tok.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy((col("tf").cast("double") / col("df").cast("double")).desc,
          col("tok"))
      tf.join(dfreq, "tok")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          (col("tf").cast("double") / col("df").cast("double")).as("score"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ), tokf AS (SELECT * FROM tok WHERE length(tok) > 0),
      tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM tokf WHERE doc_id < 10 GROUP BY doc_id, tok
      ), df AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tokf GROUP BY tok
      )
      SELECT doc_id, tok, tf, df,
             CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score
      FROM (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
                   ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                     ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
                              tf.tok) AS rn
            FROM tf JOIN df USING (tok)) t
      WHERE rn = 1
      ORDER BY doc_id"""))

  /** Bigram language-model statistics: adjacent-token pairs across the
    * corpus, unigram-conditioned probability P(w2|w1) = c(w1,w2)/c(w1·) —
    * the count-based n-gram LM a data pipeline uses for perplexity-ish
    * quality scoring and domain drift checks. All counts are exact
    * integers; the probability is one IEEE division. Top-10 pairs with
    * full tie-break. Scale: pair emission is a per-row array transform
    * (no shuffle); the two count aggregates shuffle (w1,w2)/(w1) tokens
    * — vocabulary-sized, not corpus-sized; the conditioning join is on
    * the unigram table, broadcast-able at any corpus size. */
  val bigramLm: GQuery = GQuery(
    "t_bigram_lm",
    "bigram counts + conditional probability P(w2|w1), top-10",
    (spark, dir) => {
      val d = spread(Catalog.table(spark, dir, "documents"))
      val pairs = d
        .select(split(col("text"), " ").as("l"))
        .select(explode(expr(
          "transform(slice(l, 1, size(l)-1), (x, i) -> struct(x AS w1, l[i+1] AS w2))"))
          .as("p"))
        .select(col("p.w1"), col("p.w2"))
      val uni = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .join(uni, "w1")
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          round(col("c12").cast("double") / col("c1").cast("double"), 6).as("p"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(10)
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      pairs AS (SELECT l[i] AS w1, l[i+1] AS w2
                FROM toks, LATERAL (SELECT unnest(range(1, len(l))) AS i) t),
      uni AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY 1),
      bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2)
      SELECT b.w1, b.w2, b.c12, u.c1,
             ROUND(CAST(b.c12 AS DOUBLE) / CAST(u.c1 AS DOUBLE), 6) AS p
      FROM bi b JOIN uni u USING (w1)
      ORDER BY b.c12 DESC, b.w1, b.w2
      LIMIT 10"""))

  // ------------------------------------------------------------ gopher rules
  /** Gopher-style quality-rule gate (Rae et al. 2021, §A1.1 — the standard
    * pre-dedup document filter in LLM data pipelines): five per-document
    * rules — token count in [50, 100k], mean word length in [3, 10], at
    * least 2 distinct stopwords, type/token ratio ≥ 0.4 (repetition gate),
    * dominant-token frequency ≤ 0.15 (degenerate-content gate) — rolled up
    * as per-source violation counts and the keep count.
    *
    * Scale shape: every rule is ROW-LOCAL arithmetic over the in-row token
    * array (the dominant-token count is an in-row transform over distinct
    * tokens — O(distinct·n) per doc, no explode, no shuffle); the ratio
    * thresholds are cross-multiplied into pure integer comparisons, so the
    * cross-engine hash has no float-boundary risk at all. The single
    * shuffle is the final per-source rollup, bounded by |sources| — the
    * ideal one-scan 100 TB shape. */
  /** The per-document rule core, factored for structural tests: docs with
    * (source, text) → one row per doc with the five violation flags. */
  private[graft] def gopherFlags(d: DataFrame): DataFrame = {
    val stops = "'the','a','of','and','to','in','is','on','for','with'"
    val m = d.select(
      col("source"),
      size(toks(col("text"))).as("n"),
      length(col("text")).as("chars"),
      size(array_distinct(toks(col("text")))).as("ndist"),
      size(array_distinct(expr(s"filter(split(text, ' '), x -> x IN ($stops))")))
        .as("nstop"),
      expr("array_max(transform(array_distinct(split(text, ' '))," +
        " x -> size(filter(split(text, ' '), y -> y = x))))").as("maxc"))
    m.select(
      col("source"),
      (col("n") < 50 || col("n") > 100000).cast("long").as("r_nwords"),
      (col("chars") - (col("n") - 1) < col("n") * 3 ||
        col("chars") - (col("n") - 1) > col("n") * 10).cast("long").as("r_wlen"),
      (col("nstop") < 2).cast("long").as("r_stop"),
      (col("ndist") * 10 < col("n") * 4).cast("long").as("r_ttr"),
      (col("maxc") * 100 > col("n") * 15).cast("long").as("r_domtok"))
  }

  val gopherRules: GQuery = GQuery(
    "t_gopher_rules",
    "Gopher quality-rule violation counts + keep count per source",
    (spark, dir) => {
      gopherFlags(Catalog.table(spark, dir, "documents"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("r_nwords") + col("r_wlen") + col("r_stop") +
            col("r_ttr") + col("r_domtok") === 0, 1L).otherwise(0L)).as("n_keep"),
          sum(col("r_nwords")).as("r_nwords"), sum(col("r_wlen")).as("r_wlen"),
          sum(col("r_stop")).as("r_stop"), sum(col("r_ttr")).as("r_ttr"),
          sum(col("r_domtok")).as("r_domtok"))
        .orderBy(col("source"))
    },
    Some("""
      WITH m AS (
        SELECT source,
               len(string_split(text, ' ')) AS n,
               length(text) AS chars,
               len(list_distinct(string_split(text, ' '))) AS ndist,
               len(list_distinct(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','of','and','to','in','is','on','for','with')))) AS nstop,
               list_max(list_transform(list_distinct(string_split(text, ' ')),
                 x -> len(list_filter(string_split(text, ' '), y -> y = x)))) AS maxc
        FROM documents),
      f AS (
        SELECT source,
               CASE WHEN n < 50 OR n > 100000 THEN 1 ELSE 0 END AS r_nwords,
               CASE WHEN chars - (n - 1) < n * 3 OR chars - (n - 1) > n * 10
                    THEN 1 ELSE 0 END AS r_wlen,
               CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS r_stop,
               CASE WHEN ndist * 10 < n * 4 THEN 1 ELSE 0 END AS r_ttr,
               CASE WHEN maxc * 100 > n * 15 THEN 1 ELSE 0 END AS r_domtok
        FROM m)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN r_nwords + r_wlen + r_stop + r_ttr + r_domtok = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             CAST(SUM(r_nwords) AS BIGINT) AS r_nwords,
             CAST(SUM(r_wlen) AS BIGINT) AS r_wlen,
             CAST(SUM(r_stop) AS BIGINT) AS r_stop,
             CAST(SUM(r_ttr) AS BIGINT) AS r_ttr,
             CAST(SUM(r_domtok) AS BIGINT) AS r_domtok
      FROM f
      GROUP BY source
      ORDER BY source"""))

  // ------------------------------------------------------------ BPE training
  /** Distributed BPE tokenizer training (Sennrich et al. 2016 dictionary
    * form): the corpus is scanned ONCE into a (word, count) frequency
    * dict; every one of the [[bpeMerges]] greedy merge rounds then runs
    * over the |vocab|-row dict only — at 100 TB the iterations never
    * touch the corpus again, and each round's shuffle is bounded by the
    * pair vocabulary (map-side partial counts), with the argmax pair a
    * 1-row broadcast. Words start as characters + an `_` end-of-word
    * marker; each round counts adjacent symbol pairs weighted by word
    * count, picks the most frequent pair (ties break lexicographically —
    * deterministic on any engine), and applies it as the canonical
    * greedy left-to-right fold (`[a,a,a,a,a]` under merge (a,a) becomes
    * `[aa,aa,a]`), expressed identically as a Spark `aggregate` lambda
    * and a DuckDB `list_reduce` — all-integer counts, so the fit is
    * engine-exact. The dict frame is `localCheckpoint`ed every second
    * round, the [[graft.queries.VectorOps]] k-means lineage discipline.
    * Output: the learned merge table (step, pair, merged token, count) —
    * the tokenizer artifact a training pipeline ships. */
  private val bpeMerges = 8

  /** The shared BPE fit: (final dict frame `(word, cnt, syms)` after all
    * merge rounds, per-round 1-row merge frames). Consumed by both
    * [[bpeTrain]] (emits the merge table) and [[bpeApply]] (segments the
    * corpus with the final dict). */
  private[graft] def bpeFit(spark: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val d = spread(Catalog.table(spark, dir, "documents"))
    val wc = d.select(explode(toks(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // materialize the corpus-sized tokenize+count ONCE under the
    // caller's conf (it wants AQE); the merge rounds below operate on
    // the vocabulary-sized dict only, inside the loop-sized scope
    val words0 = wc.withColumn("syms",
      expr("concat(transform(sequence(1, length(word))," +
        " i -> substring(word, i, 1)), array('_'))"))
      .localCheckpoint()
    // r14: the 8 greedy merge rounds run as ONE single-task
    // mapPartitions over the vocabulary-sized dict (the mmrRerank
    // precedent: sequential greedy selection over BOUNDED state belongs
    // in one task). The previous unrolled form paid ~3 scheduled jobs
    // per round (pair-count limit(1) + broadcast build + every-2nd-round
    // checkpoint) plus an interpreted aggregate() re-segmentation HOF
    // pass per round. Every operation below is exact long/ASCII-string
    // arithmetic replicating the relational form bit-for-bit: pair
    // counts sum cnt over adjacent positions (overlaps counted, as
    // zip_with did), the winner is (pc DESC, p1, p2) — Scala string
    // order == Spark UTF8 binary order on these ASCII symbols — and the
    // fold is the same leftmost-greedy IF chain as the aggregate() HOF.
    // The production analog is exactly this: distributed word count,
    // local merge loop (tokenizer training shape).
    import spark.implicits._
    val nMerges = bpeMerges
    val fitted = words0.select(col("word"), col("cnt"), col("syms"))
      .as[(String, Long, Seq[String])]
      .coalesce(1).mapPartitions { it =>
        var dict = it.map { case (w, c, s) => (w, c, s.toArray) }.toArray
        val merges = Array.newBuilder[(Int, String, String, Long)]
        for (step <- 1 to nMerges) {
          val pc = scala.collection.mutable.HashMap[(String, String), Long]()
          dict.foreach { case (_, c, s) =>
            var j = 0
            while (j < s.length - 1) {
              val k = (s(j), s(j + 1))
              pc.update(k, pc.getOrElse(k, 0L) + c)
              j += 1
            }
          }
          var best: ((String, String), Long) = null
          pc.foreach { case (k, v) =>
            if (best == null || v > best._2 ||
              (v == best._2 && (k._1 < best._1._1 ||
                (k._1 == best._1._1 && k._2 < best._1._2)))) best = (k, v)
          }
          val ((p1, p2), bpc) = best
          merges += ((step, p1, p2, bpc))
          dict = dict.map { case (w, c, s) =>
            val acc = scala.collection.mutable.ArrayBuffer[String]()
            s.foreach { sym =>
              if (acc.nonEmpty && acc.last == p1 && sym == p2)
                acc(acc.length - 1) = p1 + p2
              else acc += sym
            }
            (w, c, acc.toArray)
          }
        }
        dict.iterator.map { case (w, c, s) =>
          (0, w, c, s.toSeq, 0, "", "", 0L) } ++
          merges.result().iterator.map { case (st, p1, p2, bpc) =>
            (1, "", 0L, Seq.empty[String], st, p1, p2, bpc) }
      }.toDF("kind", "word", "cnt", "syms", "step", "p1", "p2", "pc")
      .localCheckpoint()
    val dict = fitted.filter(col("kind") === 0)
      .select(col("word"), col("cnt"), col("syms"))
    val merges = fitted.filter(col("kind") === 1)
      .select(col("step"), col("p1"), col("p2"),
        concat(col("p1"), col("p2")).as("merged"), col("pc"))
    (dict, Seq(merges))
  }

  /** Oracle twin of [[bpeFit]]: CTE block ending in `w$bpeMerges` (the
    * final dict) and `best_1..best_$bpeMerges` (the merges) — shared
    * verbatim by both BPE oracles so the fit is provably the same. */
  private lazy val bpeSqlCtes: String = {
    val rounds = (1 to bpeMerges).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""
      pr_$i AS (SELECT syms[gs] AS p1, syms[gs + 1] AS p2, cnt
                FROM (SELECT syms, cnt,
                             unnest(generate_series(1, len(syms) - 1)) AS gs
                      FROM $prev)),
      best_$i AS MATERIALIZED (
        SELECT p1, p2, CAST(SUM(cnt) AS BIGINT) AS pc
        FROM pr_$i GROUP BY p1, p2
        ORDER BY pc DESC, p1, p2 LIMIT 1),
      w$i AS MATERIALIZED (
        SELECT word, cnt,
               list_reduce(list_transform(syms, s -> [s]),
                 (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.p1
                                       AND x[1] = b.p2
                             THEN acc[1:len(acc) - 1] || [b.p1 || b.p2]
                             ELSE acc || x END) AS syms
        FROM $prev CROSS JOIN best_$i b)"""
    }.mkString(",")
    s"""wc AS MATERIALIZED (
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE regexp_matches(word, '^[a-z]+${"$"}')
        GROUP BY word),
      w0 AS MATERIALIZED (
        SELECT word, cnt,
               list_transform(range(1, length(word) + 1), i -> word[i:i])
                 || ['_'] AS syms
        FROM wc),$rounds"""
  }

  val bpeTrain: GQuery = GQuery(
    "t_bpe_train",
    "BPE tokenizer training: 8 greedy merge rounds over the word-frequency dict",
    (spark, dir) => {
      val (_, merges) = bpeFit(spark, dir)
      merges.reduce(_ union _).orderBy(col("step"))
    },
    Some {
      val unions = (1 to bpeMerges).map(i =>
        s"SELECT $i AS step, p1, p2, p1 || p2 AS merged, pc FROM best_$i")
        .mkString(" UNION ALL ")
      s"""
      WITH $bpeSqlCtes
      SELECT step, p1, p2, merged, pc FROM ($unions) ORDER BY step"""
    })

  /** BPE segmentation applied back to the corpus: every word joins the
    * final trained dict (vocab-sized — broadcastable at any corpus scale,
    * the tokenizer-as-lookup-table production shape), and the per-source
    * rollup reports character-level vs BPE token counts and the permille
    * compression the 8 merges bought. All-integer outputs. */
  val bpeApply: GQuery = GQuery(
    "t_bpe_apply",
    "segment the corpus with the trained BPE dict: per-source compression audit",
    (spark, dir) => {
      val (dict, _) = bpeFit(spark, dir)
      val d = spread(Catalog.table(spark, dir, "documents"))
      val docWords = d.select(col("source"), explode(toks(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
      docWords.join(broadcast(dict.select(col("word"),
          (length(col("word")) + 1).cast("long").as("n_char"),
          size(col("syms")).cast("long").as("n_bpe"))), "word")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_char")).as("n_chartokens"),
          sum(col("n_bpe")).as("n_bpetokens"))
        .withColumn("compression_pm",
          expr("(1000 * n_bpetokens) div n_chartokens"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH $bpeSqlCtes,
      dw AS (SELECT source, word
             FROM (SELECT source, unnest(string_split(text, ' ')) AS word
                   FROM documents)
             WHERE regexp_matches(word, '^[a-z]+${"$"}'))
      SELECT source, COUNT(*) AS n_words,
             CAST(SUM(length(dw.word) + 1) AS BIGINT) AS n_chartokens,
             CAST(SUM(len(syms)) AS BIGINT) AS n_bpetokens,
             (1000 * CAST(SUM(len(syms)) AS BIGINT))
               // CAST(SUM(length(dw.word) + 1) AS BIGINT) AS compression_pm
      FROM dw JOIN w$bpeMerges w ON w.word = dw.word
      GROUP BY source
      ORDER BY source"""))

  // --------------------------------------------------- feature hashing
  /** Feature-hashing ("hashing trick") classifier plumbing — the exact
    * Spark-side mechanics of a fastText-style linear text model at
    * corpus scale: tokens hash into a fixed 4096-bucket feature space
    * (no vocabulary build, no driver-side dictionary — the property that
    * lets the featurizer run scan-parallel over 100 TB), sparse
    * per-doc (bucket, count) features aggregate map-side, and the score
    * is the sparse dot product against a dense weight table. The
    * WEIGHTS here are a hash-derived deterministic stand-in (integer in
    * [-1000, 1000] per bucket — no labeled training set exists in the
    * fixture; a learned model would broadcast its real weight table into
    * the identical plan), so the score column is exact integer
    * arithmetic, hash-gateable on any engine.
    *
    * Scale shape: explode → two-phase agg on (doc, bucket) — the only
    * shuffle, ∝ distinct (doc,bucket) pairs, ≤ token count; the weight
    * "join" is pure per-row arithmetic (a real table would broadcast).
    * Output is per-doc, one row per document. */
  val featureHash: GQuery = GQuery(
    "t_feature_hash",
    "hashing-trick sparse features + linear score per doc (fastText plumbing)",
    (spark, dir) => {
      val d = spread(Catalog.table(spark, dir, "documents"))
      d.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .select(col("doc_id"), pmod(h60(col("tok")), lit(4096L)).as("bucket"))
        .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("cnt"))
        .select(col("doc_id"), col("bucket"), col("cnt"),
          (pmod(h60(concat(lit("w"), col("bucket"))), lit(2001L)) - 1000L).as("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_features"), sum(col("cnt")).as("n_tokens"),
          sum(col("cnt") * col("w")).as("score"))
        .withColumn("label", when(col("score") >= 0L, "pos").otherwise("neg"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH feat AS (
        SELECT doc_id, ${h60Sql("tok")} % 4096 AS bucket, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, bucket),
      scored AS (
        SELECT doc_id, bucket, cnt,
               ${h60Sql("'w' || bucket")} % 2001 - 1000 AS w
        FROM feat)
      SELECT doc_id, COUNT(*) AS n_features,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(cnt * w) AS BIGINT) AS score,
             CASE WHEN CAST(SUM(cnt * w) AS BIGINT) >= 0
                  THEN 'pos' ELSE 'neg' END AS label
      FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  // --------------------------------------------------- percentile trim
  /** Score-percentile corpus trimming — the FineWeb-style "drop the
    * bottom quartile by quality score" selection step, in the
    * scale-safe shape: the global P25 boundary is ONE exact-percentile
    * aggregate (a scalar), cross-joined back broadcast — the same
    * pattern that replaced a_rfm_segments' global NTILE window (no
    * single-task sort of the corpus, ever). At 100 TB the exact
    * percentile swaps for approx_percentile with identical plan shape.
    * The score is an integer (word-token count), so the P25 boundary
    * interpolates on quarter steps — exact in binary, no float-boundary
    * risk in the keep test. Output: the per-source before/after audit.
    */
  val qualityTrim: GQuery = GQuery(
    "p_quality_trim",
    "drop the bottom score quartile: per-source survivor audit",
    (spark, dir) => {
      val d = spread(Catalog.table(spark, dir, "documents"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          size(expr("regexp_extract_all(text, '\\\\w+', 0)")).cast("long").as("score"))
      val p25 = d.agg(expr("percentile(score, 0.25)").as("p25"))
      d.crossJoin(broadcast(p25))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= col("p25"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("score") >= col("p25"), col("n_chars"))
            .otherwise(0L)).as("chars_kept"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source, n_chars,
               CAST(len(regexp_extract_all(text, '\w+')) AS BIGINT) AS score
        FROM documents),
      p AS (SELECT quantile_cont(score, 0.25) AS p25 FROM d)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN score >= p25 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(SUM(CASE WHEN score >= p25 THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_kept
      FROM d, p
      GROUP BY source
      ORDER BY source"""))

  // ------------------------------------------------------------ containment
  /** Asymmetric containment near-dup (Broder 1997's second resemblance
    * measure): `cont(A⊂B) = |A∩B| / |A|`. Jaccard misses the
    * quote-expansion case — a short doc pasted verbatim inside a much
    * longer one scores |A|/|B| ≈ 0 on Jaccard but 1.0 on containment —
    * and that is a REAL training-data leak (the short doc's content is
    * still memorizable). Candidates come from the same shared-shingle
    * equi-join as [[ngramJaccard]] (bounded window; the LSH-banded
    * signature path is the scale form — containment needs only |A∩B| and
    * the two set sizes, both of which [[minhashSig]]'s signature table
    * already carries). Reported: pairs where either direction's
    * containment ≥ 0.8, with the Jaccard each pair would have scored. */
  /** The containment core over any (doc_id, text) frame — candidates
    * share ≥ 1 shingle; emit pairs where either direction's containment
    * clears `threshold`. */
  private[graft] def containmentPairs(d: DataFrame, threshold: Double): DataFrame = {
    val sh = shingles(d)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val common = sh.as("x")
      .join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("sz", "a_sz"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("sz", "b_sz"), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("n_common").cast("double") / col("a_sz"), 6).as("cont_a"),
        round(col("n_common").cast("double") / col("b_sz"), 6).as("cont_b"),
        round(col("n_common").cast("double") /
          (col("a_sz") + col("b_sz") - col("n_common")), 6).as("jacc"))
      .filter(col("cont_a") >= threshold || col("cont_b") >= threshold)
      .orderBy(col("a_id"), col("b_id"))
  }

  val containment: GQuery = GQuery(
    "t_containment",
    "asymmetric shingle containment >= 0.8 pairs (with their jaccard) on the doc window",
    (spark, dir) =>
      containmentPairs(
        Catalog.table(spark, dir, "documents").filter(col("doc_id") < 500), 0.8),
    Some(s"""
      WITH sh AS (${shinglesSql.replace("FROM documents",
        "FROM documents WHERE doc_id < 500")}),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      common AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS n_common
                 FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
                 GROUP BY x.doc_id, y.doc_id)
      SELECT a_id, b_id,
             ROUND(CAST(n_common AS DOUBLE) / a.sz, 6) AS cont_a,
             ROUND(CAST(n_common AS DOUBLE) / b.sz, 6) AS cont_b,
             ROUND(CAST(n_common AS DOUBLE) / (a.sz + b.sz - n_common), 6) AS jacc
      FROM common JOIN sizes a ON a.doc_id = a_id JOIN sizes b ON b.doc_id = b_id
      WHERE ROUND(CAST(n_common AS DOUBLE) / a.sz, 6) >= 0.8
         OR ROUND(CAST(n_common AS DOUBLE) / b.sz, 6) >= 0.8
      ORDER BY a_id, b_id"""))

  // ------------------------------------------------------------ weighted sample
  /** Deterministic weighted sampling-without-replacement via priority
    * sampling (Duffield, Lund & Thorup 2007): priority = w / u with
    * u ~ U(0,1] derived from a seeded hash of the key — take the top-k
    * priorities per stratum. Equivalent in expectation to
    * weight-proportional sampling, and unlike Efraimidis-Spirakis's
    * u^(1/w) key it needs NO transcendental function: one integer hash
    * and one double division, both bit-identical across engines, so the
    * sample is hash-gateable and reproducible run-to-run — which is what
    * makes a 100-TB data mixture auditable (the "random" sample is a
    * pure function of doc_id + seed, not of partition order).
    *
    * Scale shape: scan + per-row hash + per-stratum top-k window. At
    * production scale swap row_number for a per-partition top-k
    * pre-aggregate (TakeOrderedAndProject does this for global top-k;
    * per-group, aggregate partial heaps) — per-reducer state is O(k). */
  val weightedSample: GQuery = GQuery(
    "t_weighted_sample",
    "priority sampling: deterministic char-weighted top-5 docs per language",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val pri = d.select(col("doc_id"), col("lang"), col("n_chars"),
        (h60(concat(lit("ws:"), col("doc_id"))) % 1000000L + 1L).as("u"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars").cast("double") * 1000000.0d /
            col("u").cast("double")).as("priority"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        .orderBy(col("priority").desc, col("doc_id"))
      pri.select(col("lang"), col("doc_id"), col("n_chars"),
          round(col("priority"), 4).as("priority"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 5)
        .orderBy(col("lang"), col("rk"))
    },
    Some(s"""
      WITH pri AS (
        SELECT doc_id, lang, n_chars,
               CAST(n_chars AS DOUBLE) * 1000000.0 /
                 CAST(${h60Sql("('ws:' || CAST(doc_id AS VARCHAR))")} % 1000000
                      + 1 AS DOUBLE) AS priority
        FROM documents)
      SELECT lang, doc_id, n_chars, ROUND(priority, 4) AS priority, rk
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY priority DESC, doc_id) AS rk FROM pri)
      WHERE rk <= 5
      ORDER BY lang, rk"""))

  /** The same per-stratum top-5 as [[weightedSample]], computed through
    * the bounded-state [[graft.functions.Aggregators.TopKBy]] typed UDAF
    * instead of a row_number window — THE scale form of group-wise
    * top-k: the window sorts every row of a stratum on one reducer;
    * the aggregator's partial state is ≤ k rows per group at every
    * stage, so a billion-row stratum ships k rows across the shuffle.
    * The oracle is the identical window-ranked SQL, so the gate
    * hash-proves the bounded-state path emits exactly the rows the full
    * sort would. */
  val topkGroup: GQuery = GQuery(
    "t_topk_group",
    "bounded-state per-group top-k UDAF == full window sort (priority sample twin)",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      val pri = d.select(col("doc_id"), col("lang"), col("n_chars"),
        (h60(concat(lit("ws:"), col("doc_id"))) % 1000000L + 1L).as("u"))
        .select(col("lang"),
          (col("n_chars").cast("double") * 1000000.0d /
            col("u").cast("double")).as("priority"),
          col("doc_id"), col("n_chars"))
      val top5 = udaf(graft.functions.Aggregators.TopKBy(5),
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      pri.groupBy(col("lang"))
        .agg(top5(col("priority"), col("doc_id"), col("n_chars")).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "row")))
        .select(col("lang"), col("row._2").as("doc_id"),
          col("row._3").as("n_chars"),
          round(col("row._1"), 4).as("priority"),
          (col("pos") + 1).as("rk"))
        .orderBy(col("lang"), col("rk"))
    },
    Some(s"""
      WITH pri AS (
        SELECT doc_id, lang, n_chars,
               CAST(n_chars AS DOUBLE) * 1000000.0 /
                 CAST(${h60Sql("('ws:' || CAST(doc_id AS VARCHAR))")} % 1000000
                      + 1 AS DOUBLE) AS priority
        FROM documents)
      SELECT lang, doc_id, n_chars, ROUND(priority, 4) AS priority, rk
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY priority DESC, doc_id) AS rk FROM pri)
      WHERE rk <= 5
      ORDER BY lang, rk"""))

  // ------------------------------------------------------------ profile
  /** Column-profiling report — the first query a pipeline runs against a
    * new 100-TB drop: per column, row/null/distinct counts and min/max
    * (rendered as text so heterogeneous columns share one report shape;
    * `text` is profiled through its length — its raw min/max would put
    * whole documents in a summary table). One scan per profiled column,
    * each a two-phase aggregate; at scale the distinct counts would flip
    * to approx_count_distinct (see ApproxSpec) — exact here because the
    * gate hash-compares values. */
  val profileColumns: GQuery = GQuery(
    "t_profile",
    "per-column profile of documents: rows/nulls/distinct/min/max",
    (spark, dir) => {
      val d = Catalog.table(spark, dir, "documents")
      def prof(name: String, v: Column): DataFrame =
        d.select(v.as("v"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).cast("string").as("min_v"),
            max(col("v")).cast("string").as("max_v"))
          .select(lit(name).as("col"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"))
      prof("lang", col("lang"))
        .unionAll(prof("source", col("source")))
        .unionAll(prof("n_chars", col("n_chars")))
        .unionAll(prof("text_len", length(col("text")).cast("long")))
        .orderBy(col("col"))
    },
    Some("""
      SELECT 'lang' AS col, COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             COUNT(DISTINCT lang) AS n_distinct,
             CAST(MIN(lang) AS VARCHAR) AS min_v, CAST(MAX(lang) AS VARCHAR) AS max_v
      FROM documents
      UNION ALL
      SELECT 'source', COUNT(*),
             CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT source),
             CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'n_chars', COUNT(*),
             CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT n_chars),
             CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'text_len', COUNT(*),
             CAST(SUM(CASE WHEN length(text) IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT length(text)),
             CAST(MIN(length(text)) AS VARCHAR), CAST(MAX(length(text)) AS VARCHAR)
      FROM documents
      ORDER BY col"""))
}
