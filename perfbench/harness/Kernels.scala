package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Catalog

/** Kernel rung: runs each of the eight registered SQL functions over a
  * fixed cached column drawn from the replica's `documents` and
  * `embeddings`, reduced through `sum(hash(..))` so its whole output is
  * consumed: one warm-up, then `Kernels.reps` runs under the job group
  * `perfbench/kernel/<fn>`. The recorder turns those jobs' task CPU time
  * into nanoseconds per input row, which leaves out the per-job driver and
  * scheduling cost that dominates the wall time at this size. */
object Kernels {
  val reps = 3

  /** (function, input rows) for each function run. */
  def run(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    def source(table: String, cols: String*): (DataFrame, Long) = {
      val t = Catalog.table(spark, dir, table).selectExpr(cols: _*).cache()
      (t, t.count())
    }
    val docs = source("documents", "text", "substr(text, 1, 40) AS a",
      "substr(text, 9, 40) AS b", "shingle_hv60(text) AS hs")
    val emb = source("embeddings", "embedding AS a", "reverse(embedding) AS b")
    val out = Seq(
      ("cosine_sim", emb, "cosine_sim(a, b)"),
      ("damerau_levenshtein", docs, "damerau_levenshtein(a, b)"),
      ("simhash60", docs, "simhash60(text)"),
      ("shingle_hv60", docs, "shingle_hv60(text)"),
      ("ngram_hv60", docs, "ngram_hv60(text, 5)"),
      ("winnow_fp", docs, "winnow_fp(hs, 4)"),
      ("winnow_hv", docs, "winnow_hv(hs, 4)"),
      ("token_counts", docs, "token_counts(text, 'spark,join,window,vector,stream')"))
      .map { case (f, (df, n), e) =>
        val q = df.selectExpr(s"sum(hash($e)) AS h")
        q.collect()
        spark.sparkContext.setJobGroup(s"perfbench/kernel/$f", f)
        (1 to reps).foreach(_ => q.collect())
        spark.sparkContext.clearJobGroup()
        f -> n
      }
    docs._1.unpersist()
    emb._1.unpersist()
    out
  }
}
