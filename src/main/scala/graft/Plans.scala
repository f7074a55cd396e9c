package graft

import graft.plans.PlanDescriber
import java.nio.file.{Files, Paths}

/** Plan-evidence dump: writes the normalized physical plan of each
  * headline query to a markdown file — the artifact form of the
  * reference's plan-snapshot tests (reference:
  * tests/distributed_aggregation.rs:47-62), and the review surface for
  * the scale contract (pushdowns, broadcasts, exchange counts).
  *
  * usage: Plans <sfDir> <outFile.md>
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Plans <sfDir> <outFile.md>")
    val Array(sfDir, outFile) = args
    val spark = GraftSession.get()
    val headline = Seq(
      "q01_pricing_summary", "q03_topk_revenue", "q05_local_supplier_volume",
      "q13_outer_join_distribution", "q18_in_subquery_having",
      "t_exact_dedup", "t_minhash_lsh", "t_fingerprint", "t_contamination",
      "t_pack_sequences", "p_clean_corpus",
      "v_knn_native", "v_lsh_ann", "v_ivf_ann", "v_quantize", "e_sessionize",
      "g_triangle_count", "a_rfm_segments", "x_lateral_join",
      "v_pq_ann", "v_ivfpq_ann", "e_upsert_compact",
      "x_bloom_join", "x_salted_join", "a_incr_rollup", "t_topk_group",
      "e_decimate")
    val md = new StringBuilder
    md ++= "# Physical plans (normalized) — headline queries\n\n"
    md ++= "Regenerate: `sbt \"runMain graft.Plans <sfDir> PLANS.md\"`\n"
    headline.foreach { name =>
      val df = Registry.byName(name).run(spark, sfDir)
      val s = PlanDescriber.summary(df)
      md ++= s"\n## $name\n\n"
      md ++= s"exchanges=${s.exchanges} broadcastJoins=${s.broadcastJoins} " +
        s"sortMergeJoins=${s.sortMergeJoins} hashAggs=${s.hashAggregates} " +
        s"scans=${s.scans}\n\n"
      md ++= "```\n" + PlanDescriber.normalized(df) + "\n```\n"
    }
    Files.writeString(Paths.get(outFile), md.toString)
    spark.stop()
    println(s"[plans] wrote $outFile")
  }
}
