package graft

/** Measured data-volume invariants — the execution-side twin of
  * PlanSpec's structural pins. Plan text promises map-side combine and
  * broadcast joins; these specs COUNT the shuffled records of real runs,
  * which is the quantity that decides 100 TB viability. */
class MetricsSpec extends SparkSpec {

  private def run(name: String) =
    EnvCounters.measure(spark) {
      Registry.byName(name).run(spark, sf0001).collect()
    }._2

  test("q01: two-phase aggregate shuffles a tiny fraction of scanned records") {
    val m = run("q01_pricing_summary")
    info(s"q01: input=${m.inputRecords} rec, shuffleWrite=${m.shuffleWriteRecords} rec " +
      s"(${m.shuffleWriteBytes} B), tasks=${m.tasks}")
    assert(m.inputRecords > 1000, "expected a real scan")
    // partial aggregation: per-task partials (6 groups x partitions) plus
    // the final ORDER BY exchange — orders of magnitude under input rows
    assert(m.shuffleWriteRecords.toDouble / m.inputRecords < 0.1,
      s"map-side combine missing: shuffled ${m.shuffleWriteRecords} of ${m.inputRecords}")
  }

  test("q03: broadcast join never shuffles the fact table's rows") {
    val m = run("q03_topk_revenue")
    info(s"q03: input=${m.inputRecords} rec, shuffleWrite=${m.shuffleWriteRecords} rec")
    // the fact scan dwarfs the shuffled aggregate partials + top-k rows
    assert(m.shuffleWriteRecords < m.inputRecords / 2,
      s"fact rows appear to shuffle: ${m.shuffleWriteRecords} vs ${m.inputRecords}")
  }

  test("t_token_count: per-row projection shuffles (almost) nothing") {
    val m = run("t_token_count")
    info(s"t_token_count: input=${m.inputRecords} rec, " +
      s"shuffleWrite=${m.shuffleWriteRecords} rec")
    // the deliberate scan-spread repartition is the only exchange: the
    // shuffled record count must equal the document count, never a
    // token-exploded multiple
    assert(m.shuffleWriteRecords <= m.inputRecords,
      "per-row pipeline amplified records into the shuffle")
  }

  test("exact dedup's keeper aggregate shuffles digests, not text payloads") {
    import org.apache.spark.sql.functions._
    val d = Catalog.table(spark, sf0001, "documents")
    // the engine's dedup shape: shuffle only (md5 digest, min doc_id)
    val (_, digests) = EnvCounters.measure(spark) {
      d.groupBy(md5(col("text").cast("binary")).as("dg"))
        .agg(min(col("doc_id")).as("keep")).count()
    }
    // the naive shape: full text rows through a distinct's shuffle
    val (_, texts) = EnvCounters.measure(spark) {
      d.select(col("text")).distinct().count()
    }
    info(s"digest-agg shuffle=${digests.shuffleWriteBytes} B vs " +
      s"text-distinct shuffle=${texts.shuffleWriteBytes} B")
    assert(digests.shuffleWriteBytes > 0 && texts.shuffleWriteBytes > 0)
    // same logical dedup decision, a fraction of the bytes on the wire —
    // the difference between a fixed 32-byte key and multi-KB documents,
    // which is the whole 100 TB argument for digest-based dedup
    assert(digests.shuffleWriteBytes * 2 < texts.shuffleWriteBytes,
      s"digest aggregation should shuffle far fewer bytes: " +
        s"${digests.shuffleWriteBytes} vs ${texts.shuffleWriteBytes}")
  }

  test("Observation API: in-flight data-quality counters ride the action") {
    // the production pattern for pipeline data-quality gates: counters
    // computed INSIDE the same job (no second scan), read after the action
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val obs = Observation("dq")
    val d = Catalog.table(spark, sf0001, "documents")
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        count(when(col("text").isNull || length(col("text")) === 0, 1)).as("empty_text"),
        sum(col("n_chars")).as("chars_total"))
    val kept = d.filter(length(col("text")) >= 10).count()
    val m = obs.get
    assert(m("rows_seen") == 500L, s"observed ${m("rows_seen")}")
    assert(m("empty_text") == 0L)
    assert(m("chars_total").asInstanceOf[Long] > 0L)
    assert(kept <= 500L)
  }
}
