package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan introspection — the Spark analog of the reference's
  * stage/shuffle display (reference: tests/distributed_aggregation.rs:47-62
  * snapshots show each ArrowFlightReadExec boundary; here every Exchange is
  * that boundary). Used both as an operator surface and as the test hook
  * that pins scale-critical plan shapes (pushdown reached the scan, small
  * dims broadcast, no accidental shuffles).
  */
object PlanDescriber {

  /** Formatted plan text (pre-execution; AQE may still improve it). */
  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Normalized plan: strip plan ids, codegen ids, file paths and
    * statistics so the text is stable across runs/machines (≡ the
    * reference's snapshot filters, src/test_utils/insta.rs:14-29). */
  def normalized(df: DataFrame): String =
    formatted(df)
      .replaceAll("#\\d+L?", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : x]")
      .replaceAll("file:[^,\\]\\s]+", "file:PATH")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")

  /** Count of SHUFFLE exchange boundaries = stage cuts. Broadcasts are
    * counted separately ([[broadcasts]]/Summary.broadcastJoins) — one
    * definition everywhere, so PLANS.md's `exchanges=` never overstates
    * shuffles by folding broadcast exchanges in. */
  def shuffleExchanges(s: String): Int =
    "(?m)^[\\s:+-]*Exchange ".r.findAllIn(s).length

  def exchanges(df: DataFrame): Int = shuffleExchanges(simpleString(df))

  def broadcasts(df: DataFrame): Int =
    "BroadcastExchange".r.findAllIn(simpleString(df)).length

  /** One-line-per-operator plan. */
  def simpleString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Quick structural summary for assertions and logs. */
  case class Summary(
      exchanges: Int, broadcastJoins: Int, sortMergeJoins: Int,
      hashAggregates: Int, scans: Int, wholeStageCodegen: Boolean)

  def summary(df: DataFrame): Summary = {
    val s = simpleString(df)
    def n(pat: String) = pat.r.findAllIn(s).length
    Summary(
      exchanges = shuffleExchanges(s),
      broadcastJoins = n("BroadcastHashJoin") + n("BroadcastNestedLoopJoin"),
      sortMergeJoins = n("SortMergeJoin"),
      hashAggregates = n("HashAggregate"),
      // also matches inside "FileScan parquet": one count per scan
      scans = n("Scan parquet"),
      // codegen'd operators print as "*(n) Op" in plan strings
      wholeStageCodegen = s.contains("WholeStageCodegen") ||
        "\\*\\(\\d+\\) ".r.findFirstIn(s).isDefined)
  }
}
