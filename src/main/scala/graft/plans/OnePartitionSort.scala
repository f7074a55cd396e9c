package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Generate, GlobalLimit, LocalLimit, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** In the single-shot small-plan regime, plan a GLOBAL sort as a
  * one-partition shuffle plus local sort — the static equivalent of the
  * coalescing AQE would have applied to a tiny sorted output.
  *
  * Why: a global Sort into >1 partition plans a range exchange, and
  * `RangePartitioner` runs a separate SAMPLING JOB that re-executes the
  * sort's child (the r9 per-doc-feature trap, now measured again on the
  * SF1 floor: q02's presentation sort re-ran the whole probe pipeline as
  * an extra 10-task job — a third of its scheduled work for a 460-row
  * output). Shuffling those rows round-robin into ONE partition and
  * sorting locally yields the identical globally-sorted result with no
  * sampling job and no range exchange; the upstream pipeline keeps its
  * full scan width because the single partition starts AT the shuffle
  * boundary.
  *
  * Scope — two independent guards (round-10 advice, medium): the
  * [[AdaptiveGate]] marker conf says the gate RECENTLY owned an
  * execution, but it is session state that can outlive the small query
  * that set it (any plan built in the same session before the next
  * tune()/reset() inherits it). So the rule ALSO re-derives smallness
  * from the plan in hand: leaf-source bytes (incl. subquery plans) under
  * [[AdaptiveGate.SmallPlanBytes]] and no Generate (leaf bytes under-
  * state an exploding pipeline — same rule as the gate itself). A large
  * plan that inherits a leaked marker now keeps its parallel range sort;
  * a small plan that inherits one gets the same rewrite the gate would
  * have chosen for it anyway. */
object OnePartitionSort extends Rule[LogicalPlan] {

  /** Plan-local smallness, independent of session conf: total leaf bytes
    * (subquery plans included — IN/EXISTS only become joins later) under
    * the gate's threshold, and no Generate anywhere. Optimizer-time leaf
    * stats are the cached file-index sizes — cheap. */
  private def smallPlan(plan: LogicalPlan): Boolean = {
    val all = plan +: plan.subqueriesAll
    val bytes = all.flatMap(_.collectLeaves()).map(_.stats.sizeInBytes).sum
    bytes < BigInt(AdaptiveGate.SmallPlanBytes) &&
      !all.exists(_.exists(_.isInstanceOf[Generate]))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString("graft.autotune.origPartitions", "").isEmpty ||
      !smallPlan(plan)) plan
    else rewrite(plan)

  /** Structural top-down recursion instead of transformUp + pre-collected
    * identity (round-10 advice, low): a Sort feeding a Limit must stay
    * global — the physical planner pattern-matches Limit(Sort(global))
    * (also through a Project) into TakeOrderedAndProject, the top-k
    * operator the q03/q10/q18 family depends on. Matching the protected
    * shape top-down and recursing only into the protected Sort's CHILD
    * keeps the protection intact even when that child contains another
    * global Sort that gets rewritten (transformUp would rebuild the
    * protected Sort into a new instance that failed the old `eq` check). */
  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    case gl @ GlobalLimit(_, ll @ LocalLimit(_, s: Sort)) =>
      gl.withNewChildren(Seq(ll.withNewChildren(Seq(
        s.withNewChildren(Seq(rewrite(s.child)))))))
    case gl @ GlobalLimit(_, ll @ LocalLimit(_, pr @ Project(_, s: Sort))) =>
      gl.withNewChildren(Seq(ll.withNewChildren(Seq(pr.withNewChildren(Seq(
        s.withNewChildren(Seq(rewrite(s.child)))))))))
    case Sort(order, true, child, hint) =>
      Sort(order, global = false,
        Repartition(1, shuffle = true, rewrite(child)), hint)
    case other =>
      other.withNewChildren(other.children.map(rewrite))
  }
}
