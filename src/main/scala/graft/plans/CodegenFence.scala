package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** In-plan whole-stage-codegen fence — the zero-cost replacement for the
  * old `stageBarrier` (re-rooting a DataFrame on its own `toRdd`).
  *
  * Why it exists: a catalog-sized ToCodes projection fused into a
  * neighboring stage blows Janino's 64 KB generated-method limit, which
  * drops the WHOLE fused stage to interpreted evaluation (~10× slower,
  * measured on the 198-code demo catalog). The fix is to keep each
  * catalog slice in its OWN codegen region. The old barrier achieved
  * that by planning the sub-frame as a separate query (`queryExecution
  * .toRdd`) — but under AQE, finalizing that nested adaptive plan
  * EXECUTES every exchange stage below the barrier at plan-construction
  * time (the demo-catalog end-to-end run measured `construct` = 8 s at
  * 100k rows, 18 s at 1M: the visit-control window's shuffle ran inside
  * what should be driver work), serializes upstream stages against
  * downstream planning, and hides the upstream plan from one end-to-end
  * AQE view.
  *
  * The fence keeps everything in ONE logical plan instead. Physically it
  * is a pass-through node ([[CodegenFenceExec]]) that simply does not
  * implement `CodegenSupport`: `CollapseCodegenStages` then ends the
  * whole-stage region below it and starts a fresh one above (the fence
  * becomes an `InputAdapter` boundary), so each fenced slice compiles as
  * its own generated class — same compilation isolation as the RDD
  * barrier — while the plan stays whole: one analysis pass, one AQE
  * context, exchanges execute when the query runs, and EnsureRequirements
  * sees true child partitioning/ordering through the fence (no spurious
  * exchange above it). At the RDD level `doExecute` forwards the child's
  * RDD untouched — fences never split Spark stages or copy rows.
  *
  * Logically the fence is equally load-bearing: it is an opaque unary
  * node no optimizer rule matches, so `CollapseProject` cannot merge the
  * per-slice projections back into one giant expression and
  * `SimplifyExtractValueOps` cannot tear the slice-output structs into
  * per-consumer copies of the whole slice expression (above a fence the
  * struct is a plain attribute reference). Column pruning also stops at
  * the fence — callers pre-project exactly the columns the fenced
  * pipeline needs (ToCodes' `retain` contract).
  */
final case class CodegenFence(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): CodegenFence =
    copy(child = newChild)
}

final case class CodegenFenceExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  // forward physical properties so EnsureRequirements never inserts an
  // exchange or sort just because a fence sits between producer and
  // consumer
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): CodegenFenceExec =
    copy(child = newChild)
}

object CodegenFenceStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CodegenFence(child) => CodegenFenceExec(planLater(child)) :: Nil
    case _                   => Nil
  }
}
