package graft

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The scale hazards of a physical plan: a cartesian product, a
  * broadcast nested-loop join whose build side is not structurally
  * bounded, and a window with no partition spec (one task sees every
  * row). PlanAuditSpec's full-surface gate and `Dev sweep` both read
  * plans through these predicates; the gate keeps the allowlists. */
object PlanHazards {
  def cartesian(p: SparkPlan): Boolean =
    p.find(_.isInstanceOf[CartesianProductExec]).isDefined

  /** The BNLJs of `p` whose build side is not `boundedBnlj`. */
  def unboundedBnlj(p: SparkPlan): Seq[BroadcastNestedLoopJoinExec] =
    p.collect { case j: BroadcastNestedLoopJoinExec => j }.filterNot(boundedBnlj)

  /** Node names of the unpartitioned windows in `p`. */
  def globalWindows(p: SparkPlan): Seq[String] = p.collect {
    case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
    case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
  }

  def buildSide(j: BroadcastNestedLoopJoinExec): SparkPlan = j.buildSide match {
    case BuildLeft => j.left
    case _ => j.right
  }

  def boundedBnlj(j: BroadcastNestedLoopJoinExec): Boolean = {
    val side = buildSide(j)
    val oneRowAggOrLocal = side.find {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty // global agg: 1 row
      case _: LocalTableScanExec => true // driver literals
      case _: TakeOrderedAndProjectExec => true // limit-k bounded
      case _ => false
    }.isDefined
    val rangeSpine = { // spark.range literal spine: every leaf a Range
      val leaves = side.collectLeaves()
      leaves.nonEmpty && leaves.forall(_.isInstanceOf[RangeExec])
    }
    oneRowAggOrLocal || rangeSpine
  }
}
