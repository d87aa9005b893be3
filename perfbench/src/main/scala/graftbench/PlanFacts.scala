package graftbench

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive._
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange._
import org.apache.spark.sql.execution.window.WindowExec

/** Facts about one executed query plan that explain its cost and flag the
  * scale hazards: codegen coverage, interpreted fallbacks, serial exchanges
  * and windows, and broadcasts.
  */
final case class PlanFacts(
    wscgStages: Int = 0,
    nonCodegenNodes: Int = 0,
    codegenFallbackExprs: Int = 0,
    singlePartitionExchanges: Int = 0,
    unpartitionedWindows: Int = 0,
    broadcastHints: Int = 0,
    broadcastBytes: Long = 0L) {

  def +(o: PlanFacts): PlanFacts = PlanFacts(
    wscgStages + o.wscgStages,
    nonCodegenNodes + o.nonCodegenNodes,
    codegenFallbackExprs + o.codegenFallbackExprs,
    singlePartitionExchanges + o.singlePartitionExchanges,
    unpartitionedWindows + o.unpartitionedWindows,
    broadcastHints + o.broadcastHints,
    broadcastBytes + o.broadcastBytes)

  def fields: Seq[(String, Any)] = Seq(
    "wscg_stages" -> wscgStages,
    "non_codegen_nodes" -> nonCodegenNodes,
    "codegen_fallback_exprs" -> codegenFallbackExprs,
    "single_partition_exchanges" -> singlePartitionExchanges,
    "unpartitioned_windows" -> unpartitionedWindows,
    "broadcast_hints" -> broadcastHints,
    "broadcast_bytes" -> broadcastBytes)
}

object PlanFacts extends AdaptiveSparkPlanHelper {

  def of(qe: QueryExecution): PlanFacts = {
    val plan = qe.executedPlan
    val nodes = collect(plan) { case p => p }
    PlanFacts(
      wscgStages = nodes.count(_.isInstanceOf[WholeStageCodegenExec]),
      nonCodegenNodes = interpreted(plan),
      codegenFallbackExprs = nodes.map(_.expressions
        .map(_.collect { case e: CodegenFallback => e }.size).sum).sum,
      singlePartitionExchanges = nodes.count {
        case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
        case _ => false
      },
      unpartitionedWindows = nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      broadcastHints = qe.optimizedPlan.collect { case j: Join =>
        Seq(j.hint.leftHint, j.hint.rightHint)
          .count(_.exists(_.strategy.contains(BROADCAST)))
      }.sum,
      broadcastBytes = nodes.collect { case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum)
  }

  /** Operators that run outside whole-stage codegen, not counting the
    * plumbing every plan has (exchanges, query stages, the write sink).
    */
  private def interpreted(p: SparkPlan): Int = p match {
    case w: WholeStageCodegenExec => underAdapters(w.child).map(interpreted).sum
    case a: AdaptiveSparkPlanExec => interpreted(a.executedPlan)
    case q: QueryStageExec => interpreted(q.plan)
    case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec |
        _: V2TableWriteExec | _: InputAdapter =>
      p.children.map(interpreted).sum
    case other => 1 + other.children.map(interpreted).sum
  }

  private def underAdapters(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: InputAdapter => Seq(a.child)
    case other => other.children.flatMap(underAdapters)
  }
}
