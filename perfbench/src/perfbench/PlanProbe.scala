package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Literal}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-action planning and plan counters. Registered through the
  * `spark.sql.queryExecutionListeners` static conf; records one entry per
  * action, in the order the listener bus delivers them.
  */
class PlanProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  PlanProbe.current = this
  val actions = new ConcurrentLinkedQueue[String]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    actions.add(record(funcName, qe, durationNs, failed = false))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    actions.add(record(funcName, qe, 0L, failed = true))

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
                     failed: Boolean): String = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val exchanges = allNodes(qe.executedPlan).collect { case s: ShuffleExchangeExec => s }
    def metric(name: String) =
      exchanges.flatMap(_.metrics.get(name)).map(_.value).sum
    // Branches of the first-match CASE chains (RangeJoin.firstMatchByCase):
    // each yields a range ordinal, a Long literal, and falls through to the
    // next link or to null.
    val rangeBranches = qe.optimizedPlan.collect { case p => p.expressions }
      .flatten.flatMap(_.collect {
        case c: CaseWhen if c.dataType == LongType &&
            !c.elseValue.exists(e => e.foldable && e.eval() != null) =>
          c.branches.count(_._2.isInstanceOf[Literal])
      }).sum
    Json.obj(Seq(
      "func" -> funcName, "failed" -> failed, "duration_ns" -> durationNs,
      "analysis_ms" -> phases.getOrElse("analysis", 0L),
      "optimization_ms" -> phases.getOrElse("optimization", 0L),
      "planning_ms" -> phases.getOrElse("planning", 0L),
      "exchanges" -> exchanges.size,
      "shuffle_rows" -> metric("shuffleRecordsWritten"),
      "shuffle_bytes" -> metric("shuffleBytesWritten"),
      "range_branches" -> rangeBranches))
  }

  /** Every physical node, descending into adaptive query stages and
    * cached relations' plans. */
  private def allNodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p => p }.flatMap {
      case m: InMemoryTableScanExec => m +: allNodes(m.relation.cachedPlan)
      case p => Seq(p)
    }
}

object PlanProbe {
  @volatile var current: PlanProbe = _
}
