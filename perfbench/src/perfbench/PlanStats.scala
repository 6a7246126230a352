package perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter,
  ProjectExec, SparkPlan, WholeStageCodegenExec, ColumnarToRowExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange,
  ReusedExchangeExec}

/** Shape and per-operator SQLMetrics of one executed physical plan.
  *
  * The walk is the one `graft.Frame.metricsSeq` makes (through adaptive
  * plans into their query stages), extended into subqueries, and it keeps
  * the tree so a scan can be paired with the filter above it. It reads
  * the plan instance that actually ran: for a prepared query that is the
  * per-sample clone, which no DataFrame holds. */
final case class PlanStats(
    nodes: Int,
    codegenStages: Int,
    exchanges: Int,
    wscgMs: Double,
    aggBuildMs: Double,
    sortMs: Double,
    broadcastBuildMs: Double,
    peakMemBytes: Double,
    scanRows: Double,
    filterPassRows: Double) {
  def toMap: Map[String, Any] = Map(
    "nodes" -> nodes, "codegen_stages" -> codegenStages,
    "exchanges" -> exchanges, "wscg_ms" -> wscgMs,
    "agg_build_ms" -> aggBuildMs, "sort_ms" -> sortMs,
    "broadcast_build_ms" -> broadcastBuildMs,
    "peak_mem_bytes" -> peakMemBytes, "scan_rows" -> scanRows,
    "filter_pass_rows" -> filterPassRows)
}

object PlanStats {
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Nil // its work is counted where it first ran
    case _ => p.children ++ p.subqueries
  }

  /** Metric value in ms (timings) or bytes (sizes); unset metrics read 0. */
  private def metric(p: SparkPlan, key: String): Double =
    p.metrics.get(key).map { m =>
      val v = math.max(0L, m.value).toDouble
      if (m.metricType == "nsTiming") v / 1e6 else v
    }.getOrElse(0.0)

  private def isScan(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec | _: InMemoryTableScanExec | _: BatchScanExec => true
    case _ => false
  }

  /** Operators a row passes through unchanged in count between a scan and
    * the first filter that reads it. */
  private def passThrough(p: SparkPlan): Boolean = p match {
    case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
         _: ProjectExec => true
    case _ => false
  }

  def of(root: SparkPlan): PlanStats = {
    var nodes, codegen, exchanges = 0
    var wscg, agg, sort, bcast, peak, scanRows, passRows = 0.0
    def visit(p: SparkPlan, ancestors: List[SparkPlan]): Unit = {
      nodes += 1
      p match {
        case _: WholeStageCodegenExec => codegen += 1
        case _: Exchange => exchanges += 1
        case _ =>
      }
      wscg += metric(p, "pipelineTime")
      agg += metric(p, "aggTime")
      sort += metric(p, "sortTime")
      peak += metric(p, "peakMemory")
      if (p.isInstanceOf[BroadcastExchangeExec]) bcast += metric(p, "buildTime")
      if (isScan(p)) {
        val rows = metric(p, "numOutputRows")
        val filter = ancestors.dropWhile(passThrough).headOption.collect {
          case f: FilterExec => f
        }
        scanRows += rows
        passRows += filter.map(metric(_, "numOutputRows")).getOrElse(rows)
      }
      children(p).foreach(visit(_, p :: ancestors))
    }
    visit(root, Nil)
    PlanStats(nodes, codegen, exchanges, wscg, agg, sort, bcast, peak,
      scanRows, passRows)
  }
}
