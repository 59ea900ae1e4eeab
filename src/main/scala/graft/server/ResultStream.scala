package graft.server

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CollectLimitExec, CommandResultExec, LocalTableScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.plans.LocalFoldExec

/** The one way a frontend drains a result: PG simple query, portal and
  * cursor, and the CH HTTP response all open their rows here.
  *
  * `toLocalIterator` keeps one partition resident, so an unbounded
  * result never lands in driver memory at once; but it runs one job
  * per partition, and Spark's driver-side roots override only
  * `executeCollect`. Roots whose rows are already in the driver, or
  * bounded by a literal LIMIT, therefore drain with one `collect`:
  *  - `LocalTableScanExec` (catalog views, VALUES), `CommandResultExec`
  *    and [[LocalFoldExec]]: no job at all;
  *  - `CollectLimitExec` and `TakeOrderedAndProjectExec` of at most
  *    [[MaxCollectRows]] rows: one job, without the single-partition
  *    shuffle their `toLocalIterator` path adds.
  * Every other root streams as before. Under AQE the root is read from
  * `AdaptiveSparkPlanExec.inputPlan`. */
object ResultStream {

  /** Largest literal LIMIT a root may carry and still drain by collect. */
  val MaxCollectRows = 10000

  def open(df: DataFrame): java.util.Iterator[Row] =
    if (collects(df.queryExecution.executedPlan)) df.collectAsList().iterator()
    else df.toLocalIterator()

  private[server] def collects(root: SparkPlan): Boolean = root match {
    case a: AdaptiveSparkPlanExec => collects(a.inputPlan)
    case _: LocalTableScanExec | _: CommandResultExec | _: LocalFoldExec => true
    case l: CollectLimitExec => l.limit >= 0 && l.limit <= MaxCollectRows
    case t: TakeOrderedAndProjectExec => t.limit <= MaxCollectRows
    case _ => false
  }
}
