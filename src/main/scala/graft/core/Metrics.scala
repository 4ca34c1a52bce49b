package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase

/** Runtime IO/shuffle profiling from the executed plan's own SQLMetrics —
  * the operability surface a 100 TB deployment watches: how many rows the
  * scans actually produced, how many bytes actually crossed a shuffle, and
  * how many exchanges the final (post-AQE) plan ran. Besides dashboards,
  * this turns the catalog's scale claims into MEASURED facts: a query
  * documented "zero-shuffle" must report 0 shuffle bytes at runtime, not
  * just a clean-looking static plan (MetricsSpec holds exactly that gate
  * for the split/quality family, and the inverse for a join).
  *
  * `graft.Bench.measure` executes every catalog run through `measure`,
  * so each run's profile lands in the Bench profile's "io" field and,
  * through ScaleProfile, in SCALE.md.
  */
object Metrics {

  /** One executed query's profile. `rowsOut` counts the rows the plan
    * delivered; `scanRows` sums the leaf scan outputs, file and DSv2
    * (what was actually read after pushdown/pruning);
    * `shuffleBytes`/`shuffleRecords` sum every exchange's write-side
    * metrics; `nExchanges` counts shuffle exchanges in the FINAL adaptive
    * plan. */
  /** `nHashExchanges` counts hash-partitioning exchanges only — the
    * COMPUTATION shuffles; a deterministic catalog query's presentation
    * ORDER BY adds one range exchange that a zero-shuffle claim does not
    * cover. `scanRows` SUMS across every scan node (a self-joining plan
    * counts its table twice) and reflects parquet's row-group/page-stat
    * pushdown granularity — at fixture scale a pushed filter may prune
    * nothing (one row group), so pushdown claims stay with PlanAudit's
    * static PushedFilters gate; this metric is for watching actual IO at
    * deployment scale. */
  case class Profile(rowsOut: Long, scanRows: Long,
                     shuffleBytes: Long, shuffleRecords: Long,
                     nExchanges: Int, nHashExchanges: Int)

  /** The final physical plan tree, with AQE wrappers and materialized
    * query stages unwrapped (stage nodes are leaves whose real subtree
    * hangs off `plan`). */
  private def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: finalNodes(q.plan)
    case other => other +: other.children.flatMap(finalNodes)
  }

  /** Execute `df`'s plan (discarding rows) and read back its metrics.
    * Runs the SAME QueryExecution whose metrics are inspected — a
    * `df.write`/`df.count` would plan a fresh tree and leave this one's
    * counters at zero. The logical plan is RE-PLANNED internally into a
    * fresh QueryExecution first: SQLMetrics accumulate across executions
    * of one physical plan instance, so measuring the caller's own
    * (possibly already-executed) tree would double-count scanRows /
    * shuffleBytes — with the re-plan, measure is idempotent and safe on
    * any df. */
  def measure(df: DataFrame): Profile = {
    val spark = df.sparkSession
    val qe = org.apache.spark.sql.GraftBridge
      .ofRows(spark, df.queryExecution.logical).queryExecution
    val rows = spark.sparkContext.longAccumulator("graft.metrics.rows")
    qe.executedPlan.execute().foreachPartition { it =>
      while (it.hasNext) { it.next(); rows.add(1L) }
    }
    val nodes = finalNodes(qe.executedPlan)
    def metric(n: SparkPlan, key: String): Long =
      n.metrics.get(key).map(_.value).getOrElse(0L)
    val scans = nodes.filter { // file scans and DSv2 scans (the stores' BatchScanExec)
      case _: DataSourceScanExec | _: DataSourceV2ScanExecBase => true; case _ => false }
    val exchanges = nodes.filter(_.getClass.getSimpleName.contains("ShuffleExchange"))
    Profile(
      rowsOut = rows.value,
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      shuffleBytes = exchanges.map(metric(_, "shuffleBytesWritten")).sum,
      shuffleRecords = exchanges.map(metric(_, "shuffleRecordsWritten")).sum,
      nExchanges = exchanges.size,
      nHashExchanges = exchanges.count(_.simpleString(32).contains("hashpartitioning")))
  }
}
