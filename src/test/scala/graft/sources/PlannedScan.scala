package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** What a frame's first executed v2 scan planned, descending through
  * AQE's stage wrappers. The frame is collected first, so runtime
  * filters have re-planned the partitions. */
private[sources] object PlannedScan {

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case b: BatchScanExec => Seq(b)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans)
  }

  private def partitions(df: DataFrame): Seq[InputPartition] = {
    df.collect()
    val found = scans(df.queryExecution.executedPlan)
    require(found.nonEmpty, "no BatchScanExec in plan")
    found.head.partitions.flatten
  }

  /** The graftjson batch scan's packs, in task order. */
  def packs(df: DataFrame): Seq[JsonDocPack] =
    partitions(df).map(_.asInstanceOf[JsonDocPack])

  /** Splits planned, counted inside the packs: one pack holds several
    * files, so a partition count is no stand-in for the files planned.
    * A metadata-answered scan counts its one metadata partition. */
  def splits(df: DataFrame): Int = partitions(df).map {
    case JsonDocPack(ss) => ss.size
    case _ => 1
  }.sum
}
