package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Eager `localCheckpoint` whose `LogicalRDD` leaf describes its rows
  * as a materialized cache does. Spark's own records the root plan's
  * partitioning and ordering — under AQE an `AdaptiveSparkPlanExec`,
  * which reports neither — and the optimizer's size estimate, so every
  * consumer would re-exchange and re-sort clustered, sorted rows and
  * plan shuffle joins where the real size allows a broadcast. This
  * takes both properties from the final plan the action ran (the RDD is
  * its output, partition for partition) and the size from the stored
  * blocks. In this package for `Dataset.ofRows`. */
object GraftCheckpoint {

  def local(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val cut = ds.localCheckpoint(true)
    cut.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val ran = ds.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => Some(a).filter(_.isFinalPlan)
            .map(_.executedPlan)
          case p => Some(p)
        }
        val (part, order) = ran.map(p => (p.outputPartitioning match {
            case c: PartitioningCollection => c.partitionings.head
            case o => o
          }, p.outputOrdering))
          .filter(_._1.numPartitions == l.rdd.getNumPartitions)
          .getOrElse((l.outputPartitioning, l.outputOrdering))
        val stored = ds.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id).map(i => Statistics(i.memSize + i.diskSize))
        classic.Dataset.ofRows(ds.sparkSession, LogicalRDD(l.output, l.rdd,
          part, order, l.isStreaming)(ds.sparkSession,
          stored.orElse(Some(l.stats))))
      case _ => cut
    }
  }
}
