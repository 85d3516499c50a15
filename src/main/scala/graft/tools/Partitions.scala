package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf

/** Partition sizing read from the engine's own settings, never a conf of ours. */
private[graft] object Partitions {

  /** True when the optimizer's size estimate of `df`
    * (`optimizedPlan.stats.sizeInBytes`, no job) is at most what AQE
    * coalesces into one shuffle partition under the session's settings:
    * `coalescePartitions.minPartitionSize` when
    * `coalescePartitions.parallelismFirst` is on (the default), else
    * `advisoryPartitionSizeInBytes`. False whenever AQE or its partition
    * coalescing is off. */
  def fitOne(df: DataFrame): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled && {
      val limit =
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
    }
  }
}
