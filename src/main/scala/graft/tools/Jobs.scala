package graft.tools

import org.apache.spark.sql.SparkSession

/** How operators name the Spark jobs they start. */
private[graft] object Jobs {

  /** Runs `f` with every Spark job it starts described as `phase` (so
    * the operator and phase are named in the UI and in job listeners),
    * and restores the caller's description afterwards. Starts no job
    * itself. */
  def describedAs[T](spark: SparkSession, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(phase)
    try f finally sc.setJobDescription(caller)
  }
}
