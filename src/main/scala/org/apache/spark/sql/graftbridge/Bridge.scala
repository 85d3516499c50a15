package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge (these helpers are private[sql]
  * in Spark 4, so this one-file shim lives under org.apache.spark.sql). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a resolved logical plan (planner-rule use). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark), plan)

  /** `a` merged with `b` the way Spark's parquet schema merging folds
    * file schemas (StructType.merge is private[sql]). */
  def mergeSchema(a: org.apache.spark.sql.types.StructType,
                  b: org.apache.spark.sql.types.StructType,
                  caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)

  /** Register a SQL function builder under the given name. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** Drops a spent local checkpoint's blocks, as the ContextCleaner does,
    * without `RDD.unpersist`'s warning that a local checkpoint cannot be
    * recomputed (SparkContext.unpersistRDD is private[spark]). */
  def releaseCheckpoint(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
