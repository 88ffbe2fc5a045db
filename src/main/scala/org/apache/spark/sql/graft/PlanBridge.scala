package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge from a raw Catalyst [[LogicalPlan]] to a public DataFrame —
  * the `Dataset.ofRows` constructor is `private[sql]` in Spark 4, so
  * graft's custom logical operators re-export it from inside the
  * package tree (same pattern as [[ColumnBridge]]).
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed plan behind `df` (`Dataset.logicalPlan` is
    * `private[sql]`) — lets a caller rebind a DataFrame to another
    * session of the same SparkContext via [[ofRows]].
    */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** A checkpointed frame (a bare [[LogicalRDD]]) with its leaf copied
    * without origin constraints (the LogicalRDD's second parameter list
    * is not public). The copy keeps the same RDD, so the blocks behind
    * it can still be freed through it, and the same origin statistics. */
  def withoutOriginConstraints(cut: DataFrame): DataFrame = {
    val lr = logicalPlan(cut).asInstanceOf[LogicalRDD]
    ofRows(cut.sparkSession, lr.copy()(
      cut.sparkSession.asInstanceOf[classic.SparkSession], Some(lr.computeStats()), None))
  }

  /** The session's stable UUID (`sessionUUID` is `private[sql]`) —
    * the correct per-session cache-key component: identityHashCode is
    * not unique across GC'd/recreated sessions. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Block until every listener event posted so far has been
    * delivered (`listenerBus` is `private[spark]`). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Run `f` over each partition of `df`'s Catalyst rows and collect
    * the results: one SQL execution named `name`, like a Dataset
    * action, but with no conversion to external `Row`s. The rows may be
    * one reused buffer, so `f` must copy out what it keeps. */
  def collectPartitions[T: ClassTag](df: DataFrame, name: String)(
      f: Iterator[InternalRow] => Iterator[T]): Array[T] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitions(f).collect()
    }
  }
}
