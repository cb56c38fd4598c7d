package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Statistics}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * supported pattern for libraries shipping custom Catalyst expressions
  * against the classic (non-Connect) Spark runtime.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bounded-heap top-k collector (private[aggregate] in Spark) as an
    * aggregate Column: keeps the k LARGEST values of `e` under its natural
    * ordering (`reverse = true` for the k smallest), with map-side partial
    * merge. */
  def collectTopK(e: Expression, k: Int, reverse: Boolean): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectTopK(e, k, reverse)
        .toAggregateExpression())

  /** BATCH execution of `transformWithState` loads a real state store,
    * which needs the driver's StateStoreCoordinator RPC endpoint — an
    * endpoint streaming queries create lazily via the query manager.
    * Touch the same lazy ref (`private[sql]`) so a batch run works
    * without a streaming query having started first. Idempotent. */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .streams.stateStoreCoordinator
    ()
  }

  /** Drain the async listener bus (`private[spark]`) — test harnesses
    * counting scan RDDs via a SparkListener must flush pending events
    * before reading their counters. */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `internalCreateDataFrame` is `private[sql]`: build a DataFrame straight
    * from `RDD[InternalRow]` with no Row round-trip — used by the positional
    * ops to re-enter Catalyst after an RDD `zipWithIndex`. Rows MUST be
    * immutable (copied) — downstream operators may buffer them. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** `key` resolved against `ds` and bound to the positions of its
    * output: an expression an executor can evaluate over the rows of
    * `ds`'s RDD. */
  def boundOver(ds: Dataset[_], key: Column): Expression =
    ds.select(key).queryExecution.analyzed match {
      case Project(Seq(e), child) =>
        BindReferences.bindReference(e match {
          case a: Alias => a.child
          case x => x
        }, child.output)
      case plan => throw new IllegalArgumentException(s"not a projection of one column:\n$plan")
    }

  /** `cut` — a frame whose plan is one `LogicalRDD` — with that node's
    * statistics replaced by a measured row count and byte size. The RDD,
    * output, partitioning, ordering and constraints stay as they are.
    * (`LogicalRDD.fromDataset` copies the origin plan's estimates, and a
    * frame over a chosen plan can only be built inside `sql`.) */
  def withStatistics[T](cut: Dataset[T], rows: Long, bytes: Long): Dataset[T] = {
    val lr = cut.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val session = cut.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val stats = Statistics(sizeInBytes = BigInt(math.max(bytes, 1L)), rowCount = Some(BigInt(rows)))
    org.apache.spark.sql.classic.Dataset[T](session,
      lr.copy()(session, Some(stats), Some(lr.constraints)))(cut.encoder)
  }
}
