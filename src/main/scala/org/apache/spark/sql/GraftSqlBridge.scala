package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryListenerBus, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Bridge into `private[sql]` plan construction — the standard technique a
  * Spark library uses to turn a custom LogicalPlan into a DataFrame
  * (Delta, Iceberg, et al. ship equivalent shims).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[Row]].logicalPlan

  /** A session over the same context and shared state that starts from a
    * copy of `spark`'s runtime conf, temp views and functions.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  /** Detach `session`'s streaming listener bus from the context's
    * listener bus, which otherwise keeps it (and every listener added to
    * it) for the context's lifetime. Events posted so far are delivered
    * first, so its listeners still see the session's queries terminate;
    * a bus that stays busy past the wait's bound is detached anyway. The
    * bus is found by a probe listener only it holds.
    */
  def detachStreams(session: SparkSession): Unit = {
    val probe = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    session.streams.addListener(probe)
    val bus = session.sparkContext.listenerBus
    try bus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
    bus.findListenersByClass[StreamingQueryListenerBus]()
      .filter(_.listeners.contains(probe))
      .foreach(bus.removeListener)
  }

  /** The session Spark clones for `q`'s own batches (stateful operators
    * reach their state store coordinator through its streams, which
    * registers one more listener bus).
    */
  def sessionOf(q: StreamingQuery): SparkSession = q match {
    case w: StreamingQueryWrapper => w.streamingQuery.sparkSessionForStream
    case e: StreamExecution => e.sparkSessionForStream
  }

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
