package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 made the Column ↔ catalyst Expression bridge
  * (`classic.ExpressionUtils`) private[sql]; custom Expressions
  * (graft.rag.DotProduct) need it, so this shim lives in the sql
  * package — the standard pattern for Catalyst extensions compiled
  * against the classic runtime.
  */
object GraftExprBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The exact RDD backing a `localCheckpoint()`ed Dataset (its plan is
    * a LogicalRDD over the checkpointed, persisted RDD). Lets callers
    * unpersist precisely their own checkpoint blocks — a global
    * `sc.getPersistentRDDs` before/after diff would mis-attribute
    * blocks persisted concurrently by other queries.
    */
  def checkpointedRdd(ds: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Blocks until every event posted so far has reached every listener
    * (the listener bus is private[spark]).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
