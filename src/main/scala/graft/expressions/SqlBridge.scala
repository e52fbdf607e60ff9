package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversions (Spark 4 routes
  * Column through ColumnNode; `classic.ExpressionUtils` is the supported
  * internal accessor but is sql-private). Lives in the spark.sql package
  * solely to re-export the two conversions graft's native expressions need. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Unique-per-session token (`private[sql]` on the api base class) —
    * SessionMemo keys on it instead of an identity hash, which the JVM can
    * reuse after a stopped session is GC'd (ADVICE r9). */
  def sessionUUID(s: SparkSession): String = s match {
    case c: classic.SparkSession => c.sessionUUID
    case other => "idhash:" + System.identityHashCode(other)
  }

  /** Block until the listener bus has delivered every queued event
    * (`private[spark]`) — ShuffleProbe zeroes its per-query counters
    * between queries and must not race late task-end events. */
  def drainListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  /** Drop the executor blocks behind a `localCheckpoint`'ed frame, NOW.
    * The fitters whose iterate stays on executors (the ppmiSvd power
    * iterations, the NMF updates and the above-cap `minLabels` rounds)
    * checkpoint per round; a superseded round's blocks otherwise linger
    * until the async ContextCleaner notices the RDD became unreachable — a
    * driver-GC-latency dependency measured as a ~15% uniform cold-pass
    * inflation across the 176-query bench once r12 added four more
    * iterative fits (VERDICT r12 #5). No-op on plans that are not a
    * checkpoint product. Non-blocking: readers already hold their
    * iterators; the blocks just stop being pinned. */
  def dropCheckpoint(df: Dataset[_]): Unit = df match {
    case c: classic.Dataset[_] => c.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
    case _ => ()
  }
}
