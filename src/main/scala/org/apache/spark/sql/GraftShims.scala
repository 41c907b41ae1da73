package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ⇄ Expression converters — the
  * supported way for libraries shipping custom Catalyst expressions to
  * expose them as user-facing Columns in Spark 4.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the async listener bus — a metrics-collecting SparkListener
    * (ScaleProbe's shuffle accounting) sees stage-completed events only
    * after the bus delivers them; without a drain the last stages of a
    * just-finished job are still in flight when the caller reads the
    * counters. `listenerBus` is `private[spark]`, hence this shim. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000)

  /** The analyzed plan of the running streaming query `id`/`runId` and the
    * conf of the session its batches run in (`sparkSessionForStream`, the
    * clone `start()` made of the starting session). A query-started
    * listener runs on the query thread before the first batch reads that
    * conf, so a setting made there decides how the query starts; once the
    * offset log holds a batch, a restart takes the logged values instead.
    * Both live in Spark's internals (`SharedState.activeStreamingQueries`,
    * `StreamExecution`), reached here from the `sql` package. */
  def startedStream(spark: SparkSession, id: java.util.UUID, runId: java.util.UUID)
      : Option[(catalyst.plans.logical.LogicalPlan, RuntimeConfig)] =
    Option(spark.asInstanceOf[classic.SparkSession].sharedState
        .activeStreamingQueries.get(id))
      .filter(_.runId == runId)
      .map(q => (q.analyzedPlan, q.sparkSessionForStream.conf))
}
