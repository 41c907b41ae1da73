package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One state partition for a stream whose stateful stage reads a single
  * partition.
  *
  * A stateful operator takes its partition count from the query's
  * `spark.sql.shuffle.partitions` when the query first starts, and Spark
  * records that count in the offset log. The session setting stays at the
  * core count (the batch plans are sized on it); this listener sets 1 on
  * the query's own batch session instead, when every stateful operator of
  * the starting query reads an input that [[graft.raql.RaqlCompiler.singleStream]]
  * proves one partition. Above a `coalesce(1)` the stateful stage then
  * plans no Exchange: each trigger runs one stage of one task, as a ramen
  * worker folds its ring buffer in one process. Any other query starts
  * with the session's count, and a restart keeps the count its offset log
  * recorded (a checkpoint begun with 4 partitions plans its Exchange
  * again).
  *
  * The setting is made in `onQueryStarted`, which Spark calls on the query
  * thread before the first batch reads the conf; the query itself stays in
  * the starting session, so its listeners, memory-sink views and
  * `spark.streams` see it as any other. */
final class StatePartitions private (spark: SparkSession) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    org.apache.spark.sql.GraftShims.startedStream(spark, e.id, e.runId).foreach {
      case (plan, conf) =>
        if (StatePartitions.single(plan)) conf.set("spark.sql.shuffle.partitions", "1")
    }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StatePartitions {
  // weak keys: a stopped session must not be retained by this registry
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register the listener on `spark`'s streams, once per session. */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.add(spark)) spark.streams.addListener(new StatePartitions(spark))
  }

  /** Does `plan` hold a stateful operator, each reading one partition? */
  def single(plan: LogicalPlan): Boolean = {
    val inputs = plan.collect {
      case a: Aggregate if a.isStreaming => Seq(a.child)
      case d: Deduplicate => Seq(d.child)
      case d: DeduplicateWithinWatermark => Seq(d.child)
      case f: FlatMapGroupsWithState => Seq(f.child)
      case t: TransformWithState => Seq(t.child)
      case j: Join if j.left.isStreaming && j.right.isStreaming => Seq(j.left, j.right)
    }
    inputs.nonEmpty && inputs.flatten.forall(graft.raql.RaqlCompiler.singleStream)
  }
}
