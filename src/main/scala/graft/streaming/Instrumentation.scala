package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream, MemoryStreamTable}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** `LISTEN FOR INSTRUMENTATION FROM *` as a QUERYABLE STREAM.
  *
  * The reference republishes each worker's periodic runtime stats as a
  * normal stream any program can read (`src/runtime_stats.type:1-64`;
  * `examples/benchmarks/comms.ramen:31-44`). The Spark-native equivalent of
  * a "worker" is a running streaming query, and its stats feed is
  * `StreamingQueryProgress` — so this listener folds every progress event
  * into the reference's `runtime_stats` record shape and republishes it
  * through a MemoryStream that RaQL `LISTEN FOR INSTRUMENTATION` compiles
  * to.
  *
  * Field mapping (cumulative-since-startup like the reference, tracked per
  * query name): tot_in_tuples/tot_in_bytes from input rows; tot_out_tuples
  * from the sink; cur/max_groups from stateful-operator rows; tot_cpu
  * approximated by summed trigger wall times (documented — Spark does not
  * expose per-query CPU); cur/max_ram from the JVM heap (shared across
  * queries, as reference workers share a host). Unobservable fields
  * (tot_wait_in/out, byte sizes sampled, notif counts fed by the Alerter,
  * the out count of a sink that reports none) are zero, never fabricated.
  *
  * A query that reads this stream reports no stats rows of its own: each
  * of its triggers would otherwise add the row its next trigger reads, and
  * it would never idle. The reference reports each worker on a period,
  * which bounds that loop but does not end it; here the readers are found
  * when they start (their analyzed plan holds this stream) and skipped.
  */
final class Instrumentation(spark: SparkSession) extends StreamingQueryListener {

  /** runtime_stats.type mirrored as a Spark row. */
  case class RuntimeStats(
      worker: String,
      stats_time: Double,
      first_startup: Double,
      last_startup: Double,
      min_etime: Option[Double],
      max_etime: Option[Double],
      first_input: Option[Double],
      last_input: Option[Double],
      first_output: Option[Double],
      last_output: Option[Double],
      tot_in_tuples: Long,
      tot_sel_tuples: Long,
      tot_out_filtered: Long,
      tot_out_tuples: Long,
      tot_out_errs: Long,
      tot_full_bytes: Long,
      tot_full_bytes_samples: Long,
      cur_groups: Long,
      max_groups: Long,
      tot_in_bytes: Long,
      tot_out_bytes: Long,
      tot_wait_in: Double,
      tot_wait_out: Double,
      tot_firing_notifs: Long,
      tot_extinguished_notifs: Long,
      tot_cpu: Double,
      cur_ram: Long,
      max_ram: Long)

  private final class Totals {
    var firstStartup = 0.0
    var lastStartup = 0.0
    var in = 0L; var out = 0L; var cpu = 0.0
    var firstInput: Option[Double] = None
    var lastInput: Option[Double] = None
    var maxGroups = 0L
    var maxRam = 0L
  }
  private val perQuery = new ConcurrentHashMap[String, Totals]()
  /** Run ids of the started queries that read this stream. */
  private val readers = ConcurrentHashMap.newKeySet[java.util.UUID]()

  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  // one partition per trigger, like the ingest sources: without a
  // partition count every progress row (one addData each) becomes its own
  // input partition and task; with it a stream over the stats is
  // single-partition (RaqlCompiler.singleStream)
  private val stream = MemoryStream[RuntimeStats](1)
  // one stats row per progress event accumulates on the driver — bound it
  // (reference workers also keep only the latest stats, RamenWorkerStats)
  private val maxRetained = 10000L
  private var added = 0L
  /** Highest retention offset this listener has (tried to) commit —
    * monotonic, so an engine commit racing ahead never triggers a
    * lower-offset commit storm. */
  private var manualCommitted = 0L

  /** The queryable stats stream (schema = runtime_stats.type, plus the
    * pre-runtime_stats instrumentation names as alias columns — the
    * reference's own examples/benchmarks/comms.ramen still reads
    * start/tuples_out/wait_in/wait_out/cpu/ram). */
  def df: DataFrame = {
    import org.apache.spark.sql.functions.col
    stream.toDF()
      .withColumn("start", col("stats_time"))
      .withColumn("tuples_out", col("tot_out_tuples"))
      .withColumn("wait_in", col("tot_wait_in"))
      .withColumn("wait_out", col("tot_wait_out"))
      .withColumn("cpu", col("tot_cpu"))
      .withColumn("ram", col("cur_ram"))
  }

  /** Deregister from the session and drop the cached instance. */
  def close(): Unit = {
    spark.streams.removeListener(this)
    Instrumentation.drop(spark)
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    // Spark calls this on the query thread while the query is active
    val reads = org.apache.spark.sql.GraftShims.startedStream(spark, e.id, e.runId)
      .exists(_._1.exists {
        case r: StreamingRelationV2 => r.table match {
          case t: MemoryStreamTable => t.stream eq stream
          case _ => false
        }
        case _ => false
      })
    if (reads) readers.add(e.runId)
    val t = perQuery.computeIfAbsent(nameOf(e.name, e.id.toString), _ => new Totals)
    val now = System.currentTimeMillis() / 1000.0
    if (t.firstStartup == 0.0) t.firstStartup = now
    t.lastStartup = now
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    readers.remove(e.runId); ()
  }

  private def nameOf(name: String, id: String): String =
    Option(name).getOrElse(id)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (readers.contains(p.runId)) return
    val worker = nameOf(p.name, p.id.toString)
    val t = perQuery.computeIfAbsent(worker, _ => new Totals)
    val now = java.time.Instant.parse(p.timestamp).toEpochMilli / 1000.0
    t.synchronized {
      t.in += p.numInputRows
      // a sink that reports no count (foreachBatch) reports -1
      t.out += Option(p.sink).map(_.numOutputRows).filter(_ >= 0).getOrElse(0L)
      // triggerExecution spans addBatch/getBatch/latestOffset/
      // queryPlanning/walCommit: summing every entry counts each phase
      // twice, so the phases are summed only when it is absent
      val d = p.durationMs.asScala
      t.cpu += d.get("triggerExecution").map(_.toDouble)
        .getOrElse(d.values.map(_.toDouble).sum) / 1000.0
      if (p.numInputRows > 0) {
        if (t.firstInput.isEmpty) t.firstInput = Some(now)
        t.lastInput = Some(now)
      }
      val groups = p.stateOperators.map(_.numRowsTotal).sum
      t.maxGroups = math.max(t.maxGroups, groups)
      val rt = Runtime.getRuntime
      val ram = rt.totalMemory() - rt.freeMemory()
      t.maxRam = math.max(t.maxRam, ram)
      val etimes = p.eventTime
      def et(k: String): Option[Double] =
        Option(etimes.get(k)).map(s =>
          java.time.Instant.parse(s).toEpochMilli / 1000.0)
      stream.addData(RuntimeStats(
        worker = worker,
        stats_time = now,
        first_startup = t.firstStartup,
        last_startup = t.lastStartup,
        min_etime = et("min"),
        max_etime = et("max"),
        first_input = t.firstInput,
        last_input = t.lastInput,
        first_output = t.firstInput, // emission follows the batch it read
        last_output = t.lastInput,
        tot_in_tuples = t.in,
        tot_sel_tuples = t.in,
        tot_out_filtered = 0L,
        tot_out_tuples = t.out,
        tot_out_errs = 0L,
        tot_full_bytes = 0L,
        tot_full_bytes_samples = 0L,
        cur_groups = groups,
        max_groups = t.maxGroups,
        tot_in_bytes = 0L,
        tot_out_bytes = 0L,
        tot_wait_in = 0.0,
        tot_wait_out = 0.0,
        tot_firing_notifs = 0L,
        tot_extinguished_notifs = 0L,
        tot_cpu = t.cpu,
        cur_ram = ram,
        max_ram = t.maxRam))
      added += 1
      // each addData is one batch = one offset unit: discard batches older
      // than the retention window so long-lived sessions stay bounded.
      // The engine ALSO commits offsets on behalf of any query consuming
      // the stats stream: if a reader already committed past our target,
      // MemoryStream throws "Offsets committed out of order" — those
      // batches are already discarded, so retention is satisfied; swallow
      // and record the target as done. (The converse — our commit
      // trimming under a LAGGING reader — is the documented retention
      // contract: bounded memory wins, exactly as the reference's
      // ringbufs drop unread entries to stay fixed-size.)
      if (added % 256 == 0 && added > maxRetained) {
        val target = added - maxRetained
        if (target > manualCommitted) {
          try { stream.commit(LongOffset(target)); manualCommitted = target }
          catch {
            // ONLY the documented race (a consuming query committed past
            // our target → those batches are already discarded, retention
            // satisfied); any other IllegalStateException is a real
            // failure and must not be recorded as committed
            case e: IllegalStateException
                if Option(e.getMessage).exists(_.contains("committed out of order")) =>
              manualCommitted = target
          }
        }
      }
    }
  }

}

object Instrumentation {
  // weak keys: a stopped session must not be retained by this registry
  // (the listener itself is reachable only FROM the session's bus)
  private val shared =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.WeakReference[Instrumentation]]()

  /** One listener per session, registered on first use. */
  def apply(spark: SparkSession): Instrumentation = shared.synchronized {
    Option(shared.get(spark)).flatMap(r => Option(r.get())).getOrElse {
      val i = new Instrumentation(spark)
      spark.streams.addListener(i)
      shared.put(spark, new java.lang.ref.WeakReference(i))
      i
    }
  }

  private[streaming] def drop(spark: SparkSession): Unit =
    shared.synchronized { shared.remove(spark); () }
}
