package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[Notify.sink]]'s DSv2 streaming sink, shaped like Spark's memory sink.
  *
  * The micro-batch is planned once, in the query's own incremental
  * execution, and `addBatch` runs that plan as one job: each partition's
  * [[DataWriter]] reads all its rows through [[Notify.Cap]] and ships the
  * kept ones in its commit message, and [[NotifyWrite.commit]] hands the
  * messages, in partition order, to [[Notify.deliverBatch]] on the driver.
  * There is no second Dataset, no encoder bind and no `.rdd` per trigger,
  * as a `foreachBatch` sink has.
  *
  * The alerter cannot travel in a writer option, so [[Notify.sink]] parks
  * it in a driver-side registry under a fresh id, passes the id as the
  * writer option [[NotifySink.IdOption]], and the query's table takes it
  * out of the registry when `start()` builds it: from then on only the
  * query holds the alerter. One [[Notify.sink]] writer starts one query. */
final class NotifySink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = NotifySink.schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val id = options.get(NotifySink.IdOption)
    val e = Option(id).flatMap(i => Option(NotifySink.pending.remove(i))).getOrElse(
      throw new IllegalStateException(s"no alerter waits under ${NotifySink.IdOption} " +
        s"'$id': a Notify.sink writer starts one query; call Notify.sink again"))
    new NotifyTable(e.alerter, e.maxPerBatch,
      e.tempCheckpoint.filter(_ == options.get("checkpointLocation")))
  }
}

/** The notification table: written in streaming Append, Update (rows are
  * appended as they come) or Complete mode (each batch re-sends the whole
  * result; the alerter dedups incidents, so there is nothing to
  * truncate). `tempCheckpoint` is the temporary checkpoint
  * [[Notify.sink]] chose when the caller gave none. */
private[streaming] final class NotifyTable(alerter: Notify.Alerter, maxPerBatch: Int,
    val tempCheckpoint: Option[String]) extends Table with SupportsWrite {
  override def name(): String = "notify"
  override def schema(): StructType = NotifySink.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsStreamingUpdateAsAppend {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new NotifyWrite(alerter, maxPerBatch)
      }
    }
}

/** One micro-batch's write: capped rows out of the tasks, delivery on the
  * driver. No commit coordinator, as the memory sink: each partition's
  * message is its own, and the commit delivers them all at once. */
private[streaming] final class NotifyWrite(alerter: Notify.Alerter, maxPerBatch: Int)
    extends StreamingWrite {
  override def useCommitCoordinator(): Boolean = false
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new NotifyWriterFactory(maxPerBatch)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    Notify.deliverBatch(messages.toSeq.map(_.asInstanceOf[Notify.Shipped]), alerter, maxPerBatch)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[streaming] final class NotifyWriterFactory(maxPerBatch: Int)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val cap = new Notify.Cap(maxPerBatch)
      override def write(row: InternalRow): Unit = cap.add(NotifySink.fromRow(row))
      override def commit(): WriterCommitMessage = cap.result
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

object NotifySink {
  /** The writer option that names the registry entry of a [[Notify.sink]]. */
  private[streaming] val IdOption = "alerterId"

  /** [[Notification]]'s encoder schema: the columns the sink reads, in
    * this order (the case class's), with these types. */
  val schema: StructType = Encoders.product[Notification].schema

  private final case class Entry(alerter: Notify.Alerter, maxPerBatch: Int,
      tempCheckpoint: Option[String])
  private val pending = new ConcurrentHashMap[String, Entry]()

  /** Park `alerter` for the query a writer will start; the id to pass. */
  private[streaming] def park(alerter: Notify.Alerter, maxPerBatch: Int,
      tempCheckpoint: Option[String]): String = {
    val id = UUID.randomUUID().toString
    pending.put(id, Entry(alerter, maxPerBatch, tempCheckpoint))
    id
  }

  /** Alerters parked for writers not started yet. */
  private[graft] def parked: Int = pending.size

  /** A row of [[schema]] as a [[Notification]], by ordinal. */
  private[streaming] def fromRow(r: InternalRow): Notification = {
    def str(i: Int): String = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    // a primitive field cannot hold null, as in the encoder's deserializer
    def need(i: Int): Int =
      if (r.isNullAt(i)) throw new NullPointerException(
        s"null in the non-nullable Notification field ${schema(i).name}")
      else i
    val params =
      if (r.isNullAt(2)) null
      else {
        val m = r.getMap(2)
        val (k, v) = (m.keyArray(), m.valueArray())
        (0 until m.numElements()).map(i => k.getUTF8String(i).toString ->
          (if (v.isNullAt(i)) null else v.getUTF8String(i).toString)).toMap
      }
    Notification(str(0), r.getBoolean(need(1)), params, str(3), str(4),
      r.getBoolean(need(5)), r.getDouble(need(6)),
      if (r.isNullAt(7)) None else Some(r.getDouble(7)),
      r.getDouble(need(8)), r.getDouble(need(9)), r.getDouble(need(10)))
  }

  // weak keys: a stopped session must not be retained by this registry
  private val cleaners = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Delete the temporary checkpoints of `spark`'s notify queries when they
    * stop; registered once per session. */
  private[streaming] def cleanTemporaryCheckpoints(spark: SparkSession): Unit =
    cleaners.synchronized {
      if (cleaners.add(spark)) spark.streams.addListener(new TempCheckpoints(spark))
    }

  /** A query started on a temporary checkpoint deletes it when it stops
    * without an error, as Spark does for the `foreachBatch` and memory
    * sinks' own temporary checkpoints. The query is found when it starts
    * (Spark calls `onQueryStarted` on the query thread, while the query is
    * active), its run id recorded until it terminates. */
  private final class TempCheckpoints(spark: SparkSession) extends StreamingQueryListener {
    private val temps = new ConcurrentHashMap[UUID, String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(spark.streams.get(e.id)).collect {
        case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
          w.streamingQuery.sink
      }.collect { case t: NotifyTable => t.tempCheckpoint }.flatten
        .foreach(temps.put(e.runId, _))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(temps.remove(e.runId)).filter(_ => e.exception.isEmpty).foreach { p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)); ()
      }
  }
}
