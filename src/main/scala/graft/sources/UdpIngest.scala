package graft.sources

import java.net.{DatagramPacket, DatagramSocket}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** UDP streaming ingest: binds a datagram socket and feeds received packets
  * into a Structured Streaming source, decoded by [[Listeners]].
  *
  * Re-expresses the reference's `LISTEN FOR NETFLOW/COLLECTD/GRAPHITE`
  * socket loop (`/root/reference/src/RamenCollectd.ml:24-90`,
  * `RamenNetflow.ml`) Spark-first: the receiver thread appends to an
  * in-memory micro-batch source, and each decoder is a flatMap over the
  * packet Dataset, so the decoded stream composes with every downstream
  * operator (windows, commit harness, NOTIFY).
  *
  * Delivery is at-most-once — exactly the reference's UDP semantics: a
  * datagram that arrives while no listener is bound is gone either way. A
  * production deployment that needs replay fronts the port with a durable
  * log (see the Kafka read path) — the decoders are transport-agnostic.
  * State here is per-listener and tiny (one socket + the current batch),
  * so one listener per ingest node scales horizontally exactly like the
  * reference's per-worker sockets.
  */
final class UdpIngest(spark: SparkSession, port: Int) {
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // (sender, payload, receipt time): stamped HERE at socket receive — a
  // packet queued between micro-batch triggers must not inherit the later
  // task execution time as its graphite receipt_time. One partition per
  // trigger, rows in arrival order: without a partition count every
  // addData block (one datagram) becomes its own input partition and task.
  // With it the stream is single-partition (RaqlCompiler.singleStream): a
  // compiled stateful stage over it reads one partition, keeps one state
  // partition and plans no Exchange
  private val mem = MemoryStream[(String, Array[Byte], Double)](1)
  private val socket = new DatagramSocket(port)
  @volatile private var running = true

  /** Actual bound port (useful with port 0 = ephemeral). */
  def boundPort: Int = socket.getLocalPort

  private val rx = new Thread(() => {
    val buf = new Array[Byte](65536)
    while (running) {
      val pkt = new DatagramPacket(buf, buf.length)
      try {
        socket.receive(pkt)
        mem.addData((pkt.getAddress.getHostAddress,
          java.util.Arrays.copyOfRange(pkt.getData, 0, pkt.getLength),
          System.currentTimeMillis() / 1000.0))
      } catch {
        case _: java.net.SocketException => () // closed in stop()
      }
    }
  }, s"graft-udp-$port")
  rx.setDaemon(true)

  def start(): UdpIngest = { rx.start(); this }

  def stop(): Unit = { running = false; socket.close() }

  /** Raw (source address, payload, receipt time) packet stream. */
  def packets: Dataset[(String, Array[Byte], Double)] = mem.toDS()

  /** Decoded netflow v5 flow stream (undecodable packets dropped). */
  def netflow: DataFrame =
    packets.flatMap { case (src, bytes, _) =>
      try Listeners.parseNetflowV5(src, bytes)
      catch { case _: IllegalArgumentException | _: java.nio.BufferUnderflowException => Nil }
    }.toDF()

  /** Decoded collectd value stream. */
  def collectd: DataFrame =
    packets.flatMap { case (_, bytes, _) => Listeners.parseCollectd(bytes) }.toDF()

  /** Decoded graphite plaintext metric stream (reference sink tuple:
    * metric/receipt_time/sender/start/tags/value), receipt_time from the
    * socket-receive stamp. */
  def graphite: DataFrame =
    packets.flatMap { case (src, bytes, rt) =>
      new String(bytes, "UTF-8").split("\n").toSeq
        .flatMap(Listeners.parseGraphite(_, Some(src), rt))
    }.toDF()
}
