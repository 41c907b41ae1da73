package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.net.{ServerSocket, Socket}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** TCP line-stream ingest for `LISTEN FOR GRAPHITE … PROTO TCP` — the
  * reference's TCP collector (`RamenGraphiteSink.ml:125-160`'s `ip_server`
  * with `IpProtocol.TCP`; graphite_sink.feature exercises both
  * transports). An accept loop hands each connection to a reader thread
  * that appends complete lines to the micro-batch source, so the decoded
  * stream is the same frame shape as the UDP path and composes with every
  * downstream operator.
  *
  * Only line-framed protocols make sense over a byte stream; the binary
  * LISTEN decoders (netflow/collectd) are datagram-framed and stay UDP,
  * as in practice they are everywhere.
  *
  * Durability: delivery is at-most-once, the same contract as
  * [[UdpIngest]] — lines buffered in the in-memory source are lost on a
  * restart, and although TCP's transport could replay, the reference's
  * graphite sink offers no application-level ack either (a sender whose
  * connection drops has no idea which lines were consumed). A production
  * deployment that needs replay fronts the port with a durable log (see
  * the Kafka read path); the decoders are transport-agnostic.
  */
final class TcpIngest(spark: SparkSession, port: Int) {
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // (sender, line, receipt time): the timestamp is stamped HERE, in the
  // reader thread at enqueue — the reference's sink stamps on ingest
  // (`RamenGraphiteSink.ml`), and a line queued between micro-batch
  // triggers must not inherit the (later) task execution time, which the
  // 2-field graphite form would then use as the metric's START. One
  // partition per trigger, lines in arrival order; a stateful stage over
  // it keeps one state partition (see UdpIngest)
  private val mem = MemoryStream[(String, String, Double)](1)
  private val server = new ServerSocket(port)
  @volatile private var running = true

  /** Actual bound port (useful with port 0 = ephemeral). */
  def boundPort: Int = server.getLocalPort

  private def reader(conn: Socket): Thread = {
    val t = new Thread(() => {
      val sender = conn.getInetAddress.getHostAddress
      try {
        val in = new BufferedReader(
          new InputStreamReader(conn.getInputStream, "UTF-8"))
        var line = in.readLine()
        while (running && line != null) {
          // one reader thread per connection: MemoryStream.addData's row
          // ENCODER is not thread-safe (concurrent adds corrupt UnsafeRows)
          // — serialize the enqueue across connections
          if (line.nonEmpty) mem.synchronized {
            mem.addData((sender, line, System.currentTimeMillis() / 1000.0))
          }
          line = in.readLine()
        }
      } catch {
        case _: java.io.IOException => ()
        case e: Exception => System.err.println(s"[tcp-ingest] reader died: $e")
      }
      finally conn.close()
    }, s"graft-tcp-conn-$port")
    t.setDaemon(true)
    t
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try reader(server.accept()).start()
      catch { case _: java.net.SocketException => () } // closed in stop()
    }
  }, s"graft-tcp-$port")
  acceptor.setDaemon(true)

  def start(): TcpIngest = { acceptor.start(); this }

  def stop(): Unit = { running = false; server.close() }

  /** Raw (sender address, line, receipt time) stream. */
  def lines: Dataset[(String, String, Double)] = mem.toDS()

  /** Decoded graphite plaintext metric stream — same tuple as
    * [[UdpIngest.graphite]], receipt_time from the enqueue stamp. */
  def graphite: DataFrame =
    lines.flatMap { case (src, line, rt) =>
      Listeners.parseGraphite(line, Some(src), rt)
    }.toDF()
}
