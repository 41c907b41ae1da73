package graft.perfbench

import java.net.{DatagramPacket, DatagramSocket}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Listeners

class GeneratorSpec extends AnyFunSuite {
  import NetflowAlert._

  test("an encoded datagram decodes back to its flows and creation time") {
    val nowMs = System.currentTimeMillis()
    val flows = Seq((0x0A000001L, 0xC0A80001L, 1234L), (0xAC100005L, 0xC0A80002L, AnomalyFlowBytes))
    val recs = Listeners.parseNetflowV5("127.0.0.1", Wire.encode(7, nowMs, flows))
    assert(recs.map(r => (r.src, r.dst, r.bytes)) == flows)
    assert(recs.forall(r => r.start == Wire.decodedStart(nowMs) && r.stop == r.start))
    assert(math.abs(recs.head.start - nowMs / 1e3) < 1e-3)
    assert(recs.forall(_.seqnum == 7))
  }

  test("generator datagrams decode to the planted anomalies and sub-threshold background") {
    val rx = new DatagramSocket(0)
    rx.setSoTimeout(2000)
    val gen = new Generator(42, rx.getLocalPort)
    gen.start()
    val got = scala.collection.mutable.ArrayBuffer.empty[Listeners.NetflowRecord]
    val buf = new Array[Byte](65536)
    val end = System.currentTimeMillis() + 1500
    while (System.currentTimeMillis() < end) {
      val p = new DatagramPacket(buf, buf.length)
      rx.receive(p)
      got ++= Listeners.parseNetflowV5("127.0.0.1", java.util.Arrays.copyOf(p.getData, p.getLength))
    }
    gen.halt()
    rx.close()
    // datagrams still in flight when the receive loop ended are not in `got`
    val seen = got.map(_.src).toSet
    val planted = gen.planted.asScala.toSeq.filter(p => seen.contains(p.src))
    assert(planted.size >= 50, s"only ${planted.size} anomalies received")
    val windows = got.groupBy(r => (r.src, math.floor(r.start)))
      .map { case ((src, w), rs) => (src, w + 1) -> rs.map(_.bytes).sum }
    planted.foreach { p =>
      assert(windows.get((p.src, p.wstop)).exists(_ > Threshold), s"anomaly $p")
    }
    val anomalous = planted.map(_.src).toSet
    windows.foreach { case ((src, _), total) =>
      if (!anomalous.contains(src)) assert(total < Threshold / 2, s"background $src sums $total")
    }
    assert(got.size % FlowsPerDatagram == 0)
  }
}
