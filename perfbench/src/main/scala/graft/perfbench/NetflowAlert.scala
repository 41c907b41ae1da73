package graft.perfbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.raql.{RaqlCompiler, RaqlParser}
import graft.sources.Listeners
import graft.streaming.{Contact, Notification, Notify}

/** The open-loop alerting workload: netflow v5 datagrams over loopback UDP
  * into a compiled RaQL program whose NOTIFY alerts reach an alerter.
  *
  * Background hosts are Zipf-skewed and always sum below the threshold in
  * any one-second window; each second the generator plants a fixed number
  * of anomalies, each on a fresh source address, whose window sum crosses
  * it. Alert latency is the contact callback's wall time minus the planted
  * window's end (`wstop`); a run reports the median over its windows. */
object NetflowAlert {
  val FlowsPerDatagram = 30
  // well below the pipeline's capacity, so base-rate latency is not
  // dominated by queueing noise near saturation
  val BaseRate = 20.0 // datagrams/s: 600 flows/s
  val AnomaliesPerS = 100.0
  val Threshold = 100000000L // bytes per source per one-second window
  val AnomalyFlowBytes = 60000000L // two flows cross the threshold
  val BackgroundHosts = 500
  // untimed, after the first alert: the cold stream drains the windows
  // queued behind its first trigger in 5-10 s
  val WarmupS = 10.0
  val FirstAlertCapS = 60.0
  val StepMultipliers = Seq(2.0, 3.0, 4.0, 6.0)
  val StepS = 2.0
  val LatencyLimitS = 6.0
  val TailCapS = 6.0

  def program(port: Int): String =
    s"""DEFINE flows AS LISTEN FOR NETFLOW ON PORT $port;
       |DEFINE heavy AS FROM flows
       |  SELECT TRUNCATE(MIN start, 1) AS wstart, out.wstart + 1 AS wstop,
       |         src, SUM bytes AS total
       |  GROUP BY src
       |  COMMIT BEFORE in.start >= out.wstop;
       |DEFINE alert AS FROM heavy
       |  SELECT wstop, src, total
       |  WHERE total > $Threshold
       |  NOTIFY "heavy " || string(src);""".stripMargin

  /** A generator phase: datagram rate and anomaly rate. */
  final case class Phase(name: String, rate: Double, anomalies: Double)

  final case class Planted(src: Long, phase: String, wstop: Double)

  /** Wire encoding of one datagram; `start` is each flow's creation time
    * exactly as the decoder will reconstruct it. */
  object Wire {
    /** Uptime origin: a whole second an hour before the run, so sysUptime
      * fits in 32 bits and the decoded times are exact to the ms. */
    val bootMs: Long = (System.currentTimeMillis() / 1000 - 3600) * 1000

    def decodedStart(nowMs: Long): Double = {
      val uptime = nowMs - bootMs
      val boot = (nowMs / 1000).toDouble + ((nowMs % 1000) * 1000000L) / 1e9 - uptime / 1e3
      boot + uptime / 1e3
    }

    def encode(seq: Long, nowMs: Long, flows: Seq[(Long, Long, Long)]): Array[Byte] = {
      val b = ByteBuffer.allocate(24 + 48 * flows.size).order(ByteOrder.BIG_ENDIAN)
      val uptime = (nowMs - bootMs).toInt
      b.putShort(5.toShort).putShort(flows.size.toShort).putInt(uptime)
      b.putInt((nowMs / 1000).toInt).putInt(((nowMs % 1000) * 1000000L).toInt)
      b.putInt(seq.toInt).put(0.toByte).put(0.toByte).putShort(0.toShort)
      flows.foreach { case (src, dst, bytes) =>
        b.putInt(src.toInt).putInt(dst.toInt).putInt(0)
        b.putShort(1.toShort).putShort(2.toShort)
        b.putInt(math.max(1L, bytes / 1000).toInt).putInt(bytes.toInt)
        b.putInt(uptime).putInt(uptime)
        b.putShort(40000.toShort).putShort(443.toShort)
        b.put(0.toByte).put(0x18.toByte).put(6.toByte).put(0.toByte)
        b.putShort(0.toShort).putShort(0.toShort).put(24.toByte).put(24.toByte)
        b.putShort(0.toShort)
      }
      b.array()
    }
  }

  /** One thread, one socket: sends on a fixed schedule regardless of how
    * the pipeline keeps up (open loop) and plants anomalies. */
  final class Generator(seed: Long, port: Int) extends Thread("perfbench-netflow-gen") {
    setDaemon(true)
    private val rng = new java.util.Random(seed)
    private val sock = new DatagramSocket()
    private val target = InetAddress.getLoopbackAddress
    private val zipfCdf: Array[Double] = {
      val w = (1 to BackgroundHosts).map(k => 1.0 / math.pow(k, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    @volatile var phase: Phase = Phase("warmup", BaseRate, AnomaliesPerS)
    @volatile private var running = true
    val planted = new ConcurrentLinkedQueue[Planted]()
    /** (wall ms, datagrams sent so far), one entry per datagram. */
    val sendLog = new ConcurrentLinkedQueue[(Long, Long)]()
    val lateMsMax = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    /** The first datagrams, kept to time the decoder afterwards. */
    val sample = new ConcurrentLinkedQueue[Array[Byte]]()
    @volatile var sent = 0L
    private var nextAnomalySrc = 0xAC100000L // 172.16.0.0

    def host(): Long = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(zipfCdf, u)
      0x0A000000L + (if (i >= 0) i else -i - 1) // 10.0.x.y
    }

    def halt(): Unit = { running = false; join(10000); sock.close() }

    override def run(): Unit = {
      var due = System.nanoTime()
      var credit = 0.0
      while (running) {
        val p = phase
        val now = System.nanoTime()
        if (now < due) LockSupport.parkNanos(due - now)
        val late = (System.nanoTime() - due) / 1e6
        if (late > lateMsMax(p.name)) lateMsMax(p.name) = late
        val nowMs = System.currentTimeMillis()
        credit += p.anomalies / p.rate
        val flows = mutable.ArrayBuffer.empty[(Long, Long, Long)]
        // anomalies stay clear of a second boundary so their window is
        // unambiguous; a postponed one rides the next datagram
        val ms = nowMs % 1000
        if (ms >= 20 && ms <= 980)
          while (credit >= 1.0 && flows.size + 2 <= FlowsPerDatagram) {
            credit -= 1.0
            val src = nextAnomalySrc
            nextAnomalySrc += 1
            flows += ((src, 0xC0A80001L, AnomalyFlowBytes))
            flows += ((src, 0xC0A80002L, AnomalyFlowBytes))
            planted.add(Planted(src, p.name,
              math.floor(Wire.decodedStart(nowMs)) + 1))
          }
        while (flows.size < FlowsPerDatagram)
          flows += ((host(), 0xC0A80000L + rng.nextInt(256), 40L + rng.nextInt(1461)))
        val bytes = Wire.encode(sent, nowMs, flows.toSeq)
        if (sent < 2000) sample.add(bytes)
        try sock.send(new DatagramPacket(bytes, bytes.length, target, port))
        catch { case _: java.io.IOException if !running => () }
        sent += 1
        sendLog.add((nowMs, sent))
        due += (1e9 / p.rate).toLong
      }
    }
  }

  def freePort(): Int = { val s = new DatagramSocket(0); try s.getLocalPort finally s.close() }

  def run(spark: SparkSession, a: Main.Args, tracer: Tracer, probes: Probes): Main.Outcome = {
    import spark.implicits._
    val ckpt = java.nio.file.Paths.get(a.out, "checkpoint").toString
    val port = freePort()
    val progress = new ProgressListener
    spark.streams.addListener(progress)

    // RaQL parse and compile, timed from outside
    val p0 = System.nanoTime()
    val parsed = RaqlParser.parseProgram(program(port)) match {
      case Right(p) => p
      case Left(e) => sys.error(s"RaQL parse: $e")
    }
    val p1 = System.nanoTime()
    val compiler = new RaqlCompiler(spark, a.out)
    compiler.register("net", parsed)
    val notifs = compiler.notifications("net/alert")
      .getOrElse(sys.error("no NOTIFY compiled")).as[Notification]
    val p2 = System.nanoTime()

    val deliveries = new ConcurrentLinkedQueue[(String, Double)]()
    val alerter = new Notify.Alerter(
      teams = Map("default" -> Seq(Contact.SysLog("${name}|${wstop}"))),
      syslog = msg => deliveries.add((msg, System.currentTimeMillis() / 1e3)))
    val sinkTimes = new ConcurrentLinkedQueue[(Long, Long, Long)]() // batch, t0 ns, t1 ns
    val writer =
      if (!tracer.enabled) Notify.sink(notifs, alerter)
      else notifs.writeStream.foreachBatch { (b: Dataset[Notification], id: Long) =>
        val t0 = System.nanoTime()
        Notify.sinkBatch(b, alerter, 100000)
        sinkTimes.add((id, t0, System.nanoTime()))
        ()
      }
    val query = writer.option("checkpointLocation", ckpt).start()

    val gen = new Generator(a.seed, port)
    gen.start()
    def delivered: Set[String] = deliveries.asScala.map(_._1.takeWhile(_ != '|')).toSet
    def plantedIn(phases: String*): Seq[Planted] =
      gen.planted.asScala.filter(p => phases.contains(p.phase)).toSeq
    def waitUntil(capS: Double)(cond: => Boolean): Unit = {
      val end = System.nanoTime() + (capS * 1e9).toLong
      while (!cond && System.nanoTime() < end && query.isActive) Thread.sleep(20)
    }
    def name(p: Planted) = s"heavy ${p.src}"

    // Set-up ends with the first delivered alert; a fixed warm-up at the
    // base rate follows, untimed.
    val w0 = System.nanoTime()
    def stopped() = query.exception.getOrElse(new IllegalStateException("stream stopped"))
    waitUntil(FirstAlertCapS)(!deliveries.isEmpty)
    if (!query.isActive) throw stopped()
    if (deliveries.isEmpty) sys.error(s"no alert within $FirstAlertCapS s of the stream's start")
    val setupS = deliveries.asScala.map(_._2).min - Main.jvmStartMs / 1e3
    Thread.sleep((WarmupS * 1000).toLong)
    if (!query.isActive) throw stopped()
    val warmupS = (System.nanoTime() - w0) / 1e9
    if (tracer.enabled) probes.reset(spark.sparkContext)

    def inPhase(fromMs: Long, toMs: Long) =
      progress.all.filter { case (t, _) => t >= fromMs && t <= toMs }
    def sentBy(ms: Long): Long =
      gen.sendLog.asScala.takeWhile(_._1 <= ms).lastOption.map(_._2).getOrElse(0L)
    def offset(s: String): Long = scala.util.Try(s.trim.toLong).getOrElse(-1L)
    /** Datagrams sent but not yet processed, at each trigger's end. */
    def backlog(evs: Seq[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]) =
      evs.filter(_._2.sources.nonEmpty).map { case (t, pr) =>
        (t / 1e3, (sentBy(t) - (offset(pr.sources(0).endOffset) + 1)).toDouble)
      }
    /** Share of the datagrams sent before a trigger's start that the
      * trigger had received: the first trigger starting at or after `ms`. */
    def receivedBy(ms: Long): Double =
      progress.all.map(_._2).filter(_.sources.nonEmpty)
        .map(p => (java.time.Instant.parse(p.timestamp).toEpochMilli, p))
        .find(_._1 >= ms).map { case (start, p) =>
          val s = sentBy(start)
          if (s == 0) 1.0 else math.min(1.0, (offset(p.sources(0).endOffset) + 1).toDouble / s)
        }.getOrElse(0.0)
    val m0Ms = System.currentTimeMillis()
    val m0Ns = System.nanoTime()
    val bounds = mutable.ArrayBuffer.empty[(Phase, Long, Long)] // phase, wall ms from, to
    def phase(p: Phase, seconds: Double): Unit = {
      val from = System.currentTimeMillis()
      gen.phase = p
      Thread.sleep((seconds * 1000).toLong)
      bounds += ((p, from, System.currentTimeMillis()))
    }
    phase(Phase("latency", BaseRate, AnomaliesPerS), a.seconds)
    // per-layer numbers cover the latency window only: the rate ladder
    // stops at a different step from run to run
    val m1Ms = bounds.head._3
    val m1Ns = System.nanoTime()
    val counters = if (tracer.enabled) probes.snapshot(spark.sparkContext) else Map.empty[String, Double]
    // memory is read once the latency window's alerts are all in, so that
    // its full collections pause no scored window
    gen.phase = Phase("settle", BaseRate, 0.0)
    waitUntil(TailCapS)(plantedIn("latency").forall(p => delivered.contains(name(p))))
    val liveMb = Main.liveMb()
    // rate steps upward; the ladder stops at the first step whose backlog
    // grows (its latency and losses are judged after the tail)
    StepMultipliers.zipWithIndex.find { case (m, i) =>
      phase(Phase(s"step$i", BaseRate * m, AnomaliesPerS), StepS)
      val (_, from, to) = bounds.last
      Stats.backlogGrows(backlog(inPhase(from, to)), BaseRate * m)
    }
    // tail: background only until every planted window has alerted
    gen.phase = Phase("tail", BaseRate, 0.0)
    val scoredPhases = bounds.map(_._1.name).toSeq
    waitUntil(TailCapS)(plantedIn(scoredPhases: _*).forall(p => delivered.contains(name(p))))
    gen.halt()
    query.stop()

    // ---- scoring
    val byName = deliveries.asScala.toSeq.groupBy(_._1.takeWhile(_ != '|'))
    val planted = gen.planted.asScala.toSeq
    val plantedNames = planted.map(name).toSet
    val problems = mutable.ArrayBuffer.empty[String]
    val spurious = byName.keySet -- plantedNames
    val duplicated = byName.filter(_._2.size > 1).keySet
    if (spurious.nonEmpty) problems += s"${spurious.size} spurious alerts (${spurious.take(3).mkString(", ")})"
    if (duplicated.nonEmpty) problems += s"${duplicated.size} duplicated alerts"
    /** Each alerted anomaly with its latency, and the missed and wrong counts. */
    def latencies(ps: Seq[Planted]): (Seq[(Planted, Double)], Int, Int) = {
      var missed, wrong = 0
      val ls = ps.flatMap { p =>
        byName.get(name(p)).flatMap(_.headOption) match {
          case None => missed += 1; None
          case Some((msg, t)) =>
            val reported = msg.dropWhile(_ != '|').drop(1)
            if (scala.util.Try(reported.toDouble).toOption.forall(_ != p.wstop)) wrong += 1
            Some(p -> (t - p.wstop))
        }
      }
      (ls, missed, wrong)
    }
    val scored = plantedIn("latency")
    val (alerted, missed, wrong) = latencies(scored)
    val lat = alerted.map(_._2)
    // a window's alerts all arrive in the same batch: one value per window
    val perWindow = alerted.groupBy(_._1.wstop).values.map(w => Stats.median(w.map(_._2))).toSeq
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out, "alerts.json"),
      Json(planted.map(p => Map("src" -> p.src, "phase" -> p.phase, "wstop" -> p.wstop,
        "delivered" -> byName.get(name(p)).flatMap(_.headOption).map(_._2)))))
    if (missed > 0) problems += s"$missed of ${scored.size} planted anomalies never alerted"
    if (wrong > 0) problems += s"$wrong alerts carried the wrong window end"
    val late = gen.lateMsMax("latency")
    if (late > 1000) problems += f"generator ran $late%.0f ms behind schedule"
    val failed = missed + wrong + spurious.size + duplicated.size

    val receivedRatio = receivedBy(bounds.last._3)
    val steps = bounds.toSeq.filter(_._1.name.startsWith("step")).map { case (p, from, to) =>
      val (ls, miss, _) = latencies(plantedIn(p.name))
      Stats.judgeStep(p.rate, FlowsPerDatagram, backlog(inPhase(from, to)),
        receivedBy(to), ls.map(_._2), miss, LatencyLimitS)
    }
    val baseTail = Stats.tail(lat)
    val baseOk = !Stats.backlogGrows(backlog(inPhase(bounds.head._2, bounds.head._3)), BaseRate) &&
      baseTail.exists(_.value <= LatencyLimitS) && missed == 0
    val sustained = {
      val passing = steps.takeWhile(_.passed).map(_.flowsPerS)
      if (passing.nonEmpty) passing.last else if (baseOk) BaseRate * FlowsPerDatagram else 0.0
    }

    // ---- per-layer
    val measured = inPhase(m0Ms, m1Ms).map(_._2)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(k: String) = p50(measured.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
    val states = measured.flatMap(_.stateOperators.headOption)
    val decodeUs = {
      val pkts = gen.sample.asScala.toSeq
      pkts.foreach(Listeners.parseNetflowV5("127.0.0.1", _)) // warm the decoder
      val t0 = System.nanoTime()
      pkts.foreach(Listeners.parseNetflowV5("127.0.0.1", _))
      (System.nanoTime() - t0) / 1e3 / math.max(1, pkts.size)
    }
    val batchIds = measured.map(_.batchId).toSet
    val layers = counters ++ Map(
      "raql.parse_ms" -> (p1 - p0) / 1e6, "raql.build_ms" -> (p2 - p1) / 1e6,
      "sources.decode_us_per_packet" -> decodeUs,
      "sources.received_ratio" -> receivedRatio,
      "sources.backlog_packets" -> backlog(inPhase(m0Ms, m1Ms)).map(_._2).maxOption.getOrElse(0.0),
      "trigger.count" -> measured.size.toDouble,
      "trigger.ms_p50" -> dur("triggerExecution"),
      "trigger.addBatch_ms_p50" -> dur("addBatch"),
      "trigger.queryPlanning_ms_p50" -> dur("queryPlanning"),
      "trigger.walCommit_ms_p50" -> dur("walCommit"),
      "trigger.commitOffsets_ms_p50" -> dur("commitOffsets"),
      "trigger.latestOffset_ms_p50" -> dur("latestOffset"),
      "trigger.getBatch_ms_p50" -> dur("getBatch"),
      "trigger.rows_p50" -> p50(measured.map(_.numInputRows.toDouble)),
      "trigger.tasks_p50" -> p50(measured.map(p => probes.exec.tasksFor(s"batch:${p.batchId}").toDouble)),
      "state.rows_total" -> states.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "state.memory_bytes" -> states.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "state.commit_ms_p50" -> p50(states.map(_.commitTimeMs.toDouble)),
      "state.updates_ms_p50" -> p50(states.map(_.allUpdatesTimeMs.toDouble)),
      "state.removals_ms_p50" -> p50(states.map(_.allRemovalsTimeMs.toDouble)),
      "notify.sink_batch_ms_p50" -> p50(sinkTimes.asScala.toSeq
        .filter(s => batchIds.contains(s._1)).map(s => (s._3 - s._2) / 1e6)),
      "notify.deliveries" -> deliveries.size.toDouble,
      "gen.late_ms_max" -> gen.lateMsMax("latency"))

    if (tracer.enabled) traceTriggers(tracer, measured, sinkTimes.asScala.toSeq, m0Ns, m1Ns)

    Main.Outcome(scored.size.toLong, failed.toLong,
      e2e = Map("latency_p50_s" -> Stats.median(perWindow), "setup_s" -> setupS,
        "live_mb" -> liveMb),
      layers = layers,
      info = Map(
        "alert_latency_p50_s" -> Stats.median(lat),
        "alert_latency_tail" -> baseTail,
        "latency_windows" -> perWindow.size,
        "sustained_flows_per_s" -> sustained,
        "steps" -> steps,
        "warmup_s" -> warmupS,
        "planted" -> planted.size, "delivered" -> deliveries.size,
        "datagrams_sent" -> gen.sent, "received_ratio" -> receivedRatio,
        "gen_late_ms_max" -> gen.lateMsMax.toMap,
        "problems" -> problems.toSeq))
  }

  /** Trigger spans rebuilt from the progress feed, with their phases laid
    * out in MicroBatchExecution's order and the harness's own notify spans
    * under each batch's addBatch. */
  private def traceTriggers(tracer: Tracer,
      measured: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      sinks: Seq[(Long, Long, Long)], m0Ns: Long, m1Ns: Long): Unit = {
    val root = tracer.nextId()
    tracer.add(Span(root, 0L, "measure", "harness", "run", m0Ns, m1Ns))
    val order = Seq("latestOffset" -> "sources", "walCommit" -> "checkpoint",
      "getBatch" -> "sources", "queryPlanning" -> "plan", "addBatch" -> "exec",
      "commitOffsets" -> "checkpoint")
    measured.foreach { p =>
      val req = s"batch${p.batchId}"
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val id = tracer.nextId()
      tracer.add(Span(id, root, "trigger", "trigger", req, tracer.nsOf(startMs), tracer.nsOf(startMs + total)))
      var at = tracer.nsOf(startMs)
      order.foreach { case (k, layer) =>
        Option(p.durationMs.get(k)).map(_.longValue).filter(_ > 0).foreach { d =>
          val pid = tracer.nextId()
          tracer.add(Span(pid, id, k, layer, req, at, at + d * 1000000L))
          if (k == "addBatch") sinks.filter(_._1 == p.batchId).foreach { case (_, t0, t1) =>
            tracer.add(Span(tracer.nextId(), pid, "sinkBatch", "notify", req, t0, t1))
          }
          at += d * 1000000L
        }
      }
    }
  }
}
