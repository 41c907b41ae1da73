package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** RaQL `NOTIFY "name" WITH params` → alerter semantics, Spark-first.
  *
  * The reference sends notification tuples to a dedicated alerter daemon
  * (`/root/reference/src/RamenAlerter.ml`) that assigns each to a team,
  * dedups start/stop into incidents, debounces delivery, and sends
  * messages through the team's contacts with `${…}` templating
  * ([[StringExpansion]], the reference's RamenStringExpansion). Here the
  * notification stream is just another Dataset; delivery is a DSv2
  * streaming sink ([[NotifySink]]), and the incident/debounce state
  * machine lives in [[Notify.Alerter]] with an injectable clock so tests
  * drive time.
  */
final case class Notification(
    name: String,
    firing: Boolean,
    params: Map[String, String],
    site: String = "",
    worker: String = "",
    test: Boolean = false,
    sentTime: Double = 0.0,
    eventTime: Option[Double] = None,
    certainty: Double = 1.0,
    // the wire default: `normalize_notif_parameters` (RingBufLib.ml:460-503)
    // emits 0 when no debounce parameter travels with the notification; a
    // NEGATIVE value means "use the alerter's configured default delay"
    // (`debounce_delay_for`, RamenAlerter.ml:285-289) — see
    // [[Notify.Alerter]]'s defaultDebounce (Default.debounce_delay = 10s)
    debounce: Double = 0.0,
    timeout: Double = 0.0) {
  /** The reference's notif_time: event time if set, else sent time. */
  def time: Double = eventTime.getOrElse(sentTime)
}

/** A team contact (`alerting_contact.type`). */
sealed trait Contact
object Contact {
  /** Drop the message (the reference's `Ignore`). */
  case object Ignore extends Contact
  /** Run a shell command built from the template (`Exec`). */
  final case class Exec(cmd: String) extends Contact
  /** Log a line built from the template (`SysLog`; the sink function is
    * injected — no syslog daemon in this environment). */
  final case class SysLog(template: String) extends Contact
  /** Insert a row per message; on insert failure with a non-empty
    * `create`, create the table and retry (`sqllite_insert`,
    * RamenAlerter.ml:594-616). Delivered through the `sqlite3` CLI —
    * no embedded driver ships with this build; template nulls render
    * as SQL `NULL` (the reference expands the insert with `~n:"NULL"`). */
  final case class Sqlite(file: String, insert: String,
      create: String = "") extends Contact
  /** Publish the expanded `text` to a Kafka topic partition
    * (`alerting_contact.type:7-12`; delivery `RamenAlerter.ml:618-664,
    * 772-774`). Contract-level, mirroring [[graft.sources.KafkaSource]]'s
    * brokerless ingest mapping: [[Notify.kafkaRecord]] constructs the
    * exact (topic, partition, payload) the reference produces — text
    * expanded with nulls rendered `"null"`, NO message key
    * (`Kafka.produce prod partition text`) — and
    * [[Notify.kafkaOptionSplit]] partitions the option list into
    * topic-level (`topic.`-prefixed, RamenConsts.ml:82) vs producer-level
    * configs exactly like `get_or_create_kafka_producer`
    * (RamenAlerter.ml:626-634). Actual production goes through the
    * alerter's injectable `kafkaSend` — no Kafka client jar ships in this
    * environment (same constraint as the READ FROM KAFKA path, attempted
    * 2026-08-14); the reference's per-(options, topic) producer cache
    * with idle timeout is connection pooling a real client callback
    * would own. */
  final case class Kafka(options: Seq[(String, String)], topic: String,
      partition: Int, text: String) extends Contact
}

object Notify {

  /** A message snapshotted under the alerter monitor, ready for contact
    * I/O outside it. */
  private final case class Delivery(name: String, team: String,
      firing: Boolean, dict: Seq[(String, String)])

  /** The reference's alerter core: team assignment by longest name
    * prefix (`find_in_charge`, RamenAlerter.ml:182-215), incident
    * start/stop dedup, debounced delivery (a start cancelled by a stop
    * inside the debounce window sends nothing), per-contact `${…}`
    * message expansion over the reference's dict
    * (RamenAlerter.ml:723-760), and timed-out stops for notifications
    * carrying a timeout.
    *
    * Time is LOGICAL: `deliver` stamps receipt with the notification's
    * own time (falling back to the injected clock) and nothing sends
    * until `flush(at)` — callers decide the cadence (the streaming sink
    * flushes each batch with the batch's max time). */
  final class Alerter(
      teams: Map[String, Seq[Contact]] = Map.empty,
      defaultTeam: String = "default",
      execRunner: String => Int = Alerter.shellRun,
      syslog: String => Unit = _ => (),
      clock: () => Double = () => System.currentTimeMillis() / 1000.0,
      sqlite3: String = "sqlite3",
      maxJournal: Int = 10000,
      /** What a NEGATIVE notification debounce means: the reference's
        * `debounce_delay_for` (RamenAlerter.ml:285-289) substitutes the
        * configured default (Default.debounce_delay = 10s) for negative
        * values; 0 stays 0 (send at next flush). */
      defaultDebounce: Double = 10.0,
      /** Kafka production callback for [[Contact.Kafka]]:
        * (options, topic, partition, payload). The default refuses — no
        * Kafka client ships in this environment; the record construction
        * is still exact (see [[Notify.kafkaRecord]]) so a spec or a real
        * deployment plugs a producer in here. */
      kafkaSend: (Seq[(String, String)], String, Int, String) => Unit =
        Alerter.noKafkaClient) {

    // bounded like the reference's max_last_incidents_kept — a
    // long-running alerter must not grow its journal without bound
    private val log = new ConcurrentLinkedQueue[String]()
    private def journal(s: String): Unit = {
      log.add(s)
      while (log.size > maxJournal) log.poll()
    }
    private var firing = Set.empty[String]

    private final class Incident(val id: Long, val team: String,
        val start: Notification) {
      var stop: Option[Notification] = None
      var pending: Option[Boolean] = None // Some(firing) awaiting delivery
      var due = 0.0
      var startSent = false
      var firstSent: Option[Double] = None
      var lastSent: Option[Double] = None
      var lastStateChange: Notification = start
    }

    private var nextId = 0L
    private val open = scala.collection.mutable.Map.empty[String, Incident]

    /** Longest team name that prefixes the notification name; else the
      * default team; else (no teams configured) None — state is still
      * tracked, nothing is delivered. */
    private def findInCharge(name: String): Option[String] =
      teams.keys.filter(name.startsWith).maxByOption(_.length)
        .orElse(if (teams.contains(defaultTeam)) Some(defaultTeam)
          else teams.keys.minOption)

    /** `debounce_delay_for` (RamenAlerter.ml:285-289): a notification's
      * own non-negative debounce, else the configured default. */
    private def debounceDelay(n: Notification): Double =
      if (n.debounce >= 0) n.debounce else defaultDebounce

    def deliver(n0: Notification): Unit = { deliverLocked(n0); drainOutbox(wait = false) }

    private def deliverLocked(n0: Notification): Unit = synchronized {
      val n = if (n0.sentTime > 0) n0 else n0.copy(sentTime = clock())
      noteTime(n.time)
      if (n.firing && !firing.contains(n.name)) {
        firing += n.name
        journal(s"START ${n.name}")
        // a previous incident whose STOP is still pending delivery: the
        // stop logically precedes this start — send it now rather than
        // dropping it with the overwritten entry
        open.get(n.name).foreach { prev =>
          if (prev.pending.contains(false)) prepare(prev, firing = false, n.time)
          open.remove(n.name)
        }
        nextId += 1
        val inc = new Incident(nextId, findInCharge(n.name).getOrElse(""), n)
        inc.pending = Some(true)
        inc.due = n.time + debounceDelay(n)
        open(n.name) = inc
      } else if (!n.firing && firing.contains(n.name)) {
        firing -= n.name
        journal(s"STOP ${n.name}")
        open.get(n.name).foreach { inc =>
          inc.lastStateChange = n
          inc.stop = Some(n)
          if (!inc.startSent) {
            // flap inside the debounce window: nothing was sent, nothing
            // will be (the reference cancels a StartToBeSent incident)
            journal(s"CANCEL ${n.name}")
            open.remove(n.name)
          } else {
            inc.pending = Some(false)
            inc.due = n.time + debounceDelay(n)
          }
        }
      } // else: duplicate — debounced
    }

    /** Send every due pending message and synthesize timed-out stops
      * (notifications carrying `timeout` whose stop never arrived). */
    def flush(at: Double): Unit = { flushLocked(at); drainOutbox(wait = true) }

    private def flushLocked(at: Double): Unit = synchronized {
      // timeouts first so they can cancel/schedule at this same flush
      open.values.toSeq.foreach { inc =>
        if (inc.start.timeout > 0 && inc.stop.isEmpty &&
            firing.contains(inc.start.name) &&
            at >= inc.start.time + inc.start.timeout) {
          firing -= inc.start.name
          journal(s"STOP ${inc.start.name} (timeout)")
          if (!inc.startSent) { journal(s"CANCEL ${inc.start.name}"); open.remove(inc.start.name) }
          else { inc.pending = Some(false); inc.due = at }
        }
      }
      open.values.toSeq.sortBy(_.id).foreach { inc =>
        inc.pending match {
          case Some(f) if at >= inc.due =>
            prepare(inc, f, at)
            inc.pending = None
            if (f) inc.startSent = true
            else open.remove(inc.start.name)
          case _ => ()
        }
      }
    }

    def deliverNow(n: Notification): Unit = {
      deliver(n)
      flush(if (n.time > 0) n.time else clock())
    }

    /** The alerter's clock — what `deliver` stamps un-timed notifications
      * with; exposed so sinks can flush against the same time base. */
    def nowTime(): Double = clock()

    /** The reference's expansion dict (RamenAlerter.ml:723-760):
      * builtins first, notification parameters override them. */
    private def dictFor(inc: Incident, firing: Boolean, at: Double)
        : Seq[(String, String)] = {
      import StringExpansion.niceFloat
      val builtins = Seq(
        "name" -> inc.start.name,
        "incident_id" -> inc.id.toString,
        "start" -> niceFloat(inc.start.time),
        "now" -> niceFloat(at),
        "first_sent" -> niceFloat(inc.firstSent.getOrElse(at)),
        "last_sent" -> niceFloat(inc.lastSent.getOrElse(at)),
        "site" -> inc.start.site,
        "worker" -> inc.start.worker,
        "test" -> inc.start.test.toString,
        "firing" -> firing.toString,
        "last_state_change" -> niceFloat(inc.lastStateChange.time),
        "certainty" -> niceFloat(inc.start.certainty),
        "hostname" -> sys.env.getOrElse("HOSTNAME", "?HOSTNAME?")) ++
        inc.stop.map(s => "stop" -> niceFloat(s.time)) ++
        (if (firing) Nil
         else Seq("timed-out" -> inc.stop.isEmpty.toString))
      val params = if (firing) inc.start.params
        else inc.stop.map(_.params).getOrElse(inc.start.params)
      // parameters overwrite builtins: later bindings must win, and
      // substDict takes the FIRST match — so params go first
      params.toSeq ++ builtins
    }

    /** Under the monitor only: stamp the incident's sent times, freeze
      * the expansion dict, and ENQUEUE — NO contact I/O happens while the
      * alerter state is locked, and because enqueueing happens inside the
      * monitor, outbox order is exactly preparation order across every
      * thread (a later-prepared START can never overtake the
      * earlier-prepared STOP of the incident it replaces). */
    private def prepare(inc: Incident, firing: Boolean, at: Double): Unit = {
      val dict = dictFor(inc, firing, at)
      if (inc.firstSent.isEmpty) inc.firstSent = Some(at)
      inc.lastSent = Some(at)
      outbox.add(Delivery(inc.start.name, inc.team, firing, dict))
    }

    /** Contact I/O, OUTSIDE the alerter monitor: a hung or slow contact
      * (Exec, sqlite3 CLI) must not block `deliver`/`flush` state
      * transitions or the heartbeat's bookkeeping — the reference runs
      * deliveries on their own schedule under a watchdog, bounded at
      * max_exec=5 concurrent commands. The drain is serialized by its
      * own lock and consumes the shared FIFO, so deliveries reach
      * contacts in preparation order whichever thread drains them.
      *
      * Synchrony contract: `flush` WAITS (wait = true) until the outbox
      * is empty AND any in-flight drain has finished — "flush returned"
      * must keep implying "this flush's deliveries were attempted", or
      * the streaming sink's LAST batch could hand its STOP to the
      * daemon heartbeat thread and lose it at JVM exit. `deliver` keeps
      * the fast path (its rare pending-STOP delivery can ride a
      * concurrent drainer) so alerter BOOKKEEPING never blocks behind a
      * stuck contact; the wait a stuck contact can impose on flush is
      * bounded by [[Alerter.shellRun]]'s timeout. */
    private val outbox = new ConcurrentLinkedQueue[Delivery]()
    private val dispatchLock = new java.util.concurrent.locks.ReentrantLock
    private def drainOutbox(wait: Boolean): Unit = {
      if (!wait && outbox.isEmpty) return
      // wait=false (deliver's non-blocking bookkeeping) must not park
      // behind a drainer stuck in a slow contact for up to the contact
      // timeout (r12 ADVICE: the old synchronized blocked the streaming
      // sink thread whenever the outbox was non-empty under contention).
      // tryLock: if someone holds the lock they are draining the FIFO;
      // an item they miss in the poll/enqueue race is picked up by their
      // own post-unlock re-check below, so eventual dispatch does not
      // depend on a later flush.
      if (wait) dispatchLock.lock()
      else if (!dispatchLock.tryLock()) return
      var draining = true
      while (draining) {
        try {
          var d = outbox.poll()
          while (d != null) { dispatchOne(d); d = outbox.poll() }
        } finally dispatchLock.unlock()
        // Re-check AFTER unlock: a racing deliver can enqueue between our
        // last (empty) poll and the unlock, lose its tryLock to us, and
        // return — without this re-drain its item would strand until the
        // next flush. The re-check closes that window for ANY thread
        // count: an enqueue that observed a tryLock failure happened
        // before that holder's unlock, so that holder's re-check sees it;
        // an enqueue after every unlock wins its own tryLock. So a bare
        // deliver() (no following flush) still guarantees eventual
        // dispatch.
        draining = !outbox.isEmpty && dispatchLock.tryLock()
      }
    }

    private def dispatchOne(d: Delivery): Unit =
      teams.getOrElse(d.team, Nil).foreach { c =>
        val what = if (d.firing) "START" else "STOP"
        def exp(t: String, n: Option[String] = None) =
          StringExpansion.substDict(d.dict, t, n)
        // a contact that cannot deliver (unspawnable command, throwing
        // sink) must not kill the whole notification stream — the
        // reference counts the failure and moves on
        try c match {
          case Contact.Ignore => ()
          case Contact.Exec(cmd) =>
            val code = execRunner(exp(cmd))
            journal(if (code == 0) s"SENT $what ${d.name} via exec"
              else s"FAILED $what ${d.name} via exec ($code)")
          case Contact.SysLog(t) =>
            syslog(exp(t))
            journal(s"SENT $what ${d.name} via syslog")
          case Contact.Sqlite(file, insert, create) =>
            import StringExpansion.shellQuote
            val f = exp(file)
            def run(q: String): Int =
              execRunner(s"${shellQuote(sqlite3)} ${shellQuote(f)} ${shellQuote(q)}")
            val ins = exp(insert, Some("NULL"))
            // insert; on failure with a create statement, create the table
            // (VERBATIM, like the reference — no template expansion in
            // DDL) and retry once. A failing create (e.g. table already
            // exists under a constraint violation) reports the ORIGINAL
            // insert failure, not the create's.
            val first = run(ins)
            val code =
              if (first == 0) 0
              else if (create.nonEmpty && run(create) == 0) run(ins)
              else first
            journal(if (code == 0) s"SENT $what ${d.name} via sqlite"
              else s"FAILED $what ${d.name} via sqlite ($code)")
          case k: Contact.Kafka =>
            val (topic, partition, payload) = kafkaRecord(k, d.dict)
            kafkaSend(k.options, topic, partition, payload)
            journal(s"SENT $what ${d.name} via kafka")
        } catch {
          // interruption is NOT a contact failure: swallowing it here
          // would clear the heartbeat's stop signal mid-drain (the thread
          // checks its interrupt flag) — propagate; undispatched outbox
          // items stay queued for the next drain
          case ie: InterruptedException => throw ie
          case e: Exception =>
            journal(s"FAILED $what ${d.name}: ${e.getMessage}")
        }
      }

    def incidents: Seq[String] = log.asScala.toSeq
    def currentlyFiring: Set[String] = synchronized(firing)

    /** Journal a line from the delivery layer (the streaming sink records
      * batch overflows here). */
    private[graft] def note(s: String): Unit = journal(s)

    // logical-time high-water mark and the wall instant it was seen at,
    // so the heartbeat can EXTRAPOLATE logical time instead of jumping to
    // wall time (which would instantly expire every event-time debounce
    // window and timeout when replaying archived notification streams)
    private var maxSeen = 0.0
    private var wallAtMax = 0.0
    private def noteTime(t: Double): Unit =
      if (t > maxSeen) { maxSeen = t; wallAtMax = clock() }

    /** Where the heartbeat flushes: the last seen logical time advanced
      * by the wall time elapsed since — wall-equivalent for live streams,
      * replay-safe for archived ones. */
    private def heartbeatAt(): Double = synchronized {
      if (maxSeen <= 0) clock() else maxSeen + math.max(0.0, clock() - wallAtMax)
    }

    /** Periodic self-flush — without it, debounced sends and timeout
      * stops only progress when a new batch arrives (the reference's
      * alerter loop wakes on its own schedule). Daemon thread; start is
      * idempotent while one is alive (and restartable after one dies);
      * [[stopHeartbeat]] interrupts it. */
    private val heartLock = new Object
    private var heart: Thread = null
    def startHeartbeat(intervalMillis: Long = 1000L): this.type =
      heartLock.synchronized {
        if (heart == null || !heart.isAlive) {
          val t = new Thread(() => {
            try {
              while (!Thread.currentThread().isInterrupted) {
                try flush(heartbeatAt())
                catch {
                  case _: InterruptedException =>
                    Thread.currentThread().interrupt()
                  case e: Exception =>
                    journal(s"FAILED heartbeat flush: ${e.getMessage}")
                }
                Thread.sleep(intervalMillis)
              }
            } catch { case _: InterruptedException => () }
          }, "graft-alerter-heartbeat")
          t.setDaemon(true)
          t.start()
          heart = t
        }
        this
      }
    def stopHeartbeat(): Unit = heartLock.synchronized {
      if (heart != null) { heart.interrupt(); heart = null }
    }
  }

  object Alerter {
    /** The reference's Exec contact runs a shell command
      * (`execute_cmd`, RamenAlerter.ml:569-582). Bounded: a wedged
      * command is forcibly killed after `timeoutSec` so one stuck contact
      * cannot stall the dispatch queue forever (the reference runs execs
      * under a watchdog with max_exec=5); the timeout exit code mirrors
      * timeout(1)'s 124. */
    def shellRun(cmd: String): Int = shellRun(cmd, 30.0)
    def shellRun(cmd: String, timeoutSec: Double): Int = {
      val p = new ProcessBuilder("sh", "-c", cmd).inheritIO().start()
      val done = p.waitFor(math.max(1L, (timeoutSec * 1000).toLong),
        java.util.concurrent.TimeUnit.MILLISECONDS)
      if (done) p.exitValue()
      else { killTree(p); p.waitFor(); 124 }
    }

    /** Kill a process AND its descendants — descendants first: killing
      * only the sh parent reparents a pipeline's children to init and
      * they keep running. Shared by the Exec-contact timeout and the CSV
      * preprocessor's task-abort path. */
    def killTree(p: Process): Unit = {
      p.descendants().forEach(h => { h.destroyForcibly(); () })
      p.destroyForcibly()
      ()
    }

    /** Default [[Contact.Kafka]] production: refuse loudly — no Kafka
      * client jar exists in this environment (documented; same constraint
      * as the READ FROM KAFKA connector path). */
    def noKafkaClient(options: Seq[(String, String)], topic: String,
        partition: Int, payload: String): Unit =
      throw new IllegalStateException(
        s"no kafka client in this build (topic $topic) — inject kafkaSend")
  }

  /** The exact producer record the reference's kafka delivery constructs
    * (`RamenAlerter.ml:772-774` → `kafka_publish`, 618-660): the contact's
    * `text` template expanded over the message dict with nulls rendered
    * `"null"` (vs sqlite's `"NULL"`), produced to (topic, partition) with
    * NO message key — `Kafka.produce prod partition text`. */
  def kafkaRecord(k: Contact.Kafka, dict: Seq[(String, String)])
      : (String, Int, String) =
    (k.topic, k.partition, StringExpansion.substDict(dict, k.text, Some("null")))

  /** `get_or_create_kafka_producer`'s option partition
    * (RamenAlerter.ml:626-634): options whose name starts with `topic.`
    * (RamenConsts.ml:82, prefix kept — librdkafka topic configs are set
    * under their full name) configure the topic handle; the rest
    * configure the producer. Returns (topicOptions, producerOptions). */
  def kafkaOptionSplit(options: Seq[(String, String)])
      : (Seq[(String, String)], Seq[(String, String)]) =
    options.partition(_._1.startsWith("topic."))

  /** The reference's `normalize_notif_parameters`
    * (`RingBufLib.ml:460-503`): firing/certainty/debounce/timeout travel
    * as ORDINARY notification parameters (case-insensitive names) and are
    * pulled out alerter-side, defaulting to (true, 0.5, 0, 0); a value
    * that doesn't convert stays a plain parameter. */
  def normalizeParams(params: Seq[(String, String)])
      : (Boolean, Double, Double, Double, Seq[(String, String)]) = {
    var firing = true
    var certainty = 0.5
    var debounce = 0.0
    var timeout = 0.0
    val rest = params.filter { case (n, v) =>
      val t = v.trim.toLowerCase
      n.toLowerCase match {
        case "firing" if Set("true", "t", "1")(t) => firing = true; false
        case "firing" if Set("false", "f", "0")(t) => firing = false; false
        case "certainty" if t.toDoubleOption.isDefined =>
          certainty = t.toDouble; false
        case "debounce" if t.toDoubleOption.isDefined =>
          debounce = t.toDouble; false
        case "timeout" if t.toDoubleOption.isDefined =>
          timeout = t.toDouble; false
        case _ => true // unconvertible specials stay plain parameters
      }
    }
    (firing, certainty, debounce, timeout, rest)
  }

  /** A [[Notification]] from a compiled `NOTIFY` row's (name, params),
    * with the special parameters normalized out. */
  def notification(name: String, params: Map[String, String],
      worker: String = "", sentTime: Double = 0.0,
      eventTime: Option[Double] = None): Notification = {
    val (firing, certainty, debounce, timeout, rest) =
      normalizeParams(params.toSeq)
    Notification(name, firing, rest.toMap, worker = worker,
      sentTime = sentTime, eventTime = eventTime, certainty = certainty,
      debounce = debounce, timeout = timeout)
  }

  /** Attach an alerter to a notification stream: deliver each batch, then
    * flush at the batch's latest notification time (wall clock when the
    * batch carries no times).
    *
    * Each batch is collected to the driver BY CONTRACT: the alerter is a
    * single state machine exactly like the reference's one alerter daemon
    * reading the notification ring, and NOTIFY streams are human-scale
    * (state CHANGES of monitored conditions, already debounced upstream
    * by the firing flip-flop) — thousands of rows per batch, not data
    * volume. A buggy query that NOTIFYs per input tuple must not OOM the
    * driver, so the collect is bounded at `maxPerBatch`: overflow rows
    * are dropped and journaled as a FAILED line (visible in
    * `alerter.incidents`, like any contact failure).
    *
    * The sink is a DSv2 streaming sink ([[NotifySink]]): the batch is
    * planned once and runs as one job over all its partitions. Every
    * partition reads all its rows and ships at most its first
    * `maxPerBatch + 1` plus `maxPerBatch` later STOPs ([[Cap]]), so the
    * bound is per partition: the driver holds at most
    * partitions × (2·maxPerBatch + 1) rows. The sink reads rows by
    * ordinal, so `ds` is first projected onto [[Notification]]'s encoder
    * schema by name, each field cast to its type (a no-op the optimizer
    * drops when the types already match, as for a compiled NOTIFY).
    *
    * Every output mode works. Without a `checkpointLocation` (and no
    * session default), the query runs on a temporary checkpoint that is
    * deleted when it stops without an error, as a `foreachBatch` query's
    * is. One returned writer starts one query. */
  def sink(ds: Dataset[Notification], alerter: Alerter,
      maxPerBatch: Int = 100000): DataStreamWriter[Notification] = {
    val spark = ds.sparkSession
    val temp =
      if (spark.conf.getOption("spark.sql.streaming.checkpointLocation").isDefined) None
      else {
        NotifySink.cleanTemporaryCheckpoints(spark)
        Some(new java.io.File(System.getProperty("java.io.tmpdir"),
          s"temporary-${java.util.UUID.randomUUID()}").getAbsolutePath)
      }
    val w = ds.select(NotifySink.schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      .as(Encoders.product[Notification]).writeStream
      .format(classOf[NotifySink].getName)
      .option(NotifySink.IdOption, NotifySink.park(alerter, maxPerBatch, temp))
    temp.fold(w)(w.option("checkpointLocation", _))
  }

  /** One partition's share of a micro-batch: its first `maxPerBatch + 1`
    * notifications, then the STOPs after them. */
  private[streaming] final case class Shipped(head: Array[Notification],
      stops: Array[Notification]) extends WriterCommitMessage

  /** The per-partition cap, fed every row of the partition in order: its
    * first maxPerBatch + 1 rows, then the STOPs after them (at most
    * maxPerBatch). Every row is read: a stateful stage commits its state
    * store at the end of its output, and a partition stopped early never
    * commits. */
  private[streaming] final class Cap(maxPerBatch: Int) {
    private val head, stops = Array.newBuilder[Notification]
    private var n, s = 0
    def add(r: Notification): Unit =
      if (n <= maxPerBatch) { head += r; n += 1 }
      else if (!r.firing && s < maxPerBatch) { stops += r; s += 1 }
    def result: Shipped = Shipped(head.result(), stops.result())
  }

  /** Deliver one micro-batch on the driver from its partitions' [[Shipped]]
    * rows, in partition order: the kept prefix, the overflow journal line
    * and the STOP rescue, then the flush. */
  private[streaming] def deliverBatch(parts: Seq[Shipped], alerter: Alerter,
      maxPerBatch: Int): Unit = {
    // a partition ships later STOPs only after a full head, so the first
    // maxPerBatch rows of this sequence are the batch's first rows
    val shipped = parts.flatMap(p => p.head ++ p.stops)
    val kept = shipped.take(maxPerBatch)
    val overflow = shipped.length > maxPerBatch
    kept.foreach(alerter.deliver)
    var rescued: Seq[Notification] = Nil
    if (overflow) {
      // rescue the STOPs beyond the cap: a dropped STOP leaves its
      // incident firing until its timeout — or forever with timeout 0
      // (r12 ADVICE). Only TAIL stops are re-delivered: a stop that was
      // already in the kept prefix must NOT replay after the prefix —
      // a kept [STOP x, START x] sequence would otherwise get its stop
      // re-applied after the start and kill a legitimate incident
      // (found in the r13 review pass). Tail stops are order-safe by
      // construction: every tail row follows every kept row, so closing
      // a kept START is correct and a stop whose START was also dropped
      // no-ops. Bounded: the first maxPerBatch tail stops.
      val stops = shipped.drop(maxPerBatch).filterNot(_.firing).take(maxPerBatch)
      stops.foreach(alerter.deliver)
      rescued = stops
      val names = stops.map(_.name).distinct
      alerter.note(s"FAILED batch overflow: more than $maxPerBatch " +
        s"notifications in one batch, excess STARTs dropped; " +
        s"${stops.length} STOPs rescued" +
        (if (names.nonEmpty)
          s" (${names.take(10).mkString(", ")}${if (names.length > 10) ", …" else ""})"
        else "") +
        (if (stops.length >= maxPerBatch) "; stop rescue itself capped" else ""))
    }
    // un-timed notifications (time 0) were stamped with the alerter's
    // clock inside deliver — flush on the same time base, or their
    // debounce deadlines (clock + d) would never come due. Rescued
    // stops count toward the flush horizon too (a tail stop can carry
    // a later time than anything in the kept prefix).
    val at = (kept ++ rescued).map(_.time).filter(_ > 0).maxOption
      .getOrElse(alerter.nowTime())
    alerter.flush(at)
  }

  /** One micro-batch of a `foreachBatch` sink over the same cap and
    * delivery as [[sink]]: the adapter for a caller that holds the batch as
    * a Dataset (a traced harness timing the sink, unit tests of the
    * overflow contract without a stream). */
  private[graft] def sinkBatch(batch: Dataset[Notification], alerter: Alerter,
      maxPerBatch: Int): Unit =
    deliverBatch(batch.rdd.mapPartitions { it =>
      val cap = new Cap(maxPerBatch)
      it.foreach(cap.add)
      Iterator(cap.result)
    }.collect().toSeq, alerter, maxPerBatch)
}
