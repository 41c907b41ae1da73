package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.raql.{RaqlCompiler, RaqlParser}
import graft.sources.UdpIngest
import graft.streaming.{CommitHarness, GroupSpec, Notify, Notification}

/** (user, valueTimeSec, value) input; tumbling 60 s windows per user.
  * Top-level so Spark can generate encoders for them. */
case class Ev(user: String, t: Long, v: Double)
case class WinState(winStart: Long, n: Long, sum: Double)
case class WinOut(user: String, winStart: Long, n: Long, sum: Double, prevSum: Double)

/** An `fwd:` scheme over the local disk whose status lookups are counted:
  * shows that the checkpoint manager hands non-`file:` paths to Spark's
  * default manager. Registered per Configuration as
  * `fs.AbstractFileSystem.fwd.impl`. */
class ForwardingLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
      new ForwardingLocalFs.Raw, conf, "fwd", false)

object ForwardingLocalFs {
  val statusLookups = new java.util.concurrent.atomic.AtomicInteger
  class Raw extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("fwd:///")
    override def getScheme: String = "fwd"
    override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
      statusLookups.incrementAndGet()
      super.getFileStatus(f)
    }
  }
}

class StreamingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  import spark.implicits._

  test("CommitHarness implements COMMIT BEFORE tumbling windows with previous") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val win = 60L

    val out = CommitHarness.run[String, Ev, WinState, WinOut](
      mem.toDS(),
      (e: Ev) => e.user,
      GroupSpec[Ev, WinState, WinOut](
        init = () => WinState(-1L, 0L, 0.0),
        update = (s, e) => {
          val ws = e.t / win * win
          WinState(if (s.winStart < 0) ws else s.winStart, s.n + 1, s.sum + e.v)
        },
        // COMMIT BEFORE in.start >= out.stop (tumbling.ramen semantics)
        commitBefore = (s, e, _) => s.winStart >= 0 && e.t >= s.winStart + win,
        emit = (s, prev) => WinOut("", s.winStart, s.n, s.sum,
          prev.map(_.sum).getOrElse(0.0)),
        keepOnCommit = false))
      .map(o => o) // identity; user filled below via key? kept simple

    val q = out.writeStream.format("memory").queryName("winout")
      .outputMode("append").start()

    // user a: window [0,60) gets 2 events, [60,120) one, [120,..) triggers
    mem.addData(Ev("a", 10, 1.0), Ev("a", 20, 2.0), Ev("a", 70, 5.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 130, 7.0))
    q.processAllAvailable()

    val rows = spark.table("winout").as[WinOut].collect().sortBy(_.winStart)
    q.stop()
    assert(rows.length == 2)
    assert(rows(0) == WinOut("", 0L, 2L, 3.0, 0.0))     // first window: 1+2
    assert(rows(1) == WinOut("", 60L, 1L, 5.0, 3.0))    // second; previous=3.0
  }

  for (provider <- Seq("default", "rocksdb"))
  test(s"CommitHarness streams grouped count-based COMMIT AFTER sum 1 >= k ($provider state store)") {
    withStateStore(provider) {
    // the reference's count-commit (check_commit_for_all shape,
    // CodeGenLib_Skeletons.ml:814-876) over a live grouped stream: each
    // key emits a row every k tuples and flushes. Batch handles this via
    // the k-row tumbling rewrite; the streaming engine capability is the
    // commit harness (the RaQL text reaches it through the expression-
    // commit translation, next test).
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val k = 3L
    val out = CommitHarness.run[String, Ev, WinState, WinOut](
      mem.toDS(),
      (e: Ev) => e.user,
      GroupSpec[Ev, WinState, WinOut](
        init = () => WinState(-1L, 0L, 0.0),
        update = (s, e) => WinState(s.winStart, s.n + 1, s.sum + e.v),
        // COMMIT AFTER SUM 1 >= k: post-update count reaches k → emit+flush
        commitAfter = (s, _, _) => s.n >= k,
        emit = (s, prev) => WinOut("", s.winStart, s.n, s.sum,
          prev.map(_.sum).getOrElse(0.0)),
        keepOnCommit = false,
        emitOnTimeout = false))
    val q = out.writeStream.format("memory").queryName(s"cntcommit_$provider")
      .outputMode("append").start()
    // a: 7 events → windows of 3, 3 (one pending); b: 3 events → one window
    mem.addData(Ev("a", 1, 1.0), Ev("a", 2, 2.0), Ev("b", 1, 10.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 3, 3.0), Ev("a", 4, 4.0), Ev("b", 2, 20.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 5, 5.0), Ev("a", 6, 6.0), Ev("a", 7, 7.0),
      Ev("b", 3, 30.0))
    q.processAllAvailable()
    val rows = spark.table(s"cntcommit_$provider").as[WinOut].collect()
    q.stop()
    val sums = rows.map(_.sum).sorted.toSeq
    // a's windows: 1+2+3=6 and 4+5+6=15 (7 pending); b's: 10+20+30=60
    assert(sums == Seq(6.0, 15.0, 60.0), rows.mkString(", "))
    // previous carries each key's last committed sum
    assert(rows.exists(r => r.sum == 15.0 && r.prevSum == 6.0))
    }
  }

  test("RaQL-text count-based COMMIT streams through the CommitHarness") {
    // the full front-end path: the SAME RaQL text with `COMMIT AFTER
    // SUM 1 >= k` compiles to the k-row rewrite on batch and to
    // CommitHarness state on a stream — closed (complete) windows agree
    implicit val sqlCtx = spark.sqlContext
    val raql = """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM 1 AS n, SUM v AS total, MAX v AS vmax, AVG v AS vavg
        GROUP BY user
        COMMIT AFTER SUM 1 >= 3;"""
    val mem = MemoryStream[Ev]
    val cs = new RaqlCompiler(spark, "/tmp")
    cs.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram(raql) match {
      case Right(p) => cs.register("mc", p)
      case Left(e) => fail(s"parse: $e")
    }
    val streamDf = cs.compile("mc/q")
    assert(streamDf.isStreaming, "count-commit text must stay streaming")
    val q = streamDf.writeStream.format("memory").queryName("raqlcnt")
      .outputMode("append").start()
    val events = Seq(
      Ev("a", 1, 1.0), Ev("a", 2, 2.0), Ev("b", 1, 10.0),
      Ev("a", 3, 3.0), Ev("a", 4, 4.0), Ev("b", 2, 20.0),
      Ev("a", 5, 5.0), Ev("a", 6, 6.0), Ev("a", 7, 7.0), Ev("b", 3, 30.0))
    events.grouped(3).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    val streamed = spark.table("raqlcnt")
      .select("user", "n", "total", "vmax", "vavg")
      .collect().map(_.toSeq).toSet
    q.stop()
    // batch replay of the same rows in the same order, same RaQL text
    val cb = new RaqlCompiler(spark, "/tmp")
    cb.registerTable("tables/ev", events.toDF().coalesce(1))
    RaqlParser.parseProgram(raql) match {
      case Right(p) => cb.register("mb", p)
      case Left(e) => fail(s"parse: $e")
    }
    val batch = cb.compile("mb/q")
    val batchClosed = batch.filter(col("n") === 3)
      .select("user", "n", "total", "vmax", "vavg")
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty, "no streamed commit rows")
    assert(streamed == batchClosed,
      s"stream/batch disagree:\n  stream=$streamed\n  batch=$batchClosed")
    // a: windows (1,2,3) and (4,5,6) committed, 7 pending; b: (10,20,30)
    val totals = streamed.map(_(2)).toSeq.asInstanceOf[Seq[Double]].sorted
    assert(totals == Seq(6.0, 15.0, 60.0), s"totals: $totals")
  }

  for (provider <- Seq("default", "rocksdb"))
  test(s"ungrouped COMMIT AFTER SUM 1 = 3 streams the batch k-row windows ($provider state store)") {
    withStateStore(provider) {
    // the `=` spelling of the count-commit without GROUP BY: one global
    // key in the harness; COUNT/MIN/FIRST/LAST fields fold there, and each
    // closed window equals the batch k-row rewrite's over the same rows
    implicit val sqlCtx = spark.sqlContext
    val raql = """DEFINE q AS
        FROM tables/ev
        SELECT COUNT v AS n, MIN v AS vmin, FIRST user AS u0, LAST t AS tlast
        COMMIT AFTER SUM 1 = 3;"""
    val mem = MemoryStream[Ev]
    val cs = new RaqlCompiler(spark, "/tmp")
    cs.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram(raql) match {
      case Right(p) => cs.register("ug", p)
      case Left(e) => fail(s"parse: $e")
    }
    val q = cs.compile("ug/q").writeStream.format("memory")
      .queryName(s"ungrouped_cnt_$provider").outputMode("append").start()
    val events = Seq(
      Ev("a", 1, 5.0), Ev("b", 2, 3.0), Ev("c", 3, 4.0), Ev("b", 4, 9.0),
      Ev("a", 5, 1.0), Ev("c", 6, 2.0), Ev("a", 7, 8.0), Ev("b", 8, 7.0))
    // batches of 2, 3 and 3 rows: the first window spans two triggers
    Seq(events.take(2), events.slice(2, 5), events.drop(5)).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    val streamed = spark.table(s"ungrouped_cnt_$provider")
      .select("n", "vmin", "u0", "tlast").collect().map(_.toSeq).toSet
    q.stop()
    val cb = new RaqlCompiler(spark, "/tmp")
    cb.registerTable("tables/ev", events.toDF().coalesce(1))
    RaqlParser.parseProgram(raql) match {
      case Right(p) => cb.register("ugb", p)
      case Left(e) => fail(s"parse: $e")
    }
    // batch emits the 2-row tail too; a stream keeps it pending
    val batchClosed = cb.compile("ugb/q").filter(col("n") === 3)
      .select("n", "vmin", "u0", "tlast").collect().map(_.toSeq).toSet
    assert(streamed == batchClosed,
      s"stream/batch disagree:\n  stream=$streamed\n  batch=$batchClosed")
    assert(streamed == Set(Seq(3L, 3.0, "a", 3L), Seq(3L, 1.0, "b", 6L)), streamed)
    }
  }

  test("SUM GLOBALLY under GROUP BY on a streaming count-commit is a typed error") {
    // a GLOBALLY aggregate sums across groups; the harness keeps per-key
    // state only, so it must refuse rather than sum per group
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, SUM GLOBALLY v AS gtotal, SUM 1 AS n
        GROUP BY user
        COMMIT AFTER SUM 1 >= 3;""") match {
      case Right(p) => c.register("gl", p)
      case Left(e) => fail(s"parse: $e")
    }
    val e = intercept[UnsupportedOperationException](c.compile("gl/q"))
    assert(e.getMessage.contains("GLOBALLY"), e.getMessage)
  }

  test("StreamBench harness produces a sane sustained-throughput measurement") {
    // tiny configuration (10k-row triggers, 4 batches): asserts the
    // comms-shaped pipeline runs, both consumers report through the
    // instrumentation stream, and the rate is positive — the Bench JSON's
    // streaming_tuples_per_s depends on this plumbing
    val r = StreamBench.run(spark, rowsPerBatch = 10000L, batches = 4,
      warmupBatches = 1)
    assert(r.perWorker.keySet == Set("consumer1", "consumer2"),
      s"workers: ${r.perWorker.keySet}")
    assert(r.tuplesPerS > 0, s"rate: ${r.tuplesPerS}")
    assert(r.rows >= 3 * 10000L * 4, s"rows: ${r.rows}") // 3 producers × batches
  }

  test("CommitHarness COMMIT AFTER with KEEP retains running state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // commit after every 2nd input, KEEP → running (not per-batch) counts
    val out = CommitHarness.run[String, Ev, WinState, WinOut](
      mem.toDS(),
      (e: Ev) => e.user,
      GroupSpec[Ev, WinState, WinOut](
        init = () => WinState(0L, 0L, 0.0),
        update = (s, e) => s.copy(n = s.n + 1, sum = s.sum + e.v),
        commitAfter = (s, _, _) => s.n % 2 == 0,
        emit = (s, _) => WinOut("", 0L, s.n, s.sum, 0.0),
        keepOnCommit = true))
    val q = out.writeStream.format("memory").queryName("keepout")
      .outputMode("append").start()
    mem.addData(Ev("a", 1, 1.0), Ev("a", 2, 2.0), Ev("a", 3, 3.0), Ev("a", 4, 4.0))
    q.processAllAvailable()
    val rows = spark.table("keepout").as[WinOut].collect().sortBy(_.n)
    q.stop()
    assert(rows.map(r => (r.n, r.sum)).toSeq == Seq((2L, 3.0), (4L, 10.0)))
  }

  test("event-time timeout flushes a quiet key when the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val win = 60L
    // watermark on the event time; zero lateness so it tracks max(t)
    val input = mem.toDS()
      .withColumn("ets", timestamp_seconds(col("t")))
      .withWatermark("ets", "0 seconds")
      .as[Ev]
    val out = CommitHarness.run[String, Ev, WinState, WinOut](
      input,
      (e: Ev) => e.user,
      GroupSpec[Ev, WinState, WinOut](
        init = () => WinState(-1L, 0L, 0.0),
        update = (s, e) => {
          val ws = e.t / win * win
          WinState(if (s.winStart < 0) ws else s.winStart, s.n + 1, s.sum + e.v)
        },
        commitBefore = (s, e, _) => s.winStart >= 0 && e.t >= s.winStart + win,
        emit = (s, prev) => WinOut("", s.winStart, s.n, s.sum,
          prev.map(_.sum).getOrElse(0.0)),
        keepOnCommit = false),
      timeoutMs = win * 1000,
      eventTimeMs = Some((e: Ev) => e.t * 1000))
    val q = out.writeStream.format("memory").queryName("etimeout")
      .outputMode("append").start()
    // b gets ONE event then goes quiet; a keeps advancing the watermark
    mem.addData(Ev("a", 10, 1.0), Ev("b", 5, 5.0))
    q.processAllAvailable()                 // watermark → 10s
    mem.addData(Ev("a", 200, 2.0))
    q.processAllAvailable()                 // watermark → 200s (> 5+60)
    mem.addData(Ev("a", 300, 3.0))
    q.processAllAvailable()                 // b's state times out and flushes
    val rows = spark.table("etimeout").as[WinOut].collect()
    q.stop()
    // b's window [0,60) committed WITHOUT any further b data
    assert(rows.exists(r => r.winStart == 0 && r.n == 1 && r.sum == 5.0),
      s"quiet key not flushed: ${rows.mkString(", ")}")
    // a's first window committed by COMMIT BEFORE on its t=200 event
    assert(rows.exists(r => r.winStart == 0 && r.n == 1 && r.sum == 1.0))
  }

  test("NOTIFY alerter dedups into incidents (start/stop)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val notifs = mem.toDS().map { case (name, v) =>
      Notification(name, firing = v > 100.0, Map("value" -> v.toString))
    }
    val alerter = new Notify.Alerter
    val q = Notify.sink(notifs, alerter).start()
    mem.addData(("cpu_high", 150.0), ("cpu_high", 160.0), ("cpu_high", 50.0),
      ("disk_full", 20.0))
    q.processAllAvailable()
    q.stop()
    // start, duplicate debounced, stop — and since the stop landed inside
    // the 10 s debounce window, the incident cancels before any contact
    // delivery (the reference cancels a StartToBeSent incident)
    assert(alerter.incidents ==
      Seq("START cpu_high", "STOP cpu_high", "CANCEL cpu_high"))
    assert(alerter.currentlyFiring.isEmpty)
  }

  test("NOTIFY sink bounds its per-batch collect (overflow journals, no OOM)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Int]
    // a buggy per-tuple NOTIFY: every input row notifies under its own name
    val notifs = mem.toDS().map(i =>
      Notification(s"n$i", firing = true, Map.empty, sentTime = 10.0 + i))
    val alerter = new Notify.Alerter
    val q = Notify.sink(notifs, alerter, maxPerBatch = 5).start()
    mem.addData(1 to 50: _*)
    q.processAllAvailable()
    q.stop()
    val lines = alerter.incidents
    assert(lines.exists(_.startsWith("FAILED batch overflow")), lines)
    // the first maxPerBatch notifications were still delivered
    assert(lines.count(_.startsWith("START ")) == 5, lines)
  }

  /** Run `body` with the streaming state store swapped to `provider`
    * ("default" keeps Spark's HDFSBackedStateStore; "rocksdb" proves the
    * at-scale option GraftSession gates behind SPARK_GRAFT_STATESTORE —
    * a 100 TB dedup stream's fingerprint state must live off-heap). The
    * conf is read at query START, so setting it per-test is enough. */
  private def withStateStore[A](provider: String)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    if (provider == "rocksdb") spark.conf.set(key, GraftSession.RocksDbProvider)
    else spark.conf.unset(key)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  for (provider <- Seq("default", "rocksdb"))
  test(s"streaming exact dedup on the content fingerprint matches batch survivors ($provider state store)") {
    withStateStore(provider) {
    // the d01 ingestion-time shape: fingerprint is map-only, the dedup
    // state is keyed by the 16-byte fingerprint (at scale:
    // dropDuplicatesWithinWatermark bounds that state by event time; here
    // the unbounded variant keeps the test deterministic)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val fp = docs.select(col("doc_id"),
      graft.functions.TextFunctions.bagFingerprint(col("text")).as("fp"))
    val q = fp.dropDuplicates("fp")
      .writeStream.format("memory").queryName(s"stream_dedup_$provider")
      .outputMode("append").start()
    mem.addData((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "unique words here"))
    q.processAllAvailable()
    // batch 2: ids 4/5 are PERMUTATIONS of earlier docs (same bag
    // fingerprint) and must be dropped by the cross-batch state
    mem.addData((4L, "gamma beta alpha"), (5L, "epsilon delta"),
      (6L, "fresh content now"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table(s"stream_dedup_$provider").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 6L))
    // the batch operator agrees: in-arrival-order ids make first-arrival
    // (stream) and min-id (batch) the same survivor set
    val all = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "unique words here"), (4L, "gamma beta alpha"),
      (5L, "epsilon delta"), (6L, "fresh content now")).toDF("doc_id", "text")
    val batchKeep = graft.ops.Dedup.exactDedup(all, "doc_id", "text")
      .select("keep_id").as[Long].collect().toSet
    assert(batchKeep == kept)
    }
  }

  test("semanticDedupStream sign-prefilter bounds hot-cell comparisons") {
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    // ONE cell (single centroid), 200 mutually-distant keepers (random
    // unit-ish vectors land in scattered sign buckets), then 50 probes.
    // The full-scan path pays ~200 comparisons per probe; the banded
    // index must surface only same-band keepers — assert the total is a
    // small fraction of the full-scan cost.
    val rng = new scala.util.Random(7)
    val dim = 32
    val vecs = (1L to 250L).map(i =>
      (i, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val cents = Seq(Seq.fill(dim)(1.0 / math.sqrt(dim)))
    val acc = spark.sparkContext.longAccumulator("semdedup_cmps")
    val mem = MemoryStream[(Long, Array[Float])]
    val out = Dedup.semanticDedupStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, minCos = 0.95, signPrefilter = true, comparisons = Some(acc))
    val q = out.writeStream.format("memory").queryName("semprefilter")
      .outputMode("append").start()
    mem.addData(vecs.take(200): _*)
    q.processAllAvailable()
    val afterEnroll = acc.value
    mem.addData(vecs.drop(200): _*)
    q.processAllAvailable()
    q.stop()
    val probeCmps = acc.value - afterEnroll
    // full scan would be 50 × 200 = 10 000; banded probes surface ~4/256
    // of a scattered cell — leave generous headroom for collisions
    assert(probeCmps < 2500,
      s"prefilter should cut comparisons well below full-scan: $probeCmps")
    assert(spark.table("semprefilter").count() == 250)
  }

  test("streaming semantic dedup matches batch survivors when ids arrive in order") {
    import graft.ops.{Dedup, Similarity}
    implicit val sqlCtx = spark.sqlContext
    // 15-periodic patterns ⇒ exact duplicates every 15 ids; distinct
    // patterns stay far below the threshold, so at τ≈1 matching is an
    // equivalence relation and first-arrival == batch min-id EXACTLY
    // (with a non-transitive τ the two operators legitimately differ on
    // dups-of-dups — that case is covered by the is_dup-only property in
    // the batch spec)
    val vecs = (1L to 30L).map(i =>
      (i, Array(1.0f, (i % 5) * 0.3f, (i % 3) * 0.4f, 0.1f)))
    val batchDf = vecs.toDF("vec_id", "embedding")
    val cents = Similarity.seedCentroids(batchDf, "vec_id", "embedding", 4)
    val expected = Dedup.semanticDedup(batchDf, "vec_id", "embedding",
        cents, minCos = 0.9999)
      .select("id", "cell", "dup_of", "is_dup")
      .as[(Long, Int, Option[Long], Boolean)].collect().toSet
    assert(expected.count(_._4) >= 15, "the planted periodicity should dup")
    val mem = MemoryStream[(Long, Array[Float])]
    val out = Dedup.semanticDedupStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, minCos = 0.9999)
    val q = out.writeStream.format("memory").queryName("semstream")
      .outputMode("append").start()
    // one micro-batch per vector pins arrival order = id order
    vecs.foreach { v => mem.addData(v); q.processAllAvailable() }
    q.stop()
    val got = spark.table("semstream").select("id", "cell", "dup_of", "is_dup")
      .as[(Long, Int, Option[Long], Boolean)].collect().toSet
    assert(got == expected,
      s"stream/batch divergence:\n  only-stream: ${got -- expected}\n  only-batch: ${expected -- got}")
  }

  test("streaming semantic dedup: batch parity at a boundary cosine (default exact; prefilter never false-positives)") {
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    // Pairs sitting JUST over a 0.9 threshold (cosine ≈ 0.905) — the
    // regime where the opt-in sign prefilter's recall drops to ~0.74.
    // The default (exact) mode must match the batch operator EXACTLY
    // here; the prefilter mode may miss dups but must never invent one.
    val dim = 16
    val th = math.acos(0.905)
    val vecs: Seq[(Long, Array[Float])] = (0 until 12).flatMap { p =>
      val u = Array.fill(dim)(0.0f)
      u(p % (dim - 1)) = 1.0f
      val v = Array.fill(dim)(0.0f)
      v(p % (dim - 1)) = math.cos(th).toFloat
      v(dim - 1) = math.sin(th).toFloat * (if (p % 2 == 0) 1f else -1f)
      Seq((p * 2 + 1L, u), (p * 2 + 2L, v))
    }
    val batchDf = vecs.toDF("vec_id", "embedding")
    val cents = Seq(Seq.fill(dim)(1.0 / math.sqrt(dim)))
    val expected = Dedup.semanticDedup(batchDf, "vec_id", "embedding",
        cents, minCos = 0.9)
      .select("id", "dup_of", "is_dup")
      .as[(Long, Option[Long], Boolean)].collect().toSet
    assert(expected.count(_._3) >= 10, "planted boundary pairs should dup")
    def runStream(pre: Boolean, name: String): Set[(Long, Option[Long], Boolean)] = {
      val mem = MemoryStream[(Long, Array[Float])]
      val q = Dedup.semanticDedupStream(
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          cents, minCos = 0.9, signPrefilter = pre)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      vecs.foreach { v => mem.addData(v); q.processAllAvailable() }
      q.stop()
      spark.table(name).select("id", "dup_of", "is_dup")
        .as[(Long, Option[Long], Boolean)].collect().toSet
    }
    // default mode: exact parity, boundary pairs included
    assert(runStream(pre = false, "semboundary_exact") == expected)
    // opt-in prefilter: recall-only degradation — every surfaced dup is
    // a batch dup with the same survivor
    val approx = runStream(pre = true, "semboundary_pre")
    approx.filter(_._3).foreach { d =>
      assert(expected.contains(d), s"prefilter invented a duplicate: $d")
    }
  }

  test("UDP netflow → RaQL NOTIFY fires incidents end-to-end") {
    import java.net.{DatagramPacket, DatagramSocket, InetAddress}
    import java.nio.{ByteBuffer, ByteOrder}
    val udp = new UdpIngest(spark, 0).start()
    try {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("net/flows", udp.netflow)
      RaqlParser.parseProgram(
        """DEFINE alerts AS
             FROM net/flows
             SELECT src_port, dst_port, bytes
             WHERE bytes > 500
             NOTIFY "big_flow";""") match {
        case Right(p) => c.register("main", p)
        case Left(e) => fail(s"parse: $e")
      }
      val notifs = c.notifications("main/alerts")
        .getOrElse(fail("no NOTIFY clause compiled")).as[Notification]
      val alerter = new Notify.Alerter
      val q = Notify.sink(notifs, alerter).start()
      // one netflow v5 packet, 840 bytes transferred (> 500 → fires)
      val b = ByteBuffer.allocate(72).order(ByteOrder.BIG_ENDIAN)
      b.putShort(5).putShort(1).putInt(60000)
      b.putInt(1700000060).putInt(0).putInt(42)
      b.put(1.toByte).put(2.toByte).putShort(((1 << 14) | 100).toShort)
      b.putInt(0x0A000001).putInt(0x0A000002).putInt(0)
      b.putShort(3).putShort(4).putInt(10).putInt(840)
      b.putInt(30000).putInt(50000).putShort(1234).putShort(80)
      b.put(0.toByte).put(0x12.toByte).put(6.toByte).put(0.toByte)
      b.putShort(65001.toShort).putShort(65002.toShort)
      b.put(24.toByte).put(16.toByte).putShort(0)
      val sock = new DatagramSocket()
      val deadline = System.currentTimeMillis() + 20000
      while (alerter.incidents.isEmpty && System.currentTimeMillis() < deadline) {
        sock.send(new DatagramPacket(b.array(), b.array().length,
          InetAddress.getLoopbackAddress, udp.boundPort))
        Thread.sleep(100)
        q.processAllAvailable()
      }
      q.stop()
      sock.close()
      assert(alerter.incidents.headOption.contains("START big_flow"),
        s"incidents: ${alerter.incidents}")
      assert(alerter.currentlyFiring == Set("big_flow"))
    } finally udp.stop()
  }

  test("UDP ingest: datagrams queued before one trigger arrive as one partition, in send order") {
    import java.net.{DatagramPacket, DatagramSocket, InetAddress}
    val udp = new UdpIngest(spark, 0).start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[String])]
    try {
      val k = 8
      val sock = new DatagramSocket()
      (0 until k).foreach { i =>
        val p = s"dgram-$i".getBytes("UTF-8")
        sock.send(new DatagramPacket(p, p.length,
          InetAddress.getLoopbackAddress, udp.boundPort))
      }
      sock.close()
      // loopback delivery takes microseconds: all k datagrams sit in the
      // source before the query's first trigger plans them
      Thread.sleep(1000)
      val q = udp.packets.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[(String, Array[Byte], Double)],
            _: Long) =>
          val rows = batch.collect().map(r => new String(r._2, "UTF-8")).toSeq
          if (rows.nonEmpty) seen.synchronized {
            seen += ((batch.rdd.getNumPartitions, rows))
          }
          ()
      }.start()
      try q.processAllAvailable() finally q.stop()
      assert(seen.toSeq == Seq((1, (0 until k).map(i => s"dgram-$i"))),
        seen.toString)
    } finally udp.stop()
  }

  test("TCP graphite survives concurrent connections and garbage lines") {
    val tcp = new graft.sources.TcpIngest(spark, 0).start()
    try {
      val q = tcp.graphite.writeStream.format("memory")
        .queryName("graphite_tcp_many").outputMode("append").start()
      def connect() = new java.net.Socket(
        java.net.InetAddress.getLoopbackAddress, tcp.boundPort)
      val socks = Seq.fill(4)(connect())
      val deadline = System.currentTimeMillis() + 20000
      var sent = 0
      while (spark.table("graphite_tcp_many")
          .select("metric").distinct().count() < 4 &&
          System.currentTimeMillis() < deadline) {
        socks.zipWithIndex.foreach { case (s, i) =>
          // valid metric interleaved with garbage on every connection
          s.getOutputStream.write(
            s"conn$i.cpu ${i + 1} 1700000000\nnot a metric at all\n\n"
              .getBytes("UTF-8"))
          s.getOutputStream.flush()
        }
        sent += 1
        Thread.sleep(100)
        q.processAllAvailable()
      }
      q.stop()
      socks.foreach(_.close())
      val metrics = spark.table("graphite_tcp_many")
        .select("metric").distinct().collect().map(_.getString(0)).toSet
      assert(metrics == (0 until 4).map(i => s"conn$i.cpu").toSet, metrics)
      // garbage never decoded into rows
      assert(spark.table("graphite_tcp_many")
        .filter(org.apache.spark.sql.functions.col("metric")
          .contains("not")).isEmpty)
    } finally tcp.stop()
  }

  test("TCP graphite stamps receipt_time at enqueue, not at the trigger") {
    // a line queued while no micro-batch runs must carry its socket-read
    // time: the 2-field form uses receipt as the metric START (r11 advice)
    val tcp = new graft.sources.TcpIngest(spark, 0).start()
    try {
      val s = new java.net.Socket(
        java.net.InetAddress.getLoopbackAddress, tcp.boundPort)
      val t0 = System.currentTimeMillis() / 1000.0
      s.getOutputStream.write("late.metric 42\n".getBytes("UTF-8"))
      s.getOutputStream.flush()
      s.close()
      // let the reader thread enqueue, then idle well past the stamp
      Thread.sleep(1500)
      val q = tcp.graphite.writeStream.format("memory")
        .queryName("graphite_tcp_stamp").outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("graphite_tcp_stamp")
        .select("metric", "receipt_time", "start").collect()
      assert(rows.length == 1, rows.mkString(","))
      val rt = rows.head.getDouble(1)
      assert(rt >= t0 - 1.0 && rt <= t0 + 1.0,
        s"receipt_time $rt not near enqueue time $t0 — stamped at the trigger?")
      assert(rows.head.getDouble(2) == rt, "2-field start must be receipt")
    } finally tcp.stop()
  }

  test("EVERY d / YIELD maps to the rate source") {
    val df = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
      .select(col("timestamp"), col("value"),
        (col("value") % 5).as("series"))
    val q = df.writeStream.format("memory").queryName("rateout")
      .outputMode("append").start()
    // wait for at least one non-empty batch
    val deadline = System.currentTimeMillis() + 20000
    while (spark.table("rateout").isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
    }
    q.stop()
    assert(spark.table("rateout").count() > 0)
  }

  test("streaming file source runs the same plan as batch (tumbling counts)") {
    // replay semantics: one plan, two modes — stream the sf0.001 events
    // parquet as if live, compare against the batch result
    val dir = "/root/testdata/sf0.001"
    val batchEv = Tables.events(spark, dir)
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file stream source wants a directory — stage the file into one
    val streamDir = java.nio.file.Files.createTempDirectory("graft_replay")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .transform(Tables.normalizeEventsTs)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("replayout")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("replayout")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val batch = batchEv.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("SORT LAST reorder buffer applies per micro-batch on a stream") {
    // the bounded reorder is per stream shard: within one micro-batch the
    // streaming output equals the batch SortBuffer result (cross-batch
    // disorder is the watermark's job, not the sort buffer's)
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sortbuf")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .select(col("event_id"), col("user_id"))
    val sorted = graft.ops.SortBuffer(stream, 50, Seq(col("user_id")))
    val q = sorted.writeStream.format("memory").queryName("sortbufout")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // one micro-batch, one partition: the memory sink preserves emit order
    val streamed = spark.table("sortbufout")
      .select("event_id").collect().map(_.getLong(0)).toSeq
    val batch = graft.ops.SortBuffer(
      Tables.events(spark, dir).select(col("event_id"), col("user_id")).coalesce(1),
      50, Seq(col("user_id")))
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stateless RaQL compiles to one plan that runs batch AND streaming") {
    // the reference runs programs continuously; our stateless compile path
    // has no sequence id or window, so the SAME RaQL text drives a
    // readStream source unchanged — micro-batch results equal batch
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val raql = """DEFINE q AS
        FROM tables/events
        SELECT event_id, user_id, value * 2 AS v2,
               upper(event_type) AS etype
        WHERE value >= 100 AND event_type <> "error";"""
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_raqlstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val streamEv = spark.readStream.schema(schema).parquet(streamDir.toString)
    val cs = new RaqlCompiler(spark, dir)
    cs.registerTable("tables/events", streamEv)
    RaqlParser.parseProgram(raql) match {
      case Right(p) => cs.register("main", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = cs.compile("main/q")
    assert(sdf.isStreaming, "stateless RaQL plan should stay streaming")
    val q = sdf.writeStream.format("memory").queryName("raqlstream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("raqlstream_out")
    val cb = new RaqlCompiler(spark, dir)
    cb.registerTable("tables/events", Tables.load(spark, dir, "events"))
    RaqlParser.parseProgram(raql) match {
      case Right(p) => cb.register("main", p)
      case Left(e) => fail(s"parse: $e")
    }
    val batch = cb.compile("main/q")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("STATEFUL grouped RaQL runs append-mode streaming via window+watermark") {
    // the reference's tumbling idiom — GROUP BY t // d with a COMMIT
    // slack — compiles on a streaming source to the native event-time
    // window + watermark: the SAME RaQL text drives batch and an
    // append-mode stream, and every window the watermark closed matches
    // the batch result bit-for-bit
    val dir = "/root/testdata/sf0.001"
    val raql = """DEFINE q AS
        FROM tables/ev
        SELECT TRUNCATE(MIN ets, 3600) AS wstart, event_type,
               SUM 1 AS n, SUM value AS total
        GROUP BY event_type, ets // 3600
        COMMIT AFTER in.ets > out.wstart + 7200;"""
    val evBatch = Tables.events(spark, dir)
      .withColumn("ets", col("ts").cast("double"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_tumble")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val evStream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .transform(Tables.normalizeEventsTs)
      .withColumn("ets", col("ts").cast("double"))
    def compiled(ev: org.apache.spark.sql.DataFrame) = {
      val c = new RaqlCompiler(spark, dir)
      c.registerTable("tables/ev", ev)
      RaqlParser.parseProgram(raql) match {
        case Right(p) => c.register("main", p)
        case Left(e) => fail(s"parse: $e")
      }
      c.compile("main/q")
    }
    val sdf = compiled(evStream)
    assert(sdf.isStreaming, "tumbling grouped RaQL should stay streaming")
    val q = sdf.writeStream.format("memory").queryName("raqltumble")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("raqltumble")
    val batch = compiled(evBatch)
    // append emits only watermark-closed windows; every emitted row must
    // equal its batch counterpart, and the bulk of windows must emit
    assert(streamed.count() > 0, "no window closed under the watermark")
    assert(streamed.exceptAll(batch).isEmpty,
      "streamed rows diverge from batch")
    assert(streamed.count() >= batch.count() / 2,
      s"too few closed windows: ${streamed.count()} of ${batch.count()}")
  }

  test("hosts.ramen's COMMIT BEFORE shape streams via the same translation") {
    // the flagship monitoring idiom (hosts.ramen memory/cpu/disk...):
    // GROUP BY key + COMMIT BEFORE in.t >= out.stop with stop =
    // out.start + d, start = TRUNCATE(MIN t, d). The compiler adds the
    // implied t // d window key, which on a streaming source becomes the
    // event-time window + watermark — same text, batch and stream.
    val dir = "/root/testdata/sf0.001"
    val raql = """DEFINE q AS
        FROM tables/ev
        SELECT TRUNCATE(MIN ets, 3600) AS wstart, out.wstart + 3600 AS wstop,
               event_type, AVG value AS avg_v, SUM 1 AS n
        GROUP BY event_type
        COMMIT BEFORE in.ets >= out.wstop;"""
    val evBatch = Tables.events(spark, dir)
      .withColumn("ets", col("ts").cast("double"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_hosts")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val evStream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .transform(Tables.normalizeEventsTs)
      .withColumn("ets", col("ts").cast("double"))
    def compiled(ev: org.apache.spark.sql.DataFrame) = {
      val c = new RaqlCompiler(spark, dir)
      c.registerTable("tables/ev", ev)
      RaqlParser.parseProgram(raql) match {
        case Right(p) => c.register("main", p)
        case Left(e) => fail(s"parse: $e")
      }
      c.compile("main/q")
    }
    val sdf = compiled(evStream)
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("hostsshape")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hostsshape")
    val batch = compiled(evBatch)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty)
    assert(streamed.count() >= batch.count() / 2)
  }

  test("the streaming tumbling plan watermarks and windows the group key") {
    // scale shape: state partitions by (window, key) under an event-time
    // watermark — no unbounded per-group state
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val ev = spark.readStream.schema(schema)
      .parquet(java.nio.file.Files.createTempDirectory("graft_plan").toString)
      .transform(Tables.normalizeEventsTs)
      .withColumn("ets", col("ts").cast("double"))
    val c = new RaqlCompiler(spark, dir)
    c.registerTable("tables/ev", ev)
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT TRUNCATE(MIN ets, 60) AS wstart, event_type, SUM 1 AS n
        GROUP BY event_type, ets // 60
        COMMIT AFTER in.ets > out.wstart + 120;""") match {
      case Right(p) => c.register("m", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("m/q")
    val analyzed = sdf.queryExecution.analyzed.toString
    assert(analyzed.contains("EventTimeWatermark"),
      s"no watermark in:\n$analyzed")
    assert(analyzed.toLowerCase.contains("window"),
      s"no window key in:\n$analyzed")
  }

  /** A compiler holding `raql` as `prog`, over a MemoryStream of [[Ev]] rows. */
  private def registerOverEv(mem: MemoryStream[Ev], prog: String,
      raql: String): RaqlCompiler = {
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram(raql) match {
      case Right(p) => c.register(prog, p)
      case Left(e) => fail(s"parse: $e")
    }
    c
  }

  /** Compiles `raql`'s function `q` over a MemoryStream of [[Ev]] rows. */
  private def compileOverEv(mem: MemoryStream[Ev], prog: String,
      raql: String): org.apache.spark.sql.DataFrame =
    registerOverEv(mem, prog, raql).compile(s"$prog/q")

  /** The compiled NOTIFY of one alert per closed hosts-shape window:
    * START "busy <user>" when the user had more than one row in it, STOP
    * otherwise. */
  private def busyAlertsOverEv(mem: MemoryStream[Ev],
      prog: String): org.apache.spark.sql.Dataset[Notification] =
    registerOverEv(mem, prog, hostsShape60 + """
      DEFINE alert AS FROM q
        SELECT wstop, user, n, n > 1 AS firing
        NOTIFY "busy " || user;""").notifications(s"$prog/alert")
      .getOrElse(fail("no NOTIFY compiled")).as[Notification]

  private val hostsShape60 = """DEFINE q AS
      FROM tables/ev
      SELECT TRUNCATE(MIN t, 60) AS wstart, out.wstart + 60 AS wstop,
             user, SUM 1 AS n
      GROUP BY user
      COMMIT BEFORE in.t >= out.wstop;"""

  private val slack120 = """DEFINE q AS
      FROM tables/ev
      SELECT TRUNCATE(MIN t, 60) AS wstart, user, SUM 1 AS n
      GROUP BY user, t // 60
      COMMIT AFTER in.t > out.wstart + 120;"""

  test("streaming time buckets watermark from the commit point: hosts shape 0 s, wstart + 120 over 60 s buckets 60 s") {
    // delay = offset of the commit bound from the window start, minus the
    // window length d, floored at 0: wstop = wstart + d gives 0, wstart +
    // 120 with d = 60 gives 60 s, and one more millisecond for the strict
    // `>` (the tuple at the bound leaves the window open)
    import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
    implicit val sqlCtx = spark.sqlContext
    def delayMs(raql: String, prog: String): Seq[Long] =
      compileOverEv(MemoryStream[Ev], prog, raql).queryExecution.analyzed
        .collect { case w: EventTimeWatermark => EventTimeWatermark.getDelayMs(w.delay) }
    assert(delayMs(hostsShape60, "wm0") == Seq(0L))
    assert(delayMs(slack120, "wm60") == Seq(60001L))
  }

  test("hosts-shape stream emits a window once the first tuple at its wstop is processed") {
    // ramen's check_commit_for_all commits [0,60) on the first tuple with
    // t >= 60; the translation does the same, not one window later
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = compileOverEv(mem, "cp0", hostsShape60).writeStream.format("memory")
      .queryName("commitpoint_hosts").outputMode("append").start()
    def rows = spark.table("commitpoint_hosts").select("wstart", "wstop", "user", "n")
      .as[(Double, Double, String, Long)].collect().toSeq
    try {
      for (t <- Seq(10L, 20L, 59L)) {
        mem.addData(Ev("a", t, 1.0))
        q.processAllAvailable()
        assert(rows.isEmpty, s"window emitted before its wstop, after t = $t: $rows")
      }
      mem.addData(Ev("a", 60, 1.0))
      q.processAllAvailable()
      assert(rows == Seq((0.0, 60.0, "a", 3L)), rows)
    } finally q.stop()
  }

  test("a bare alias in a time-bucket commit bound takes the window route of its out. spelling") {
    // `ws + 60 AS we` with a bare `ws` names the out field, as `out.ws +
    // 60` does: the route is read from the alias-substituted fields, so
    // this spelling also compiles to a 0 s watermark and emits [0,60) once
    // t = 60 is processed (the harness cannot fold TRUNCATE(MIN t, 60))
    import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
    implicit val sqlCtx = spark.sqlContext
    val bare = """DEFINE q AS
        FROM tables/ev
        SELECT TRUNCATE(MIN t, 60) AS ws, ws + 60 AS we, user, SUM 1 AS n
        GROUP BY user, t // 60
        COMMIT AFTER in.t >= out.we;"""
    val mem = MemoryStream[Ev]
    val sdf = compileOverEv(mem, "bare", bare)
    assert(sdf.queryExecution.analyzed.collect {
      case w: EventTimeWatermark => EventTimeWatermark.getDelayMs(w.delay)
    } == Seq(0L), sdf.queryExecution.analyzed)
    val q = sdf.writeStream.format("memory").queryName("commitpoint_bare")
      .outputMode("append").start()
    def rows = spark.table("commitpoint_bare").select("ws", "we", "user", "n")
      .as[(Double, Double, String, Long)].collect().toSeq
    try {
      mem.addData(Ev("a", 10, 1.0), Ev("a", 20, 1.0), Ev("a", 59, 1.0))
      q.processAllAvailable()
      assert(rows.isEmpty, s"window emitted before its end: $rows")
      mem.addData(Ev("a", 60, 1.0))
      q.processAllAvailable()
      assert(rows == Seq((0.0, 60.0, "a", 3L)), rows)
    } finally q.stop()
  }

  test("COMMIT AFTER in.t > out.wstart + 120 keeps a 60 s bucket open for late rows until t >= 120") {
    // the bucket [0,60) commits when an input passes wstart + 120: a row
    // for it arriving after t = 110 is still counted. Equality: the strict
    // `>` waits one millisecond past the bound, so the tuple exactly at
    // t = 120 leaves the bucket open and the next one past it closes it,
    // as ramen's strict compare does
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = compileOverEv(mem, "cp120", slack120).writeStream.format("memory")
      .queryName("commitpoint_slack").outputMode("append").start()
    def rows = spark.table("commitpoint_slack").select("wstart", "user", "n")
      .as[(Double, String, Long)].collect().toSeq
    try {
      mem.addData(Ev("a", 10, 1.0), Ev("a", 110, 1.0))
      q.processAllAvailable()
      mem.addData(Ev("a", 30, 1.0)) // late for [0,60), before its commit
      q.processAllAvailable()
      mem.addData(Ev("a", 119, 1.0))
      q.processAllAvailable()
      assert(rows.isEmpty, s"bucket closed before t >= 120: $rows")
      mem.addData(Ev("a", 120, 1.0))
      q.processAllAvailable()
      assert(rows.isEmpty, s"bucket closed by the tuple at t = 120: $rows")
      mem.addData(Ev("a", 121, 1.0))
      q.processAllAvailable()
      assert(rows == Seq((0.0, "a", 2L)), rows)
    } finally q.stop()
  }

  test("security.ramen's TRUNCATE(start, 60) AS start … GROUP BY start // 60 streams by the window route") {
    // the alias substitution turns the key into TRUNCATE(start, 60) // 60,
    // the same bucket as start // 60; out.start = TRUNCATE(start, 60) is
    // the window start, so `in.start > out.start + 120` holds each 60 s
    // bucket 60 s past its end, plus the strict compare's millisecond
    import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
    implicit val sqlCtx = spark.sqlContext
    val raql = """DEFINE q AS
        FROM tables/flows
        SELECT TRUNCATE(start, 60) AS start, SUM 1 AS n
        GROUP BY start // 60
        COMMIT AFTER in.start > out.start + 120;"""
    def compiler(prog: String, flows: org.apache.spark.sql.DataFrame) = {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("tables/flows", flows)
      RaqlParser.parseProgram(raql) match {
        case Right(p) => c.register(prog, p)
        case Left(e) => fail(s"parse: $e")
      }
      c.compile(s"$prog/q")
    }
    val mem = MemoryStream[Long]
    val sdf = compiler("sec", mem.toDS().toDF("start"))
    val analyzed = sdf.queryExecution.analyzed
    assert(analyzed.collect {
      case w: EventTimeWatermark => EventTimeWatermark.getDelayMs(w.delay)
    } == Seq(60001L), analyzed)
    val q = sdf.writeStream.format("memory").queryName("security_shape")
      .outputMode("append").start()
    val starts = Seq(10L, 20L, 30L, 70L, 80L, 10000L)
    try {
      mem.addData(starts.init: _*)
      q.processAllAvailable()
      mem.addData(starts.last)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("security_shape").select("start", "n")
      .collect().map(r => (r.getAs[Number](0).doubleValue, r.getLong(1))).toSet
    assert(streamed == Set((0.0, 3L), (60.0, 2L)), streamed)
    val batch = compiler("secb", starts.toDF("start").coalesce(1))
      .select("start", "n").collect()
      .map(r => (r.getAs[Number](0).doubleValue, r.getLong(1)))
      .filter(_._1 < 120).toSet
    assert(streamed == batch, s"stream $streamed, batch $batch")
  }

  test("a streaming COMMIT condition's literals are constants, not projected input columns") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    implicit val sqlCtx = spark.sqlContext
    val analyzed = compileOverEv(MemoryStream[Ev], "litc", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM 1 AS n
        GROUP BY user
        COMMIT AFTER SUM 1 >= 3;""").queryExecution.analyzed
    val projected = analyzed.collect { case p: Project => p.projectList }.flatten
      .map(_.name)
    assert(projected.contains("_gkey"), analyzed)
    assert(!projected.exists(_.startsWith("_in")), analyzed)
  }

  test("a vector literal over in-fields in a streaming COMMIT condition is a projected input column") {
    // `in.user IN ["a"]` is stateless over the input row: it evaluates in
    // the projection like any other in-only subtree
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = compileOverEv(mem, "vecin", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM 1 AS n
        GROUP BY user
        COMMIT AFTER in.user IN ["a"] AND SUM 1 >= 2;""")
      .writeStream.format("memory").queryName("vector_in")
      .outputMode("append").start()
    try {
      mem.addData(Ev("a", 1, 1.0), Ev("b", 2, 1.0), Ev("b", 3, 1.0),
        Ev("a", 4, 1.0), Ev("a", 5, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("vector_in").select("user", "n")
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("a", 2L)), rows)
  }

  test("a stateful NOTIFY batch over maxPerBatch keeps its state: later windows alert, tail STOPs are rescued") {
    // the sink reads every row of every partition: a stateful partition
    // stopped after maxPerBatch + 1 rows never commits its state store,
    // and the next batch cannot load it
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val alerter = new Notify.Alerter
    val q = Notify.sink(busyAlertsOverEv(mem, "ovf"), alerter, maxPerBatch = 2).start()
    def step(evs: Ev*): Unit = { mem.addData(evs); q.processAllAvailable() }
    try {
      step(Ev("a", 10, 1.0), Ev("a", 20, 1.0))
      // closes [0,60): a fires. [60,120) holds 41 STOPs (a and 40 users
      // with one row) and 40 STARTs: 81 rows over 4 partitions, cap 2
      step(Ev("a", 70, 1.0) +: (0 until 40).flatMap { i =>
        Seq(Ev(f"s$i%02d", 70, 1.0), Ev(f"f$i%02d", 70, 1.0), Ev(f"f$i%02d", 80, 1.0))
      }: _*)
      assert(alerter.currentlyFiring == Set("busy a"), alerter.incidents)
      step(Ev("c", 130, 1.0), Ev("c", 140, 1.0)) // closes [60,120): overflow
      step(Ev("d", 190, 1.0)) // closes [120,180): c fires
      assert(q.isActive && q.exception.isEmpty, q.exception)
      val lines = alerter.incidents
      // at most 2 of the 41 STOPs sit in the kept prefix: the first 2 of
      // the tail are rescued
      assert(lines.exists(l => l.startsWith("FAILED batch overflow") &&
        l.contains("; 2 STOPs rescued")), lines)
      assert(lines.contains("START busy c"), lines)
      assert(alerter.currentlyFiring("busy c"))
    } finally q.stop()
  }

  /** The id of `q`'s last micro-batch (-1 before the first): after
    * `processAllAvailable` the batches it ran are behind it. */
  private def lastBatchId(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  /** Six minutes of busy-alert rows through [[Notify.sink]]: per minute,
    * the stage code compiled and the micro-batches run. Each minute's rows
    * close the previous minute's windows: a START for b, a STOP for a. */
  private def stageCompilesPerMinute(mem: MemoryStream[Ev],
      notifs: org.apache.spark.sql.Dataset[Notification],
      alerter: Notify.Alerter): Seq[(Long, Long)] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestampLike}
    // the analyzed plan: each micro-batch's optimizer folds a current time
    // into a new literal, so it must not be there to fold
    val timed = notifs.queryExecution.analyzed.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e: CurrentTimestampLike => e
        case e: CurrentDate => e
      })
    }.flatten
    assert(timed.isEmpty, timed)
    val q = Notify.sink(notifs, alerter).start()
    try (0 until 6).map { m =>
      val (c0, b0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, lastBatchId(q))
      mem.addData(Ev("a", 60L * m + 10, 1.0), Ev("b", 60L * m + 10, 1.0),
        Ev("b", 60L * m + 20, 1.0))
      q.processAllAvailable()
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, lastBatchId(q) - b0)
    } finally q.stop()
  }

  test("a compiled NOTIFY stream compiles no stage code per micro-batch beyond Spark's eviction predicate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val alerter = new Notify.Alerter
    val perMinute = stageCompilesPerMinute(mem, busyAlertsOverEv(mem, "stable"), alerter)
    assert(alerter.incidents.count(_ == "START busy b") == 1, alerter.incidents)
    // after two warm-up minutes: one compile per micro-batch at most,
    // the eviction predicate over the batch's new watermark
    perMinute.drop(2).foreach { case (compiles, ran) =>
      assert(ran >= 1 && compiles <= ran, perMinute)
    }
  }

  test("a NOTIFY stream over RaQL age() reads the clock per row and compiles no stage code per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val alert = """
      DEFINE alert AS FROM q
        SELECT wstop, user, n, n > 1 AND age(wstop) > 0 AS firing
        NOTIFY "busy " || user;"""
    val notifs = registerOverEv(mem, "aged", hostsShape60 + alert)
      .notifications("aged/alert").getOrElse(fail("no NOTIFY compiled"))
      .as[Notification]
    def clocks(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case p =>
        p.expressions.flatMap(_.collect { case e: graft.functions.WallClockSeconds => e })
      }.flatten
    assert(clocks(notifs.toDF()).nonEmpty)
    // a batch compile of the same program keeps the query-start time
    val batch = new RaqlCompiler(spark, "/tmp")
    batch.registerTable("tables/ev", Seq(Ev("a", 10, 1.0)).toDF())
    RaqlParser.parseProgram(hostsShape60 + alert) match {
      case Right(p) => batch.register("aged_batch", p)
      case Left(e) => fail(s"parse: $e")
    }
    val batchNotifs = batch.notifications("aged_batch/alert").getOrElse(fail("no NOTIFY"))
    assert(clocks(batchNotifs).isEmpty)
    assert(batchNotifs.queryExecution.analyzed.toString.contains("unix_timestamp"))
    val alerter = new Notify.Alerter
    val perMinute = stageCompilesPerMinute(mem, notifs, alerter)
    assert(alerter.incidents.count(_ == "START busy b") == 1, alerter.incidents)
    perMinute.drop(2).foreach { case (compiles, ran) =>
      assert(ran >= 1 && compiles <= ran, perMinute)
    }
  }

  /** Per micro-batch of the streaming query `q` started in `body`: the
    * jobs it ran and the tasks of each job's last stage. */
  private def jobsPerBatch[A](body: => A): (A, Map[Long, Seq[Int]]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.add((b.toLong, j.stageInfos.maxBy(_.stageId).numTasks)))
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.sql.GraftShims.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (a, jobs.asScala.toSeq.groupBy(_._1).map { case (b, js) => b -> js.map(_._2) })
    } finally sc.removeSparkListener(listener)
  }

  test("the NOTIFY sink runs a 4-partition stateful micro-batch as one job") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val alerter = new Notify.Alerter
    val ((), batches) = jobsPerBatch {
      val q = Notify.sink(busyAlertsOverEv(mem, "onejob"), alerter).start()
      try {
        mem.addData(Ev("a", 10, 1.0), Ev("b", 10, 1.0), Ev("b", 20, 1.0))
        q.processAllAvailable()
        mem.addData(Ev("a", 70, 1.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(alerter.incidents.contains("START busy b"), alerter.incidents)
    // one job per batch, whose last stage writes the 4 state partitions
    assert(batches.nonEmpty && batches.values.forall(_ == Seq(4)), batches)
  }

  test("the NOTIFY sink's micro-batch plan is the write itself: no object round trip, no LogicalRDD") {
    import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, SerializeFromObject}
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, LogicalRDD, RDDScanExec, SerializeFromObjectExec}
    import org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2Exec
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Notify.sink(busyAlertsOverEv(mem, "planpin"), new Notify.Alerter).start()
    val exec = try {
      mem.addData(Ev("a", 10, 1.0), Ev("a", 20, 1.0))
      q.processAllAvailable()
      mem.addData(Ev("b", 70, 1.0))
      q.processAllAvailable()
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
    } finally q.stop()
    assert(exec.executedPlan.isInstanceOf[WriteToDataSourceV2Exec], exec.executedPlan)
    val physical = exec.executedPlan.collect {
      case p @ (_: DeserializeToObjectExec | _: SerializeFromObjectExec | _: RDDScanExec) => p
    }
    val logical = exec.optimizedPlan.collect {
      case p @ (_: DeserializeToObject | _: SerializeFromObject | _: LogicalRDD) => p
    }
    assert(physical.isEmpty && logical.isEmpty, exec.executedPlan)
  }

  test("a NOTIFY checkpoint written by a foreachBatch sink restarts under Notify.sink and delivers the remaining alerts once each") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_notify_restart").toString
    val mem = MemoryStream[Ev]
    val notifs = busyAlertsOverEv(mem, "nrestart")
    val before, after = new Notify.Alerter
    val q1 = notifs.writeStream.foreachBatch {
      (b: org.apache.spark.sql.Dataset[Notification], _: Long) =>
        Notify.sinkBatch(b, before, 100000); ()
    }.option("checkpointLocation", ckpt).start()
    val firstLast = try {
      mem.addData(Ev("a", 10, 1.0), Ev("a", 20, 1.0), Ev("b", 30, 1.0))
      q1.processAllAvailable()
      mem.addData(Ev("c", 70, 1.0), Ev("c", 80, 1.0)) // closes [0,60): a fires
      q1.processAllAvailable()
      lastBatchId(q1)
    } finally q1.stop()
    val q2 = Notify.sink(notifs, after).option("checkpointLocation", ckpt).start()
    val secondFirst = try {
      mem.addData(Ev("d", 130, 1.0), Ev("d", 140, 1.0)) // closes [60,120): c fires
      q2.processAllAvailable()
      val first = q2.recentProgress.map(_.batchId).min
      mem.addData(Ev("e", 190, 1.0)) // closes [120,180): d fires
      q2.processAllAvailable()
      first
    } finally q2.stop()
    assert(secondFirst == firstLast + 1, s"batch ids ${firstLast} then $secondFirst")
    assert(before.incidents.filter(_.startsWith("START")) == Seq("START busy a"),
      before.incidents)
    // nothing the first run delivered is delivered again
    assert(after.incidents.filter(_.startsWith("START")) ==
      Seq("START busy c", "START busy d"), after.incidents)
  }

  for (mode <- Seq("append", "update", "complete"))
  test(s"Notify.sink delivers a stream in $mode output mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val notifs =
      if (mode == "append") mem.toDS().map(u => Notification(s"busy $u", firing = true, Map.empty))
      else mem.toDS().groupByKey(identity).count().map { case (u, n) =>
        Notification(s"busy $u", firing = n > 1, Map("n" -> n.toString))
      }
    val alerter = new Notify.Alerter
    val q = Notify.sink(notifs, alerter).outputMode(mode).start()
    try {
      mem.addData("a", "b")
      q.processAllAvailable()
      mem.addData("a")
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, q.exception)
    assert(alerter.incidents.contains("START busy a"), alerter.incidents)
    assert(alerter.currentlyFiring.contains("busy a"), alerter.incidents)
    assert(alerter.currentlyFiring.contains("busy b") == (mode == "append"), alerter.incidents)
  }

  test("Notify.sink without a checkpointLocation runs on a temporary one, deleted at stop; no alerter stays registered") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val parked = graft.streaming.NotifySink.parked
    val w = Notify.sink(busyAlertsOverEv(mem, "tempckpt"), new Notify.Alerter)
    assert(graft.streaming.NotifySink.parked == parked + 1)
    val q = w.start()
    val root = new java.io.File(new org.apache.hadoop.fs.Path(
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.resolvedCheckpointRoot).toUri.getPath)
    try {
      mem.addData(Ev("a", 10, 1.0), Ev("a", 70, 1.0))
      q.processAllAvailable()
      assert(new java.io.File(root, "commits").isDirectory, root)
      assert(root.getName.startsWith("temporary-"), root)
    } finally q.stop()
    assert(graft.streaming.NotifySink.parked == parked)
    // the query-terminated event reaches the listener asynchronously
    val deadline = System.currentTimeMillis() + 20000
    while (root.exists() && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!root.exists(), s"$root left behind")
  }

  test("a non-time COMMIT on a streaming time-bucket routes to the expr-commit harness") {
    // COMMIT AFTER in.ets > out.n + 120 with n = SUM 1 is a COUNT-shaped
    // commit: compiling it to event-time windowing would read 120 as an
    // allowed lateness it does not mean. Since r8 it routes to the
    // general expression-commit harness (per-key state + interpreted
    // condition) instead of the r7 typed error — NOT to a watermark.
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val ev = spark.readStream.schema(schema)
      .parquet(java.nio.file.Files.createTempDirectory("graft_nontime").toString)
      .transform(Tables.normalizeEventsTs)
      .withColumn("ets", col("ts").cast("double"))
    val c = new RaqlCompiler(spark, dir)
    c.registerTable("tables/ev", ev)
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT event_type, SUM 1 AS n
        GROUP BY event_type, ets // 60
        COMMIT AFTER in.ets > out.n + 120;""") match {
      case Right(p) => c.register("m2", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("m2/q")
    assert(sdf.isStreaming, "expr-commit must stay streaming")
    val analyzed = sdf.queryExecution.analyzed.toString
    assert(analyzed.contains("FlatMapGroupsWithState"),
      s"expected the commit harness in:\n$analyzed")
    assert(!analyzed.contains("EventTimeWatermark"),
      "a non-time commit must NOT silently become event-time windowing")
  }

  for (provider <- Seq("default", "rocksdb"))
  test(s"RaQL value-threshold COMMIT streams through the expr-commit harness ($provider state store)") {
    withStateStore(provider) {
    // COMMIT AFTER out.total >= 10 — neither count- nor time-shaped: the
    // reference evaluates the condition per tuple against the group state
    // (CodeGenLib_Skeletons.ml:433-930); same here, in the state store
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, SUM v AS total, SUM 1 AS n
        GROUP BY user
        COMMIT AFTER out.total >= 10;""") match {
      case Right(p) => c.register("vt", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("vt/q")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName(s"valcommit_$provider")
      .outputMode("append").start()
    // a: 3+4 (no commit) then 5 → commits 12 over 3 rows; then 8, 9 →
    // commits 17 over 2 rows. b: 10 → commits immediately.
    mem.addData(Ev("a", 1, 3.0), Ev("a", 2, 4.0), Ev("b", 1, 10.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 3, 5.0), Ev("a", 4, 8.0), Ev("a", 5, 9.0))
    q.processAllAvailable()
    val rows = spark.table(s"valcommit_$provider").select("user", "total", "n")
      .as[(String, Double, Long)].collect().toSet
    q.stop()
    assert(rows == Set(("a", 12.0, 3L), ("a", 17.0, 2L), ("b", 10.0, 1L)), rows)
    }
  }

  test("CASE/coalesce commit conditions stream through the expr-commit harness") {
    // per-key commit cadence chosen by an IF over the group key, plus a
    // |? (coalesce) guard — the arbitrary-expression surface of the
    // reference's commit conditions beyond plain comparisons
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, SUM 1 AS n, SUM v AS total
        GROUP BY user
        COMMIT AFTER (out.n |? 0) >= (IF user = "b" THEN 1 ELSE 3);""") match {
      case Right(p) => c.register("cc2", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("cc2/q")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("casecommit")
      .outputMode("append").start()
    mem.addData(Ev("a", 1, 1.0), Ev("a", 2, 2.0), Ev("b", 1, 5.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 3, 3.0), Ev("b", 2, 7.0))
    q.processAllAvailable()
    val rows = spark.table("casecommit").select("user", "n", "total")
      .as[(String, Long, Double)].collect().toSet
    q.stop()
    // b commits every row; a commits on its 3rd
    assert(rows == Set(("b", 1L, 5.0), ("b", 1L, 7.0), ("a", 3L, 6.0)), rows)
  }

  test("previous.* in a streaming COMMIT condition reads the last committed row") {
    // COMMIT AFTER out.total >= (previous.total |? 0) + 10 — the condition
    // itself reads feedback state: each window closes when the fresh sum
    // exceeds the LAST COMMITTED total by 10. The reference evaluates
    // commit conditions with the group's last output in scope
    // (CodeGenLib_Skeletons.ml:433-930 `previous`); the harness threads
    // GState.previous into the condition interpreter.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, SUM v AS total
        GROUP BY user
        COMMIT AFTER out.total >= (previous.total |? 0) + 10;""") match {
      case Right(p) => c.register("pvc", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("pvc/q")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("prevcond")
      .outputMode("append").start()
    // a: 4 (no), +7 = 11 >= 0+10 → commit 11; fresh 12 >= 11+10=21? no;
    // +10 = 22 >= 21 → commit 22. Without threading, prev stays NULL and
    // the second window would wrongly commit at 12.
    mem.addData(Ev("a", 1, 4.0), Ev("a", 2, 7.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 3, 12.0), Ev("a", 4, 10.0))
    q.processAllAvailable()
    val rows = spark.table("prevcond").select("user", "total")
      .as[(String, Double)].collect().toSet
    q.stop()
    assert(rows == Set(("a", 11.0), ("a", 22.0)), rows)
  }

  test("out-field indirection to previous.* in a commit condition is threaded too") {
    // The ADVICE-flagged shape: the condition references out.thresh whose
    // DEFINITION embeds previous.total — the condition inlines the field's
    // rewritten expression, so it reads previous.total only indirectly. It
    // must see the committed row, not eternal NULL (which would freeze
    // thresh at 10 and wrongly commit the second window at 12).
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, SUM v AS total, (previous.total |? 0.0) + 10 AS thresh
        GROUP BY user
        COMMIT AFTER out.total >= out.thresh;""") match {
      case Right(p) => c.register("pvi", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("pvi/q")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("previndir")
      .outputMode("append").start()
    mem.addData(Ev("a", 1, 4.0), Ev("a", 2, 7.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 3, 12.0), Ev("a", 4, 10.0))
    q.processAllAvailable()
    val rows = spark.table("previndir").select("user", "total", "thresh")
      .as[(String, Double, Double)].collect().toSet
    q.stop()
    // emit evaluates thresh against the same previous row the condition
    // saw: first window 0+10, second 11+10
    assert(rows == Set(("a", 11.0, 10.0), ("a", 22.0, 21.0)), rows)
  }

  test("mixed-type CASE branches in an expr-commit field are a typed error") {
    // Catalyst's analysis accepts `IF … THEN "first" ELSE 0` and types it
    // BIGINT (ANSI string promotion), in batch as in the stream; the
    // "first" branch is a constant that cannot take that type, and the
    // stream reaches it on every group's first commit. The stream compile
    // fails with a typed error naming the cast, never the running query.
    // (Batch plans previous.* as a per-row lag, so these rows never reach
    // the branch there.)
    implicit val sqlCtx = spark.sqlContext
    val raql = """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM 1 AS n,
               (IF previous.n IS NULL THEN "first" ELSE 0) AS label
        GROUP BY user
        COMMIT AFTER out.n >= 2;"""
    def compiler(name: String, df: org.apache.spark.sql.DataFrame) = {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("tables/ev", df)
      RaqlParser.parseProgram(raql) match {
        case Right(p) => c.register(name, p)
        case Left(e) => fail(s"parse: $e")
      }
      c
    }
    val ex = intercept[UnsupportedOperationException] {
      compiler("mx", MemoryStream[Ev].toDS().toDF()).compile("mx/q")
    }
    assert(ex.getMessage.contains("CAST_INVALID_INPUT"), ex.getMessage)
    val batch = compiler("mxb", Seq(Ev("a", 1, 1.0), Ev("a", 2, 1.0)).toDF()
      .coalesce(1)).compile("mxb/q")
    assert(batch.schema("label").dataType == org.apache.spark.sql.types.LongType,
      batch.schema)
  }

  test("stateless scalar functions in commit conditions project as input columns") {
    // length(user) is not an interpreter op — the stateless subtree
    // compiles through Catalyst into the projection and the interpreter
    // reads the value: COMMIT AFTER out.n >= length(user)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, SUM 1 AS n
        GROUP BY user
        COMMIT AFTER out.n >= length(user);""") match {
      case Right(p) => c.register("fn", p)
      case Left(e) => fail(s"parse: $e")
    }
    val q = c.compile("fn/q").writeStream.format("memory")
      .queryName("fncommit").outputMode("append").start()
    // "x" commits every row (len 1); "yy" every 2nd row
    mem.addData(Ev("x", 1, 0), Ev("yy", 1, 0), Ev("yy", 2, 0), Ev("yy", 3, 0))
    q.processAllAvailable()
    val rows = spark.table("fncommit").select("user", "n")
      .as[(String, Long)].collect()
    q.stop()
    assert(rows.toSet == Set(("x", 1L), ("yy", 2L)), rows.toSeq)
  }

  test("comms consumer1's modulo commit on a private counter streams e2e") {
    // the exact consumer1 text from examples/benchmarks/comms.ramen (the
    // producers replaced by a feedable stream): ungrouped global counter,
    // equality-shaped COMMIT every 10 tuples, private _my_s excluded
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/p", mem.toDF().toDF("s", "r"))
    RaqlParser.parseProgram("""DEFINE consumer1 AS
        FROM tables/p
        SELECT sum globally 1 AS _my_s, "c1" AS me, min s, max s, min r, max r
        COMMIT AFTER _my_s % 10 = 0;""") match {
      case Right(p) => c.register("comms", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("comms/consumer1")
    assert(sdf.isStreaming)
    assert(!sdf.columns.contains("_my_s"), "private counter must not emit")
    val q = sdf.writeStream.format("memory").queryName("comms_c1")
      .outputMode("append").start()
    mem.addData((1L to 25L).map(i => (i, i * 0.5)): _*)
    q.processAllAvailable()
    val rows = spark.table("comms_c1")
      .select("me", "min_s", "max_s", "min_r", "max_r")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    q.stop()
    // two full windows of 10 commit; rows 21-25 stay pending
    assert(rows == Set(("c1", 1L, 10L, 0.5, 5.0), ("c1", 11L, 20L, 5.5, 10.0)),
      rows)
  }

  test("compound fields over aggregate slots stream (the comms/benchmark shape)") {
    // the examples/benchmarks/comms.ramen benchmark function's shape:
    // private min, compound `out.x - _y` fields, a derived ratio, and a
    // COMMIT over the derived field — fields build as trees over
    // decomposable slots and evaluate at emit
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, MIN t AS _tmin, MAX t AS tmax,
          out.tmax - _tmin AS span, SUM v AS total,
          out.total / out.span AS rate
        GROUP BY user
        COMMIT AFTER out.span >= 60;""") match {
      case Right(p) => c.register("cf", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("cf/q")
    assert(sdf.isStreaming)
    assert(!sdf.columns.contains("_tmin"), "private fields must not emit")
    val q = sdf.writeStream.format("memory").queryName("compound")
      .outputMode("append").start()
    mem.addData(Ev("a", 10, 1.0), Ev("a", 40, 2.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 70, 5.0)) // span hits 60 → commit
    q.processAllAvailable()
    val rows = spark.table("compound")
      .select("user", "tmax", "span", "total", "rate")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    q.stop()
    assert(rows == Seq(("a", 70L, 60L, 8.0, 8.0 / 60.0)), rows)
  }

  test("previous.* fields carry the last committed output (expr-commit)") {
    // RaQL `previous.x` = the group's LAST COMMITTED value of out field x
    // (NULL before the first commit) — tumbling windows chaining their
    // predecessor's total, the reference's feedback-variable shape
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, MIN t AS wstart, SUM v AS total,
          previous.total AS prev_total
        GROUP BY user
        COMMIT BEFORE in.t >= out.wstart + 60;""") match {
      case Right(p) => c.register("pv", p)
      case Left(e) => fail(s"parse: $e")
    }
    val q = c.compile("pv/q").writeStream.format("memory")
      .queryName("prevcommit").outputMode("append").start()
    mem.addData(Ev("a", 10, 1.0), Ev("a", 20, 2.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 75, 5.0))  // closes [10,70): total 3, prev NULL
    q.processAllAvailable()
    mem.addData(Ev("a", 140, 7.0)) // closes [75,135): total 5, prev 3
    q.processAllAvailable()
    val rows = spark.table("prevcommit")
      .select("user", "wstart", "total", "prev_total")
      .as[(String, Long, Double, Option[Double])].collect().toSet
    q.stop()
    assert(rows == Set(("a", 10L, 3.0, None), ("a", 75L, 5.0, Some(3.0))),
      rows)
  }

  test("NULL-literal CASE branches are typeless, not a branch-type mismatch") {
    // `IF previous.total IS NULL THEN NULL ELSE …` is the idiomatic
    // nullable first-window field; NULL branches must take the other
    // branches' type instead of tripping the mixed-type rejection
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, SUM v AS total,
               (IF previous.total IS NULL THEN NULL
                ELSE previous.total * 2) AS dbl
        GROUP BY user
        COMMIT AFTER out.total >= 10;""") match {
      case Right(p) => c.register("nullbr", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("nullbr/q") // previously: incompatible branch types
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("nullbr")
      .outputMode("append").start()
    mem.addData(Ev("a", 1, 11.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 2, 12.0))
    q.processAllAvailable()
    val rows = spark.table("nullbr").select("total", "dbl")
      .collect().map(r => (r.getDouble(0), Option(r.get(1)))).toSet
    q.stop()
    assert(rows == Set((11.0, None), (12.0, Some(22.0))), rows)
  }

  /** `raql` (program `q` over `tables/ev` = (user, x BIGINT NULL)) on a
    * stream fed `rows` in two micro-batches, and on the same rows as a
    * batch: the stream's committed rows, whether its query is still up,
    * and the batch's rows (None when batch does not compile the text). */
  private def streamAndBatch(prog: String, raql: String,
      rows: Seq[(String, Option[Long])])
      : (Set[Seq[Any]], Boolean, Option[Set[Seq[Any]]]) = {
    implicit val sqlCtx = spark.sqlContext
    def compiler(name: String, df: org.apache.spark.sql.DataFrame) = {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("tables/ev", df)
      RaqlParser.parseProgram(raql) match {
        case Right(p) => c.register(name, p)
        case Left(e) => fail(s"parse: $e")
      }
      c.compile(s"$name/q")
    }
    val mem = MemoryStream[(String, Option[Long])]
    val sdf = compiler(prog, mem.toDS().toDF("user", "x"))
    assert(sdf.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState => f
    }.size == 1, "expected the expression-commit harness")
    val q = sdf.writeStream.format("memory").queryName(prog)
      .outputMode("append").start()
    val up = try {
      Seq(rows.take(rows.length / 2), rows.drop(rows.length / 2)).foreach { b =>
        mem.addData(b)
        scala.util.Try(q.processAllAvailable())
      }
      q.isActive && q.exception.isEmpty
    } finally q.stop()
    val streamed = spark.table(prog).collect().map(_.toSeq).toSet
    val batch = scala.util.Try(compiler(s"${prog}_b",
      rows.toDF("user", "x").coalesce(1)).collect().map(_.toSeq).toSet).toOption
    (streamed, up, batch)
  }

  test("an expr-commit CASE whose condition is NULL is NULL, as in batch") {
    // MAX x is NULL for a; RaQL's CASE is NULL on a NULL condition (batch
    // compileExpr), it does not fall through to ELSE
    val (streamed, up, batch) = streamAndBatch("case_null_agg", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM 1 AS n, (IF MAX x > 5 THEN 1 ELSE 0) AS big
        GROUP BY user
        COMMIT AFTER SUM 1 >= 2;""",
      Seq(("a", None), ("b", Some(7L)), ("a", None), ("b", Some(1L))))
    assert(up)
    assert(streamed == Set(Seq("a", 2L, null), Seq("b", 2L, 1L)), streamed)
    assert(batch.contains(streamed), s"stream $streamed, batch $batch")
    // previous.total is NULL on a group's first commit: so is the CASE
    // (batch reads previous.* as a per-row lag, not the group's last
    // commit, so its rows differ by design: the value is compileExpr's, a
    // NULL condition gives a NULL CASE)
    val (prevRows, prevUp, _) = streamAndBatch("case_null_prev", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM x AS total, (IF previous.total > 5 THEN 1 ELSE 0) AS after_big
        GROUP BY user
        COMMIT AFTER SUM 1 >= 2;""",
      Seq(("a", Some(3L)), ("a", Some(4L)), ("a", Some(1L)), ("a", Some(1L))))
    assert(prevUp)
    assert(prevRows == Set(Seq("a", 7L, null), Seq("a", 2L, 1L)), prevRows)
  }

  test("an expr-commit / by zero is NULL, as in batch") {
    val (streamed, up, batch) = streamAndBatch("div_zero", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM x AS total, SUM x / 0 AS q
        GROUP BY user
        COMMIT AFTER SUM 1 >= 2;""",
      Seq(("a", Some(3L)), ("b", Some(0L)), ("a", Some(4L)), ("b", Some(0L))))
    assert(up)
    assert(streamed == Set(Seq("a", 7L, null), Seq("b", 0L, null)), streamed)
    assert(batch.contains(streamed), s"stream $streamed, batch $batch")
  }

  test("expr-commit integral // and % by zero are NULL, as in batch, and the query stays up") {
    val (streamed, up, batch) = streamAndBatch("idiv_zero", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM x // 0 AS d, SUM x % 0 AS m
        GROUP BY user
        COMMIT AFTER SUM 1 >= 2;""",
      Seq(("a", Some(3L)), ("a", Some(4L)), ("a", Some(5L)), ("a", Some(6L))))
    assert(up, "the stream died on an integral division by zero")
    assert(streamed == Set(Seq("a", null, null)), streamed)
    assert(batch.contains(streamed), s"stream $streamed, batch $batch")
  }

  test("an expr-commit negative % is Spark's remainder, as in batch") {
    val (streamed, up, batch) = streamAndBatch("neg_mod", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM x AS total, SUM x % 3 AS m
        GROUP BY user
        COMMIT AFTER SUM 1 >= 2;""",
      Seq(("a", Some(-3L)), ("b", Some(3L)), ("a", Some(-4L)), ("b", Some(4L))))
    assert(up)
    assert(streamed == Set(Seq("a", -7L, -1L), Seq("b", 7L, 1L)), streamed)
    assert(batch.contains(streamed), s"stream $streamed, batch $batch")
  }

  test("an expr-commit stream compiles no code per micro-batch after warm-up") {
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sdf = compileOverEv(mem, "hx_codegen", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM v AS total, (IF previous.total > 5 THEN 1 ELSE 0) AS grew
        GROUP BY user
        COMMIT AFTER out.total >= 10 OR in.t % 7 = 0;""")
    // the harness's input layout: key, the slots (user, SUM v, the three
    // literals of `grew`), the condition's in-field subtree
    val plan = sdf.queryExecution.analyzed
    info(plan.toString)
    val harnessIn = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState =>
        f.child.collectFirst {
          case p: org.apache.spark.sql.catalyst.plans.logical.Project => p.output.map(_.name)
        }
    }
    assert(harnessIn == Seq(Some(Seq("_gkey", "_v0", "_v1", "_v2", "_v3", "_v4", "_in0"))),
      plan)
    val q = sdf.writeStream.format("memory").queryName("hx_codegen")
      .outputMode("append").start()
    val perBatch = try (0 until 6).map { m =>
      val (c0, b0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, lastBatchId(q))
      mem.addData(Ev("a", 10L * m + 1, 6.0), Ev("b", 10L * m + 2, 4.0),
        Ev("a", 10L * m + 3, 6.0))
      q.processAllAvailable()
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, lastBatchId(q) - b0)
    } finally q.stop()
    assert(spark.table("hx_codegen").filter(col("user") === "a").count() == 6)
    perBatch.drop(2).foreach { case (compiles, ran) =>
      assert(ran == 1 && compiles == 0, perBatch)
    }
  }

  test("global_last_out on a stream: ungrouped works, grouped is typed error") {
    // UNGROUPED: one global group, so global_last_out IS local_last_out
    // (the reference runs one worker per function — its global last output
    // is that worker's last output); the compiler rewrites the ref and the
    // expr-commit harness serves it from the last committed row.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT SUM v AS total, (global_last_out.total |? 0.0) AS base
        COMMIT AFTER out.total >= (global_last_out.total |? 0) + 10;""") match {
      case Right(p) => c.register("glo", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("glo/q")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("glotest")
      .outputMode("append").start()
    // window 1: 4+7 = 11 >= 0+10 → commit (base 0); window 2: 12 >= 21?
    // no; +10 = 22 >= 21 → commit (base 11). A per-key-served value would
    // be identical here ONLY because there is a single group — which is
    // exactly why the grouped form must not compile.
    mem.addData(Ev("a", 1, 4.0), Ev("b", 2, 7.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 3, 12.0), Ev("b", 4, 10.0))
    q.processAllAvailable()
    val rows = spark.table("glotest").select("total", "base")
      .as[(Double, Double)].collect().toSet
    q.stop()
    assert(rows == Set((11.0, 0.0), (22.0, 11.0)), rows)

    // GROUPED: the last output across ALL groups is cross-group state the
    // sharded harness cannot see — a typed compile error, not silently
    // per-key values masquerading as global
    val c2 = new RaqlCompiler(spark, "/tmp")
    c2.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, SUM v AS total
        GROUP BY user
        COMMIT AFTER out.total >= (global_last_out.total |? 0) + 10;""") match {
      case Right(p) => c2.register("glog", p)
      case Left(e) => fail(s"parse: $e")
    }
    val ex = intercept[UnsupportedOperationException] { c2.compile("glog/q") }
    assert(ex.getMessage.contains("global_last_out under GROUP BY"),
      ex.getMessage)
  }

  test("RaQL tumbling COMMIT BEFORE streams through the expr-commit harness") {
    // tumbling.ramen's shape without a `t // d` group key: COMMIT BEFORE
    // in.t >= out.wstart + 60 — the incoming tuple closes the previous
    // window (emitted WITHOUT it) and opens the next one
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF())
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT user, MIN t AS wstart, SUM 1 AS n, SUM v AS total
        GROUP BY user
        COMMIT BEFORE in.t >= out.wstart + 60;""") match {
      case Right(p) => c.register("tb", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("tb/q")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("beforecommit")
      .outputMode("append").start()
    mem.addData(Ev("a", 10, 1.0), Ev("a", 20, 2.0))
    q.processAllAvailable()
    mem.addData(Ev("a", 75, 5.0)) // 75 >= 10+60 → emit [10,70) first
    q.processAllAvailable()
    mem.addData(Ev("a", 140, 7.0)) // 140 >= 75+60 → emit [75,135)
    q.processAllAvailable()
    val rows = spark.table("beforecommit")
      .select("user", "wstart", "n", "total")
      .as[(String, Long, Long, Double)].collect().toSet
    q.stop()
    assert(rows == Set(("a", 10L, 2L, 3.0), ("a", 75L, 1L, 5.0)), rows)
  }

  test("UDP collectd -> hosts-style tumbling RaQL windows end-to-end") {
    // live socket -> reference collectd schema -> the hosts.ramen shape
    // compiled on the stream: windows close as the watermark passes
    import java.net.{DatagramPacket, DatagramSocket, InetAddress}
    import java.nio.{ByteBuffer, ByteOrder}
    val udp = new UdpIngest(spark, 0).start()
    try {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("mon/collectd", udp.collectd)
      RaqlParser.parseProgram("""DEFINE q AS
          FROM mon/collectd
          SELECT TRUNCATE(MIN start, 60) AS wstart, out.wstart + 60 AS wstop,
                 host, AVG value AS v
          GROUP BY host
          COMMIT BEFORE in.start >= out.wstop;""") match {
        case Right(p) => c.register("m", p)
        case Left(e) => fail(s"parse: $e")
      }
      val sdf = c.compile("m/q")
      assert(sdf.isStreaming)
      val q = sdf.writeStream.format("memory").queryName("collectd_win")
        .outputMode("append").start()
      def packet(host: String, time: Long, value: Double): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        def part(t: Int, payload: Array[Byte]): Unit = {
          val bb = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
          bb.putShort(t.toShort).putShort((payload.length + 4).toShort)
          out.write(bb.array()); out.write(payload)
        }
        part(0x0000, (host + "\u0000").getBytes("UTF-8"))
        val tb = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
          .putLong(time)
        part(0x0001, tb.array())
        part(0x0002, "load\u0000".getBytes("UTF-8"))
        val vb = ByteBuffer.allocate(2 + 1 + 8).order(ByteOrder.BIG_ENDIAN)
        vb.putShort(1).put(1.toByte)
        vb.order(ByteOrder.LITTLE_ENDIAN).putDouble(value)
        part(0x0006, vb.array())
        out.toByteArray
      }
      val sock = new DatagramSocket()
      def send(b: Array[Byte]): Unit =
        sock.send(new DatagramPacket(b, b.length,
          InetAddress.getLoopbackAddress, udp.boundPort))
      // window [0,60): two samples on web01; then a far-future packet
      // whose event time closes it under the watermark
      val deadline = System.currentTimeMillis() + 30000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        send(packet("web01", 10, 1.0))
        send(packet("web01", 20, 3.0))
        send(packet("web01", 100000, 9.0))
        Thread.sleep(200)
        q.processAllAvailable()
        done = spark.table("collectd_win").count() > 0
      }
      q.stop()
      sock.close()
      val rows = spark.table("collectd_win")
        .filter(col("wstart") === 0.0).collect()
      assert(rows.nonEmpty, "window [0,60) never closed")
      val r = rows.head
      assert(r.getAs[String]("host") == "web01")
      assert(math.abs(r.getAs[Double]("v") - 2.0) < 1e-9)
    } finally udp.stop()
  }

  test("randomized tumbling equality: every closed window matches batch") {
    // seeded adversarial input — random keys, jittered/duplicated/
    // boundary-exact event times — through the same RaQL text in batch
    // and append-mode streaming
    import spark.implicits._
    val rnd = new scala.util.Random(20260813)
    val rows = (1 to 5000).map { i =>
      val t = rnd.nextInt(50) * 60 +
        (if (rnd.nextBoolean()) 0.0 else rnd.nextDouble() * 59)
      (s"k${rnd.nextInt(7)}", t, rnd.nextInt(100).toDouble, i.toLong)
    }
    val raql = """DEFINE q AS
        FROM tables/r
        SELECT TRUNCATE(MIN ets, 60) AS wstart, k,
               SUM 1 AS n, MIN v AS lo, MAX v AS hi
        GROUP BY k, ets // 60
        COMMIT AFTER in.ets > out.wstart + 120;"""
    val batchDf = rows.toDF("k", "ets", "v", "id")
    val tmp = java.nio.file.Files.createTempDirectory("graft_rand")
    batchDf.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val streamDf = spark.readStream
      .schema(spark.read.parquet(tmp.toString).schema).parquet(tmp.toString)
    def compiled(df: org.apache.spark.sql.DataFrame) = {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("tables/r", df)
      RaqlParser.parseProgram(raql) match {
        case Right(p) => c.register("m", p)
        case Left(e) => fail(s"parse: $e")
      }
      c.compile("m/q")
    }
    val sdf = compiled(streamDf)
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("randtumble")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("randtumble")
    val batch = compiled(batchDf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty,
      "streamed windows diverge from batch")
    assert(streamed.count() >= batch.count() / 2)
  }

  test("UDP graphite -> RaQL filter end-to-end") {
    // the third LISTEN decoder live: plaintext metrics over the socket,
    // filtered through compiled RaQL
    import java.net.{DatagramPacket, DatagramSocket, InetAddress}
    val udp = new UdpIngest(spark, 0).start()
    try {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("mon/graphite", udp.graphite)
      RaqlParser.parseProgram("""DEFINE q AS
          FROM mon/graphite
          SELECT metric, value WHERE value > 0.5;""") match {
        case Right(p) => c.register("m", p)
        case Left(e) => fail(s"parse: $e")
      }
      val sdf = c.compile("m/q")
      assert(sdf.isStreaming)
      val q = sdf.writeStream.format("memory").queryName("graphite_out")
        .outputMode("append").start()
      val sock = new DatagramSocket()
      val payload =
        "servers.web01.cpu 0.93 1700000000\nservers.web01.mem 0.10 1700000000\n"
          .getBytes("UTF-8")
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table("graphite_out").count() == 0 &&
          System.currentTimeMillis() < deadline) {
        sock.send(new DatagramPacket(payload, payload.length,
          InetAddress.getLoopbackAddress, udp.boundPort))
        Thread.sleep(150)
        q.processAllAvailable()
      }
      q.stop()
      sock.close()
      val rows = spark.table("graphite_out").collect()
      assert(rows.nonEmpty, "no graphite metric passed the filter")
      assert(rows.forall(_.getAs[String]("metric") == "servers.web01.cpu"),
        "the value <= 0.5 metric leaked through")
    } finally udp.stop()
  }

  test("TCP graphite with tags -> RaQL end-to-end (graphite_sink.feature)") {
    // LISTEN FOR GRAPHITE PROTO TCP, fed the feature's tagged line:
    // echo "foo.bar;cpu=0;host=glop 42 1545202428" | socat … TCP
    val c = new RaqlCompiler(spark, "/tmp")
    RaqlParser.parseProgram(
      "DEFINE graphite AS LISTEN FOR GRAPHITE ON PORT 0 PROTO TCP;") match {
      case Right(p) => c.register("test", p)
      case Left(e) => fail(s"parse: $e")
    }
    val sdf = c.compile("test/graphite")
    assert(sdf.isStreaming)
    // the ephemeral bound port is on the ingest the compile started —
    // reach it through the compiled plan's source; simplest is a fresh
    // direct ingest exercising the same class
    val tcp = new graft.sources.TcpIngest(spark, 0).start()
    try {
      val q = tcp.graphite.writeStream.format("memory")
        .queryName("graphite_tcp_out").outputMode("append").start()
      val sock = new java.net.Socket(
        java.net.InetAddress.getLoopbackAddress, tcp.boundPort)
      val out = sock.getOutputStream
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table("graphite_tcp_out").count() == 0 &&
          System.currentTimeMillis() < deadline) {
        out.write("foo.bar;cpu=0;host=glop 42 1545202428\n".getBytes("UTF-8"))
        out.flush()
        Thread.sleep(150)
        q.processAllAvailable()
      }
      q.stop()
      sock.close()
      val rows = spark.table("graphite_tcp_out").collect()
      assert(rows.nonEmpty, "no graphite line arrived over TCP")
      val r = rows.head
      // the feature's expectations: metric, tag pairs, value, timestamp
      assert(r.getAs[String]("metric") == "foo.bar")
      assert(r.getAs[Double]("value") == 42.0)
      assert(r.getAs[Double]("start") == 1545202428.0)
      val tags = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("tags")
        .map(t => (t.getString(0), t.getString(1)))
      assert(tags == Seq("cpu" -> "0", "host" -> "glop"), tags)
    } finally tcp.stop()
  }

  test("LISTEN FOR INSTRUMENTATION is a queryable runtime-stats stream") {
    // a RaQL program reading the stats feed, like comms.ramen's metamon
    val src = Map("mon" -> """DEFINE metamon AS
        LISTEN FOR INSTRUMENTATION FROM *;
      DEFINE f AS
        SELECT worker, tot_in_tuples, tot_cpu, last_startup
        FROM metamon;""")
    val c = RaqlCompiler.fromSources(spark, "/tmp", src)
      .fold(e => fail(s"parse: $e"), identity)
    val stats = c.compile("mon/f")
    assert(stats.isStreaming)
    assert(stats.columns.toSeq ==
      Seq("worker", "tot_in_tuples", "tot_cpu", "last_startup"))
    val statsQ = stats.writeStream.format("memory").queryName("instr_out")
      .outputMode("append").start()

    // a monitored workload: a named rate query over a few micro-batches
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val work = mem.toDS().groupBy($"user").count()
      .writeStream.format("memory").queryName("instr_workload")
      .outputMode("complete").start()
    mem.addData(Ev("a", 1, 1.0), Ev("b", 2, 2.0))
    work.processAllAvailable()
    mem.addData(Ev("a", 3, 3.0))
    work.processAllAvailable()
    work.stop()

    // listener events are async: poll until the stats stream caught one
    val deadline = System.currentTimeMillis() + 20000
    var seen = Seq.empty[org.apache.spark.sql.Row]
    while (seen.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      statsQ.processAllAvailable()
      seen = spark.table("instr_out")
        .filter($"worker" === "instr_workload" && $"tot_in_tuples" >= 3)
        .collect().toSeq
    }
    statsQ.stop()
    assert(seen.nonEmpty, "no runtime stats row for the monitored query")
    assert(seen.head.getDouble(seen.head.fieldIndex("tot_cpu")) > 0.0)
  }

  test("Instrumentation tot_cpu counts triggerExecution once, not every phase in it") {
    import org.apache.spark.sql.streaming.ProgressFixture
    // an UNREGISTERED listener: only the two events below reach it
    val instr = new graft.streaming.Instrumentation(spark)
    // triggerExecution spans the other phases: 0.4 s, not their 0.78 s sum
    instr.onQueryProgress(ProgressFixture.event("instr_cpu",
      "2026-01-01T00:00:01.000Z", Map("triggerExecution" -> 400L,
        "addBatch" -> 250L, "getBatch" -> 10L, "latestOffset" -> 20L,
        "queryPlanning" -> 30L, "walCommit" -> 40L, "commitOffsets" -> 30L)))
    // without triggerExecution, the phases reported are summed
    instr.onQueryProgress(ProgressFixture.event("instr_cpu",
      "2026-01-01T00:00:02.000Z", Map("addBatch" -> 100L, "walCommit" -> 20L)))
    val q = instr.df.writeStream.format("memory").queryName("instr_cpu_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val cpu = spark.table("instr_cpu_out").orderBy("stats_time")
      .select("tot_cpu").as[Double].collect().toSeq
    assert(cpu.length == 2)
    assert(math.abs(cpu(0) - 0.4) < 1e-9, s"tot_cpu after one trigger: $cpu")
    assert(math.abs(cpu(1) - 0.52) < 1e-9, s"cumulative tot_cpu: $cpu")
  }

  test("a query reading the stats stream does not feed it: after the monitored query stops, its batch id stops advancing") {
    implicit val sqlCtx = spark.sqlContext
    val reader = graft.streaming.Instrumentation(spark).df.writeStream.format("memory")
      .queryName("instr_idle").outputMode("append").start()
    try {
      val mem = MemoryStream[Ev]
      val work = mem.toDS().writeStream.format("memory").queryName("instr_idle_work")
        .outputMode("append").start()
      try (1 to 3).foreach { i => mem.addData(Ev("a", i, 1.0)); work.processAllAvailable() }
      finally work.stop()
      def rows(worker: String) = spark.table("instr_idle").filter($"worker" === worker).count()
      // listener events are async: wait until the reader holds the rows
      val deadline = System.currentTimeMillis() + 20000
      while (rows("instr_idle_work") < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(rows("instr_idle_work") >= 3)
      // then two looks 2 s apart see the same last batch
      var (last, settled) = (lastBatchId(reader), false)
      while (!settled && System.currentTimeMillis() < deadline + 10000) {
        Thread.sleep(2000)
        val now = lastBatchId(reader)
        settled = now == last
        last = now
      }
      assert(settled, s"the stats reader is still running batches (last $last)")
      assert(rows("instr_idle") == 0)
    } finally reader.stop()
  }

  test("instrumentation counts a Notify.sink query's output rows, and a foreachBatch query's never below zero") {
    implicit val sqlCtx = spark.sqlContext
    val stats = graft.streaming.Instrumentation(spark).df
    val ints, names = MemoryStream[Int]
    val fb = ints.toDS().writeStream.queryName("out_foreach_batch").foreachBatch {
      (_: org.apache.spark.sql.Dataset[Int], _: Long) => ()
    }.start()
    val ns = Notify.sink(names.toDS().map(i => Notification(s"n$i", firing = true, Map.empty)),
      new Notify.Alerter).queryName("out_notify").start()
    try {
      ints.addData(1, 2, 3); fb.processAllAvailable(); ints.addData(4); fb.processAllAvailable()
      names.addData(1, 2, 3); ns.processAllAvailable(); names.addData(4, 5); ns.processAllAvailable()
    } finally { fb.stop(); ns.stop() }
    val reader = stats.filter($"worker".isin("out_foreach_batch", "out_notify"))
      .writeStream.format("memory").queryName("out_stats").outputMode("append").start()
    def out(worker: String) = spark.table("out_stats").filter($"worker" === worker)
      .select("tot_out_tuples").as[Long].collect().toSeq
    try {
      val deadline = System.currentTimeMillis() + 20000
      while ((out("out_notify").maxOption.forall(_ < 5) || out("out_foreach_batch").size < 2) &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        reader.processAllAvailable()
      }
    } finally reader.stop()
    assert(out("out_notify").maxOption.contains(5L), out("out_notify"))
    assert(out("out_foreach_batch").size >= 2 && out("out_foreach_batch").forall(_ == 0L),
      out("out_foreach_batch"))
  }

  test("instrumentation reads NULL first_output until a windowed query's first emitting trigger") {
    implicit val sqlCtx = spark.sqlContext
    val stats = graft.streaming.Instrumentation(spark).df
    val mem = MemoryStream[Ev]
    val q = mem.toDS().withColumn("ts", col("t").cast("timestamp"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("user")).count()
      .writeStream.format("memory").queryName("out_first_window")
      .outputMode("append").start()
    try {
      // [0, 10) stays open through the first two triggers; the third
      // moves the watermark past it and the next trigger emits it
      Seq(1L, 2L, 15L).foreach { t => mem.addData(Ev("a", t, 1.0)); q.processAllAvailable() }
    } finally q.stop()
    val reader = stats.filter($"worker" === "out_first_window")
      .writeStream.format("memory").queryName("out_first_stats")
      .outputMode("append").start()
    def rows = spark.table("out_first_stats")
      .select("stats_time", "tot_in_tuples", "tot_out_tuples", "first_output", "last_output")
      .as[(Double, Long, Long, Option[Double], Option[Double])].collect().toSeq
      .sortBy(r => (r._1, r._2, r._3))
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (!rows.exists(_._3 > 0) && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        reader.processAllAvailable()
      }
    } finally reader.stop()
    val (silent, emitted) = rows.span(_._3 == 0)
    assert(silent.size >= 3 && silent.forall(r => r._4.isEmpty && r._5.isEmpty), rows)
    assert(emitted.nonEmpty, rows)
    val first = emitted.head
    assert(first._4.contains(first._1) && first._5.contains(first._1), rows)
  }

  test("streaming PREPROCESS WITH: a gzip landing mid-query appears next trigger") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_prestream").toFile
    try {
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("name", StringType)))
      def gz(f: java.io.File, lines: Seq[String]): Unit = {
        val o = new java.util.zip.GZIPOutputStream(
          new java.io.FileOutputStream(f))
        o.write(lines.mkString("\n").getBytes("UTF-8")); o.close()
      }
      // one file BEFORE the query starts
      gz(new java.io.File(dir, "a.csv.gz"), Seq("1,alpha", "2,beta"))
      val df = graft.sources.CsvSource.readStreamPreprocessed(spark,
        dir.getAbsolutePath, schema,
        graft.sources.CsvSource.CsvSpec(), "gzip -d -c %s")
      assert(df.isStreaming, "preprocessed tail must be a streaming frame")
      val q = df.writeStream.format("memory").queryName("preout").start()
      try {
        q.processAllAvailable()
        val got1 = spark.table("preout").as[(Long, String)].collect().toSet
        assert(got1 == Set((1L, "alpha"), (2L, "beta")), got1)
        // a file LANDING MID-QUERY is decompressed at the next trigger —
        // the reference's continuous tail (CodeGenLib_IO.ml:15-116)
        gz(new java.io.File(dir, "b.csv.gz"), Seq("3,gamma"))
        q.processAllAvailable()
        val got2 = spark.table("preout").as[(Long, String)].collect().toSet
        assert(got2 == Set((1L, "alpha"), (2L, "beta"), (3L, "gamma")), got2)
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("streaming minhash near-dup guard flags incoming dups of a static corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog while the cat watches from the warm stone wall near the old garden gate every single morning"),
      (2L, "rain fell softly on the tin roof as the children counted drops and told long stories about ships lost far beyond the grey harbor"),
      (3L, "seven engineers reviewed the query plan twice before the deploy and still missed the broadcast hint on the smallest dimension table")
    ).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = graft.ops.Dedup.minhashDedupStream(
      mem.toDS().toDF("doc_id", "text"), corpus, "doc_id", "text",
      threshold = 0.7)
    val q = out.writeStream.format("memory").queryName("dupguard").start()
    try {
      // near-dup of corpus doc 1 (one word changed) + a novel doc
      mem.addData(
        (100L, "the quick brown fox jumps over the lazy dog while the cat watches from the warm stone wall near the old garden gate every single evening"),
        (101L, "completely unrelated text about compilers and register allocation with nothing shared beyond function words"))
      q.processAllAvailable()
      val got1 = spark.table("dupguard")
        .as[(Long, Long, Double)].collect().toSet
      assert(got1.map(r => (r._1, r._2)) == Set((100L, 1L)), got1)
      assert(got1.forall(_._3 >= 0.7), got1)
      // a dup LANDING LATER is flagged in its own trigger (the tail shape)
      mem.addData(
        (102L, "rain fell softly on the tin roof as the children counted drops and told long stories about ships lost far beyond the grey harbor"))
      q.processAllAvailable()
      val got2 = spark.table("dupguard")
        .as[(Long, Long, Double)].collect().toSet
      assert(got2.map(r => (r._1, r._2)) == Set((100L, 1L), (102L, 2L)), got2)
      // the exact copy scores jaccard 1.0
      assert(got2.exists(r => r._1 == 102L && r._3 == 1.0), got2)
    } finally q.stop()
  }

  test("streaming embedding near-dup guard flags incoming paraphrases of a static corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    // paraphrase of corpus vector 123: first coordinate zeroed (the d10a
    // planting — cosine ≈ 0.99 to its source, no float arithmetic)
    val src = corpus.filter(col("vec_id") === 123L)
      .select("embedding").as[Seq[Float]].head()
    val paraphrase = 0.0f +: src.tail
    // novel: a seeded random direction — cosine to any corpus vector is
    // far below the 0.9 threshold in 64 dims
    val rng = new scala.util.Random(4242)
    val novel = Seq.fill(src.length)(rng.nextGaussian().toFloat)
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = graft.ops.Dedup.semanticDupGuardStream(
      mem.toDS().toDF("vec_id", "embedding"), corpus,
      "vec_id", "embedding", minCos = 0.9)
    assert(out.isStreaming, "guard must be a streaming frame")
    val q = out.writeStream.format("memory").queryName("semguard").start()
    try {
      mem.addData((9001L, paraphrase), (9002L, novel))
      q.processAllAvailable()
      val got1 = spark.table("semguard").as[(Long, Long, Double)].collect().toSet
      assert(got1.map(r => (r._1, r._2)) == Set((9001L, 123L)), got1)
      assert(got1.forall(_._3 >= 0.9), got1)
      // a paraphrase LANDING LATER is flagged in its own trigger; the
      // exact copy scores cosine 1.0
      mem.addData((9003L, src))
      q.processAllAvailable()
      val got2 = spark.table("semguard").as[(Long, Long, Double)].collect().toSet
      assert(got2.map(r => (r._1, r._2)) == Set((9001L, 123L), (9003L, 123L)), got2)
      assert(got2.exists(r => r._1 == 9003L && r._3 == 1.0), got2)
    } finally q.stop()
  }

  test("streaming span decontamination: foreachBatch rewrites in-flight docs against the static benchmark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val probe = Seq((0L, "alpha bravo charlie delta echo foxtrot golf " +
      "hotel india juliet kilo lima mike november oscar papa quebec " +
      "romeo sierra tango uniform victor whiskey xray yankee zulu"))
      .toDF("doc_id", "text")
    val prefix = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen"
    val suffix = "red orange yellow green blue indigo violet brown " +
      "black white gray pink cyan"
    val leak13 = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike"
    val novel = "totally unrelated content nothing shared with the " +
      "benchmark at all whatsoever in any way honestly truly"
    // a rewrite emits one row per INPUT doc, so the streaming form is
    // foreachBatch: the batch operator runs per micro-batch against the
    // static benchmark (the production shape for streaming rewrites)
    val results = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, String)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Dedup.decontaminateSpans(batch, probe, "doc_id", "text",
            spanLen = 13)
          .collect().foreach(r =>
            results.put(r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      }.start()
    try {
      mem.addData((10L, s"$prefix $leak13 $suffix"), (11L, novel))
      q.processAllAvailable()
      assert(results.get(10L) == ((1L, 13L, md5hex(s"$prefix $suffix"))))
      assert(results.get(11L) == ((0L, 0L, md5hex(novel))))
      // a leak LANDING LATER is cleaned in its own trigger; a doc that is
      // entirely a leaked block comes out EMPTY
      mem.addData((12L, leak13))
      q.processAllAvailable()
      assert(results.get(12L) == ((1L, 13L, md5hex(""))))
    } finally q.stop()
  }

  // ---- checkpoint files: graft.streaming.LocalCheckpointFileManager ----

  private def localManager(dir: java.nio.file.Path) =
    new graft.streaming.LocalCheckpointFileManager(
      new org.apache.hadoop.fs.Path(dir.toString), new org.apache.hadoop.conf.Configuration())

  private def names(dir: java.nio.file.Path): Set[String] = {
    val ds = java.nio.file.Files.list(dir)
    try ds.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    finally ds.close()
  }

  private def readAll(m: graft.streaming.LocalCheckpointFileManager,
      p: org.apache.hadoop.fs.Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("checkpoint manager: a file is invisible until close; no-overwrite onto an existing file throws and keeps it") {
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    val dir = java.nio.file.Files.createTempDirectory("graft_ckm_publish")
    val m = localManager(dir)
    val f = new Path(dir.toString, "0")
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("first".getBytes("UTF-8"))
    out.flush()
    assert(!m.exists(f), "target visible before close")
    assert(m.list(new Path(dir.toString)).isEmpty, "temp file listed")
    out.close()
    assert(m.exists(f) && readAll(m, f) == "first")
    val again = m.createAtomic(f, overwriteIfPossible = false)
    again.write("second".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException](again.close())
    assert(readAll(m, f) == "first")
    assert(names(dir) == Set("0"), s"temp left behind: ${names(dir)}")
    val over = m.createAtomic(f, overwriteIfPossible = true)
    over.write("third".getBytes("UTF-8"))
    over.close()
    assert(readAll(m, f) == "third" && names(dir) == Set("0"))
  }

  test("checkpoint manager: cancel leaves neither the file nor its temp") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_ckm_cancel")
    val m = localManager(dir)
    val out = m.createAtomic(new Path(dir.toString, "1"), overwriteIfPossible = true)
    out.write(Array.fill[Byte](100000)(7))
    out.cancel()
    out.close() // after cancel: a no-op, publishes nothing
    assert(names(dir).isEmpty, names(dir).toString)
  }

  test("checkpoint manager: list hides .crc sidecars and temps; delete removes sidecars and ignores missing paths") {
    import org.apache.hadoop.fs.{Path, PathFilter}
    val dir = java.nio.file.Files.createTempDirectory("graft_ckm_list")
    def touch(n: String) = java.nio.file.Files.write(dir.resolve(n), Array[Byte](1))
    Seq("0", ".0.crc", "1.delta", ".1.delta.crc", ".2.0b1c.tmp", "x.crc").foreach(touch)
    java.nio.file.Files.createDirectory(dir.resolve("sub"))
    val m = localManager(dir)
    val root = new Path(dir.toString)
    assert(m.list(root).map(_.getPath.getName).toSet == Set("0", "1.delta", "x.crc", "sub"))
    assert(m.list(root).forall(_.getPath.toUri.getScheme == "file"))
    assert(m.list(root).find(_.getPath.getName == "sub").exists(_.isDirectory))
    val onlyDelta = new PathFilter { def accept(p: Path) = p.getName.endsWith(".delta") }
    assert(m.list(root, onlyDelta).map(_.getPath.getName).toSeq == Seq("1.delta"))
    intercept[java.io.FileNotFoundException](m.list(new Path(dir.toString, "missing")))
    m.delete(new Path(dir.toString, "0"))
    m.delete(new Path(dir.toString, "never-written"))
    assert(names(dir) == Set("1.delta", ".1.delta.crc", ".2.0b1c.tmp", "x.crc", "sub"))
    m.delete(root)
    assert(!java.nio.file.Files.exists(dir))
  }

  test("checkpoint manager: open seeks and serves positioned reads without moving the stream") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_ckm_open")
    val m = localManager(dir)
    val bytes = Array.tabulate[Byte](200000)(i => (i * 31 + 7).toByte)
    val f = new Path(dir.toString, "snap")
    val out = m.createAtomic(f, overwriteIfPossible = true)
    out.write(bytes)
    out.close()
    val in = m.open(f)
    try {
      assert(in.read() == (bytes(0) & 0xff))
      in.seek(150000)
      assert(in.getPos == 150000 && in.read() == (bytes(150000) & 0xff))
      val chunk = new Array[Byte](5000)
      in.readFully(70000L, chunk)
      assert(chunk.toSeq == bytes.slice(70000, 75000).toSeq)
      assert(in.getPos == 150001, "positioned read moved the stream")
      assert(in.read(199998L, chunk, 0, 100) == 2)
      intercept[java.io.EOFException](in.readFully(199990L, chunk, 0, 100))
      in.seek(10)
      val rest = in.readAllBytes()
      assert(rest.toSeq == bytes.drop(10).toSeq)
      assert(in.read() == -1)
    } finally in.close()
    intercept[java.io.FileNotFoundException](m.open(new Path(dir.toString, "missing")))
  }

  test("checkpoint manager: a non-file: path goes to Spark's default manager") {
    import org.apache.hadoop.fs.Path
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.AbstractFileSystem.fwd.impl", classOf[ForwardingLocalFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckm_fwd")
    val root = new Path(s"fwd://$dir")
    val m = new graft.streaming.LocalCheckpointFileManager(root, conf)
    assert(m.delegate.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager]))
    val before = ForwardingLocalFs.statusLookups.get
    val f = new Path(root, "0")
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("x".getBytes("UTF-8"))
    out.close()
    assert(m.exists(f) && m.list(root).map(_.getPath.getName).toSeq == Seq("0"))
    assert(ForwardingLocalFs.statusLookups.get > before, "fwd: calls bypassed its file system")
    assert(localManager(dir).delegate.isEmpty)
    val lookups = ForwardingLocalFs.statusLookups.get
    assert(localManager(dir).exists(new Path(dir.toString, "0")))
    assert(ForwardingLocalFs.statusLookups.get == lookups)
  }

  test("streams started from GraftSession write their checkpoint without ChecksumFs sidecars") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckm_wired")
    val mem = MemoryStream[Ev]
    val q = mem.toDS().groupBy("user").count().writeStream.format("memory")
      .queryName("ckm_wired").outputMode("complete")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      mem.addData(Ev("a", 1, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val offsets = ckpt.resolve("offsets")
    assert(java.nio.file.Files.exists(offsets.resolve("0")))
    assert(!java.nio.file.Files.exists(offsets.resolve(".0.crc")),
      s"offsets written through Hadoop's ChecksumFs: ${names(offsets)}")
    assert(!names(ckpt.resolve("commits")).exists(_.endsWith(".crc")))
  }

  test("a checkpoint written by Spark's default manager restarts under graft's: batch ids continue, an open window emits once") {
    // hosts.ramen's shape over a file source into a parquet sink: two
    // batches under FileContextBasedCheckpointFileManager (set through the
    // session conf), then a restart on the same checkpoint under the
    // session's own manager; window [0,60) stays open across the restart
    import java.nio.file.Files
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val sessionManager = spark.conf.getOption(key)
    val in = Files.createTempDirectory("graft_ckm_restart_in")
    val outDir = Files.createTempDirectory("graft_ckm_restart_out")
    val ckpt = Files.createTempDirectory("graft_ckm_restart_ckpt")
    var fileNo = 0
    def land(rows: (String, Double, Double)*): Unit = {
      fileNo += 1
      val body = rows.map { case (h, t, v) =>
        s"""{"host":"$h","ets":$t,"v":$v}""" }.mkString("\n")
      val tmp = Files.createTempFile("graft_ckm_row", ".json")
      Files.write(tmp, body.getBytes("UTF-8"))
      Files.move(tmp, in.resolve(f"part-$fileNo%03d.json"))
    }
    def start() = {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("tables/ev", spark.readStream
        .schema("host STRING, ets DOUBLE, v DOUBLE").json(in.toString))
      RaqlParser.parseProgram("""DEFINE q AS
          FROM tables/ev
          SELECT TRUNCATE(MIN ets, 60) AS wstart, out.wstart + 60 AS wstop,
                 host, SUM 1 AS n, SUM v AS total
          GROUP BY host
          COMMIT BEFORE in.ets >= out.wstop;""") match {
        case Right(p) => c.register("rs", p)
        case Left(e) => fail(s"parse: $e")
      }
      c.compile("rs/q").writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt.toString).start(outDir.toString)
    }
    def batchIds(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.recentProgress.map(_.batchId).toSeq
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
    val firstIds =
      try {
        val q1 = start()
        try {
          land(("a", 10, 1.0), ("a", 20, 2.0))
          q1.processAllAvailable()
          land(("a", 30, 3.0), ("b", 40, 1.0))
          q1.processAllAvailable()
          batchIds(q1)
        } finally q1.stop()
      } finally sessionManager.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(names(ckpt.resolve("offsets")).contains(".0.crc"),
      "the first run did not use Spark's default manager")
    val q2 = start()
    val secondIds =
      try {
        land(("a", 70, 4.0))
        q2.processAllAvailable()
        land(("a", 130, 5.0))
        q2.processAllAvailable()
        batchIds(q2)
      } finally q2.stop()
    assert(firstIds.nonEmpty && secondIds.nonEmpty)
    assert(secondIds.head == firstIds.max + 1, s"batch ids $firstIds then $secondIds")
    val restarted = names(ckpt.resolve("offsets")).filterNot(_.startsWith("."))
      .map(_.toLong).filter(_ > firstIds.max)
    assert(restarted.nonEmpty && restarted.forall(b =>
      !Files.exists(ckpt.resolve("offsets").resolve(s".$b.crc"))))
    val rows = spark.read.parquet(outDir.toString)
      .select("wstart", "host", "n", "total").as[(Double, String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(rows == Seq((0.0, "a", 3L, 6.0), (0.0, "b", 1L, 1.0), (60.0, "a", 1L, 4.0)),
      rows)
  }

  test("a RocksDB expression-commit checkpoint written without the changelog restarts with it: output and state equal an uninterrupted run") {
    withStateStore("rocksdb") {
    import java.nio.file.Files
    val key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val sessionValue = spark.conf.getOption(key)
    val batches = Seq(
      Seq(("a", 3.0), ("a", 4.0), ("b", 10.0), ("c", 1.0)),
      Seq(("a", 5.0), ("b", 2.0), ("c", 2.0)),
      Seq(("a", 8.0), ("b", 9.0), ("c", 7.0), ("d", 1.0)))
    /** One grouped expression-commit query over a JSON file source into a
      * parquet sink, with its own input, output and checkpoint dirs. */
    class Run(name: String) {
      val in = Files.createTempDirectory(s"graft_cl_${name}_in")
      val out = Files.createTempDirectory(s"graft_cl_${name}_out")
      val ckpt = Files.createTempDirectory(s"graft_cl_${name}_ckpt")
      private var fileNo = 0
      def step(q: org.apache.spark.sql.streaming.StreamingQuery,
          rows: Seq[(String, Double)]): Unit = {
        fileNo += 1
        val body = rows.map { case (u, v) => s"""{"user":"$u","v":$v}""" }
        val tmp = Files.createTempFile("graft_cl_row", ".json")
        Files.write(tmp, body.mkString("\n").getBytes("UTF-8"))
        Files.move(tmp, in.resolve(f"part-$fileNo%03d.json"))
        q.processAllAvailable()
      }
      def start(changelog: Boolean) = {
        spark.conf.set(key, changelog.toString)
        val c = new RaqlCompiler(spark, "/tmp")
        c.registerTable("tables/ev", spark.readStream
          .schema("user STRING, v DOUBLE").json(in.toString))
        RaqlParser.parseProgram("""DEFINE q AS
            FROM tables/ev
            SELECT user, SUM v AS total, SUM 1 AS n
            GROUP BY user
            COMMIT AFTER out.total >= 10;""") match {
          case Right(p) => c.register(s"cl_$name", p)
          case Left(e) => fail(s"parse: $e")
        }
        c.compile(s"cl_$name/q").writeStream.format("parquet")
          .outputMode("append").option("checkpointLocation", ckpt.toString)
          .start(out.toString)
      }
      def output: Set[(String, Double, Long)] = spark.read.parquet(out.toString)
        .select("user", "total", "n").as[(String, Double, Long)].collect().toSet
      def state: Set[String] = spark.read.format("statestore").load(ckpt.toString)
        .select(to_json(struct(col("key"), col("value")))).as[String]
        .collect().toSet
    }
    def files(run: Run) = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(run.ckpt.resolve("state"))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    val (whole, restarted, beforeRestart) =
      try {
        val whole = new Run("whole")
        val q0 = whole.start(changelog = true)
        try batches.foreach(whole.step(q0, _)) finally q0.stop()
        val restarted = new Run("restart")
        val q1 = restarted.start(changelog = false)
        try batches.take(2).foreach(restarted.step(q1, _)) finally q1.stop()
        val beforeRestart = files(restarted)
        val q2 = restarted.start(changelog = true)
        try restarted.step(q2, batches(2)) finally q2.stop()
        (whole, restarted, beforeRestart)
      } finally sessionValue.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the first run wrote snapshots only; after the restart, changelogs
    assert(beforeRestart.exists(_.endsWith(".zip")) &&
      !beforeRestart.exists(_.endsWith(".changelog")), beforeRestart)
    assert(files(restarted).exists(_.endsWith(".changelog")),
      s"no changelog after the restart: ${files(restarted)}")
    // c's window holds 1 + 2 from before the restart and closes on its 7
    assert(restarted.output == Set(("a", 12.0, 3L), ("b", 10.0, 1L),
      ("b", 11.0, 2L), ("c", 10.0, 3L)), restarted.output)
    assert(restarted.output == whole.output)
    assert(restarted.state.nonEmpty)
    assert(restarted.state == whole.state,
      s"state differs:\n  restarted=${restarted.state}\n  whole=${whole.state}")
    }
  }

  /** Runs `body` and counts the tasks each micro-batch ran, by batch id
    * (the `streaming.sql.batchId` property of the batch's jobs). */
  private def tasksPerBatch[A](body: => A): (A, Map[Long, Int]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val tasks = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => j.stageIds.foreach(stageBatch.put(_, b.toLong)))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(stageBatch.get(t.stageId)).foreach(b => tasks.merge(b, 1, _ + _))
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.sql.GraftShims.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (a, tasks.asScala.toMap.map { case (b, n) => (b: Long) -> (n: Int) })
    } finally sc.removeSparkListener(listener)
  }

  /** The physical plan of `q`'s last micro-batch. */
  private def lastPlan(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan

  private def exchanges(plan: org.apache.spark.sql.execution.SparkPlan) =
    plan.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }

  /** State partitions of `q`'s first stateful operator, last batch. */
  private def statePartitions(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators.head.numShufflePartitions

  /** One netflow v5 datagram of a single flow from 10.0.0.`host` of
    * `bytes` bytes whose decoded start time is `start` (whole seconds). */
  private def netflowPacket(host: Int, start: Long, bytes: Int): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val b = ByteBuffer.allocate(72).order(ByteOrder.BIG_ENDIAN)
    // uptime 60 s at export, flow first seen at uptime 30 s: start is
    // unix_secs - 30
    b.putShort(5).putShort(1).putInt(60000)
    b.putInt((start + 30).toInt).putInt(0).putInt(42)
    b.put(1.toByte).put(2.toByte).putShort(((1 << 14) | 100).toShort)
    b.putInt(0x0A000000 + host).putInt(0x0A000002).putInt(0)
    b.putShort(3).putShort(4).putInt(10).putInt(bytes)
    b.putInt(30000).putInt(30000).putShort(1234).putShort(80)
    b.put(0.toByte).put(0x12.toByte).put(6.toByte).put(0.toByte)
    b.putShort(65001.toShort).putShort(65002.toShort)
    b.put(24.toByte).put(16.toByte).putShort(0)
    b.array()
  }

  test("a RaQL window-route stream over UdpIngest plans no Exchange, one state partition and one task per trigger") {
    import java.net.{DatagramPacket, DatagramSocket, InetAddress}
    val udp = new UdpIngest(spark, 0).start()
    val sock = new DatagramSocket()
    try {
      val c = new RaqlCompiler(spark, "/tmp")
      c.registerTable("net/flows", udp.netflow)
      RaqlParser.parseProgram("""DEFINE q AS
          FROM net/flows
          SELECT TRUNCATE(MIN start, 10) AS wstart, out.wstart + 10 AS wstop,
                 src, SUM bytes AS total
          GROUP BY src
          COMMIT BEFORE in.start >= out.wstop;""") match {
        case Right(p) => c.register("one", p)
        case Left(e) => fail(s"parse: $e")
      }
      val sdf = c.compile("one/q")
      assert(RaqlCompiler.singlePartition(udp.netflow))
      val q = sdf.writeStream.format("memory").queryName("one_task_udp")
        .outputMode("append").start()
      def send(p: Array[Byte]): Unit =
        sock.send(new DatagramPacket(p, p.length, InetAddress.getLoopbackAddress,
          udp.boundPort))
      def rows = spark.table("one_task_udp").select("wstart", "src", "total")
        .as[(Double, String, Long)].collect().toSeq
      val (_, tasks) = tasksPerBatch {
        try {
          val deadline = System.currentTimeMillis() + 30000
          // three flows in [1700000000, 1700000010), then one past it
          while (q.recentProgress.map(_.numInputRows).sum < 3 &&
              System.currentTimeMillis() < deadline) {
            Seq(1, 2, 2).foreach(h => send(netflowPacket(h, 1700000001L, 100)))
            Thread.sleep(100)
            q.processAllAvailable()
          }
          while (rows.isEmpty && System.currentTimeMillis() < deadline) {
            send(netflowPacket(3, 1700000020L, 100))
            Thread.sleep(100)
            q.processAllAvailable()
          }
          assert(rows.nonEmpty, "window [1700000000, 1700000010) never closed")
          assert(exchanges(lastPlan(q)).isEmpty, lastPlan(q))
          assert(statePartitions(q) == 1L)
        } finally q.stop()
      }
      assert(rows.map(_._1).distinct == Seq(1700000000.0), rows)
      assert(tasks.nonEmpty && tasks.values.forall(_ == 1), tasks)
    } finally { sock.close(); udp.stop() }
  }

  test("a single-partition expression-commit stream keeps one state partition; its plan is pinned as built") {
    // the harness route's groupByKey/flatMapGroupsWithState over a
    // coalesce(1): AppendColumns passes the single partition up, so the
    // stateful operator needs no Exchange either
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev](1)
    val sdf = compileOverEv(mem, "onehx", """DEFINE q AS
        FROM tables/ev
        SELECT user, SUM v AS total, SUM 1 AS n
        GROUP BY user
        COMMIT AFTER out.total >= 10;""")
    assert(sdf.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState => f
    }.size == 1)
    val q = sdf.writeStream.format("memory").queryName("one_task_harness")
      .outputMode("append").start()
    val (_, tasks) = tasksPerBatch {
      try {
        mem.addData(Ev("a", 1, 4.0), Ev("b", 2, 9.0), Ev("a", 3, 7.0))
        q.processAllAvailable()
        mem.addData(Ev("b", 4, 1.0))
        q.processAllAvailable()
        assert(exchanges(lastPlan(q)).isEmpty, lastPlan(q))
        assert(statePartitions(q) == 1L)
      } finally q.stop()
    }
    assert(spark.table("one_task_harness").select("user", "total", "n")
      .as[(String, Double, Long)].collect().toSet == Set(("a", 11.0, 2L), ("b", 10.0, 2L)))
    assert(tasks.nonEmpty && tasks.values.forall(_ == 1), tasks)
  }

  test("multi-partition streams keep their Exchange and the session's state partitions") {
    // a MemoryStream without a partition count and a file stream plan as
    // before: hash-partitioned into spark.sql.shuffle.partitions (4 here)
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val cores = spark.conf.get("spark.sql.shuffle.partitions").toLong
    def check(name: String, sdf: org.apache.spark.sql.DataFrame)(feed: => Unit): Unit = {
      val q = sdf.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        feed
        q.processAllAvailable()
        assert(exchanges(lastPlan(q)).nonEmpty, s"$name: ${lastPlan(q)}")
        assert(statePartitions(q) == cores, name)
      } finally q.stop()
    }
    val mem = MemoryStream[Ev]
    assert(!RaqlCompiler.singlePartition(mem.toDF()))
    check("multi_mem", compileOverEv(mem, "multim", hostsShape60)) {
      mem.addData(Ev("a", 10, 1.0), Ev("b", 20, 1.0))
    }
    val in = Files.createTempDirectory("graft_multi_in")
    val files = spark.readStream.schema("user STRING, t LONG, v DOUBLE").json(in.toString)
    assert(!RaqlCompiler.singlePartition(files))
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", files)
    RaqlParser.parseProgram(hostsShape60) match {
      case Right(p) => c.register("multif", p)
      case Left(e) => fail(s"parse: $e")
    }
    check("multi_file", c.compile("multif/q")) {
      Files.write(in.resolve("part-1.json"),
        """{"user":"a","t":10,"v":1.0}
          |{"user":"b","t":20,"v":1.0}""".stripMargin.getBytes("UTF-8"))
    }
  }

  test("a checkpoint begun with 4 state partitions restarts on a single-partition stream, replays and emits an uninterrupted run's windows") {
    // the first run plans as a multi-partition stream did (no coalesce, 4
    // state partitions); the restart reads the same offsets from a
    // one-partition source: the offset log keeps 4, so the Exchange is
    // planned again
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq(Ev("a", 10, 1.0), Ev("b", 20, 1.0), Ev("a", 30, 1.0)),
      Seq(Ev("b", 50, 1.0), Ev("a", 70, 1.0)),
      Seq(Ev("b", 80, 1.0), Ev("a", 130, 1.0), Ev("b", 140, 1.0)))
    def run(mem: MemoryStream[Ev], prog: String, ckpt: java.nio.file.Path,
        out: java.nio.file.Path, feed: Seq[Seq[Ev]])
        : org.apache.spark.sql.streaming.StreamingQuery = {
      val q = compileOverEv(mem, prog, hostsShape60).writeStream.format("parquet")
        .outputMode("append").option("checkpointLocation", ckpt.toString)
        .start(out.toString)
      try feed.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      q
    }
    def windows(out: java.nio.file.Path) = spark.read.parquet(out.toString)
      .select("wstart", "user", "n").as[(Double, String, Long)].collect().toSet
    val ckpt = Files.createTempDirectory("graft_restart4_ckpt")
    val out = Files.createTempDirectory("graft_restart4_out")
    val first = run(MemoryStream[Ev], "rs4a", ckpt, out, batches.take(2))
    assert(first.lastProgress.stateOperators.head.numShufflePartitions == 4L)
    val single = MemoryStream[Ev](1)
    // the offsets the first run committed, then the new batch
    batches.take(2).foreach(single.addData(_))
    val second = run(single, "rs4b", ckpt, out, batches.drop(2))
    assert(second.lastProgress.stateOperators.head.numShufflePartitions == 4L)
    assert(exchanges(lastPlan(second)).nonEmpty, lastPlan(second))
    val wholeOut = Files.createTempDirectory("graft_restart1_out")
    val whole = run(MemoryStream[Ev](1), "rs1", Files.createTempDirectory("graft_restart1_ckpt"),
      wholeOut, batches)
    assert(whole.lastProgress.stateOperators.head.numShufflePartitions == 1L)
    assert(windows(out) == windows(wholeOut))
    assert(windows(out) ==
      Set((0.0, "a", 2L), (0.0, "b", 2L), (60.0, "a", 1L), (60.0, "b", 1L)), windows(out))
  }

  test("a trigger over several instrumentation rows runs one task") {
    implicit val sqlCtx = spark.sqlContext
    val stats = graft.streaming.Instrumentation(spark).df
    assert(RaqlCompiler.singlePartition(stats))
    // a monitored workload: its progress rows queue in the stats source
    // before the stats query's first trigger
    val mem = MemoryStream[Ev]
    val work = mem.toDS().writeStream.format("memory").queryName("one_task_work")
      .outputMode("append").start()
    try (1 to 4).foreach { i => mem.addData(Ev("a", i, 1.0)); work.processAllAvailable() }
    finally work.stop()
    // listener events are async: wait until the source holds the rows
    val deadline = System.currentTimeMillis() + 20000
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ((), tasks) = tasksPerBatch {
      val q = stats.filter($"worker" === "one_task_work").writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.add(b.collect().length.toLong); ()
      }.start()
      try {
        while (seen.toArray.map(_.asInstanceOf[Long]).sum < 3 &&
            System.currentTimeMillis() < deadline) {
          Thread.sleep(200)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    assert(seen.toArray.map(_.asInstanceOf[Long]).max >= 3, seen)
    assert(tasks.nonEmpty && tasks.values.forall(_ == 1), tasks)
  }

  test("a strict COMMIT AFTER bound leaves the window open at the bound and closes it one millisecond past") {
    // COMMIT AFTER in.t > out.wstart + 120 over 60 s buckets: ramen's
    // strict compare commits [0,60) on the first tuple past t = 120. The
    // watermark counts whole milliseconds, and the delay is 60 001 ms: the
    // tuple at 120 leaves [0,60) open, the one at 120.001 closes it
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val c = new RaqlCompiler(spark, "/tmp")
    c.registerTable("tables/ev", mem.toDS().toDF("user", "t"))
    RaqlParser.parseProgram("""DEFINE q AS
        FROM tables/ev
        SELECT TRUNCATE(MIN t, 60) AS wstart, user, SUM 1 AS n
        GROUP BY user, t // 60
        COMMIT AFTER in.t > out.wstart + 120;""") match {
      case Right(p) => c.register("strict", p)
      case Left(e) => fail(s"parse: $e")
    }
    val q = c.compile("strict/q").writeStream.format("memory")
      .queryName("strict_bound").outputMode("append").start()
    def rows = spark.table("strict_bound").select("wstart", "user", "n")
      .as[(Double, String, Long)].collect().toSeq
    try {
      mem.addData(("a", 10.0), ("a", 50.5))
      q.processAllAvailable()
      mem.addData(("a", 120.0))
      q.processAllAvailable()
      assert(rows.isEmpty, s"[0,60) closed by the tuple at the bound: $rows")
      mem.addData(("a", 120.001))
      q.processAllAvailable()
      assert(rows == Seq((0.0, "a", 2L)), rows)
    } finally q.stop()
  }
}
