package graft.perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The closed-loop replay workload: one client replays the registered
  * RaQL programs over a seeded archive, pass after pass, each built through `QueryDef.run`
  * and materialised through the noop sink. The seed permutes each pass. */
object Replay {

  /** The oracle-backed RaQL programs: ramen's replay-over-archive path.
    * On some seeds r10_raql_hysteresis_holt's result differs from its
    * DuckDB oracle where a `round(…, 6)` input sits on a decimal tie
    * (seed 51 at scale 0.005: `sm6` row 5, 33.236563 against 33.236562);
    * such a run reports the mismatch as a failed operation. */
  val RaqlPrograms: Seq[String] = Seq(
    "r01_raql_agg", "r02_raql_where", "r03_raql_case", "r04_raql_lag_changed",
    "r05_raql_running_aggs", "r06_raql_moveavg_latest",
    "r07_raql_remember_distinct", "r08_raql_scalars",
    "r09_raql_grouped_running", "r10_raql_hysteresis_holt",
    "r11_raql_tumbling_commit", "r12_raql_horizon_remember", "r13_raql_pivot",
    "r14_raql_holt_winters", "r15_raql_past_sliding",
    "r16_raql_once_every_past", "r17_raql_running_group")

  /** The timed passes a run's pass time is the median of, always the
    * first ones: the first pass after the warm-up still runs slower, so a
    * median over a pass count that followed the clock would step when a
    * pass got faster. Passes run on until `--seconds` have passed. */
  val ScoredPasses = 2

  def run(spark: SparkSession, a: Main.Args, tracer: Tracer,
      probes: Probes): Main.Outcome = {
    val names = RaqlPrograms
    val defs = names.map(n => graft.Queries.all.find(_.name == n)
      .getOrElse(sys.error(s"no registered query $n")))
    val rng = new scala.util.Random(a.seed)
    val sc = spark.sparkContext
    var attempted, failed = 0L
    def fail(name: String, e: Throwable): Unit = {
      failed += 1
      System.err.println(s"[perfbench] $name failed: $e")
    }

    // Untimed warm-up pass, one program per core at a time: it only fills
    // the caches (codegen, JIT) and collects the results the oracle check
    // compares. The timed passes run the same plans into noop, one client.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    val warm = ExecutionContext.fromExecutorService(pool)
    val warmups = rng.shuffle(defs).map { q =>
      q -> Future { val df = q.run(spark, a.data); (df.collect(), df.schema) }(warm)
    }
    val checked = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    warmups.foreach { case (q, f) =>
      attempted += 1
      Try(Await.result(f, Duration.Inf)) match {
        case Success(r) => checked(q.name) = r
        case Failure(e) => fail(q.name, e)
      }
    }
    warm.shutdown()
    val setupS = Main.sinceJvmStart()

    val passes = mutable.ArrayBuffer.empty[Double]
    val buildMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val sinkMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    if (tracer.enabled) probes.reset(sc)
    val t0 = System.nanoTime()
    tracer.span("measure", "harness", 0L, "run") { root =>
      while (passes.size < ScoredPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        val p = passes.size
        val order = rng.shuffle(defs)
        val ps = System.nanoTime()
        tracer.span("pass", "harness", root, s"pass$p") { pid =>
          order.foreach { q =>
            val req = s"pass$p/${q.name}"
            attempted += 1
            tracer.span(s"query:${q.name}", "query", pid, req) { qid =>
              try {
                val b0 = System.nanoTime()
                val df = tracer.span("build", "raql", qid, req)(
                  _ => q.run(spark, a.data))
                val b1 = System.nanoTime()
                tracer.span("sink", "query", qid, req)(
                  _ => df.write.format("noop").mode("overwrite").save())
                buildMs(q.name) += (b1 - b0) / 1e6
                sinkMs(q.name) += (System.nanoTime() - b1) / 1e6
              } catch { case NonFatal(e) => fail(q.name, e) }
            }
          }
        }
        passes += (System.nanoTime() - ps) / 1e9
      }
    }

    val counters = if (tracer.enabled) probes.snapshot(sc, passes.size) else Map.empty[String, Double]
    val liveMb = Main.liveMb()

    // Results for the oracle check, written after the timed region.
    checked.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${a.out}/check/$name")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out, "check", "oracle_sql.json"),
      Json(defs.filter(q => checked.contains(q.name)).flatMap(q => q.oracle.map(q.name -> _)).toMap))

    val n = passes.size.toDouble
    val perQuery = names.flatMap(q => Seq(
      s"query.$q.build_ms" -> buildMs(q) / n, s"query.$q.sink_ms" -> sinkMs(q) / n))
    val buildPerPass = buildMs.values.sum / n
    val passS = Stats.median(passes.take(ScoredPasses).toSeq)
    Main.Outcome(attempted, failed,
      e2e = Map("latency_p50_s" -> passS, "setup_s" -> setupS, "live_mb" -> liveMb),
      layers = counters ++ perQuery.toMap ++ Map(
        // QueryDef.run parses and compiles inside; only the sum is observable
        "raql.parse_ms" -> 0.0,
        "raql.build_ms" -> buildPerPass),
      info = Map("passes" -> passes.toSeq, "pass_s" -> passS))
  }
}
