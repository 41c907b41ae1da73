package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Harness entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * graft.perfbench.Main --workload netflow_alert|raql_replay
  *   --seed N --seconds S --trace 0|1 --data DIR --out DIR
  * }}}
  *
  * Writes `result.json` (attempted/failed counts, end-to-end metrics,
  * per-layer metrics, diagnostics) and, when traced, `spans.json` into
  * `--out`. Output correctness for the batch workloads is judged by the
  * caller against the DuckDB oracle, from the results written under
  * `--out/check`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String)

  /** What a workload hands back. `e2e` and `layers` hold the metric values
    * by name; `info` carries diagnostics printed alongside them. */
  final case class Outcome(attempted: Long, failed: Long,
      e2e: Map[String, Double], layers: Map[String, Double],
      info: Map[String, Any])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"))
  }

  /** Wall time this JVM started: the start of set-up. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Heap in use after a full collection plus non-heap in use (metaspace,
    * code cache), in MB: what the process holds on to, whatever the size
    * of its heap. The least of several readings a moment apart, since a
    * reading taken while a job runs also counts that job's working pages. */
  def liveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { i =>
      if (i > 1) Thread.sleep(250)
      mem.gc()
      (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
    }.min
  }

  /** Peak resident set of this process (VmHWM), in MB. With the heap's
    * size fixed this mostly reads the heap size; it is printed, not gated. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val tracer = new Tracer(a.trace)
    val spark = graft.GraftSession.get()
    val probes = new Probes(new ExecListener, new PlanListener)
    if (a.trace) {
      spark.sparkContext.addSparkListener(probes.exec)
      spark.listenerManager.register(probes.plan)
    }
    val outcome =
      try a.workload match {
        case "netflow_alert" => NetflowAlert.run(spark, a, tracer, probes)
        case "raql_replay" => Replay.run(spark, a, tracer, probes)
        case w => sys.error(s"unknown workload $w")
      } finally {
        if (a.trace) org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
      }
    tracer.attachJobs(probes.exec.jobTimes.asScala.toSeq)
    val layers = if (a.trace) outcome.layers else Map.empty[String, Double]
    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "e2e" -> outcome.e2e, "layers" -> layers,
      "info" -> (outcome.info + ("peak_rss_mb" -> peakRssMb())))
    Files.writeString(Paths.get(a.out, "result.json"), Json(doc))
    if (a.trace) Files.writeString(Paths.get(a.out, "spans.json"),
      Json(tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "req" -> s.req,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    spark.stop()
  }
}

/** JSON text of the harness's result files (Scala maps, sequences, options
  * and case classes). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
