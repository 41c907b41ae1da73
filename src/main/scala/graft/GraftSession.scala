package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: every entry point (Verify, Bench, tests)
  * builds its SparkSession here so configs stay consistent.
  *
  * Scale notes (targets a 1000-executor cluster even though we test on
  * local[N]): AQE on for runtime re-planning + skew-join splitting; shuffle
  * partitions sized to the local core count (the driver's contract), which
  * on a real cluster would be `executors × cores × 2-3` — except a stream
  * whose stateful stage reads one partition, which starts with one state
  * partition (graft.streaming.StatePartitions); nanosAsLong because
  * the events table carries TIMESTAMP(NANOS) parquet which Spark refuses to
  * read as a timestamp.
  */
object GraftSession {
  /** RocksDB state store provider — the streaming-state-at-scale option.
    * The default HDFSBackedStateStore keeps every key on the executor
    * HEAP; a corpus-scale dedup stream holds billions of fingerprints and
    * dies there first. RocksDB keeps state off-heap with disk spill; with
    * changelog checkpointing (set in `builder`) a commit uploads the
    * batch's changes, not a full snapshot of the store. Gated by
    * `SPARK_GRAFT_STATESTORE=rocksdb` rather than default-on: the heap
    * store is faster for the small bounded states of most RaQL commit
    * groups, and flipping the provider of an existing checkpointed query
    * is not supported by Spark. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // the default 100-entry generated-class cache thrashes when many
      // distinct queries run interleaved (Bench round-robins ~20 queries ×
      // several codegen units each); evictions force recompile + re-JIT
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // InferFiltersFromGenerate turns `posexplode(kernel(x))` into a
      // pre-exchange `size(kernel(x)) > 0` filter that pushdown inlines
      // into the SCAN — the whole signature kernel evaluates twice per
      // row (measured 2.1× on the d02 map stage). The generator already
      // drops empty/null inputs itself, so the inferred filter only
      // re-prices rows the generate would skip for free; none of this
      // engine's generators sit above a shuffle that could profit
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // checkpoint logs and state-store files on local disk go through NIO:
      // Hadoop's local file system forks chmod/stat per file without the
      // native library (see LocalCheckpointFileManager)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      // the UI is off and nothing reads completed executions, jobs or stages
      // back, yet the status store keeps each one's plan and metric strings:
      // at the defaults (1000 each) an always-on stream piles them up
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      // RocksDB state commits write a changelog of the batch's puts and
      // removes, with a snapshot only every few versions, instead of
      // flushing, checkpointing and uploading the whole store every
      // trigger. Only the RocksDB provider reads it; a checkpoint written
      // with it off restarts with it on.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    // shuffle/spill compression codec override (core conf — fixed at
    // context start, so an env gate rather than a runtime set). The
    // default lz4 optimizes CPU; `SPARK_GRAFT_IO_CODEC=zstd` trades ~2-4%
    // map CPU for materially smaller shuffle files — the right side of
    // the trade when a probe (or a disk-tight cluster) is BYTES-bound,
    // like d02's ×10000 per-occurrence shuffle (r14: ~90 GB lz4 exceeded
    // the box's free disk).
    val c = sys.env.get("SPARK_GRAFT_IO_CODEC")
      .fold(b)(codec => b.config("spark.io.compression.codec", codec))
    if (sys.env.get("SPARK_GRAFT_STATESTORE").exists(_.equalsIgnoreCase("rocksdb")))
      c.config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    else c
  }

  def get(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
