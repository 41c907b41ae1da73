package graft.ops

import org.apache.spark.sql.DataFrame

/** The fan-out width for the library's EXPLICIT repartitions (input
  * spreads, blocked pair joins): `spark.graft.fanout` when set, else the
  * session's core count.
  *
  * Why a dedicated knob: an explicit `repartition(n, …)` pins its
  * stage's partitioning — `spark.sql.shuffle.partitions` cannot widen it
  * afterwards. With width = core count, the per-partition share of a
  * pinned shuffle-hash build grows linearly with the data and eventually
  * outgrows per-task execution memory (measured at the ×1000 scale
  * probe: "Can't acquire 268435456 bytes memory to build hash relation"
  * at 32 partitions over a 16 g heap), so data-scaled deployments must
  * widen the pinned fan-outs alongside their shuffle width. Borrowing
  * `spark.sql.shuffle.partitions` itself was rejected: Spark's
  * out-of-box default is 200, which would silently inflate every spread
  * to 200 pinned tasks in any session that didn't set the conf — an
  * explicit opt-in knob can't misfire that way. The floor at core count
  * keeps a mis-set small value from starving the pair-expansion stages
  * the explicit repartitions exist to parallelize.
  */
object GraftPar {
  val Key = "spark.graft.fanout"

  /** Input bytes each pinned-fan-out task should own —
    * `spark.graft.bytesPerTask`, default 2 MiB. Derivation (r18, the
    * amplification-aware width the r16/r17 pair-join analyses scoped):
    * the pinned widths feed PAIR-EXPANSION kernels whose in-memory
    * amplification of input bytes is large — shingle/signature arrays
    * plus capped pair blocks measured ~100–150× input at the ×1000 probe,
    * where 32 partitions over a 16 g heap (~290 MB execution share per
    * task) died building a shuffled-hash side ("Can't acquire 268435456
    * bytes") at ~18 MB input/task. 290 MB ÷ ~150× ⇒ ~2 MB of input per
    * task keeps the amplified working set inside a standard per-task
    * execution share at ANY scale — and it reproduces the manually
    * certified probe widths (×1000: 584 MB/2 MiB ≈ 280 vs the hand-set
    * 320; ×10000: ≈ 2800 vs 3200) without the hand-set knob. */
  val BytesPerTaskKey = "spark.graft.bytesPerTask"
  private val DefaultBytesPerTask = 2L * 1024 * 1024

  def of(df: DataFrame): Int = {
    val ss = df.sparkSession
    val cores = ss.sparkContext.defaultParallelism
    def intConf(key: String, parse: String => Long): Long =
      try ss.conf.getOption(key).map(parse).getOrElse(0L)
      catch {
        case _: NumberFormatException =>
          // loud, not silent: a typo'd conf falling back to defaults
          // quietly reintroduces the ×1000 pinned-fanout OOM the knobs
          // exist to prevent (r12 ADVICE)
          org.slf4j.LoggerFactory.getLogger(GraftPar.getClass).warn(
            s"malformed $key='${ss.conf.getOption(key).getOrElse("")}' " +
              s"ignored; falling back to core count $cores")
          0L
      }
    val fanout = intConf(Key, _.toLong)
    // DATA-DERIVED width (r18): when the frame is a 1:1 view of a file
    // scan, size the pinned fan-out from the bytes it will actually feed
    // through the kernels — max(floor, bytes / bytesPerTask). The floor
    // (core count / explicit fanout) keeps small corpora at full machine
    // parallelism, so every local-SF plan is byte-identical to the
    // pre-derivation form; past the floor the width grows with the data
    // exactly as a data-scaled deployment must widen its pinned shuffles
    // (guide §2.2/§2.5 — and the ×1000-measured OOM above). Frames whose
    // lineage is not a plain scan view (post-join/aggregate deltas) keep
    // the floor: their stats undersell pair amplification, which is the
    // reason the explicit widths exist at all.
    val bptRaw = intConf(BytesPerTaskKey, _.toLong)
    val bytesPerTask = if (bptRaw > 0) bptRaw else DefaultBytesPerTask
    val derived = Dedup.leafScanBytes(df)
      .filter(b => b > 0 && b < Long.MaxValue / 4) // stats-less ⇒ unknown
      .map(b => b / bytesPerTask).getOrElse(0L)
    // one cap for both widths, applied before the Int narrowing: an
    // explicit fanout of 2^32 would otherwise wrap to width 0
    math.max(cores.toLong, math.min(math.max(fanout, derived), 1L << 20)).toInt
  }
}
