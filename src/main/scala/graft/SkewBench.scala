package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Planted-boilerplate skew benchmark: measures the r8 triangle caps ON
  * (production defaults) vs OFF (`Int.MaxValue`) over corpora where one
  * bucket/chunk-value/cell goes quadratic — the corpora the caps exist
  * for. Not part of the driver contract (Bench stays the skew-free
  * suite); run via `runMain graft.SkewBench`, results recorded in
  * COVERAGE.md.
  *
  * Planted tables (written once to /tmp/graft_skewbench):
  *  - documents: 24k rows, 12k of them the SAME boilerplate text — every
  *    LSH band gets one 12k-row bucket and every simhash chunk position
  *    one 12k-row chunk-value group (B = ⌈12k/4096⌉ = 3, so the capped
  *    join runs 6 bounded block-pair tasks per hot group where the
  *    uncapped join runs ONE 72M-pair task); the other 12k rows cycle the
  *    sf0.1 texts.
  *  - embeddings: 10k rows, 6k near-identical (one hot sign-bucket per
  *    band) + 4k random — a02's corpus.
  *  - embeddings_hot (separate dir): 20k rows, 16k near-identical → ONE
  *    hot semantic cell, B = 4. d07's corpus: its output is per-VECTOR
  *    (dup flags), so unlike the pair joins the quadratic work is purely
  *    internal — the cleanest view of what the cell cap buys.
  *
  * Caps cannot shrink a pair join's OUTPUT (12k near-identical docs
  * really have ~72M candidate pairs — production pipelines run exactDedup
  * first); they bound per-TASK input so the quadratic work spreads. Each
  * pair of runs cross-checks count equality (the exactness claim on
  * actually-skewed data).
  *
  * Two metrics per run: WALL (this node) and MAX TASK duration. Wall
  * improves when the bounded tasks can spread over idle cores; max task
  * is the cluster-wall proxy — on a 1000-executor fleet the job ends
  * when the slowest task does, so uncapped/capped max-task is the
  * speedup a real cluster would see on the skewed stage, and the capped
  * max task is what has to fit one executor.
  */
object SkewBench {

  /** Longest single task in each timed region (listener events are
    * posted async; the caller sleeps briefly before reading), plus a
    * per-stage breakdown for attribution (`SPARK_GRAFT_SKEW_STAGES=1`). */
  private final class MaxTaskListener
      extends org.apache.spark.scheduler.SparkListener {
    @volatile var maxMs: Long = 0L
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val slow = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val d = t.taskInfo.duration
      if (d > maxMs) maxMs = d
      stages.merge(t.stageId, (d, d, 1L),
        (a, b) => (math.max(a._1, b._1), a._2 + b._2, a._3 + b._3))
      if (d > 2000 && t.taskMetrics != null)
        slow.add(f"stage ${t.stageId} task ${t.taskInfo.index} ${d / 1e3}%.2f s" +
          f" shufRecs ${t.taskMetrics.shuffleReadMetrics.recordsRead}" +
          f" outRecs ${t.taskMetrics.shuffleWriteMetrics.recordsWritten}")
    }
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      names.put(s.stageInfo.stageId,
        s.stageInfo.details.linesIterator.find(_.contains("graft"))
          .getOrElse(s.stageInfo.name.takeWhile(_ != '\n')))
    def top(n: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2._1).take(n).map { case (id, (mx, sum, cnt)) =>
        f"stage $id%4d max ${mx / 1e3}%6.2f s sum ${sum / 1e3}%7.2f s " +
          f"tasks $cnt%4d  ${names.getOrDefault(id, "?").take(60)}"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    import spark.implicits._
    // reducer slots ≫ hot groups, the cluster situation: with the default
    // 32, several hot (band,bucket) groups hash into ONE reduce task and
    // per-task time measures collisions, not the per-group bound the caps
    // provide. 256 gives every hot group its own task (AQE coalesces the
    // small ones back), so maxtask ≈ the largest single group's work.
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    val dir = "/tmp/graft_skewbench"
    val hotDir = s"$dir/hotcell"
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // gate on the LAST table's _SUCCESS marker, not directory existence —
    // a killed build leaves a partial directory that would silently skew
    // every subsequent measurement
    if (!new java.io.File(s"$hotDir/embeddings.parquet/_SUCCESS").exists()) {
      val base = Tables.documents(spark, srcDir)
        .select(col("doc_id"), col("text")).collect()
      val boiler = "this content is provided as is without warranty of " +
        "any kind either expressed or implied including but not limited " +
        "to the implied warranties of merchantability and fitness for a " +
        "particular purpose the entire risk remains with you"
      val docs = (1L to 24000L).map { i =>
        if (i <= 12000L) (i, boiler)
        else { val b = base(((i - 12001) % base.length).toInt)
          (i, b.getString(1)) }
      }.toDF("doc_id", "text")
      docs.repartition(8).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/documents.parquet")

      val rng = new scala.util.Random(11)
      val dim = 64
      def hotEmbs(n: Long, nHot: Long): DataFrame = {
        val hotBase = Array.fill(dim)(rng.nextGaussian().toFloat)
        // random vectors get the LOW ids: seedCentroids picks the first
        // 16 by id, and 16 near-identical seeds would smear the planted
        // mass across every cell instead of concentrating it in one
        (1L to n).map { i =>
          if (i > n - nHot)
            // near-identical: tiny per-vector jitter, cos ≈ 0.9999
            (i, hotBase.map(x => x + 0.001f * rng.nextGaussian().toFloat))
          else (i, Array.fill(dim)(rng.nextGaussian().toFloat))
        }.toDF("vec_id", "embedding")
      }
      hotEmbs(10000, 6000).repartition(8).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/embeddings.parquet")
      hotEmbs(20000, 16000).repartition(8).write.mode(SaveMode.Overwrite)
        .parquet(s"$hotDir/embeddings.parquet")
    }

    val docs = Tables.documents(spark, dir)
    val embs = Tables.embeddings(spark, dir)
    val hotEmbs = Tables.embeddings(spark, hotDir)
    val cents = ops.Similarity.seedCentroids(hotEmbs, "vec_id", "embedding", 16)

    val showStages = sys.env.get("SPARK_GRAFT_SKEW_STAGES").contains("1")
    def time(f: => Long): (Double, Double, Long) = {
      val l = new MaxTaskListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val n = f
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // drain the async listener bus
      spark.sparkContext.removeSparkListener(l)
      if (showStages) {
        l.top(4).foreach(s => println(s"[skew]   $s"))
        l.slow.forEach(s => println(s"[skew]   SLOW $s"))
      }
      (wall, l.maxMs / 1e3, n)
    }
    val only: Set[String] = args.toSet
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def pair(name: String, capped: => Long, uncapped: => Long): Unit = {
      if (only.nonEmpty && !only(name)) return
      val (tc, mc, nc) = time(capped)
      val (tu, mu, nu) = time(uncapped)
      require(nc == nu, s"$name: capped=$nc uncapped=$nu — caps changed the output!")
      results(s"${name}_capped") = tc
      results(s"${name}_uncapped") = tu
      results(s"${name}_maxtask_capped") = mc
      results(s"${name}_maxtask_uncapped") = mu
      println(f"[skew] $name%-4s capped $tc%7.2f s  uncapped $tu%7.2f s  " +
        f"(${tu / tc}%4.1fx)  maxtask $mc%6.2f vs $mu%6.2f s " +
        f"(${mu / mc}%4.1fx)  rows=$nc")
    }

    pair("d07",
      ops.Dedup.semanticDedup(hotEmbs, "vec_id", "embedding", cents,
        minCos = 0.99).filter(col("is_dup")).count(),
      ops.Dedup.semanticDedup(hotEmbs, "vec_id", "embedding", cents,
        minCos = 0.99, cellCap = Int.MaxValue).filter(col("is_dup")).count())
    pair("a02",
      ops.Similarity.lshNeighbors(embs, "vec_id", "embedding",
        bands = 8, r = 8, minCos = 0.9).count(),
      ops.Similarity.lshNeighbors(embs, "vec_id", "embedding",
        bands = 8, r = 8, minCos = 0.9, bucketCap = Int.MaxValue).count())
    pair("d02",
      ops.Dedup.minhashCandidates(docs, "doc_id", "text").count(),
      ops.Dedup.minhashCandidates(docs, "doc_id", "text",
        bucketCap = Int.MaxValue).count())
    pair("d04",
      ops.Dedup.simhashPairsOfFps(
        ops.Dedup.simhashFps(docs, "doc_id", "text")).count(),
      ops.Dedup.simhashPairsOfFps(
        ops.Dedup.simhashFps(docs, "doc_id", "text"),
        bucketCap = Int.MaxValue).count())

    println("{\"metric\":\"skewbench\"," + results.map { case (k, v) =>
      s""""$k":$v""" }.mkString("\"walls\":{", ",", "}") + "}")
    spark.stop()
  }
}
