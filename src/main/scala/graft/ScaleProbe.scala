package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One-decade scaling probe: replicate the sf0.1 documents/embeddings
  * corpus ×k (default 10 ≈ "sf1") and time the production dedup/ANN/text
  * headliners at both scales. The 100 TB claims extrapolate from sf0.1
  * plan shapes; one measured decade catches anything super-linear
  * (bucket-cap replication, CC round growth, agg fan-in) before a real
  * cluster does. Results are recorded in COVERAGE.md; not part of the
  * driver contract. Run: `runMain graft.ScaleProbe [k] [name,name,…]`
  * (the name list restricts the probe — the ×100 decade re-measures only
  * the configs ×10 flagged or certified).
  *
  * Replication must scale the PAIR STRUCTURE ~linearly, not quadratically
  * — naive copies would make every doc a 10-clique of exact dups and the
  * workload 100× (measuring output explosion, not engine scaling):
  *  - documents: replica j suffixes every word with a tag, so shingle
  *    sets are renamed BIJECTIVELY (intra-replica Jaccard/minhash/simhash
  *    structure is exactly sf0.1's) while cross-replica shingle overlap
  *    is zero;
  *  - embeddings: replica j applies one random ORTHOGONAL rotation Q_j
  *    (Gram-Schmidt over a seeded Gaussian matrix): intra-replica
  *    cosines/cells/neighborhoods are exactly sf0.1's, cross-replica
  *    pairs decorrelate to near-orthogonal (random direction in R^64).
  *
  * Excluded by design: d03/d05/d06 (labeled O(n²) verification paths —
  * d06 clusters over BRUTE-FORCE exact pairs so its DuckDB
  * transitive-closure oracle is deterministic; at ×10 data these cost
  * ×100 and would only measure their own docstring). The production
  * clustering path is p03 (capped LSH → verify → pointer-doubling CC),
  * which IS probed.
  */
object ScaleProbe {

  /** Random orthogonal dim×dim matrix via Gram-Schmidt, seeded. */
  private def orthogonal(dim: Int, seed: Long): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    val q = Array.fill(dim)(Array.fill(dim)(rng.nextGaussian()))
    for (i <- 0 until dim) {
      for (j <- 0 until i) {
        val d = (0 until dim).map(c => q(i)(c) * q(j)(c)).sum
        for (c <- 0 until dim) q(i)(c) -= d * q(j)(c)
      }
      val n = math.sqrt((0 until dim).map(c => q(i)(c) * q(i)(c)).sum)
      for (c <- 0 until dim) q(i)(c) /= n
    }
    q.map(_.map(_.toFloat))
  }

  /** Tables to replicate — `SPARK_GRAFT_SCALE_TABLES=documents` skips the
    * embeddings build for a decade that probes text ops only (the ×10000
    * documents corpus alone is ~6 GB; the unused embeddings would double
    * the build time and disk for nothing). */
  private def wantedTables: Set[String] =
    sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("documents", "embeddings"))

  private def build(spark: SparkSession, src: String, dir: String, k: Int,
      tables: Set[String]): Unit = {
    if (tables("documents")) buildDocs(spark, src, dir, k)
    if (tables("embeddings")) buildEmbs(spark, src, dir, k)
  }

  private def buildDocs(spark: SparkSession, src: String, dir: String, k: Int): Unit = {
    val docs = Tables.documents(spark, src)
    // CHUNKED writes: a k-way union is one plan with k leaves and k
    // distinct UDFs — fine at k=10/100, but k=1000 (third decade) chokes
    // analysis/codegen on plan size. 50 replicas per append keeps every
    // job small and the build linear in k.
    val chunk = 50
    (0 until k).grouped(chunk).zipWithIndex.foreach { case (js, ci) =>
      val reps = js.map { j =>
        val tagged =
          if (j == 0) docs.select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
          else docs.select(
            (col("doc_id") + lit(j * 10_000_000L)).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              w => concat(w, lit(s"zq$j"))), " ").as("text"),
            col("lang"), col("source"), lit(0L).as("n_chars"))
        tagged.withColumn("n_chars",
          when(col("n_chars") === 0, length(col("text")))
            .otherwise(col("n_chars")))
      }
      reps.reduce(_ unionByName _).repartition(32)
        .write.mode(if (ci == 0) SaveMode.Overwrite else SaveMode.Append)
        .parquet(s"$dir/documents.parquet")
    }
  }

  private def buildEmbs(spark: SparkSession, src: String, dir: String, k: Int): Unit = {
    val embs = Tables.embeddings(spark, src)
    val dim = embs.select(size(col("embedding"))).first().getInt(0)
    val chunk = 50
    (0 until k).grouped(chunk).zipWithIndex.foreach { case (js, ci) =>
      val rotated = js.map { j =>
        if (j == 0) embs.select(col("vec_id"), col("embedding"), col("label"))
        else {
          val q = orthogonal(dim, seed = 1000 + j)
          val rot = udf { (v: Seq[Float]) =>
            Array.tabulate(dim)(r =>
              (0 until dim).map(c => q(r)(c) * v(c)).sum)
          }
          embs.select((col("vec_id") + lit(j * 10_000_000L)).as("vec_id"),
            rot(col("embedding")).as("embedding"), col("label"))
        }
      }
      rotated.reduce(_ unionByName _).repartition(32)
        .write.mode(if (ci == 0) SaveMode.Overwrite else SaveMode.Append)
        .parquet(s"$dir/embeddings.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val spark = GraftSession.get()
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = s"/tmp/graft_scale_x$k"
    // build under a scratch name and move PER TABLE when complete — with
    // chunked appends the first chunk already plants _SUCCESS, so the
    // marker no longer proves completeness; a killed build leaves only
    // the scratch dir and the next run restarts it. Moving per table
    // (not renaming the whole dir) lets selective runs compose: a
    // documents-only build must not destroy a prior run's multi-GB
    // embeddings corpus sitting next to it.
    val missing = wantedTables.filterNot(t =>
      new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists())
    if (missing.nonEmpty) {
      val scratch = s"$dir.build"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
      build(spark, src, scratch, k, missing)
      new java.io.File(dir).mkdirs()
      missing.foreach { t =>
        val dst = new java.io.File(s"$dir/$t.parquet")
        // a stale PARTIAL table dir (old interrupted in-place build)
        // would wedge rename(2) with ENOTEMPTY — clear just that table
        org.apache.commons.io.FileUtils.deleteQuietly(dst)
        if (!new java.io.File(s"$scratch/$t.parquet").renameTo(dst))
          throw new IllegalStateException(
            s"rename $scratch/$t.parquet -> $dst failed")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    }

    // optional 2nd arg: comma-list restricting the probe (the ×100 decade
    // re-measures only the configs the ×10 one flagged or certified)
    val only: Option[Set[String]] = args.lift(1).map(_.split(",").toSet)
    def wanted(n: String): Boolean = only.forall(_.contains(n))
    // r13: the r12 fixed-config quadratic skip (a02 fixed r, d07 fixed
    // nlist — the configs that filled the disk at ×100) is GONE because
    // the registered operators now derive those parameters from the
    // corpus size by default (Similarity.autoLshR, Dedup.autoNlist) —
    // the probe runs the same configs a user gets.
    val names = Seq("d01_exact_dedup", "d02_minhash_lsh", "d04_simhash",
      "p03_neardup_consolidation", "d07_semantic_dedup", "d08_shared_spans",
      "d11_incremental_dedup", "d12_remove_passages", "d13_incremental_neardup",
      "d07c_semantic_dedup_trained", "p04_incremental_batch",
      "p05_full_ingest_batch",
      "d14_ledger_stream_replay", "a11b_ivf_pq_trained",
      "d15_semantic_ledger_replay", "d15b_semantic_ledger_scaled",
      "a01_ann_bruteforce", "a02_ann_lsh", "a04_ann_ivf", "a10_cell_diverse_sample",
      "a11_ivf_pq", "t19_decontaminate_spans",
      "t01_tokstats", "t08_bpe_tokens", "t17_dsir_weights", "t18_chunk_windows",
      "d10_semantic_contamination").filter(wanted)
    val qs = Queries.all.filter(q => names.contains(q.name))
    spark.range(1000).selectExpr("sum(id)").collect()

    // Shuffle partitions sized to the corpus — the knob a real cluster
    // turns with data volume (SURVEY §scale: partitions must fit in
    // executor memory at the target SF). At a fixed 32, a ×1000 pinned
    // SHJ build side outgrows the ~290 MB per-task execution share of
    // the 16 g driver (measured: "Can't acquire 268435456 bytes");
    // scaling the count with the data keeps per-partition build size
    // roughly what the certified ×100 run carried. AQE coalesces the
    // small stages back down, so only the big shuffles fan out.
    // BOTH knobs must scale: shuffle.partitions alone widens the initial
    // exchanges, but AQE's coalescer floors at
    // coalescePartitions.minPartitionNum (default = local core count) and
    // folded the 320 partitions straight back to 32 — at which point the
    // pinned SHJ build side (7.5 GB of shingle arrays / 32) outgrew the
    // ~290 MB per-task execution share again. A real cluster's
    // minPartitionNum default IS its (large) parallelism; simulating its
    // data volume on 32 cores means simulating that floor too.
    val cores = spark.sparkContext.defaultParallelism
    val bigPartitions = math.max(cores, cores * k / 100)
    // SPARK_GRAFT_SCALE_MANUAL=0 drops the hand-set operator fan-out from
    // the scaled confs (r18): the probe then exercises GraftPar's
    // DATA-DERIVED widths (spark.graft.bytesPerTask) alone, so the
    // derivation can be A/B'd against the manually certified widths on
    // one binary. shuffle.partitions/minPartitionNum always stay scaled —
    // they model the CLUSTER the probe simulates, not the operators.
    val manualFanout = !sys.env.get("SPARK_GRAFT_SCALE_MANUAL").contains("0")
    val scaleConfs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum") ++
      // widen the operators' PINNED fan-outs too (ops.GraftPar): a
      // pinned repartition can't be widened by shuffle conf afterwards
      (if (manualFanout) Seq(graft.ops.GraftPar.Key) else Nil)
    def withScaleConf[A](d: String)(body: => A): A = {
      // waive the static-oracle pins for BOTH probe dirs: the probe RUNS
      // pinned queries where the derived config legitimately diverges
      // from the static SQL (that divergence is what it measures) and
      // never compares to that SQL — and the base sf0.1 dir itself
      // diverges for the replicating queries (d07c at sf0.1 ×17 derives
      // nlist=272 where the verify-SF oracle embeds 68). Verify/bench
      // never set the waiver, so the correctness gate keeps failing fast.
      val pinConfs = Seq(OraclePin.OffKey)
      val olds = (scaleConfs ++ pinConfs).map(c => c -> spark.conf.getOption(c))
      spark.conf.set(OraclePin.OffKey, "off")
      if (d != src)
        scaleConfs.foreach(c => spark.conf.set(c, bigPartitions.toString))
      try body finally olds.foreach {
        case (c, Some(v)) => spark.conf.set(c, v)
        case (c, None) => spark.conf.unset(c)
      }
    }
    // shuffle-volume accounting (r15 task 2: "measured shuffle bytes/row
    // before/after" for the d02 payload work): a listener totals shuffle
    // WRITE bytes/records across each timed run's stages — the number a
    // payload packing actually moves. Deltas are read after draining the
    // async listener bus, or the last stages of a just-finished job are
    // still in flight.
    val shufBytes = new java.util.concurrent.atomic.AtomicLong
    val shufRecs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    def time1(q: QueryDef, d: String): (Double, Long, Long) = withScaleConf(d) {
      System.gc()
      org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
      val b0 = shufBytes.get; val r0 = shufRecs.get
      val t0 = System.nanoTime()
      q.run(spark, d).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
      (t, shufBytes.get - b0, shufRecs.get - r0)
    }
    // median-of-N at BOTH scales (r12 task 8: the ×1000 single-shot
    // wall-clocks swung ±50 % same-code — 29.8–60.0 s for d02 — so
    // single-shot growth factors at the big scale are unusable). Reps
    // default 3; override with SPARK_GRAFT_SCALE_REPS for quick looks.
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    def time(q: QueryDef, d: String): (Double, Long, Long) = {
      val ts = (1 to reps).map(_ => time1(q, d))
      (Bench.median(ts.map(_._1)),
        ts.map(_._2).sorted.apply(ts.length / 2),
        ts.map(_._3).sorted.apply(ts.length / 2))
    }
    // the same machine-speed canary the bench carries (bit_xor: ANSI
    // long-sum overflow is fatal) — lets a reader normalize growth
    // factors measured in different sessions before comparing them
    val canary = Bench.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(2000000000L).selectExpr("bit_xor(id * 2654435761)").collect()
      (System.nanoTime() - t0) / 1e9
    })
    val envFields = EnvProbe.jsonFields()
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, (Double, Long, Long), (Double, Long, Long))]
    qs.foreach { q =>
      println(s"[scale] probing ${q.name} ($reps reps)")
      val base = time(q, src)
      val big = time(q, dir)
      println(f"[scale] ${q.name}%-22s sf0.1 ${base._1}%6.2f s  x$k ${big._1}%7.2f s" +
        f"  growth ${big._1 / base._1}%5.1fx  shuffle ${big._2 / 1048576.0}%9.1f MB" +
        f" / ${big._3}%d rows")
      rows += ((q.name, base, big))
    }
    def shuf(t: (Double, Long, Long)) =
      s""","shuffle_mb":${Bench.jnum(t._2 / 1048576.0)},"shuffle_rows":${t._3}"""
    val json = "{\"metric\":\"scaleprobe\",\"k\":" + k + ",\"reps\":" + reps +
      ",\"stat\":\"median\",\"canary_sec\":" + Bench.jnum(canary) + envFields +
      ",\"queries\":{" +
      rows.map { case (n, b, g) =>
        s""""$n":{"base":${Bench.jnum(b._1)},"scaled":${Bench.jnum(g._1)},""" +
          s""""base_shuffle":{${shuf(b).drop(1)}},"scaled_shuffle":{${shuf(g).drop(1)}}}""" }
        .mkString(",") + "}}"
    Bench.writeArtifact("SPARK_GRAFT_SCALEPROBE_OUT", "scaleprobe_out.json", json)
    println(json)
    spark.stop()
  }
}
