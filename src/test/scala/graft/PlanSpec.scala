package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit: the 100 TB scale properties the operators are
  * designed around, asserted as regression tests over the FINAL (post-AQE)
  * plans at sf0.001. A query that silently degenerates to a cartesian
  * product, loses its filter pushdown, or swaps a pinned co-partitioned
  * join for a broadcast of the big side fails here before it ever reaches
  * a benchmark. */
class PlanSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("8").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  /** Run `f` with the SQL plan-string renderer bounded to 64 KiB.
    *
    * Spark renders a fresh physicalPlanDescription for the listener bus
    * at execution start AND on every AQE stage re-optimization — for the
    * COMPOSED p04/p05 plans (15 MB / 99k lines, hundreds of AQE stages)
    * those per-stage re-renders went quadratic and dominated this suite's
    * wall (>10 min measured for PlanSpec alone, nearly all inside
    * TreeNode.generateTreeString; r17 optimization round). Nothing reads
    * those event strings here (UI disabled), so bound them DURING
    * execution only; every plan-string assertion renders AFTER the bound
    * is restored, against the full untruncated string — a truncated
    * string could hide the very node an absence pin looks for. */
  private def boundedRender[A](f: => A): A = {
    val key = "spark.sql.maxPlanStringLength"
    // note (r17 ADVICE): RuntimeConfig.getOption returns the REGISTERED
    // DEFAULT for this key even when never set, so the None branch below
    // is effectively dead — restore just re-sets the default explicitly,
    // which is behaviorally identical
    val old = spark.conf.getOption(key)
    spark.conf.set(key, (64 * 1024).toString)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Execute and render the final adaptive plan. The action must run
    * through THIS QueryExecution (collect, not a sink write — a write
    * spawns its own QueryExecution and leaves this one un-executed, so
    * AQE would render the initial isFinalPlan=false plan and AQE-time
    * join-strategy regressions would go unseen). */
  private def finalPlan(name: String): String = {
    val df = Queries.byName(name).run(spark, sf)
    boundedRender(df.collect())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("isFinalPlan=false"), s"$name plan not final post-AQE")
    p
  }

  private lazy val headlinePlans: Map[String, String] =
    Queries.all.filter(_.headline).map(q => q.name -> finalPlan(q.name)).toMap

  test("no headline query plans a cartesian product") {
    for ((name, p) <- headlinePlans)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
  }

  test("nested-loop joins appear only where intended") {
    // q17: 1-row bounds frame broadcast-crossed into the scan (by design);
    // a01: brute-force baseline broadcasting the small query side.
    // d04/a02 are the PRODUCTION chunk/bucket joins since r7 (the
    // BNLJ-bearing audits moved to the non-headline d04a/a02a entries).
    val got = headlinePlans.filter(_._2.contains("BroadcastNestedLoopJoin")).keySet
    assert(got == Set("q17_timeseries", "a01_ann_bruteforce"), s"unexpected: $got")
  }

  test("no headline join falls back to sort-merge") {
    // every headline join is either a broadcast (small build side) or the
    // pinned co-partitioned shuffle-hash self-join — a sort-merge means a
    // hint or a size estimate regressed
    for ((name, p) <- headlinePlans)
      assert(!p.contains("SortMergeJoin"), s"$name plans a sort-merge join")
  }

  test("q02 filter and projection reach the parquet scan") {
    val p = headlinePlans("q02_filter_project")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      "q02's filter is not pushed into the scan")
    // column pruning: the scan must not read all 16 lineitem columns
    val cols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1).split(",").length).getOrElse(99)
    assert(cols <= 8, s"q02 scan reads $cols columns")
  }

  test("d02's bucket self-join stays co-partitioned (shuffle-hash)") {
    assert(headlinePlans("d02_minhash_lsh").contains("ShuffledHashJoin"),
      "the LSH bucket self-join lost its shuffle_hash pin")
  }

  test("d04/a02 production chunk/bucket self-joins stay shuffle-hash") {
    assert(headlinePlans("d04_simhash").contains("ShuffledHashJoin"),
      "the simhash chunk self-join lost its shuffle_hash pin")
    assert(headlinePlans("a02_ann_lsh").contains("ShuffledHashJoin"),
      "the LSH bucket self-join lost its shuffle_hash pin")
  }

  test("d07 semantic dedup: within-cell self-join stays shuffle-hash, no cartesian") {
    val p = finalPlan("d07_semantic_dedup")
    assert(p.contains("ShuffledHashJoin"),
      "the within-cell self-join lost its shuffle_hash pin")
    assert(!p.contains("CartesianProduct"), "d07 plans a cartesian product")
    assert(!p.contains("SortMergeJoin"), "d07 fell back to sort-merge")
  }

  test("d08 shared spans: partial-agg span counts, no window, explode cached once") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{CartesianProductExec, SortMergeJoinExec}
    // walk the EXECUTING tree (through AQE stages, NOT into cached plans —
    // an InMemoryTableScan's subtree does not re-execute); string matching
    // would mis-count here because the cached relation nests its own
    // AdaptiveSparkPlan printout
    def flatten(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => plan.children.flatMap(flatten)
    })
    val df = Queries.byName("d08_shared_spans").run(spark, sf)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    // the r7 Window.partitionBy(g) could not partial-aggregate (one hot
    // boilerplate span = one hot task); the r8 shape is hash aggs that
    // combine map-side, with no window and no join on the span key
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "d08 regressed to the per-span window")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]) &&
      !nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "d08 planned a cartesian or sort-merge join")
    assert(nodes.exists(n => n.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.HashAggregateExec] &&
        n.toString.contains("partial_count")),
      "d08 span counts lost their map-side partial aggregation")
    // both aggregations must read the PERSISTED explode, not re-expand it
    assert(nodes.count(_.isInstanceOf[InMemoryTableScanExec]) >= 2,
      "the exploded span frame should be cached and read by both aggs")
    assert(!nodes.exists(_.isInstanceOf[GenerateExec]),
      "the shingle explode re-evaluated outside the cache")
    spark.catalog.clearCache()
  }

  test("map-only encodings plan no exchange beyond the input spread") {
    // a06 (random projection), a07 (int8 quantization), a08 (PQ codes),
    // m04 (aHash) are all pure map passes over broadcast-literal state:
    // exactly ONE round-robin repartition of the input, no join, and no
    // aggregation exchange (the orderBy range exchange is presentation)
    for (name <- Seq("a06_random_projection", "a07_quantize_int8",
        "a08_pq_codes", "m04_image_ahash")) {
      // AdaptiveSparkPlan's toString prints BOTH the final and the
      // initial plan — count exchanges in the final section only
      val p = finalPlan(name).split("== Initial Plan ==")(0)
      assert(!p.contains("Join"), s"$name should not join")
      val shuffles = "Exchange (hashpartitioning|RoundRobinPartitioning)".r
        .findAllIn(p).size
      assert(shuffles <= 1, s"$name plans $shuffles data shuffles (want ≤ 1)")
    }
  }

  test("t09 decontamination broadcasts the probe set, never shuffles content") {
    val p = finalPlan("t09_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "probe join must broadcast")
    assert(!p.contains("SortMergeJoin"), "t09 fell back to sort-merge")
    // the hits join-back is corpus-derived (unbounded) — it must be the
    // narrow id-key shuffle join, NOT a broadcast; the span-content join
    // against the probe set is the only broadcast
    val fin = p.split("== Initial Plan ==")(0)
    assert(!"(ShuffledHashJoin|SortMergeJoin) \\[g".r
      .findFirstIn(fin).isDefined, "the corpus must not shuffle on span content")
    assert("ShuffledHashJoin \\[id".r.findFirstIn(fin).isDefined,
      "the hits join-back must be the id-key shuffle join (hits is unbounded)")
  }

  test("t10 packing windows are bucket-partitioned except the tiny base scan") {
    val p = finalPlan("t10_pack_sequences")
    // the per-row window must carry a partition spec (bucket); the only
    // unpartitioned window runs over the #buckets totals frame
    assert(p.contains("Window"), "t10 lost its window prefix")
    assert(p.contains("BroadcastHashJoin"), "bucket bases must broadcast")
  }

  test("p01 curation pipeline composes without cartesians or sort-merge joins") {
    val p = finalPlan("p01_curation").split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), "p01 plans a cartesian product")
    assert(!p.contains("SortMergeJoin"), "p01 fell back to sort-merge")
  }

  test("ANN plan construction triggers zero Spark jobs (vecDim from metadata)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    val embs = Tables.embeddings(spark, sf) // warms the per-path width memo
    // seedCentroids intentionally collects (driver-side literals) — fetch
    // before arming the listener; plan CONSTRUCTION itself must be job-free
    val cents = Similarity.seedCentroids(embs, "vec_id", "embedding", 4)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.lshNeighbors(embs, "vec_id", "embedding")
      Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 4),
        "vec_id", "embedding", k = 3)
      Similarity.randomProject(embs, "vec_id", "embedding", dimOut = 8)
      graft.ops.Dedup.semanticDedup(embs, "vec_id", "embedding", cents, 0.4)
      Thread.sleep(2000) // listener bus delivery is asynchronous
      assert(jobs.get() == 0,
        s"building ANN plans ran ${jobs.get()} Spark job(s) — vecDim probed eagerly")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("d09/p02 cross-corpus plans: no cartesian, no sort-merge, bucket join pinned") {
    for (name <- Seq("d09_cross_corpus_neardup", "p02_contamination_report")) {
      val p = finalPlan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      assert(!p.contains("SortMergeJoin"), s"$name fell back to sort-merge")
      assert(p.contains("ShuffledHashJoin"),
        s"$name lost its pinned co-partitioned join")
    }
  }

  test("no registered query plans a cartesian product (full board, plan-only)") {
    // planning only — no execution, so this covers all 100+ queries in
    // seconds. The allowlist is exactly the LABELED O(n²) verification
    // oracles whose scaladoc says "brute force / audit only".
    val quadraticOracles = Set("d03_jaccard_pairs", "d05_embedding_neardup",
      "d02a_minhash_audit", "d04a_simhash_audit", "a02a_lsh_audit",
      "d06_dedup_clusters") // d06's oracled entry feeds on d03's exact pairs
    for (q <- Queries.all) {
      val df = q.run(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      if (!quadraticOracles(q.name))
        assert(!p.contains("CartesianProduct"),
          s"${q.name} plans a cartesian product")
    }
  }

  test("q04's dimension joins broadcast the small side") {
    assert(headlinePlans("q04_subquery_join").contains("BroadcastHashJoin"))
  }

  test("q18 tail compiles to a top-n heap, not a full sort") {
    val df = Queries.byName("q18_tail").run(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "tail should be a bounded top-n")
  }

  test("input spread is conditional: local scans repartition, lake-scale scans don't") {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sf)
    // a 1:1 view of a file scan exposes its byte size; a join does not
    val bytes = Dedup.leafScanBytes(docs.select("doc_id", "text"))
    assert(bytes.exists(_ > 0))
    assert(Dedup.leafScanBytes(docs.as("x").join(docs.as("y"), "doc_id")).isEmpty)
    // tiny local file → fewer scan splits than cores → the spread fires
    val spread = Dedup.spreadInput(docs, 8)
    assert(spread.queryExecution.analyzed.toString.contains("Repartition"),
      "local single-file input must still be spread")
    // simulate a lake-scale scan: shrink maxPartitionBytes until the scan
    // alone yields ≥ p splits — the raw-bytes round-robin must disappear
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, (bytes.get / 16).max(1L).toString)
      val noSpread = Dedup.spreadInput(docs, 8)
      assert(!noSpread.queryExecution.analyzed.toString.contains("Repartition"),
        "a scan with enough splits must not re-shuffle the raw input")
      // a NON-splittable row format is bounded by its FILE count, not its
      // byte count — one big json/gz file still plans one task, so the
      // spread must fire however small maxPartitionBytes is
      val dir = java.nio.file.Files.createTempDirectory("graft_json").toFile
      dir.deleteOnExit()
      docs.select("doc_id", "text").limit(50).coalesce(1)
        .write.mode("overwrite").json("file:" + dir.getPath)
      val json = spark.read.json("file:" + dir.getPath)
      assert(Dedup.spreadInput(json, 8)
        .queryExecution.analyzed.toString.contains("Repartition"),
        "single-file row-format input must be spread whatever its bytes")
    } finally spark.conf.set(key, old)
  }

  test("operator fan-out honors spark.graft.fanout, floored at cores (GraftPar)") {
    // explicit repartitions pin their stage's partitioning — conf can't
    // widen them afterwards, so par() must track a data-scaled knob (the
    // r12 ×1000 probe OOM'd at core-count width). The knob is DEDICATED:
    // borrowing spark.sql.shuffle.partitions would inflate every spread
    // to Spark's out-of-box default 200 in sessions that never set it.
    val docs = Tables.documents(spark, sf)
    val key = graft.ops.GraftPar.Key
    val cores = spark.sparkContext.defaultParallelism
    try {
      assert(graft.ops.GraftPar.of(docs) == cores,
        "unset knob must leave the fan-out at cores")
      spark.conf.set(key, "1")
      assert(graft.ops.GraftPar.of(docs) == cores,
        "a narrower knob must not shrink the fan-out below cores")
      spark.conf.set(key, (cores * 8).toString)
      assert(graft.ops.GraftPar.of(docs) == cores * 8,
        "a data-scaled fanout must widen the pinned repartitions")
    } finally spark.conf.unset(key)
  }

  test("t17 DSIR: raw-corpus shingle explode runs once; distributions broadcast") {
    val p = finalPlan("t17_dsir_weights").split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin"), "t17 fell back to sort-merge")
    // the raw distribution must aggregate FROM the per-doc (id, b) frame
    // (one corpus-wide explode + a reused exchange), not re-explode the
    // corpus; the doc-side generate plus the reuse marker pin that shape
    assert(p.contains("ReusedExchange"),
      "t17 lost the per-doc aggregation exchange reuse (raw corpus would explode twice)")
    assert(p.contains("BroadcastHashJoin"),
      "t17's log-ratio table must broadcast")
  }

  test("a10 diversity sample: per-cell rank gets the map-side group limit") {
    val p = finalPlan("a10_cell_diverse_sample").split("== Initial Plan ==")(0)
    // rank <= k over a cell-partitioned window: Spark's WindowGroupLimit
    // must prune to k rows per cell per MAP partition BEFORE the shuffle —
    // the property that keeps a degenerate hot cell (every vector in one
    // cell) from funnelling the corpus through one window partition
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "a10 lost the partial (map-side) window group limit")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("d12 passage removal: one span exchange feeds stats agg AND probe join (r15)") {
    val p = finalPlan("d12_remove_passages").split("== Initial Plan ==")(0)
    // the pinned md5-span-key repartition must be REUSED by the
    // owner-stats aggregate and the occurrence probe join — without the
    // reuse the per-occurrence (token-count-sized) explode+hash pipeline
    // executes twice (the d11/t17 lesson, applied at design time)
    assert(p.contains("ReusedExchange"),
      "d12 lost the shared span-key exchange (occurrence pipeline would run twice)")
    assert(!p.contains("CartesianProduct"))
  }

  test("d13 incremental near-dup: co-partitioned ledger probe, no cartesian") {
    // the OPERATOR's plan, not the registered query's (the QueryDef
    // returns an eager localCheckpoint — a Scan ExistingRDD — so the join
    // pipeline is only visible here); outer-plan finality is asserted on
    // the first line because the persisted candidate frame renders a
    // cached subplan that keeps isFinalPlan=false in toString
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val archive = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    val df = graft.ops.Dedup.incrementalMinhashDedup(
      graft.ops.Dedup.minhashLedger(archive, "doc_id", "text"),
      archive, delta, "doc_id", "text", threshold = 0.5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("\n").head.contains("isFinalPlan=true"),
      "outer d13 plan not final post-AQE")
    assert(p.contains("ShuffledHashJoin"),
      "d13's ledger-probe join lost its shuffle_hash pin")
    assert(!p.contains("CartesianProduct"))
    spark.catalog.clearCache() // release the candidate-frame persist
  }

  test("p04 incremental batch: composed ledgers keep exchange reuse, no cartesian (r16)") {
    // the COMPOSED plan (d11 → d13 → d12 over survivors) is where
    // exchange-reuse regressions hide: each stage's pin holds in
    // isolation, but an extra column or re-projection introduced by the
    // composition can split d11's single fp exchange or d12's span-key
    // exchange into two executions of the expensive map pipeline
    val df = PipelineQueries.incrementalBatchPlan(spark, sf)
    boundedRender(df.collect())
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("\n").head.contains("isFinalPlan=true"),
      "outer p04 plan not final post-AQE")
    assert(p.contains("ReusedExchange"),
      "p04 lost exchange reuse (a per-doc map pipeline now runs twice)")
    assert(p.contains("ShuffledHashJoin"),
      "p04's ledger-probe joins lost their shuffle_hash pins")
    assert(!p.contains("CartesianProduct"))
    spark.catalog.clearCache() // release the candidate-frame persist
  }

  test("p04/p05 stage-cut variant returns exactly the composed plan's rows (r17 opt)") {
    // the registered queries materialize each pipeline stage through a
    // scope-tracked persist cut (truncates the composed lineage that
    // shipped 11–25 MiB task binaries, released with the scope); the cut
    // is a pure materialization hook, so the staged output must be
    // row-identical to the one-plan composition these pins certify
    val composed = boundedRender(
      PipelineQueries.incrementalBatchPlan(spark, sf).collect().toSeq)
    val scope4 = graft.ops.CacheScope()
    val staged =
      try boundedRender(PipelineQueries.incrementalBatchPlan(spark, sf,
        scope4, cut = scope4.checkpoint).collect().toSeq)
      finally scope4.release()
    assert(staged == composed, "p04 stage cut changed the output")
    val scope5a = graft.ops.CacheScope()
    val composed5 =
      try boundedRender(
        PipelineQueries.fullIngestPlan(spark, sf, scope5a).collect().toSeq)
      finally scope5a.release()
    val scope5b = graft.ops.CacheScope()
    val staged5 =
      try boundedRender(PipelineQueries.fullIngestPlan(spark, sf, scope5b,
        cut = scope5b.checkpoint).collect().toSeq)
      finally scope5b.release()
    assert(staged5 == composed5, "p05 stage cut changed the output")
    spark.catalog.clearCache()
  }

  test("p05 full ingest batch: composed guard stages keep reuse + broadcasts, no cartesian (r17)") {
    // p04's contract extended over the two new stages: the embedding
    // guard must keep its centroid frame and blocked-probe broadcasts,
    // span decontamination its broadcast probe-gram set, and the
    // composition must not split d11's fp exchange into two executions
    // or degenerate any survivor semi-join into a cartesian
    val scope = graft.ops.CacheScope()
    try {
      val df = PipelineQueries.fullIngestPlan(spark, sf, scope)
      boundedRender(df.collect())
      val p = df.queryExecution.executedPlan.toString
      assert(p.split("\n").head.contains("isFinalPlan=true"),
        "outer p05 plan not final post-AQE")
      assert(p.contains("ReusedExchange"),
        "p05 lost exchange reuse (a per-doc map pipeline now runs twice)")
      assert(p.contains("ShuffledHashJoin"),
        "p05's ledger-probe joins lost their shuffle_hash pins")
      assert(p.contains("BroadcastHashJoin"),
        "p05's centroid/probe-gram frames lost their broadcasts")
      assert(!p.contains("CartesianProduct"))
    } finally scope.release()
  }

  test("a11 IVF-PQ: probe cells, ADC LUT and refine shortlist all broadcast (r15)") {
    val p = finalPlan("a11_ivf_pq")
    // the corpus must never be shuffled by a JOIN key: probe-cell
    // restriction, LUT scoring and the exact-refine probe are all
    // broadcast hash joins (the only corpus exchange is the (qid, id)
    // ADC aggregation over nprobe/nlist of the code rows)
    assert(p.contains("BroadcastHashJoin"),
      "a11 lost its broadcast joins (corpus would shuffle on a join key)")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "a11 planned a corpus-wide join shuffle")
  }

  test("a11b trained IVF-PQ: frame assignment and search stay broadcast-joined (r16)") {
    // the OPERATOR's plan (the QueryDef returns an eager localCheckpoint);
    // the trained path must keep a11's contract — centroid frame, probe
    // cells, LUT and shortlist all broadcast, the corpus never shuffled
    // by a join key (its only exchanges: the assignment's id-keyed argmax
    // agg and the (qid, id) ADC agg)
    import org.apache.spark.sql.functions.col
    val embs = Tables.embeddings(spark, sf)
    val cents = graft.ops.KMeans.trainCentroids(
      embs, "vec_id", "embedding", nlist = 16, iters = 1)
    val books = graft.ops.KMeans.trainPqCodebooks(
      embs, "vec_id", "embedding", subs = 8, codes = 16, iters = 1)
    val df = graft.ops.Similarity.ivfPqTopKTrained(embs,
      embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      cents, nlist = 16, books, subs = 8, codes = 16,
      nprobe = 4, rerank = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("\n").head.contains("isFinalPlan=true"),
      "outer a11b plan not final post-AQE")
    assert(p.contains("BroadcastHashJoin"),
      "a11b lost its broadcast joins (corpus would shuffle on a join key)")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "a11b planned a corpus-wide join shuffle")
    spark.catalog.clearCache() // release the assignment persist
  }

  test("t19 span decontamination: probe grams broadcast, corpus never content-shuffled (r15)") {
    val p = finalPlan("t19_decontaminate_spans")
    // the benchmark gram set is the broadcast side of the only
    // content-keyed join — unlike d12, NO corpus-wide gram exchange
    // exists (contamination side is the benchmark, not the corpus)
    assert(p.contains("BroadcastHashJoin"),
      "t19's probe-gram join must broadcast the benchmark side")
    // the excisePositions joins are shuffle_hash-hinted, so ANY sort-merge
    // here means the corpus got shuffled on the gram key (a lost broadcast
    // with the exchange landing corpus-side would still satisfy the two
    // asserts above)
    assert(!p.contains("SortMergeJoin"),
      "t19 shuffled the corpus on a content key (sort-merge appeared)")
    assert(!p.contains("CartesianProduct"))
  }

  test("d10 semantic contamination: co-partitioned cell join, no cartesian") {
    val p = finalPlan("d10_semantic_contamination")
    assert(p.contains("ShuffledHashJoin"),
      "d10's cross-cell join lost its shuffle_hash pin")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  /** The running-mode RaQL programs the two pins below audit. */
  private val runningPrograms = Seq("r04_raql_lag_changed",
    "r05_raql_running_aggs", "r06_raql_moveavg_latest",
    "r10_raql_hysteresis_holt", "r11_raql_tumbling_commit",
    "r14_raql_holt_winters", "r17_raql_running_group")

  test("running-mode queries leave no partition-less WindowExec (r12 verdict task 3)") {
    // Every global running construct (prefix aggregates, lag/changed/
    // derive, feedback reads, count-commit row numbering) is two-pass
    // chunk-distributed; windows that REMAIN single-group are the bounded
    // per-chunk carry frames, which declare Windows.oneGroup partition
    // keys. A partition-less WindowExec here means a data-sized funnel
    // crept back in. The pin needs a MULTI-partition input: the sf0.001
    // events file plans one FilePartition, and over one partition the
    // compile keeps the single window (one task by construction — the
    // sibling pin below), so split the scan.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // AQE wraps finished stages in LEAF QueryStageExec nodes and persist
    // in InMemoryTableScanExec — plain .children stops there, which made
    // the first version of this walker pass vacuously while WindowExec
    // still logged funnel warnings underneath
    def windows(plan: SparkPlan): Seq[WindowExec] = {
      val here = plan match {
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
        case s: InMemoryTableScanExec =>
          windows(s.relation.cachedPlan)
        case w: WindowExec => Seq(w)
        case _ => Nil
      }
      here ++ plan.children.flatMap(windows) ++
        plan.subqueries.flatMap(windows)
    }
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    val bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    spark.conf.set(key, (bytes / 4).max(1L).toString)
    try {
      val events = Tables.events(spark, sf)
      assert(events.rdd.getNumPartitions >= 2, "events must span partitions")
      assert(!graft.raql.RaqlCompiler.singlePartition(events))
      for (name <- runningPrograms) {
        val df = Queries.byName(name).run(spark, sf)
        df.collect()
        val bad = windows(df.queryExecution.executedPlan)
          .filter(_.partitionSpec.isEmpty)
        assert(bad.isEmpty,
          s"$name has ${bad.size} partition-less WindowExec node(s):\n" +
            bad.map(_.simpleStringWithNodeId()).mkString("\n"))
      }
    } finally spark.conf.set(key, old)
  }

  test("running-mode queries over a single-partition input carry no chunk column and persist nothing") {
    // one partition is one chunk: every carry would be empty, so the
    // compile must take the one-window plan — no _graft_chunk column, no
    // persisted chunk base, no broadcast carry join
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    assert(graft.raql.RaqlCompiler.singlePartition(Tables.events(spark, sf)),
      "the sf0.001 events scan plans one FilePartition")
    for (name <- runningPrograms) {
      val df = Queries.byName(name).run(spark, sf)
      val carry = df.queryExecution.optimizedPlan.find(p =>
        p.isInstanceOf[InMemoryRelation] ||
          p.output.exists(_.name == "_graft_chunk"))
      assert(carry.isEmpty, s"$name still carries chunks: $carry")
    }
  }
}
