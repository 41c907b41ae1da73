package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.ops.{Dedup, Similarity}

class DedupSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("minhash LSH recall vs exact jaccard pairs on documents") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairsBruteForce(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
    val found = Dedup.verifyJaccard(cands, docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    assert(found.subsetOf(exact), "verified candidates must be true pairs")
    val recall = found.size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (${found.size}/${exact.size})")
  }

  test("simhash pairs are near-dups by jaccard too") {
    val docs = Tables.documents(spark, sf)
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // simhash(hamming ≤ 3) and jaccard ≥ 0.2 are different similarity
    // notions; require substantial but not total agreement
    val exact = Dedup.jaccardPairsBruteForce(docs, "doc_id", "text", threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sim.nonEmpty, "expected some simhash near-dup pairs")
    val precision = sim.count(exact.contains).toDouble / sim.size
    assert(precision >= 0.6, s"simhash precision $precision too low")
  }

  test("simhash of identical token multisets is identical; hamming is small for near-identical") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog"),
      ("b", "the quick brown fox jumps over the lazy dog"),
      ("c", "the quick brown fox leaps over the lazy dog"),
      ("d", "completely different words entirely unrelated content here")
    ).toDF("id", "text")
    val fps = df.select(col("id"), simhash64(tokens(col("text"))).as("fp"))
      .as[(String, Long)].collect().toMap
    assert(fps("a") == fps("b"))
    assert(java.lang.Long.bitCount(fps("a") ^ fps("c")) <= 16)
    assert(java.lang.Long.bitCount(fps("a") ^ fps("d")) >
      java.lang.Long.bitCount(fps("a") ^ fps("c")))
  }

  test("langId classifies real sentences") {
    val df = Seq(
      ("en", "the cat is on the roof and it is happy with the sun"),
      ("es", "el gato de la casa que est en los tejados por la noche"),
      ("de", "der hund und die katze sind mit den kindern zu hause"),
      ("fr", "le chien et les enfants sont dans le jardin de la maison")
    ).toDF("expected", "text")
    val got = df.select(col("expected"), langId(tokens(col("text"))).as("pred"))
      .as[(String, String)].collect()
    got.foreach { case (exp, pred) => assert(exp == pred, s"expected $exp got $pred") }
  }

  test("ANN LSH candidates have decent recall of top cosine pairs") {
    val embs = Tables.embeddings(spark, sf)
    val exact = Dedup.embeddingNearDup(embs, "vec_id", "embedding", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshNeighbors(embs, "vec_id", "embedding",
      bands = 12, r = 4, minCos = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact) || lsh.forall(exact.contains),
      "LSH results must verify against exact cosine")
    if (exact.nonEmpty) {
      val recall = lsh.count(exact.contains).toDouble / exact.size
      assert(recall >= 0.5, s"ANN LSH recall $recall too low")
    }
  }

  test("IVF ANN recall vs brute-force top-k") {
    val embs = Tables.embeddings(spark, sf)
    val queries = embs.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // synthetic embeddings are uniform random — the hardest case for IVF
    // (no cluster structure, cosines concentrate near 0) — so the probe
    // budget here is half the cells; clustered real data needs far fewer
    val ivf = Similarity.ivfTopK(embs, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low (nprobe 8/16 cells)")
    // probing every cell must recover the exact answer
    val full = Similarity.ivfTopK(embs, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact, "nprobe = nlist must equal brute force")
  }

  test("hot LSH buckets triangle-split without changing the candidate set") {
    // 300 identical docs ⇒ every band's bucket holds all 300 — the
    // boilerplate worst case that melts an uncapped bucket self-join
    val docs = ((1L to 300L).map(i =>
      (i, "exact same boilerplate text everywhere repeated always")) :+
      ((1000L, "something entirely different over here right now")))
      .toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minhashCandidates(docs, "doc_id", "text",
        bucketCap = cap)
      .as[(Long, Long)].collect().toSet
    val capped = run(16) // forces ⌈300/16⌉ = 19 blocks per hot bucket
    assert(capped == run(Int.MaxValue),
      "bucket blocking must not change the candidate set")
    assert(capped.size == 300 * 299 / 2, s"got ${capped.size} pairs")
  }

  test("leafRowBound: parquet footers bound scans; expansions are unbounded") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    assert(Dedup.leafRowBound(docs).contains(n))
    // projections/filters keep (or tighten) the bound
    assert(Dedup.leafRowBound(
      docs.select("doc_id", "text").filter(col("doc_id") > 10)).contains(n))
    // explode can multiply rows — no metadata bound
    assert(Dedup.leafRowBound(
      docs.select(explode(split(col("text"), " ")))).isEmpty)
    // joins too
    assert(Dedup.leafRowBound(docs.as("a").crossJoin(docs.as("b"))).isEmpty)
    // local relations are bounded by their literal size
    assert(Dedup.leafRowBound(Seq((1L, "x"), (2L, "y")).toDF("id", "t"))
      .contains(2L))
  }

  test("exactRowCount: row-preserving views only; sizingCount tracks a filtered corpus") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    // row-preserving lineage: footer count, zero jobs
    assert(Dedup.exactRowCount(docs).contains(n))
    assert(Dedup.exactRowCount(
      docs.select("doc_id", "text").orderBy("doc_id").repartition(4)).contains(n))
    // row-REDUCING nodes are NOT exact — must refuse (leafRowBound keeps them)
    val filtered = docs.filter(col("doc_id") % 100 === 0)
    assert(Dedup.exactRowCount(filtered).isEmpty)
    assert(Dedup.leafRowBound(filtered).contains(n))
    assert(Dedup.exactRowCount(docs.limit(3)).isEmpty)
    assert(Dedup.exactRowCount(docs.sample(withReplacement = false, 0.1, 7)).isEmpty)
    // the sizing path must therefore see the FILTERED count, not the
    // leaf-file bound: a 0.1 % selection of a big corpus would otherwise
    // derive an r/nlist sized for the full table (sparse buckets, recall
    // collapse)
    assert(Similarity.sizingCount(filtered) == filtered.count())
    assert(Similarity.sizingCount(docs) == n)
  }

  test("leafRowBound: ORC-backed frames bound from ORC footers") {
    val d = java.nio.file.Files.createTempDirectory("graft_orc_bound").toFile
    d.deleteOnExit()
    val dir = d.getPath
    val docs = Tables.documents(spark, sf).limit(37)
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    val n = back.count()
    // first call reads footers, second hits the memo cache — both
    // must agree with the actual count
    assert(Dedup.leafRowBound(back).contains(n))
    assert(Dedup.leafRowBound(back.filter(col("doc_id") >= 0))
      .contains(n))
  }

  test("a proven group bound skips hot-bucket detection without changing pairs") {
    // bound ≤ cap ⇒ blockKeyed's constant-key fast path: no sampled
    // detection aggregate (no xxhash64 in the plan), degenerate (0,0)
    // block keys, and — trivially — the same pair set
    val df = (1L to 50L).map(i => (i, i % 5)).toDF("id", "g")
    val skipped = Dedup.blockKeyed(df, Seq("g"), 4, cap = 64,
      maxGroupBound = Some(50L))
    // assert on the ANALYZED plan: the optimizer may constant-fold a tiny
    // local input's whole detection subtree into a LocalTableScan
    assert(!skipped.queryExecution.analyzed.toString.contains("xxhash64"),
      "fast path must not run the sampled detection pass")
    assert(skipped.select("kx", "ky").distinct().collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1))) == Seq((0, 0)))
    val detected = Dedup.blockKeyed(df, Seq("g"), 4, cap = 64,
      maxGroupBound = None)
    assert(detected.queryExecution.analyzed.toString.contains("xxhash64"),
      "without a bound the sampled detection pass must run")
    // both paths carry every row exactly once (balanced groups, nb = 1)
    assert(skipped.select("id").as[Long].collect().sorted.toSeq ==
      detected.select("id").as[Long].collect().sorted.toSeq)
    // bound a bit over the cap (⌈b/cap⌉ ≤ 4): static uniform nb, still
    // no detection pass, every row replicated to its nb triangle keys
    val static2 = Dedup.blockKeyed(df, Seq("g"), 4, cap = 30,
      maxGroupBound = Some(50L)) // nb* = 2
    assert(!static2.queryExecution.analyzed.toString.contains("xxhash64"),
      "static path must not run the sampled detection pass")
    assert(static2.count() == 2 * 50, "each row on its 2 triangle keys")
    assert(static2.select("kx", "ky").distinct().count() == 3) // (0,0)(0,1)(1,1)
  }

  test("static-nb blocking keeps the LSH candidate set exact") {
    // parquet-backed docs whose footer bound exceeds the cap but stays
    // within StaticNbMax blocks: minhashCandidates takes the static path
    // (no detection aggregate) and must produce the identical pair set
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val cap = (n / 2 + 1).toInt // nb* = 2
    val static = Dedup.minhashCandidates(docs, "doc_id", "text",
      bucketCap = cap)
    // marker: the detection pass aggregates a sampled count into `_est`
    // (xxhash64 can't be the marker — the LSH bucket hash uses it too)
    assert(!static.queryExecution.analyzed.toString.contains("_est"))
    val full = Dedup.minhashCandidates(docs, "doc_id", "text",
      bucketCap = Int.MaxValue)
    assert(static.as[(Long, Long)].collect().toSet ==
      full.as[(Long, Long)].collect().toSet)
  }

  test("cross-corpus rectangle blocking is exact under a hot shared bucket") {
    // the same boilerplate text dominates BOTH corpora: one (band, bucket)
    // holds 200 train × 150 probe rows — the quadratic rectangle the
    // unblocked cross join would run in a single task
    val boiler = "exact same boilerplate text everywhere repeated always"
    val train = ((1L to 200L).map(i => (i, boiler)) :+
      ((901L, "unique training document about something else entirely")))
      .toDF("doc_id", "text")
    val probe = ((1001L to 1150L).map(i => (i, boiler)) :+
      ((1901L, "unique probe document with no training counterpart here")))
      .toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minhashCandidatesCross(train, probe,
        "doc_id", "text", bucketCap = cap)
      .as[(Long, Long)].collect().toSet
    val capped = run(16) // 200/16 = 13 A-blocks × 150/16 = 10 B-blocks
    assert(capped == run(Int.MaxValue),
      "rectangle blocking must not change the cross-candidate set")
    assert(capped.size == 200 * 150, s"got ${capped.size} pairs")
  }

  test("hot simhash chunk-values triangle-split without changing the pair set") {
    // identical fingerprints put all 300 ids in the same 4 chunk groups
    val fps = ((1L to 300L).map(i => (i, 0x0123456789abcdL)) :+
      ((999L, 0x7edcba987654321L))).toDF("id", "fp")
    def run(cap: Int) = Dedup.simhashPairsOfFps(fps, maxHamming = 3,
        bucketCap = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = run(16)
    assert(capped == run(Int.MaxValue),
      "chunk blocking must not change the pair set")
    assert(capped.size == 300 * 299 / 2, s"got ${capped.size} pairs")
  }

  test("autoSimhashCombo: m scales with corpus size; floors pin verify/bench/x100") {
    import Dedup.autoSimhashCombo
    // every verify/bench SF and the x10/x100 probe corpora stay on the
    // registered 4x16-bit chunking (m = 1)
    for (n <- Seq(0L, 500L, 5000L, 50000L, 500000L))
      assert(autoSimhashCombo(n) == 1, s"autoSimhashCombo($n)")
    // the x1000/x10000 decades take 24-bit combination keys (m = 2): the
    // fixed 16-bit bucket population grows with n, so pair work there
    // went quadratic (the x10000 probe's measured wall)
    assert(autoSimhashCombo(600000L) == 2)
    assert(autoSimhashCombo(5000000L) == 2)
    assert(autoSimhashCombo(55000000L) == 2)
    // cap: 30-bit keys (m = 3); blocking carries anything past that
    assert(autoSimhashCombo(1000000000000L) == 3)
    // other hamming budgets shift the chunk widths but keep the policy
    assert(autoSimhashCombo(500L, maxHamming = 7) == 1) // 8x8-bit chunks
    assert(autoSimhashCombo(5000000L, maxHamming = 7) == 3)
  }

  test("pigeonhole combination join: every comboSize yields the same exact pair set") {
    val docs = Tables.documents(spark, sf)
    val fps = Dedup.simhashFps(docs, "doc_id", "text")
    def pairs(m: Int) = Dedup.simhashPairsOfFps(fps, maxHamming = 3,
        comboSize = m)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
      .as[(Long, Long, Long)].collect()
    val viaM1 = pairs(1)
    assert(viaM1.length == viaM1.toSet.size, "m=1 emitted duplicate pairs")
    assert(viaM1.nonEmpty)
    for (m <- Seq(2, 3)) {
      val viaM = pairs(m)
      assert(viaM.length == viaM.toSet.size, s"m=$m emitted duplicate pairs")
      assert(viaM.toSet == viaM1.toSet,
        s"comboSize $m pair set differs from the 16-bit chunking's")
    }
  }

  test("verifyJaccard restrictToCandidates mode is value-identical") {
    // the sparse-corpus variant (persisted pairs + candidate semi-join)
    // must produce exactly the dense-default's verified pairs
    val docs = Tables.documents(spark, sf)
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
    def run(restrict: Boolean) =
      Dedup.verifyJaccard(cands, docs, "doc_id", "text",
          restrictToCandidates = restrict)
        .filter(col("jaccard") >= 0.5)
        .as[(Long, Long, Double)].collect().toSet
    assert(run(true) == run(false))
    spark.catalog.clearCache()
  }

  test("minhashCandidates emits exactly the banded-LSH pair set, each pair once") {
    // test-local reference from the public signature kernels: every
    // (band, bucket) collision with id_a < id_b, deduplicated — no packed
    // prefixes, no first-shared-band tie-break, so a tie-break that drops
    // a pair or emits it from two bands shows up here
    val docs = Tables.documents(spark, sf)
    val bits = Dedup.autoBucketBits(docs.count())
    val bkts = docs
      .select(col("doc_id").as("id"), posexplode(lshBuckets(
        minhashSignature(wordShingles(tokens(col("text")), 3), 12), 6, 2, bits)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val want = bkts.as("a")
      .join(bkts.as("b"), col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct()
      .as[(Long, Long)].collect().toSet
    val got = Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSeq
    assert(want.nonEmpty, "test data should contain LSH collisions")
    assert(got.size == got.toSet.size, "a pair was emitted from more than one band")
    assert(got.toSet == want)
  }

  test("spark.graft.fanout past Int range is capped, not wrapped (GraftPar)") {
    // 2^32 narrowed to Int is 0: the cap must apply before the narrowing
    val docs = Tables.documents(spark, sf)
    val cores = spark.sparkContext.defaultParallelism
    spark.conf.set(graft.ops.GraftPar.Key, "4294967296")
    val w = try graft.ops.GraftPar.of(docs)
      finally spark.conf.unset(graft.ops.GraftPar.Key)
    assert(w >= cores && w <= (1 << 20), s"fan-out width $w")
  }

  test("cross-corpus near-dup join finds planted contamination") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "machine learning models require large diverse training corpora"),
      (3L, "completely unrelated content about cooking pasta dishes"),
      (4L, "benchmark answers must never leak into the training data")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (101L, "machine learning models require large diverse training corpora"), // verbatim dup of 2
      (102L, "benchmark answers must never leak into the training set"),        // last-word edit of 4 (jaccard 0.75)
      (103L, "totally fresh probe document with no counterpart at all")
    ).toDF("doc_id", "text")
    val got = Dedup.verifyJaccardCross(
        Dedup.minhashCandidatesCross(train, probe, "doc_id", "text"),
        train, probe, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.contains((2L, 101L)) && got((2L, 101L)) == 1.0,
      s"verbatim contamination missed: $got")
    assert(got.contains((4L, 102L)) && got((4L, 102L)) < 1.0,
      s"near-dup contamination missed: $got")
    assert(got.keySet == Set((2L, 101L), (4L, 102L)), s"false positives: $got")
  }

  test("connected components merge pair chains transitively") {
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    // chain 1-2-3 (no direct 1-3 edge), pair 4-5, isolated 6
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("connected components: pointer jumping converges a 200-vertex chain in O(log n) rounds") {
    // a pure path graph is the worst case for plain min-propagation
    // (needs ~n rounds); pointer doubling must land under 2·log2(200) ≈ 15
    // — maxIter = 16 would THROW under the O(diameter) algorithm
    val n = 200
    val vertices = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(vertices, edges, maxIter = 16)
    val labels = got.as[(Long, Long)].collect()
    assert(labels.length == n && labels.forall(_._2 == 1L),
      "every chain vertex must label to the component minimum")
    got.unpersist()
  }

  test("connected components use reliable checkpoints when a dir is set") {
    // with sc.setCheckpointDir configured, each round writes a RELIABLE
    // checkpoint (recoverable after executor loss) instead of
    // executor-local blocks; the fixpoint answer is identical
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(vertices, edges)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
      // the rounds really did write reliable checkpoint data
      val wrote = java.nio.file.Files.walk(dir).count() > 1
      assert(wrote, "no reliable checkpoint data written")
    } finally {
      // reset to the fast localCheckpoint path for the rest of the suite
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("semantic dedup marks within-cell near-dups against exact cosine") {
    val embs = Tables.embeddings(spark, sf)
    val cents = Similarity.seedCentroids(embs, "vec_id", "embedding", 16)
    val out = Dedup.semanticDedup(embs, "vec_id", "embedding", cents, minCos = 0.4)
      .select("id", "cell", "dup_of").as[(Long, Int, Option[Long])].collect()
    val cellOf = out.map(r => r._1 -> r._2).toMap
    // exact near-dup pairs at the same threshold (round-6 vs round-9 agree
    // far from the boundary; the pairs here are well above 0.4)
    val exact = Dedup.embeddingNearDup(embs, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val dups = out.collect { case (id, _, Some(keep)) => (id, keep) }
    dups.foreach { case (id, keep) =>
      assert(keep < id, s"dup_of must be a LOWER id ($id -> $keep)")
      assert(cellOf(keep) == cellOf(id), s"dup_of must share the cell ($id -> $keep)")
      assert(exact.contains((keep, id)), s"($keep,$id) not an exact near-dup pair")
    }
    // completeness within cells: every exact pair that shares a cell must
    // mark the higher id as a duplicate
    exact.filter { case (a, b) => cellOf(a) == cellOf(b) }.foreach { case (a, b) =>
      assert(out.exists(r => r._1 == b && r._3.nonEmpty),
        s"within-cell exact pair ($a,$b) left $b unmarked")
    }
  }

  test("semantic dedup: hot-cell triangle blocking is exact and bounds task input") {
    // a deliberately skewed corpus: every vector points the same way, so
    // ONE cell holds all 300 rows — the shape that turns the unblocked
    // within-cell self-join into a single quadratic task
    val n = 300
    val embs = (1L to n).map(i => (i,
      Array(1.0f, (i % 7) * 0.01f, (i % 11) * 0.01f, 0.02f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.seedCentroids(embs, "vec_id", "embedding", 4)
    def run(cap: Int) =
      Dedup.semanticDedup(embs, "vec_id", "embedding", cents,
          minCos = 0.9, cellCap = cap)
        .select("id", "cell", "dup_of", "is_dup")
        .as[(Long, Int, Option[Long], Boolean)].collect().toSet
    val capped = run(32)            // forces B = ⌈300/32⌉ = 10 blocks
    val plain = run(Int.MaxValue)   // B = 1 everywhere (the r7 plan)
    assert(capped == plain, "blocking must not change the dedup result")
    assert(capped.count(_._4) > n / 2, "the planted near-dups should be marked")

    // the blocking layout itself: every pair exactly once, and no join
    // key collects more than ~2·cap rows (block size ≈ n/B, two blocks
    // per off-diagonal key, plus hash-imbalance slack)
    val assigned = (1L to n).toDF("id").withColumn("cell", lit(1))
    val blocked = Dedup.blockCells(assigned, 8, 32).persist()
    val keySizes = blocked.groupBy("cell", "kx", "ky").count()
      .select("count").as[Long].collect()
    assert(keySizes.max <= 2 * 32 + 32,
      s"hot-cell join key holds ${keySizes.max} rows (cap 32)")
    val pairs = blocked.as("a").join(blocked.as("b"),
        col("a.cell") === col("b.cell") && col("a.kx") === col("b.kx") &&
          col("a.ky") === col("b.ky") && col("a.id") < col("b.id") &&
          (col("a.blk") =!= col("b.blk") || col("a.kx") === col("a.ky")))
      .select(col("a.id"), col("b.id"))
    assert(pairs.count() == n.toLong * (n - 1) / 2,
      "triangle blocking must yield every within-cell pair exactly once")
    blocked.unpersist()
  }

  test("cross-doc shared-shingle ratio on constructed overlap") {
    val df = Seq(
      (1L, "a b c d e"),   // shingles: {a b c, b c d, c d e}
      (2L, "a b c x y"),   // shingles: {a b c, b c x, c x y} — shares "a b c"
      (3L, "p q r s t"),   // fully unique
      (4L, "a b")          // too short for a 3-shingle → (0, NULL) row
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocSharedShingles(df, "doc_id", "text")
      .select("id", "n_shingles", "shared_frac")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, Some(0.333333333))))
    assert(got(2L) == ((3L, Some(0.333333333))))
    assert(got(3L) == ((3L, Some(0.0))))
    // every input doc gets a row — span-less docs are not silently dropped
    assert(got(4L) == ((0L, None)))
  }

  test("cross-doc shared-shingle ratio under a hot boilerplate span") {
    // one span planted in 50% of 200 docs — the shape that melts a
    // per-span window partition; the two-agg formulation must stay exact
    val docs = (1L to 200L).map { i =>
      if (i % 2 == 0) (i, s"shared boiler plate u$i v$i w$i") // hot "shared boiler plate"
      else (i, s"x$i y$i z$i q$i")                           // fully unique
    }
    val got = Dedup.crossDocSharedShingles(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .select("id", "n_shingles", "shared_frac")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 200)
    docs.foreach { case (i, _) =>
      if (i % 2 == 0)
        // 4 shingles, only "shared boiler plate" occurs elsewhere
        assert(got(i) == ((4L, Some(0.25))), s"doc $i: ${got(i)}")
      else assert(got(i) == ((2L, Some(0.0))), s"doc $i: ${got(i)}")
    }
  }

  test("repetition stats kernel: counts, duplicated occurrences, tiny-doc nulls") {
    val df = Seq(
      (1L, "x y x y x y"),        // 2-grams: "x y"×3,"y x"×2 → mx2=3; all 4 3-grams duplicated
      (2L, "a b c d e"),          // no repetition: mx2=1, dup3=0, tot3=3
      (3L, "a b"),                // 1 2-gram, no 3-grams → tot3/dup3 null
      (4L, "a")                   // nothing → all null
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      repetitionStats(tokens(col("text"))).as("rs"))
      .select(col("doc_id"), col("rs.mx2"), col("rs.dup3"), col("rs.tot3"))
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((Some(3L), Some(4L), Some(4L))))
    assert(got(2L) == ((Some(1L), Some(0L), Some(3L))))
    assert(got(3L) == ((Some(1L), None, None)))
    assert(got(4L) == ((None, None, None)))
  }

  test("BPE-ish regex tokenizer splits digits and punctuation apart from words") {
    // on the synthetic corpus (lowercase words, single spaces) the regex
    // and whitespace counts coincide — this pins the behavior that makes
    // them differ on real text
    val df = Seq(("hello  world42, foo-bar baz", 9, 4)).toDF("text", "bpe", "ws")
    val got = df.select(
      expr("""size(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0))"""),
      size(tokens(col("text")))).as[(Int, Int)].head()
    assert(got == ((9, 4)),
      s"expected (9 bpe, 4 ws) for 'hello  world42, foo-bar baz', got $got")
  }

  test("int8 quantization round-trips within one scale step") {
    val embs = Tables.embeddings(spark, sf)
    val out = graft.ops.Similarity.quantizeInt8(embs, "vec_id", "embedding")
    // |q| ≤ 127 always, and the max component quantizes to ±127 exactly
    val bad = out.filter(col("q_max") > 127 || col("q_l1") < col("q_max")).count()
    assert(bad == 0)
    val maxed = out.filter(col("q_max") === 127).count()
    assert(maxed > 0, "some vector's largest component must hit +127")
  }

  test("IVF-PQ refine: full-shortlist run equals ivfTopK; truncated shortlist is rank-dominated") {
    val embs = Tables.embeddings(spark, sf)
    val queries = embs.filter(col("vec_id") < 10)
    val n = embs.count().toInt
    // rerank·k ≥ corpus ⇒ the ADC shortlist covers every probed-cell
    // candidate, so the exact refine must reproduce ivfTopK verbatim
    val full = Similarity.ivfPqTopK(embs, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, rerank = n / 5 + 1)
      .select("query_id", "rk", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val ivf = Similarity.ivfTopK(embs, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4)
      .select("query_id", "rk", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full == ivf, "rerank covering all candidates must equal ivfTopK")
    // a truncated shortlist re-ranks a SUBSET of ivfTopK's candidates, so
    // at every rank its exact cosine can only be ≤ ivfTopK's (theorem)
    val pq = Similarity.ivfPqTopK(embs, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, rerank = 3)
      .select("query_id", "rk", "cos").as[(Long, Int, Double)]
      .collect().map { case (q, r, c) => (q, r) -> c }.toMap
    val ivfByRk = ivf.map { case (q, r, _, c) => (q, r) -> c }.toMap
    assert(pq.nonEmpty && pq.keySet == ivfByRk.keySet)
    pq.foreach { case (key, c) =>
      assert(c <= ivfByRk(key) + 1e-12,
        s"rank-dominance violated at $key: pq $c > ivf ${ivfByRk(key)}")
    }
  }

  test("decontaminateSpans excises exactly the leaked benchmark spans") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // 26-token benchmark doc
    val probe = Seq((0L, "alpha bravo charlie delta echo foxtrot golf " +
      "hotel india juliet kilo lima mike november oscar papa quebec " +
      "romeo sierra tango uniform victor whiskey xray yankee zulu"))
      .toDF("doc_id", "text")
    val prefix = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen"
    val suffix = "red orange yellow green blue indigo violet brown " +
      "black white gray pink cyan"
    val leak13 = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike" // probe tokens 1–13
    val wholly = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa quebec romeo " +
      "sierra tango" // probe tokens 1–20: starts 0–7 merge to [0, 20)
    val docs = Seq(
      (10L, s"$prefix $leak13 $suffix"),
      (11L, "totally unrelated content nothing shared with the " +
        "benchmark at all whatsoever in any way honestly truly"),
      (12L, wholly)).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(docs, probe, "doc_id", "text",
        spanLen = 13)
      .select("id", "n_spans", "n_removed", "clean_md5")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // doc 10: one merged 13-token interval; cleaned = prefix + suffix
    assert(out(10L) == ((1L, 13L, md5hex(s"$prefix $suffix"))))
    // doc 11: untouched — cleaned text is the full normalized text
    assert(out(11L)._1 == 0L && out(11L)._2 == 0L)
    assert(out(11L)._3 == md5hex("totally unrelated content nothing " +
      "shared with the benchmark at all whatsoever in any way honestly truly"))
    // doc 12: entirely a leaked block — 8 span starts merge to one
    // interval covering all 20 tokens; cleaned text is EMPTY
    assert(out(12L) == ((1L, 20L, md5hex(""))))
    // confirmTokens (the production anti-collision path): gram STRING
    // equality rides the broadcast — identical output on collision-free
    // data, and the broadcast/map-side join shape is unchanged
    val confirmed = Dedup.decontaminateSpans(docs, probe, "doc_id", "text",
        spanLen = 13, confirmTokens = true)
      .select("id", "n_spans", "n_removed", "clean_md5")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(confirmed == out,
      "confirmTokens=true must be output-identical absent hash collisions")
  }

  test("PQ ADC search finds a meaningful share of the exact top-k") {
    val embs = Tables.embeddings(spark, sf)
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val adc = Similarity.pqAdcTopK(embs, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // 8×16 PQ on uniform random 64-dim vectors is the quantizer's hardest
    // case (no cluster structure) — require better-than-chance retrieval,
    // not exactness (chance: 5 of 99 ≈ 0.05)
    val recall = adc.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.2, s"ADC recall $recall is no better than chance")
  }

  test("packed band prefixes: pack/share kernels match a reference model") {
    import graft.functions.{PackBandBits, SharesBandSlice}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val rng = new scala.util.Random(7)
    val child = Literal.create(Array(0L), ArrayType(LongType))
    for (bpb <- Seq(1, 3, 4, 8); _ <- 1 to 50) {
      val bands = 1 + rng.nextInt(8)
      val mask = if (bpb == 8) -1L else (1L << (bpb * 8)) - 1L
      val a = Array.fill(bands)(rng.nextLong() & mask)
      // force slice collisions often: b copies a at random positions
      val b = a.map(v => if (rng.nextBoolean()) v else rng.nextLong() & mask)
      val pack = PackBandBits(child, bpb)
      val pa = pack.compute(new GenericArrayData(a))
      val pb = pack.compute(new GenericArrayData(b))
      assert(pa.length == bands * bpb)
      // reference: big-endian low bytes per element
      val ref = a.flatMap(v =>
        (0 until bpb).map(i => (v >>> ((bpb - 1 - i) * 8)).toByte))
      assert(pa.toSeq == ref.toSeq)
      val shares = SharesBandSlice(child, child, bpb).compute(pa, pb)
      assert(shares == a.indices.exists(i => a(i) == b(i)),
        s"bpb=$bpb a=${a.toSeq} b=${b.toSeq}")
    }
    // the join's use: PREFIXES of unequal content never alias across
    // band positions (slice i compares only to slice i)
    val p = PackBandBits(child, 2)
    val x = p.compute(new GenericArrayData(Array(0x0102L, 0x0304L)))
    val y = p.compute(new GenericArrayData(Array(0x0304L, 0x0102L)))
    assert(!SharesBandSlice(child, child, 2).compute(x, y))
  }

  test("autoBucketBits: floors at 24, tracks ceil-log2(n)+6, caps at 48") {
    assert(Dedup.autoBucketBits(0) == 24)
    assert(Dedup.autoBucketBits(2000) == 24)
    assert(Dedup.autoBucketBits(1L << 20) == 26)
    assert(Dedup.autoBucketBits((1L << 20) + 1) == 27)
    assert(Dedup.autoBucketBits(55_000_000L) == 32)
    assert(Dedup.autoBucketBits(Long.MaxValue / 4) == 48)
  }

  test("exact dedup groups permuted duplicates together") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),   // permutation → same bag fingerprint
      (3L, "alpha beta delta")
    ).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L)
    assert(out(3L) == 1L)
  }

  test("incremental dedup composes: ledger + delta classification = full-corpus dedup") {
    // the invariant that makes d11 SAFE to run instead of re-deduping the
    // archive — stated with the operator's ARCHIVE-WINS semantics: for a
    // fingerprint already in the ledger the keeper is the ARCHIVE's keeper
    // (even when a delta doc has a smaller id — the archive was there
    // first); only ledger-less fingerprints fall back to the full-corpus
    // (= batch) minimum. The r14 form asserted keep == full-corpus min
    // unconditionally, which is false in general and passed only because
    // archive and delta shared zero fingerprints at this SF (r15 advice).
    val docs = Tables.documents(spark, sf)
    val archive = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    val ledger = Dedup.exactDedup(archive, "doc_id", "text")
    val inc = Dedup.incrementalExactDedup(ledger, delta, "doc_id", "text")
      .select("id", "fp", "status", "keep_id")
      .as[(Long, String, String, Long)].collect()
    val full = Dedup.exactDedup(docs, "doc_id", "text")
      .select("fp", "keep_id").as[(String, Long)].collect().toMap
    val ledgerMap = ledger.select("fp", "keep_id")
      .as[(String, Long)].collect().toMap
    assert(inc.nonEmpty)
    inc.foreach { case (id, fp, status, keep) =>
      val expected = ledgerMap.getOrElse(fp, full(fp))
      assert(keep == expected,
        s"doc $id: incremental keeper $keep != expected $expected " +
          s"(archive keeper if ledgered, else full-corpus min)")
      status match {
        case "dup_of_archive" => assert(ledgerMap.contains(fp))
        case "dup_in_batch" =>
          assert(!ledgerMap.contains(fp) && keep < id)
        case "novel" => assert(!ledgerMap.contains(fp) && keep == id)
        case other => fail(s"unknown status $other")
      }
    }
    // every delta doc classified exactly once
    assert(inc.map(_._1).distinct.length == delta.count())
  }

  test("incremental dedup archive-wins: overlapping fingerprints keep the archive keeper") {
    // explicit archive/delta fingerprint OVERLAP so dup_of_archive is
    // actually exercised (the corpus split shares no fingerprints at the
    // spec SFs, so the branch above passes vacuously — r15 advice):
    //  - fp X: archived under id 10; delta holds ids 3 and 7 — BOTH must
    //    classify dup_of_archive with keep_id 10 (archive-wins, even
    //    though the global min 3 sits in the delta)
    //  - fp Y: delta-only ids 5, 8 — batch semantics (novel/dup_in_batch)
    val archive = Seq((10L, "alpha beta gamma")).toDF("doc_id", "text")
    val delta = Seq(
      (3L, "gamma beta alpha"),  // permutation of X, smaller id than 10
      (7L, "alpha beta gamma"),  // verbatim X
      (5L, "delta epsilon"),     // Y first
      (8L, "epsilon delta")      // Y permutation
    ).toDF("doc_id", "text")
    val ledger = Dedup.exactDedup(archive, "doc_id", "text")
    val out = Dedup.incrementalExactDedup(ledger, delta, "doc_id", "text")
      .select("id", "status", "keep_id")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(3L) == (("dup_of_archive", 10L)))
    assert(out(7L) == (("dup_of_archive", 10L)))
    assert(out(5L) == (("novel", 5L)))
    assert(out(8L) == (("dup_in_batch", 5L)))
  }

  test("incremental near-dup: archive-wins on overlap, and composition matches the exact closure") {
    // constructed overlap first — a delta doc near-dupping BOTH an
    // archive doc and a lower-id batch mate must classify dup_of_archive
    // (the archive was there first), mirroring d11's archive-wins spec
    val archive = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again today")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (3L, "the quick brown fox jumps over the lazy dog again tonight"), // near-dup of 10 AND of 7
      (7L, "the quick brown fox jumps over the lazy dog again today"),   // verbatim archive dup
      (5L, "completely novel delta content about something else entirely"),
      (8L, "completely novel delta content about something else near")   // batch near-dup of 5
    ).toDF("doc_id", "text")
    val ledger = Dedup.minhashLedger(archive, "doc_id", "text")
    val out = Dedup.incrementalMinhashDedup(ledger, archive, delta,
        "doc_id", "text", threshold = 0.5)
      .select("id", "status", "dup_of")
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(3L) == (("dup_of_archive", Some(10L))),
      s"archive must win over the lower-id batch mate: ${out(3L)}")
    assert(out(7L) == (("dup_of_archive", Some(10L))))
    assert(out(5L) == (("novel", None)))
    assert(out(8L) == (("dup_in_batch", Some(5L))))

    // corpus-level composition: the incremental classification must equal
    // the exact Jaccard closure with archive-wins precedence (banding
    // recall is 1.0 at this SF with the seeded family — the d02 accepted
    // risk; a dip here would fail d02's own gate first)
    val docs = Tables.documents(spark, sf)
    val arch2 = docs.filter(col("doc_id") % 2 === 0)
    val delta2 = docs.filter(col("doc_id") % 2 === 1)
    val inc = Dedup.incrementalMinhashDedup(
        Dedup.minhashLedger(arch2, "doc_id", "text"), arch2, delta2,
        "doc_id", "text", threshold = 0.5)
      .select("id", "status", "dup_of")
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val allPairs = Dedup.jaccardPairsBruteForce(docs, "doc_id", "text",
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val archMate = allPairs.flatMap { case (a, b) =>
        Seq(a -> b, b -> a) }
      .filter { case (d, m) => d % 2 == 1 && m % 2 == 0 }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val batchMate = allPairs
      .filter { case (a, b) => a % 2 == 1 && b % 2 == 1 }
      .groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    delta2.select("doc_id").as[Long].collect().foreach { id =>
      val expected = archMate.get(id) match {
        case Some(m) => ("dup_of_archive", Some(m))
        case None => batchMate.get(id) match {
          case Some(m) => ("dup_in_batch", Some(m))
          case None => ("novel", None)
        }
      }
      assert(inc(id) == expected,
        s"doc $id: incremental ${inc(id)} != exact-closure $expected")
    }
  }

  test("cell kernels: empty coarse groups skipped, NaN vectors defined (r14 review)") {
    import graft.functions.{CellProbes, TwoLevelArgmax}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // grouping can leave a coarse EMPTY (duplicate seed vectors tie-break
    // every fine mate to the earlier identical coarse) — here explicitly:
    // all three fine centroids group under coarse 0, coarse 1 is empty
    val coarse = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val fine = Seq(Seq(1.0, 0.0), Seq(0.9, 0.1), Seq(0.0, 1.0))
    val group = Seq(0, 0, 0)
    val child = Literal.create(Array(0.0, 1.0), ArrayType(DoubleType))
    val probes = CellProbes(child, coarse, fine, group, nprobe = 2)
    def cells(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Int] =
      (0 until a.numElements()).map(a.getInt)
    // the vector points AT the empty coarse 1: the probe must advance to
    // coarse 0 and return its fine argmax (cell 3) — the pre-fix kernel
    // fabricated cell 1 from the empty group and emitted [1, 3]
    assert(cells(probes.compute(new GenericArrayData(Array(0.0, 1.0)))) == Seq(3))
    // all-NaN scores: probe NOTHING (empty array), never crash
    val nan = new GenericArrayData(Array(Double.NaN, Double.NaN))
    assert(probes.compute(nan).numElements() == 0)
    val argmax = TwoLevelArgmax(child, coarse, fine, group)
    assert(argmax.compute(new GenericArrayData(Array(0.0, 1.0))) == 3)
    // argmax must return ONE defined cell on NaN (pre-fix: bogus cell 1
    // via the empty group; CellProbes pre-fix: AIOOBE)
    val nanCell = argmax.compute(nan)
    assert(nanCell >= 1 && nanCell <= 3)
  }

  test("keeper state codec: round-trip, and foreign/old blobs are typed errors") {
    import Dedup.KeeperState
    val keepers: List[KeeperState.Keeper] = List(
      (7L, Array(0.1, -0.2, 0.3), 0.374165738, 0x0A0B0C0D),
      (42L, Array.empty[Double], 0.0, -1),
      (1L, Array(1.0), 1.0, 0))
    val rt = KeeperState.decode(KeeperState.encode(keepers))
    assert(rt.map(_._1) == keepers.map(_._1))
    assert(rt.map(_._3) == keepers.map(_._3))
    assert(rt.map(_._4) == keepers.map(_._4))
    assert(rt.map(_._2.toSeq) == keepers.map(_._2.toSeq))

    // a checkpoint from a build with a DIFFERENT keeper shape: same magic,
    // wrong version → typed mismatch naming both versions
    val wrongVer = KeeperState.encode(keepers)
    java.nio.ByteBuffer.wrap(wrongVer).putInt(4, KeeperState.Version + 1)
    val e1 = intercept[IllegalStateException](KeeperState.decode(wrongVer))
    assert(e1.getMessage.contains("version mismatch") &&
      e1.getMessage.contains(s"v${KeeperState.Version + 1}"))

    // an UNVERSIONED blob (e.g. Kryo bytes from the pre-codec build):
    // magic check fires, never a garbage decode
    val kryoish = Array.fill[Byte](64)(0x5A)
    val e2 = intercept[IllegalStateException](KeeperState.decode(kryoish))
    assert(e2.getMessage.contains("version mismatch"))
    // and a truncated/empty blob is typed too, not a BufferUnderflow
    val e3 = intercept[IllegalStateException](KeeperState.decode(Array[Byte](1, 2)))
    assert(e3.getMessage.contains("version mismatch"))
    // body-level damage: truncation mid-keeper and corrupted dim/count
    // are ALSO typed (never BufferUnderflow / NegativeArraySize / a
    // multi-GB allocation in the state-load path)
    val good = KeeperState.encode(keepers)
    val cut = java.util.Arrays.copyOf(good, good.length - 5)
    assert(intercept[IllegalStateException](KeeperState.decode(cut))
      .getMessage.contains("corrupt"))
    val badDim = good.clone()
    // first keeper's dim: magic(4) + version(4) + count(4) + id(8) = offset 20
    java.nio.ByteBuffer.wrap(badDim).putInt(20, Int.MaxValue)
    assert(intercept[IllegalStateException](KeeperState.decode(badDim))
      .getMessage.contains("corrupt"))
    val negCount = good.clone()
    java.nio.ByteBuffer.wrap(negCount).putInt(8, -3)
    assert(intercept[IllegalStateException](KeeperState.decode(negCount))
      .getMessage.contains("corrupt"))
  }

  test("autoLshR / autoNlist: scale-safe defaults track corpus size, floors pin the verify SFs") {
    import Similarity.autoLshR
    import Dedup.autoNlist
    // every verify/bench SF (n <= 2000) derives EXACTLY the registered
    // config the static DuckDB oracles embed (r = 4, nlist = 16)
    for (n <- Seq(1L, 500L, 2000L)) {
      assert(autoLshR(n) == 4, s"autoLshR($n)")
      assert(autoNlist(n) == 16, s"autoNlist($n)")
    }
    // beyond the pin region: 2^r tracks n/8 (standard LSH sizing), so
    // expected bucket population — and pair cost per row — stays constant
    assert(autoLshR(20000L) == 12)    // ceil(log2(2500))
    assert(autoLshR(200000L) == 15)   // ceil(log2(25000))
    assert(autoLshR(2000000L) == 18)  // ceil(log2(250000))
    assert(autoNlist(20000L) == 160)
    assert(autoNlist(200000L) == 1600)
    assert(autoNlist(2000000L) == 16000)
    // exact powers of two must not ceil up (integer bit-math, not
    // floating log2, whose ratio can land at 4.0000...02)
    assert(autoLshR(8L << 10) == 10)  // exactly 1024 buckets -> 10 bits
    assert(autoLshR(8L << 13) == 13)  // exactly 8192 buckets -> 13 bits
    // caps bound the signature width / driver-resident centroid literal
    assert(autoLshR(Long.MaxValue / 4) == 24)
    assert(autoNlist(Long.MaxValue / 4) == (1 << 16))
  }

  test("two-level argmax equals exact argmax on well-separated cells and is valid everywhere") {
    import graft.functions.TwoLevelArgmax
    import org.apache.spark.sql.GraftShims
    // 9 well-separated axis clusters in R^16: every vector is far closer
    // to its own centroid than to any other, so the coarse detour cannot
    // change the winner and two-level MUST equal single-level exactly
    val dim = 16
    val nCents = 9
    def axis(i: Int): Seq[Double] = Seq.tabulate(dim)(d => if (d == i) 1.0 else 0.0)
    val cents = Seq.tabulate(nCents)(axis)
    val rows = (0 until 90).map { i =>
      val c = i % nCents
      (i.toLong, Array.tabulate(dim)(d =>
        (if (d == c) 1.0f else 0.0f) + (i % 5) * 0.01f))
    }
    val df = rows.toDF("id", "v")
    def dot(a: Seq[Double], b: IndexedSeq[Float]): Double =
      a.zipWithIndex.map { case (x, d) => x * b(d) }.sum
    val nCoarse = math.ceil(math.sqrt(nCents.toDouble)).toInt
    val coarse = cents.take(nCoarse)
    // Seq.maxBy is first-wins on ties, matching the kernel's strict >
    val group = cents.map(f => coarse.indices.maxBy(ci =>
      f.zip(coarse(ci)).map { case (a, b) => a * b }.sum))
    val two = GraftShims.column(TwoLevelArgmax(
      GraftShims.expression(col("v")), coarse, cents, group))
    val one = rows.map { case (_, v) =>
      (0 until nCents).maxBy(j => dot(cents(j), v.toIndexedSeq))
    }
    val got = df.select(col("id"), two.as("cell")).as[(Long, Int)]
      .collect().sortBy(_._1).map(_._2 - 1)
    // separated clusters: exact agreement with the driver-side argmax
    assert(got.toSeq == one, s"two-level disagreed: ${got.toSeq} vs $one")
    // and the winner is the true per-row argmax cluster
    rows.zip(got).foreach { case ((id, _), cell) =>
      assert(cell == (id % nCents), s"row $id landed in $cell") }
  }

  test("auto-r LSH keeps recall on planted near-dups at a scaled corpus") {
    // 20k vectors derive r = 12 (the scaled regime, not the pinned r = 4
    // the small-SF oracles see). Plant 150 high-cosine pairs among random
    // noise: at cos >= ~0.95 a 12-band/12-bit banding catches ~98% in
    // expectation — assert >= 0.8 so the test pins "scaling r did not
    // silently destroy recall", the one thing the auto policy trades.
    val rng = new scala.util.Random(7)
    val dim = 64
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = (0 until 19700).map(i => (i.toLong, unit()))
    val planted = (0 until 150).map { j =>
      val (_, v) = base(j)
      // tiny perturbation, re-normalized: cosine stays >= ~0.95
      val w = v.map(x => x + (rng.nextGaussian() * 0.02).toFloat)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum)
      ((100000 + j).toLong, w.map(x => (x / n).toFloat))
    }
    val embs = spark.createDataFrame((base ++ planted))
      .toDF("vec_id", "embedding").repartition(8)
    assert(Similarity.autoLshR(19850L) == 12)
    val got = Similarity.lshNeighbors(embs, "vec_id", "embedding",
        bands = 12, minCos = 0.9) // r unset -> auto (12 at this n)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val hits = (0 until 150).count(j => got.contains((j.toLong, 100000L + j)))
    assert(hits >= 120, s"scaled-r recall too low: $hits/150")
  }

  test("semantic contamination: valid cross pairs, complete within shared cells") {
    val embs = Tables.embeddings(spark, sf)
    val train = embs.filter(col("vec_id") % 7 =!= 0)
    val probe = embs.filter(col("vec_id") % 7 === 0)
    val got = Dedup.semanticContaminationCross(train, probe,
        "vec_id", "embedding", minCos = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "expected some cross-split semantic near-dups")
    // soundness: every emitted pair is a true cross-split pair at cos>=0.3
    val exact = Dedup.embeddingNearDup(embs, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p, p.swap)).toSet
    got.foreach { case (a, b) =>
      assert(a % 7 != 0 && b % 7 == 0, s"($a,$b) not a train x probe pair")
      assert(exact.contains((a, b)), s"($a,$b) not a true cos>=0.3 pair")
    }
    // completeness WITHIN probed cells: re-derive the train-side argmax
    // cell and the probe side's top-2 probe cells with the same seeds and
    // assert every pair whose train cell is among the probe's probed
    // cells was emitted (nprobe = 2 is the operator default — the d10a
    // recall dial)
    val nl = Dedup.autoNlist(train.count())
    val cents = Similarity.seedCentroids(train, "vec_id", "embedding", nl)
    val cellOf = Dedup.semanticDedup(embs, "vec_id", "embedding", cents,
        minCos = 2.0) // threshold 2.0: assignment only, no dup pairs
      .select("id", "cell").as[(Long, Int)].collect().toMap
    val probedOf = probe.select(col("vec_id"),
        Similarity.cellProbes(col("embedding"), cents, nprobe = 2).as("cs"))
      .as[(Long, Seq[Int])].collect().toMap
    val expected = exact.filter { case (a, b) =>
      a % 7 != 0 && b % 7 == 0 && probedOf(b).contains(cellOf(a)) }
    assert(got == expected,
      s"cell-confined pair set mismatch: got ${got.size}, want ${expected.size}")
    // the first probe cell is exactly the single-level argmax
    probedOf.foreach { case (id, cs) =>
      assert(cs.head == cellOf(id), s"probe $id first cell != argmax") }
  }

  test("semanticDedupAuto at small n is EXACTLY the pinned nlist=16 single-level plan") {
    val embs = Tables.embeddings(spark, sf)
    val auto = Dedup.semanticDedupAuto(embs, "vec_id", "embedding", minCos = 0.4)
      .select("id", "cell", "dup_of", "is_dup")
      .as[(Long, Int, Option[Long], Boolean)].collect().toSet
    val pinned = Dedup.semanticDedup(embs, "vec_id", "embedding",
        Similarity.seedCentroids(embs, "vec_id", "embedding", 16), minCos = 0.4)
      .select("id", "cell", "dup_of", "is_dup")
      .as[(Long, Int, Option[Long], Boolean)].collect().toSet
    assert(auto == pinned,
      "auto sizing must reduce to the oracle-pinned plan at verify SFs")
  }

  test("semanticDedupAuto two-level path: valid cells, lower-id dup_of, dups verified") {
    val embs = Tables.embeddings(spark, sf)
    // force the scaled regime on the tiny corpus: targetCell 4 derives
    // nlist = ceil(500/4) = 125 > twoLevelAbove -> two-level assignment
    val out = Dedup.semanticDedupAuto(embs, "vec_id", "embedding",
        minCos = 0.4, targetCell = 4)
      .select("id", "cell", "dup_of", "is_dup")
      .as[(Long, Int, Option[Long], Boolean)].collect()
    assert(out.length == embs.count(), "one row per vector")
    assert(out.forall(r => r._2 >= 1 && r._2 <= 125), "cell ids in range")
    val cellOf = out.map(r => r._1 -> r._2).toMap
    val exact = Dedup.embeddingNearDup(embs, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    out.collect { case (id, _, Some(keep), isDup) =>
      assert(isDup)
      assert(keep < id, s"dup_of must be a lower id ($id -> $keep)")
      assert(cellOf(keep) == cellOf(id), s"dup_of must share the cell")
      assert(exact.contains((keep, id)), s"($keep,$id) not a true near-dup")
    }
  }
}
