package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, KMeans, Similarity}

/** Trained-centroid (DataFrame) path: the frame-based assignment must be
  * BIT-IDENTICAL to the TwoLevelArgmax kernel over the same centroid
  * values, and the trained consumers must keep their operators' contracts
  * — the value-level gate is the d07c differential oracle. */
class KMeansSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  import spark.implicits._

  val sf = "/root/testdata/sf0.01"

  test("seedCentroidsDF equals the driver-literal seedCentroids values") {
    val embs = Tables.embeddings(spark, sf)
    val lit = Similarity.seedCentroids(embs, "vec_id", "embedding", 32)
    val df = KMeans.seedCentroidsDF(embs, "vec_id", "embedding", 32)
      .orderBy("cidx").select("cv").as[Seq[Double]].collect()
    assert(df.length == lit.length)
    lit.zip(df).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"centroid $i differs between driver and frame seeding")
    }
  }

  test("assignWithFrame is bit-identical to the TwoLevelArgmax kernel") {
    val embs = Tables.embeddings(spark, sf)
    val nlist = 68 // > twoLevelAbove: the regime the frame path serves
    val cents = Similarity.seedCentroids(embs, "vec_id", "embedding", nlist)
    val viaKernel = embs
      .select(col("vec_id"),
        KMeans.kernelTwoLevel(col("embedding"), cents)
          .as("cell"))
      .as[(Long, Int)].collect().toMap
    val viaFrame = KMeans.assignWithFrame(embs, "vec_id", "embedding",
        KMeans.seedCentroidsDF(embs, "vec_id", "embedding", nlist), nlist)
      .select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toMap
    assert(viaFrame.keySet == viaKernel.keySet)
    val diff = viaFrame.count { case (id, c) => viaKernel(id) != c }
    assert(diff == 0, s"$diff/${viaFrame.size} assignments differ from the kernel")
  }

  test("assignWithFrame skips empty coarse groups like the kernel (duplicate seeds)") {
    // duplicate coarse seeds force an EMPTY coarse group (all fine mates
    // tie-break to the earlier identical coarse); both paths must agree
    val cents: Seq[Seq[Double]] = Seq(
      Seq(1.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0), // coarse 0 and 1 identical
      Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
    val centsDF = cents.zipWithIndex
      .map { case (v, i) => (i + 1, v) }.toDF("cidx", "cv")
    val vecs = Seq(
      (1L, Seq(1.0, 0.05, 0.0)),  // near the duplicated coarse direction
      (2L, Seq(0.0, 1.0, 0.1)),
      (3L, Seq(0.1, 0.1, 1.0))).toDF("vec_id", "embedding")
    val viaKernel = vecs.select(col("vec_id"),
        KMeans.kernelTwoLevel(col("embedding"), cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    val viaFrame = KMeans.assignWithFrame(vecs, "vec_id", "embedding",
        centsDF, cents.length)
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(viaFrame == viaKernel, s"frame $viaFrame vs kernel $viaKernel")
  }

  test("trainCentroids: unit norms, empty cells keep their seed, count stable") {
    val embs = Tables.embeddings(spark, sf)
    val nlist = 68
    val seeds = KMeans.seedCentroidsDF(embs, "vec_id", "embedding", nlist)
    val trained = KMeans.trainCentroids(embs, "vec_id", "embedding", nlist)
    val rows = trained.orderBy("cidx").select("cidx", "cv")
      .as[(Int, Seq[Double])].collect()
    assert(rows.length == nlist)
    rows.foreach { case (i, cv) =>
      val n = math.sqrt(cv.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"centroid $i norm $n not unit")
    }
    // cells that lost all members must retain their seed verbatim
    val assigned = KMeans.assignWithFrame(embs, "vec_id", "embedding", seeds, nlist)
      .select("cell").distinct().as[Int].collect().toSet
    val seedMap = seeds.orderBy("cidx").select("cidx", "cv")
      .as[(Int, Seq[Double])].collect().toMap
    rows.filterNot { case (i, _) => assigned(i) }.foreach { case (i, cv) =>
      assert(cv == seedMap(i), s"empty cell $i did not keep its seed")
    }
    // and at least one populated cell actually moved
    assert(rows.exists { case (i, cv) => assigned(i) && cv != seedMap(i) },
      "no centroid moved after a sweep")
  }

  test("ivfTopKTrained with nprobe = nlist equals brute force") {
    // probing every cell covers every corpus row — whatever the (two-
    // level, approximate) assignment did, the top-k must equal exact
    val embs = Tables.embeddings(spark, sf)
    val queries = embs.filter(col("vec_id") < 8)
    val nlist = 68
    val cents = KMeans.trainCentroids(embs, "vec_id", "embedding", nlist)
    val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", 5)
      .select("query_id", "rk", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val full = KMeans.ivfTopKTrained(embs, queries, "vec_id", "embedding",
        k = 5, cents, nlist, nprobe = nlist)
      .select("query_id", "rk", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(full == exact)
  }

  test("semanticDedupTrained: dup pairs verify at the threshold, canonical ids kept") {
    val embs = Tables.embeddings(spark, sf)
    val nlist = 68
    val cents = KMeans.trainCentroids(embs, "vec_id", "embedding", nlist)
    val out = KMeans.semanticDedupTrained(embs, "vec_id", "embedding",
      cents, nlist, minCos = 0.4)
    val rows = out.select("id", "cell", "dup_of")
      .as[(Long, Int, Option[Long])].collect()
    assert(rows.length == embs.count())
    rows.foreach { case (id, cell, dupOf) =>
      assert(cell >= 1 && cell <= nlist)
      dupOf.foreach(d => assert(d < id, s"dup_of $d not lower than $id"))
    }
    // every flagged pair really is cosine >= 0.4 (round-9)
    val dim = Similarity.vecDim(embs, "embedding")
    val v = embs.select(col("vec_id"), col("embedding"),
      Similarity.normFlat(col("embedding"), dim).as("nm"))
    val bad = out.filter(col("dup_of").isNotNull)
      .join(v.select(col("vec_id").as("id"), col("embedding").as("va"),
        col("nm").as("na")), "id")
      .join(v.select(col("vec_id").as("dup_of"), col("embedding").as("vb"),
        col("nm").as("nb")), "dup_of")
      .filter(round(Similarity.dotFlat(col("va"), col("vb"), dim) /
        (col("na") * col("nb")), 9) < 0.4)
      .count()
    assert(bad == 0, s"$bad dup pairs below the cosine threshold")
  }

  test("trainPqCodebooks: unit codewords, seeded shape, training moves the books") {
    val embs = Tables.embeddings(spark, sf)
    val (subs, codes) = (8, 16)
    val books = KMeans.trainPqCodebooks(embs, "vec_id", "embedding",
      subs, codes, iters = 1)
      .select("sub", "code", "cw").as[(Int, Int, Seq[Double])].collect()
    assert(books.length == subs * codes)
    assert(books.map(b => (b._1, b._2)).toSet ==
      (for (s <- 1 to subs; c <- 1 to codes) yield (s, c)).toSet)
    val dim = Similarity.vecDim(embs, "embedding")
    books.foreach { case (s, c, cw) =>
      assert(cw.length == dim / subs, s"codeword ($s,$c) wrong width")
      val n = math.sqrt(cw.foldLeft(0.0)((a, x) => a + x * x))
      assert(math.abs(n - 1.0) < 1e-9, s"codeword ($s,$c) norm $n not unit")
    }
    // one sweep must actually MOVE the codebooks off the raw seeds
    // (identical would mean the assignment or the means never ran)
    val seeds = Similarity.pqCodebooks(embs, "vec_id", "embedding", subs, codes)
    val moved = books.count { case (s, c, cw) => seeds(s - 1)(c - 1) != cw }
    assert(moved > 0, "trained codebooks identical to the seeds")
  }

  test("trained IVF-PQ beats the seeded stack at FULL probe (quantization fidelity, differential)") {
    // Jégou 2011's training claim is about QUANTIZATION error, so the
    // differential holds it at nprobe = nlist — every cell probed, no
    // cell-truncation noise — where the only difference trained quantizers
    // can make is ADC fidelity. At small nprobe on THIS corpus (uniform
    // random vectors — the quantizer's hardest case, no cluster structure
    // to learn) training is NOT guaranteed to help and measurably does
    // not: at sf0.01/nprobe=4 the composed recall is 24/50 trained vs
    // 28/50 seeded on the frame pipeline (both below the single-level
    // literal pipeline's 32/50 — the two-level assignment's documented
    // approximation), while at nprobe=16 trained wins. Clustered real
    // embeddings are the case training exists for; the a11b driver row
    // value-pins the trained pipeline itself either way.
    val embs = Tables.embeddings(spark, sf)
    val (nlist, subs, codes) = (16, 8, 16)
    import spark.implicits._
    def audit(cents: org.apache.spark.sql.DataFrame,
        books: org.apache.spark.sql.DataFrame): Long = {
      val s = Similarity.ivfPqTrainedRecallAudit(embs, "vec_id",
        "embedding", k = 5, cents, nlist, books, subs, codes,
        nprobe = nlist, rerank = 3, nQueries = 10, minRecall = 0.4)
        .select("n_found").as[Long].collect().sum
      spark.catalog.clearCache() // release the assignment persist
      s
    }
    val seedB = Similarity.pqCodebooks(embs, "vec_id", "embedding", subs, codes)
      .zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cw, c) => (s + 1, c + 1, cw) }
      }.toDF("sub", "code", "cw")
    val seeded = audit(
      KMeans.seedCentroidsDF(embs, "vec_id", "embedding", nlist)
        .localCheckpoint(),
      seedB)
    val trained = audit(
      KMeans.trainCentroids(embs, "vec_id", "embedding", nlist),
      KMeans.trainPqCodebooks(embs, "vec_id", "embedding", subs, codes))
    info(s"full-probe recall@5 over 10 queries: trained $trained/50 vs seeded $seeded/50")
    assert(trained >= seeded,
      s"training LOWERED full-probe recall: $trained < $seeded")
  }

  test("Concurrently.both: overlapped training sweeps equal the sequential" +
      " ones, and failures propagate (r17 opt)") {
    // a11b overlaps trainCentroids and trainPqCodebooks on two driver
    // threads (guide §2.6); the overlap must be value-invisible
    val embs = Tables.embeddings(spark, sf)
    val seqC = KMeans.trainCentroids(embs, "vec_id", "embedding", 16)
      .orderBy("cidx").as[(Int, Seq[Double])].collect().toSeq
    val seqB = KMeans.trainPqCodebooks(embs, "vec_id", "embedding", 8, 16)
      .orderBy("sub", "code").as[(Int, Int, Seq[Double])].collect().toSeq
    val (cc, cb) = graft.ops.Concurrently.both(
      KMeans.trainCentroids(embs, "vec_id", "embedding", 16),
      KMeans.trainPqCodebooks(embs, "vec_id", "embedding", 8, 16))
    assert(cc.orderBy("cidx").as[(Int, Seq[Double])].collect().toSeq == seqC,
      "overlapped trainCentroids diverged from the sequential run")
    assert(cb.orderBy("sub", "code").as[(Int, Int, Seq[Double])]
      .collect().toSeq == seqB,
      "overlapped trainPqCodebooks diverged from the sequential run")
    // plain values pass through
    assert(graft.ops.Concurrently.both(1 + 1, "x") == (2, "x"))
    // the helper-thread failure surfaces UNWRAPPED (not ExecutionException)
    val eb = intercept[IllegalStateException] {
      graft.ops.Concurrently.both(42, throw new IllegalStateException("b"))
    }
    assert(eb.getMessage == "b")
    // the calling-thread failure wins even while b runs
    val ea = intercept[IllegalArgumentException] {
      graft.ops.Concurrently.both(
        throw new IllegalArgumentException("a"), { Thread.sleep(50); 7 })
    }
    assert(ea.getMessage == "a")

    // a fails while b is INSIDE a long Spark job: b's jobs are cancelled
    // through its per-call tag, not drained, and none outlives the call
    val sc = spark.sparkContext
    val bJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    val bTags = new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
            .contains("concurrently-b")) {
          bJobs.add(js.jobId)
          bStarted.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val ea2 = intercept[IllegalArgumentException] {
        graft.ops.Concurrently.both(
          {
            assert(bStarted.await(60, java.util.concurrent.TimeUnit.SECONDS),
              "b's job never started")
            throw new IllegalArgumentException("a2")
          },
          {
            bTags.set(sc.getJobTags())
            sc.setJobDescription("concurrently-b")
            sc.setInterruptOnCancel(true)
            // 90 s unless cancelled
            sc.parallelize(1 to 2, 2).map { x => Thread.sleep(90000L); x }
              .count()
          })
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(ea2.getMessage == "a2")
      assert(secs < 45, f"both drained b for $secs%.1f s instead of cancelling it")
      org.apache.spark.sql.GraftShims.drainListenerBus(sc)
      val active = sc.statusTracker.getActiveJobIds().toSet
      assert(!bJobs.asScala.exists(active.contains),
        s"b's jobs still active after both returned: ${bJobs.asScala} / $active")
      assert(bTags.get.exists(_.startsWith("graft-concurrently-")),
        s"b ran without a per-call job tag: ${bTags.get}")
    } finally sc.removeSparkListener(listener)
  }
}
