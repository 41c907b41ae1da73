package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus deduplication operators (beyond-parity training-data surface).
  *
  * Scale design: the only method here that touches all O(n²) pairs is
  * [[jaccardPairsBruteForce]], kept as the small-scale verification oracle.
  * The production paths are:
  *   - [[exactDedup]]: map-only fingerprint + hash groupBy — one shuffle of
  *     (16-byte key, id); at 100 TB this is the cheapest possible plan.
  *   - [[minhashCandidates]]: per-doc constant-size signature (map-only),
  *     explode to `bands` bucket keys, self-join on (band, bucket) — shuffle
  *     volume is bands×docs tiny rows, and pair generation is confined to
  *     hash buckets (skew-bounded by construction: a bucket only collects
  *     genuinely similar docs except for hash collisions).
  *   - [[simhashPairs]]: 8-byte fingerprint, candidates via 16-bit chunk
  *     equality (pigeonhole: hamming ≤ 3 of 4 chunks ⇒ ≥ 1 chunk equal).
  */
object Dedup {

  /** Cores to spread pair-expansion work over. Row-count stats of a small
    * input undersell a join whose OUTPUT is quadratic — without an explicit
    * repartition Spark plans the expansion into one or two tasks. */
  private def par(df: DataFrame): Int =
    GraftPar.of(df)

  /** Exact dedup on an order-insensitive content fingerprint: one surviving
    * (minimum) id per fingerprint group plus the duplicate count. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spreadInput(docs, par(docs)) // spread the per-doc sort+md5 map work
      .select(col(idCol), bagFingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup: classify a DELTA batch against the archived
    * fingerprint ledger [[exactDedup]] produces — the production shape of
    * a continuously-refreshed corpus, where re-deduping the full archive
    * per batch is the thing a 100 TB pipeline cannot afford. Per delta
    * doc: `dup_of_archive` (fingerprint already in the ledger),
    * `dup_in_batch` (first seen earlier in this delta), or `novel`;
    * keep_id = the surviving doc (archive's keeper wins over the batch
    * minimum — the archive was there first).
    *
    * Scale shape: the delta's fingerprints are one map pass; the
    * batch-internal group and BOTH joins key on fp, so the delta is
    * exchanged once and reused (the ledger side shuffles its own
    * fp-partitioning — at scale the ledger would be bucketed by fp on
    * disk and never move). The archive's documents are not rescanned —
    * only its ledger (one narrow row per distinct fingerprint). */
  def incrementalExactDedup(ledger: DataFrame, delta: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // pin ONE fp exchange below both consumers (the batch-min aggregate
    // and the join probe side): without it each re-runs the per-doc
    // sort+md5 map — the t17 "explode runs once" lesson. Dedup groups are
    // tiny, so the map-side combine this forgoes would not have shrunk
    // the shuffle anyway.
    // Exchange width (r17, guide §2.2/§2.4 — scale-adaptive, not a core
    // constant):
    //  - ledger BUCKETED by fp (the compacted-table probe): repartition
    //    the delta at exactly the ledger's bucket count, so the probe
    //    join co-locates with ZERO exchange on the ledger side
    //    (LedgerStreamSpec pin). The old core-count width matched the
    //    bucket count only when buckets == cores; deriving it from the
    //    layout holds for any sizing.
    //  - otherwise: keyed repartition WITHOUT an explicit width — it
    //    follows spark.sql.shuffle.partitions (the cluster-sized knob)
    //    and AQE coalesces to the advisory byte target, so a small delta
    //    batch (the streaming-trigger case, d14's three per rep)
    //    collapses to one post-shuffle partition instead of `cores`
    //    tasks each writing a tiny ledger/classification file.
    // The post-shuffle work is trivial per row (group-min + two narrow
    // joins); the heavy bagFingerprint map runs BEFORE this exchange at
    // spreadInput's width, so neither form costs compute parallelism.
    val fpsBase = spreadInput(delta, par(delta))
      .select(col(idCol).as("id"), bagFingerprint(col(textCol)).as("fp"))
    val fps = fpBucketWidth(ledger) match {
      case Some(n) => fpsBase.repartition(n, col("fp"))
      case None => fpsBase.repartition(col("fp"))
    }
    val batchMin = fps.groupBy("fp").agg(min(col("id")).as("batch_keep"))
    fps.join(batchMin, Seq("fp"))
      .join(ledger.select(col("fp"), col("keep_id").as("archive_keep")),
        Seq("fp"), "left")
      .select(col("id"), col("fp"),
        when(col("archive_keep").isNotNull, lit("dup_of_archive"))
          .when(col("id") > col("batch_keep"), lit("dup_in_batch"))
          .otherwise(lit("novel")).as("status"),
        coalesce(col("archive_keep"), col("batch_keep")).as("keep_id"))
  }

  /** The ledger's fp-bucket count when it is a 1:1 view of a table
    * BUCKETED by exactly ("fp") — the [[graft.streaming.LedgerStream]]
    * compaction layout — None otherwise (directory reads, unions,
    * in-flight frames). Metadata-only plan walk, same shape as
    * [[leafFsRelation]]. */
  private def fpBucketWidth(ledger: DataFrame): Option[Int] =
    leafFsRelation(ledger).flatMap(_.bucketSpec)
      .filter(_.bucketColumnNames == Seq("fp")).map(_.numBuckets)

  /** Bucket-hash width for the banded minhash joins: enough bits that
    * RANDOM collisions between different band signatures stay negligible
    * (expected false-candidate pairs per band ≈ n²/2^(bits+1); at
    * ceil-log2(n) + `slackBits` that is ~n/2^(slackBits+1) — a vanishing
    * fraction of the docs, each removed by the exact-verify stage), while
    * the packed tie-break payload ([[graft.functions.PackBandBits]])
    * stays ceil(bits/8) bytes per band instead of 8. Narrowing merges
    * buckets, never splits them, so banding RECALL is exact for any
    * width. The floor keeps every verify/bench SF at one stable width
    * (and 3-byte groups); the cap bounds the key at 6 bytes — past
    * n ≈ 4·10¹², bucketCap blocking absorbs the extra collisions. */
  def autoBucketBits(n: Long, slackBits: Int = 6, minBits: Int = 24,
      maxBits: Int = 48): Int = {
    val ceilLog2 =
      if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.min(maxBits, math.max(minBits, ceilLog2 + slackBits))
  }

  /** Map-only LSH bucket frame: (id, pfx, band, bucket) — UNPARTITIONED;
    * the caller picks the bucket-key partitioning (plain or
    * triangle-blocked) and pins shuffle-hash (a broadcast build side
    * would recompute the full signature pipeline in one task). The native
    * one-pass MinHashSig expression computes the k-slot signature per doc
    * inside whole-stage codegen. Shingle-less docs have a NULL sig →
    * NULL bucket array → posexplode drops them (an explicit isNotNull
    * filter would be PUSHED into the scan and evaluate the whole minhash
    * twice per row).
    *
    * Buckets are `bits`-bit hashes ([[autoBucketBits]]) and each exploded
    * row carries `pfx` — the PACKED buckets of the bands BEFORE its own
    * (band · ceil(bits/8) bytes) — instead of the full 8-byte-per-band
    * bucket array: the pair joins' first-shared-band tie-break only ever
    * inspects earlier bands (the pair is in THIS band's group, so
    * equality here is given). The r14 ×10000 probe measured the exploded
    * bucket exchange at ~90 GB with the full arrays riding every row;
    * the prefix form carries (bands−1)/2 · ceil(bits/8) ≈ 10 bytes on
    * average instead of 64+ (array data + UnsafeArrayData framing). */
  private def lshBucketFrame(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, p: Int, bits: Int): DataFrame = {
    val r = k / bands
    val bpb = (bits + 7) / 8
    spreadInput(docs, p) // single-file local input ⇒ force map parallelism
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"),
        minhashSignature(wordShingles(col("toks"), shingleN), k).as("sig"))
      .select(col("id"), lshBuckets(col("sig"), bands, r, bits).as("bkts"))
      // bkts is referenced twice (pack + explode) so CollapseProject
      // cannot inline the signature kernel into both — it evaluates once
      .select(col("id"), packBandBits(col("bkts"), bpb).as("pk"),
        posexplode(col("bkts")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      // prefix BEFORE the exchange: this projection runs map-side, so
      // only band·bpb bytes per row ever hit the shuffle
      .select(col("id"), substring(col("pk"), lit(1), col("band") * bpb).as("pfx"),
        col("band"), col("bucket"))
  }

  private[ops] def packBandBits(bkts: Column, bytesPer: Int): Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.PackBandBits(
      org.apache.spark.sql.GraftShims.expression(bkts), bytesPer))

  /** TRUE iff the two packed band prefixes share any aligned slice — see
    * [[graft.functions.SharesBandSlice]]. */
  private[ops] def sharesBandSlice(a: Column, b: Column, bytesPer: Int): Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.SharesBandSlice(
      org.apache.spark.sql.GraftShims.expression(a),
      org.apache.spark.sql.GraftShims.expression(b), bytesPer))

  /** First index where two bucket arrays agree (codegen'd loop) — see
    * [[graft.functions.FirstSharedBand]]. */
  private[ops] def firstSharedBand(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.FirstSharedBand(
      org.apache.spark.sql.GraftShims.expression(a),
      org.apache.spark.sql.GraftShims.expression(b)))

  /** Candidate near-dup pairs from MinHash + banded LSH over word
    * `shingleN`-gram shingles. Probabilistic recall; verify candidates with
    * exact Jaccard before acting on them.
    *
    * Hot-bucket bound: a boilerplate-heavy corpus concentrates thousands
    * of identical-signature docs in ONE (band, bucket) — the same skew
    * that motivated d07's cell cap — so buckets above `bucketCap` are
    * triangle-block-split ([[blockKeyed]]): exact pair set, bounded
    * per-task input, and only the few oversized buckets pay replication.
    *
    * PRECONDITION: `idCol` values must be UNIQUE. Pairs are emitted from
    * their first shared band with no downstream `distinct()`, so a
    * duplicated id yields duplicated (id_a, id_b) rows (under the old
    * distinct() they collapsed — at the cost of the dominant exchange). */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 6,
      bucketCap: Int = 4096): DataFrame = {
    val bits = autoBucketBits(exactRowCount(docs).getOrElse(docs.count()))
    // a (band, bucket) group holds ≤ one row per doc, so the doc-table
    // row bound (parquet footers) is a group bound: when it proves no
    // group can exceed the cap, blockKeyed skips its detection pass
    val buckets = blockKeyed(
      lshBucketFrame(docs, idCol, textCol, shingleN, k, bands, par(docs),
        bits),
      Seq("band", "bucket"), par(docs), bucketCap,
      maxGroupBound = leafRowBound(docs)).hint("shuffle_hash")
    // a pair sharing m bands survives ONLY in its first shared band's
    // bucket group: no duplicate emissions, and the raw-pair `distinct()`
    // exchange (the measured dominant cost on hot corpora — each reduce
    // task wrote ~2M pair rows) disappears entirely. The tie-break scans
    // the packed PREFIX of earlier bands (equality at this band is given
    // by the join key): no shared earlier slice ⇔ this is the pair's
    // first shared band.
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.kx") === col("b.kx") && col("a.ky") === col("b.ky") &&
          col("a.id") < col("b.id") &&
          (col("a.blk") =!= col("b.blk") || col("a.kx") === col("a.ky")) &&
          !sharesBandSlice(col("a.pfx"), col("b.pfx"), (bits + 7) / 8))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** CROSS-corpus candidate near-dup pairs: corpus A's LSH buckets joined
    * against corpus B's (same seeded signature family as
    * [[minhashCandidates]]) — the doc-level train-vs-benchmark
    * contamination check ([[Packing.decontaminate]] flags shared n-grams;
    * this finds whole near-duplicate DOCUMENTS across corpora, e.g. a
    * benchmark answer paraphrased into the training set). Returns
    * (id_a ∈ A, id_b ∈ B) candidates; verify with
    * [[verifyJaccardCross]]. A doc present verbatim in both corpora
    * surfaces as a (x, x) pair at jaccard 1.0.
    *
    * Scale shape: both sides are map-only codegen signatures shuffled on
    * the narrow (band, bucket) key, co-partitioned and shuffle-hash-
    * pinned — the same plan as the self-join, with the probe corpus
    * typically orders of magnitude smaller so its bucket side is tiny.
    * A bucket hot on BOTH sides (boilerplate shared by train AND probe —
    * e.g. a benchmark's license header pasted through the training set)
    * would still be one |A∩g|×|B∩g| rectangle in a single task, so
    * oversized buckets are rectangle-block-split per side
    * ([[blockKeyedCross]], cap `bucketCap`): exact pair set, each task
    * bounded at ~2·cap rows of one bucket.
    *
    * PRECONDITION: ids must be UNIQUE within each corpus (first-shared-
    * band emission, no distinct() — duplicate ids duplicate pair rows). */
  def minhashCandidatesCross(docsA: DataFrame, docsB: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 12,
      bands: Int = 6, bucketCap: Int = 4096): DataFrame = {
    val p = par(docsA)
    // ONE bucket width for both sides (the join keys must agree), sized
    // from the larger corpus — A by convention (train side, orders of
    // magnitude bigger than the probe in the d09 shape)
    val bits = autoBucketBits(math.max(
      exactRowCount(docsA).getOrElse(docsA.count()),
      exactRowCount(docsB).getOrElse(docsB.count())))
    val (ba, bb) = blockKeyedCross(
      lshBucketFrame(docsA, idCol, textCol, shingleN, k, bands, p, bits),
      lshBucketFrame(docsB, idCol, textCol, shingleN, k, bands, p, bits),
      Seq("band", "bucket"), p, bucketCap,
      boundA = leafRowBound(docsA), boundB = leafRowBound(docsB))
    ba.hint("shuffle_hash").as("a")
      .join(bb.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.kx") === col("b.kx") && col("a.ky") === col("b.ky") &&
          // emit each cross pair from its first shared band only (see
          // [[minhashCandidates]]) — replaces the raw-pair distinct()
          !sharesBandSlice(col("a.pfx"), col("b.pfx"), (bits + 7) / 8))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Column-metadata key carrying a minhash ledger's bucket-hash width —
    * the delta probe must derive the SAME join keys the archive was
    * signatured with ([[minhashLedger]] / [[incrementalMinhashDedup]]). */
  val LedgerBitsKey = "graft.bucketBits"

  /** The archived LSH signature ledger: the banded bucket frame of the
    * archive corpus — [[incrementalExactDedup]]'s fingerprint ledger,
    * near-dup edition. Built ONCE when documents enter the archive
    * (in production: written to disk bucketed by (band, bucket) and
    * appended per ingest batch); [[incrementalMinhashDedup]] then probes
    * delta batches against it without ever re-tokenizing or
    * re-signaturing the archive. One row per (doc, band):
    * (id, pfx, band, bucket), with the bucket-hash width recorded in the
    * bucket column's metadata so a probe built later derives identical
    * join keys. */
  def minhashLedger(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 6, bits: Int = 0): DataFrame = {
    val b = if (bits > 0) bits
      else autoBucketBits(exactRowCount(docs).getOrElse(docs.count()))
    lshBucketFrame(docs, idCol, textCol, shingleN, k, bands, par(docs), b)
      .withMetadata("bucket",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(LedgerBitsKey, b.toLong).build())
  }

  /** Incremental NEAR-dup dedup: classify a DELTA batch against the
    * archived LSH [[minhashLedger]] — [[incrementalExactDedup]] for
    * near-duplicates, the d11 shape applied to the dominant real
    * workload. Per delta doc:
    * `dup_of_archive` (a ledger-bucketed archive mate verified at
    * shingle-Jaccard ≥ `threshold`; dup_of = the smallest such archive
    * id — ARCHIVE WINS over any batch mate, whatever the ids),
    * `dup_in_batch` (no archive mate, but a lower-id delta mate ≥
    * threshold), or `novel`. `jaccard` is the similarity to the chosen
    * mate (NULL for novel).
    *
    * Scale shape: the archive's TEXT is touched only for docs that
    * actually match a candidate bucket (verifyJaccardCross's
    * restrict-to-candidates semi-join — the sparse path it was measured
    * for); the archive's signatures are never recomputed — only its
    * ledger rows join, co-partitioned on the narrow (band, bucket) key
    * with rectangle blocking for buckets hot on both sides. The
    * in-batch pass is [[minhashCandidates]] + [[verifyJaccard]] over the
    * delta alone. Recall is the banding's, as in d02 (deterministic for
    * fixed data under the seeded family).
    *
    * PRECONDITION: ids unique across archive ∪ delta. */
  def incrementalMinhashDedup(ledger: DataFrame, archiveDocs: DataFrame,
      delta: DataFrame, idCol: String, textCol: String, shingleN: Int = 3,
      k: Int = 12, bands: Int = 6, threshold: Double = 0.5,
      bucketCap: Int = 4096,
      scope: CacheScope = CacheScope.untracked): DataFrame = {
    val meta = ledger.schema(ledger.schema.fieldIndex("bucket")).metadata
    require(meta.contains(LedgerBitsKey),
      "ledger must be built by minhashLedger (bucket-bits metadata missing)")
    val bits = meta.getLong(LedgerBitsKey).toInt
    val bpb = (bits + 7) / 8
    val p = par(delta)
    val dbk = lshBucketFrame(delta, idCol, textCol, shingleN, k, bands, p, bits)
    val (la, db) = blockKeyedCross(ledger, dbk, Seq("band", "bucket"), p,
      bucketCap, boundA = None, boundB = leafRowBound(delta))
    val cands = la.hint("shuffle_hash").as("a")
      .join(db.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.kx") === col("b.kx") && col("a.ky") === col("b.ky") &&
          !sharesBandSlice(col("a.pfx"), col("b.pfx"), bpb))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // verify against the archive TEXT, restricted to matched candidates:
    // the semi-join keeps the archive scan bounded by matches, not by
    // archive size — the restrictToCandidates design case
    val archMatches = verifyJaccardCross(cands, archiveDocs, delta,
        idCol, textCol, shingleN, restrictToCandidates = true, scope)
      .filter(col("jaccard") >= threshold)
    val archBest = archMatches.groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("arch_dup"),
        min_by(col("jaccard"), col("id_a")).as("arch_j"))
    val batchPairs = verifyJaccard(
        minhashCandidates(delta, idCol, textCol, shingleN, k, bands, bucketCap),
        delta, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
    val batchBest = batchPairs.groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("batch_dup"),
        min_by(col("jaccard"), col("id_a")).as("batch_j"))
    // the per-doc best frames are narrow but sit on pair-join pipelines
    // whose stats would force sort-merge — hash-pin them on the id key
    delta.select(col(idCol).as("id"))
      .join(archBest.hint("shuffle_hash"), Seq("id"), "left")
      .join(batchBest.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        when(col("arch_dup").isNotNull, lit("dup_of_archive"))
          .when(col("batch_dup").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("novel")).as("status"),
        coalesce(col("arch_dup"), col("batch_dup")).as("dup_of"),
        when(col("arch_dup").isNotNull, col("arch_j"))
          .otherwise(col("batch_j")).as("jaccard"))
  }

  /** Incremental SEMANTIC dedup — [[incrementalMinhashDedup]] in embedding
    * space: classify a DELTA batch of vectors against an archive LEDGER of
    * (id, v, norm, cell) rows ([[KMeans.assignWithFrame]]'s schema — each
    * archived vector under its home IVF cell of the shared trained/seeded
    * centroid frame `cents`). Per delta vector:
    * `dup_of_archive` (cosine ≥ `minCos`, round-9, to some archived vector
    * in one of the delta vector's top-`nprobe` probe cells; dup_of = the
    * smallest such archive id — ARCHIVE WINS over any batch mate),
    * `dup_in_batch` (no archive mate, but a lower-id batch mate ≥ minCos
    * sharing its home cell — [[KMeans.semanticDedupTrained]] over the
    * delta alone), or `novel`. `cos` is the archive-mate cosine (NULL
    * otherwise). Returns (id, status, dup_of, cos).
    *
    * Scale shape: the centroid frame broadcasts (probe ranking costs
    * |delta|·nlist broadcast-joined rows); the probe join is rectangle-
    * blocked on the low-cardinality cell key ([[blockKeyedCross]] — a
    * boilerplate-hot cell bounded near `cellCap` on both sides); the
    * archive is touched only through its narrow ledger rows. Recall is
    * the nprobe dial's (the d10a-measured trade).
    *
    * PRECONDITION: ids unique across archive ∪ delta; `cents` is the SAME
    * frame the ledger was assigned with (cell ids are meaningless across
    * centroid sets). */
  def incrementalSemanticDedup(ledger: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, cents: DataFrame, nlist: Int,
      minCos: Double, nprobe: Int = 2, cellCap: Int = 4096,
      scope: CacheScope = CacheScope.untracked,
      assigned: Option[DataFrame] = None): DataFrame = {
    // dim from the CENTROID frame, not the batch — an empty delta (idle
    // trigger) must classify to zero rows, not throw on first(); stamping
    // it as column metadata routes every downstream vecDim through the
    // metadata instead of a first()-row probe
    val dim = cents.select(size(col("cv"))).first().getInt(0)
    val batch0 = batch.withMetadata(vecCol,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(Similarity.VecDimKey, dim.toLong).build())
    // archive matches: probe top-nprobe cells via the broadcast centroid
    // frame, compare round-9 cosine against only those cells' ledger rows.
    // `assigned` — the caller's already-persisted [[KMeans.assignWithFrame]]
    // frame over THIS batch with THIS cents (the caller's contract) —
    // supplies (id, v, norm) without re-scanning the batch or recomputing
    // norms, and is handed to the in-batch SemDeDup below so the whole
    // trigger runs ONE assignment pass (r18; the streaming semantic
    // ledger's probe/append fusion)
    val q = assigned match {
      case Some(a) => a.select(col("id"), col("v").as("qv"),
        col("norm").as("qnorm"))
      case None => batch0.select(col(idCol).as("id"), col(vecCol).as("qv"),
        Similarity.normFlat(col(vecCol), dim).as("qnorm"))
    }
    val probes = q.crossJoin(broadcast(cents))
      .select(col("id"), col("qv"), col("qnorm"), col("cidx").as("cell"),
        Similarity.dotFlat(col("qv"), col("cv"), dim).as("dt"))
      .withColumn("prk", row_number().over(
        Window.partitionBy("id").orderBy(desc("dt"), asc("cell"))))
      .filter(col("prk") <= nprobe)
      .select(col("id"), col("qv"), col("qnorm"), col("cell"))
    // the cell key is LOW-cardinality (nlist values) and a boilerplate
    // cluster makes one cell hot on BOTH sides — rectangle-block the
    // probe join ([[blockKeyedCross]]: exact pair set, each task bounded
    // near cellCap)
    val (lb, pb) = blockKeyedCross(ledger, probes, Seq("cell"),
      GraftPar.of(batch0), cellCap)
    val archBest = lb.hint("shuffle_hash").as("l")
      .join(pb.hint("shuffle_hash").as("pr"),
        col("l.cell") === col("pr.cell") &&
          col("l.kx") === col("pr.kx") && col("l.ky") === col("pr.ky"))
      .select(col("pr.id").as("id"), col("l.id").as("lid"),
        round(Similarity.dotFlat(col("pr.qv"), col("l.v"), dim) /
          (col("pr.qnorm") * col("l.norm")), 9).as("cos"))
      .filter(col("cos") >= minCos)
      .groupBy("id")
      .agg(min(col("lid")).as("arch_dup"),
        min_by(col("cos"), col("lid")).as("arch_cos"))
    // in-batch paraphrase pairs: the trained-frame SemDeDup over the
    // delta alone (lower-id mate wins within the batch)
    val inBatch = KMeans.semanticDedupTrained(batch0, idCol, vecCol,
        cents, nlist, minCos, cellCap, scope, preAssigned = assigned)
      .select(col("id"), col("dup_of").as("batch_dup"))
    batch0.select(col(idCol).as("id"))
      .join(archBest, Seq("id"), "left")
      .join(inBatch, Seq("id"), "left")
      .select(col("id"),
        when(col("arch_dup").isNotNull, lit("dup_of_archive"))
          .when(col("batch_dup").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("novel")).as("status"),
        coalesce(col("arch_dup"), col("batch_dup")).as("dup_of"),
        col("arch_cos").as("cos"))
  }

  /** Exact shingle-Jaccard for a CROSS-corpus pair frame (id_a from A,
    * id_b from B) — the verification stage after
    * [[minhashCandidatesCross]]. `restrictToCandidates` as in
    * [[verifyJaccard]] (same measured dense-vs-sparse trade-off). */
  def verifyJaccardCross(pairs: DataFrame, docsA: DataFrame, docsB: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      restrictToCandidates: Boolean = false,
      scope: CacheScope = CacheScope.untracked): DataFrame = {
    val p =
      if (restrictToCandidates) scope.persist(pairs)
      else pairs
    // exchange RAW TEXT per corpus and recompute shingles after the join
    // (see verifyJaccard — the shingle arrays were the dominant shuffle
    // payload; exact string semantics unchanged)
    def txt(docs: DataFrame, side: String) = {
      val base =
        if (restrictToCandidates)
          docs.join(p.select(col(side).as(idCol)).distinct(), Seq(idCol), "left_semi")
        else docs
      spreadInput(base, par(docsA))
        .select(col(idCol).as("id"), col(textCol).as("txt"))
    }
    // shuffle-hash pinned on the PAIR side: build the bounded candidate
    // stream, stream the corpus text (see verifyJaccard — the hinted
    // side is the BUILD side)
    p.hint("shuffle_hash")
      .join(txt(docsA, "id_a").as("sa"), col("id_a") === col("sa.id"))
      .hint("shuffle_hash")
      .join(txt(docsB, "id_b").as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        wordShingles(tokens(col("sa.txt")), shingleN).as("sh_a"),
        wordShingles(tokens(col("sb.txt")), shingleN).as("sh_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** Exact shingle-Jaccard for a pair frame (id_a, id_b) — the verification
    * stage after [[minhashCandidates]].
    *
    * `restrictToCandidates` picks the corpus-density trade-off for the
    * shingle recompute (both MEASURED at bench scale):
    *   - false (default): shingle the full corpus for each join side. The
    *     right call when candidate pairs touch a large fraction of docs
    *     (dup-dense corpora, and this synthetic benchmark) — persisting
    *     the shingle arrays loses to recompute, and a semi-join saves
    *     nothing when it keeps everything.
    *   - true: PERSIST the (narrow, two-longs-a-row) pair frame and
    *     semi-join its distinct ids into the corpus before shingling, so
    *     exact shingles are computed only for docs that appear in some
    *     candidate pair. The right call at 100 TB with SPARSE near-dups —
    *     the semi-join broadcasts (AQE sees the cached pair count) and
    *     the shingle cost scales with matches, not corpus. */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3,
      restrictToCandidates: Boolean = false,
      scope: CacheScope = CacheScope.untracked): DataFrame = {
    val p =
      if (restrictToCandidates) scope.persist(pairs)
      else pairs
    val base =
      if (restrictToCandidates) {
        val ids = p.select(col("id_a").as(idCol))
          .unionByName(p.select(col("id_b").as(idCol))).distinct()
        docs.join(ids, Seq(idCol), "left_semi")
      } else docs
    // exchange RAW TEXT, not shingle arrays, and pin ONE id exchange that
    // both probe joins reuse (ReusedExchange — the d11 fp-exchange
    // lesson): the r15 ×1000 shuffle accounting showed the two
    // shingle-frame exchanges dominating d02's ~8.4 GB shuffle — a
    // 100-token doc's distinct 3-gram array is ~4× its own text. The
    // shingles are recomputed AFTER the join, once per side per
    // surviving pair row (a few µs of codegen kernel — the d08/t08
    // recompute-don't-materialize lesson), exact string semantics
    // unchanged.
    val txt = spreadInput(base, par(docs))
      .select(col(idCol).as("id"), col(textCol).as("txt"))
      .repartition(par(docs), col("id"))
    // pin shuffle-hash via a hint on the PAIR side, for two reasons:
    // (1) no broadcast — a broadcast text side would recompute per task;
    // (2) the BUILD side must be the pair stream, not the corpus — Spark
    // builds the hash table on the HINTED side, and the r12 ×1000 probe
    // showed a corpus-side hint materializing per-partition hash tables
    // ("Can't acquire … to build hash relation") while the narrow
    // candidate rows streamed. Candidates are cap-bounded per doc
    // (blockKeyed); the corpus side is the unbounded one at 100 TB.
    // No explicit repartition of the pair stream: the id_a equi-join
    // right below hash-exchanges it anyway (a round-robin first would be
    // a second full shuffle of every candidate pair that changes neither
    // placement nor skew — the post-AQE plan showed both stacked).
    p.hint("shuffle_hash")
      .join(txt.as("sa"), col("id_a") === col("sa.id"))
      .hint("shuffle_hash")
      .join(txt.as("sb"), col("id_b") === col("sb.id"))
      // sh_a/sh_b in their own projection: each is referenced twice below
      // (intersect + union), so CollapseProject cannot inline the shingle
      // kernel into both — it evaluates once per pair row per side
      .select(col("id_a"), col("id_b"),
        wordShingles(tokens(col("sa.txt")), shingleN).as("sh_a"),
        wordShingles(tokens(col("sb.txt")), shingleN).as("sh_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** Connected components over an undirected pair graph by min-label
    * propagation WITH pointer jumping: each round every vertex takes the
    * minimum label among itself and its neighbors, then jumps to its
    * label's label (label ← label(label), the parallel pointer-doubling
    * step), until a fixpoint.
    *
    * This is the clustering stage of a near-dup pipeline — candidate pairs
    * (from [[minhashCandidates]]+[[verifyJaccard]] at scale, exact pairs
    * for verification) become duplicate CLUSTERS, and `min(id)` per
    * component is the canonical document.
    *
    * Scale shape: each iteration is one join of the (2·|E|)-row symmetric
    * edge list with the label frame plus a groupBy, plus one narrow
    * label-frame self-join for the jump — all shuffle on id. The jump is
    * what bounds rounds at O(log n) instead of O(component diameter):
    * labels only ever decrease, and the distance-to-component-min covered
    * per round doubles (2, 6, 14, … = 2^(k+1)−2 on a path), so a
    * chain-shaped component of a million vertices converges in ~20 rounds
    * where plain propagation needs a million — near-clique dup graphs
    * still take their usual 2–4. The per-round `count` action is the
    * convergence check (inherent to iterative fixpoints), and each
    * round's labels are persisted so lineage doesn't stack. Throws when
    * maxIter rounds don't converge (silently stale labels would disagree
    * with any transitive-closure oracle). Correctness of the fixpoint is
    * the standard argument: both steps are monotone non-increasing over
    * vertex-id labels of the same component, so a zero-change pass means
    * plain propagation was already a no-op ⇒ labels are neighbor-
    * consistent ⇒ every label is its component's minimum id.
    *
    * Ownership: the RETURNED frame is persisted (unpersisting before
    * handing it back would recompute the whole fixpoint — and the O(n²)
    * edge generation — on first use); call `.unpersist()` on it when
    * done.
    *
    * Fault tolerance: per-round lineage truncation uses
    * `localCheckpoint()` (executor-resident blocks — fast, but a lost
    * executor makes the fixpoint unrecoverable since there is no lineage
    * to recompute from) UNLESS the session has a reliable checkpoint dir
    * configured (`sc.setCheckpointDir`), in which case each round writes
    * a reliable `checkpoint()` instead. Long cluster runs should set a
    * checkpoint dir; single-node benches keep the fast path. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // the edge frame is consumed TWICE per iteration (propagation join +
    // convergence count) across O(diameter) rounds — persist it, or the
    // whole upstream pair-generation join (O(n²) in the exact path)
    // re-executes 2×rounds times
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = vertices.select(col("id"), col("id").as("label")).persist()
    var changed = 1L
    var it = 0
    // maxIter + 1 passes allowed: an iteration that still CHANGES labels
    // can be the converging one — only the following zero-change pass
    // confirms the fixpoint, so a graph converging at exactly maxIter
    // rounds needs one extra confirmation pass, not a throw
    while (changed > 0 && it <= maxIter) {
      val viaEdges = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("label"))
      val prop = labels.unionByName(viaEdges)
        .groupBy("id").agg(min("label").as("label")).persist()
      // pointer jump: label ← label(label). Every label IS a vertex id of
      // the same component (init: own id; prop: min over vertex ids;
      // jump: that vertex's label), so the inner self-join never drops a
      // row and the invariant is preserved. prop is persisted because the
      // jump consumes it on BOTH sides — and the round's result is
      // localCheckpoint'ed (not merely persisted): the self-join puts
      // prop's subtree in the plan TWICE, so without lineage truncation
      // the logical plan doubles per round (exponential analyzer cost by
      // ~round 8); an eager local checkpoint keeps every round's plan a
      // constant-size tree over the previous round's materialized blocks.
      val jumped = prop.as("x")
        .join(prop.select(col("id").as("pid"), col("label").as("plabel")).as("p"),
          col("x.label") === col("p.pid"))
        .select(col("x.id").as("id"), col("plabel").as("label"))
      // reliable checkpoint when a dir is configured (survives executor
      // loss on a cluster); executor-local blocks otherwise (fast path)
      val next =
        if (vertices.sparkSession.sparkContext.getCheckpointDir.isDefined)
          jumped.checkpoint()
        else jumped.localCheckpoint()
      changed = next.join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).count()
      prop.unpersist()
      labels.unpersist()
      labels = next
      it += 1
    }
    sym.unpersist()
    // silent non-convergence would disagree with any transitive-closure
    // oracle (a chain component longer than maxIter keeps stale labels)
    if (changed > 0) {
      labels.unpersist() // don't leak the cached frame on the throw path
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(a component's diameter exceeds maxIter); raise maxIter")
    }
    labels
  }

  /** All-pairs exact Jaccard ≥ threshold. O(n²) — verification/oracle path
    * only; use [[minhashCandidates]] + [[verifyJaccard]] at scale. */
  def jaccardPairsBruteForce(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = spreadInput(docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), wordShingles(col("toks"), shingleN).as("sh")),
      par(docs)) // streamed side of the nested-loop pair join
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (< 16·chunks
    * guarantees candidate completeness via the pigeonhole chunk join). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsOfFps(simhashFps(docs, idCol, textCol), maxHamming)

  /** Map-only simhash fingerprints: the native one-pass SimHash64
    * expression (same per-token hash and majority vote as the earlier
    * explode + 64-vote-column aggregation) computes the fingerprint inside
    * whole-stage codegen with NO per-doc shuffle. */
  def simhashFps(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spreadInput(docs, par(docs))
      .select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("fp"))

  /** SQL-reproducible simhash family: 60-bit fingerprint from md5-derived
    * per-token hashes (first 15 hex chars → bigint) with the same
    * majority-vote construction as [[simhashFps]]. Slower than the xxh64
    * codegen expression (one md5 per token), so the PRODUCTION family
    * stays xxh64 — this one exists so the whole pigeonhole chunk-join
    * operator is value-oracle-able end to end: DuckDB recomputes md5
    * hashes, votes, fingerprints, and brute-force Hamming pairs
    * bit-identically (d04b). Still map-only whole-stage codegen. */
  def simhashFpsMd5(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spreadInput(docs, par(docs))
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), expr(
        "transform(toks, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))")
        .as("ths"))
      // bit b of the fingerprint is the sign of the ±1 vote sum across
      // token hashes; empty docs vote 0 ≥ 0 on every bit (both engines)
      .select(col("id"), expr(
        """aggregate(sequence(0, 59), 0L, (acc, b) -> acc +
          IF(aggregate(ths, 0L,
               (a, h) -> a + (CASE WHEN (shiftright(h, b) & 1) = 1
                              THEN 1L ELSE -1L END)) >= 0,
             shiftleft(1L, b), 0L))""").as("fp"))

  /** Smallest pigeonhole combination size `m` whose join-key width keeps
    * the expected bucket population at `targetBucket` for an n-row
    * fingerprint corpus — the [[graft.ops.Similarity.autoLshR]] policy
    * applied to the simhash chunk join. With `c = m + maxHamming` chunks
    * of 64 bits, a pair within hamming ≤ maxHamming leaves ≥ m chunks
    * untouched, so it shares at least one m-combination — candidate
    * completeness holds for EVERY m (the output is the exact hamming
    * pair set either way; m trades key width against row replication
    * C(c,m)). The fixed m = 1 (4×16-bit chunks) has E[bucket] ∝ n: the
    * ×10000 probe measured its quadratic pair stream spilling tens of GB
    * where m = 2's 24-bit keys keep the stream linear. Floors at m = 1
    * below ~0.5 M rows (every verify/bench SF and the ×10/×100 probes),
    * caps at m = 3 (30-bit keys — past that, bucketCap blocking carries
    * the rest). */
  def autoSimhashCombo(n: Long, maxHamming: Int = 3,
      targetBucket: Int = 8): Int = {
    val needBits =
      if (n <= targetBucket) 0
      else {
        val buckets = (n + targetBucket - 1) / targetBucket
        if (buckets <= 1L) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
      }
    (1 to 3).find(m => m * (64 / (m + maxHamming)) >= needBits).getOrElse(3)
  }

  /** Pigeonhole combination join over a precomputed (id, fp) frame; the
    * only exchange is the narrow (combo, combo_val) bucket partitioning.
    *
    * `comboSize` (m) defaults to 0 = DERIVE from the corpus row count
    * ([[autoSimhashCombo]]): the fingerprint splits into c = m+maxHamming
    * chunks and each doc emits one row per m-chunk combination, keyed by
    * the concatenated chunk values (m·(64/c) bits — wider keys at larger
    * corpora keep E[bucket] constant where the fixed 16-bit chunking's
    * bucket population grows ∝ n). The pair OUTPUT is identical for any
    * m (exact hamming ≤ maxHamming set, by the pigeonhole guarantee), so
    * the static oracles need no pin. Combo-value groups above
    * `bucketCap` (near-identical boilerplate fingerprints) are
    * triangle-block-split ([[blockKeyed]]): exact pair set, bounded
    * per-task input.
    *
    * PRECONDITION: `id` values must be UNIQUE (pairs emit from their
    * first shared combination with no distinct() — duplicate ids
    * duplicate pair rows). */
  def simhashPairsOfFps(fps: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = 4096, comboSize: Int = 0): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 16,
      s"simhash pigeonhole supports hamming 1..16, got $maxHamming")
    val m = if (comboSize > 0) comboSize
      else autoSimhashCombo(exactRowCount(fps).getOrElse(fps.count()),
        maxHamming)
    val c = m + maxHamming
    require(c <= 64, "more chunks than fingerprint bits")
    // chunk widths: the first 64 mod c chunks take the extra bit
    val widths = Array.tabulate(c)(i => 64 / c + (if (i < 64 % c) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    def chunkMask(i: Int): Long =
      (if (widths(i) == 64) -1L else (1L << widths(i)) - 1L) << offsets(i)
    // ascending-index m-combinations, in lexicographic order — the
    // "first shared" tie-break below follows the same order
    val combos: Seq[Seq[Int]] =
      (0 until c).combinations(m).map(_.toSeq).toSeq
    def comboKey(combo: Seq[Int]): Column =
      combo.foldLeft(lit(0L)) { (acc, i) =>
        shiftleft(acc, widths(i)).bitwiseOR(
          shiftrightunsigned(col("fp"), offsets(i))
            .bitwiseAND(lit((1L << widths(i)) - 1L)))
      }
    // a (combo, combo_val) group holds ≤ one row per fingerprint (groups
    // live within one combo position), so the fp-frame row bound is a
    // group bound — skips detection when metadata proves it under the cap
    val chunks = blockKeyed(
      fps.select(col("id"), col("fp"),
        posexplode(array(combos.map(comboKey): _*)))
        .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val")),
      Seq("chunk", "chunk_val"), par(fps), bucketCap,
      maxGroupBound = leafRowBound(fps))
      // pin the co-partitioned self-join (same rationale as the LSH bucket
      // join): a broadcast build side would recompute the full fingerprint
      // pipeline in one task, and sort-merge adds a pointless sort
      .hint("shuffle_hash")
    // emit each pair from its FIRST shared combination only (the same
    // duplicate-suppression as the LSH joins' FirstSharedBand — here the
    // combo values derive from the carried fingerprints, so a when-cascade
    // over fp⊕fp replaces the array kernel): no duplicate emissions, no
    // raw-pair distinct() exchange. The otherwise(last) branch is only
    // reachable inside last-combo groups where all earlier combos differ.
    val x = col("a.fp").bitwiseXOR(col("b.fp"))
    val firstSharedCombo = combos.init.zipWithIndex.foldRight(
        lit(combos.length - 1)) { case ((combo, i), els) =>
      val mask = combo.map(chunkMask).reduce(_ | _)
      when(x.bitwiseAND(lit(mask)) === 0, i).otherwise(els)
    }
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.chunk_val") === col("b.chunk_val") &&
          col("a.kx") === col("b.kx") && col("a.ky") === col("b.ky") &&
          col("a.id") < col("b.id") &&
          (col("a.blk") =!= col("b.blk") || col("a.kx") === col("a.ky")) &&
          col("a.chunk") === firstSharedCombo)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.fp"), col("b.fp")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-doc audit of the pigeonhole chunk join against brute-force
    * Hamming pairs: `pigeonhole_ok` iff the doc's neighbor set from the
    * production chunk-join path equals the exhaustive O(n²) one. The two
    * sets are provably equal (hamming ≤ 3 of 4 chunks ⇒ ≥ 1 chunk equal),
    * so a `false` row means the simhash/banding implementation broke —
    * this is the DuckDB-orac-able surface of a hash-specific operator
    * whose pair values SQL cannot recompute. The brute-force side runs on
    * the 8-byte fingerprints only (n²/2 codegen'd XOR+popcounts — cheap
    * relative to the text scan even at bench scale; the o(n²) production
    * answer is still the chunk join). */
  def simhashPigeonholeAudit(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = simhashFps(docs, idCol, textCol)
    val viaChunks = simhashPairsOfFps(fps, maxHamming).select("id_a", "id_b")
    val f = spreadInput(fps, par(fps))
    val bruteForce = f.as("a").join(f.as("b"), col("a.id") < col("b.id"))
      .filter(hamming64(col("a.fp"), col("b.fp")) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val mismatch = viaChunks.exceptAll(bruteForce)
      .unionByName(bruteForce.exceptAll(viaChunks))
    val badIds = mismatch.select(col("id_a").as("id"))
      .unionByName(mismatch.select(col("id_b").as("id"))).distinct()
    // badIds is empty whenever the implementation is correct — broadcast
    // it (the except-pipeline's stats would otherwise force a sort-merge)
    fps.select(col("id"))
      .join(broadcast(badIds.withColumn("bad", lit(true))), Seq("id"), "left")
      .select(col("id"), col("bad").isNull.as("pigeonhole_ok"))
  }

  /** Semantic dedup: cluster-bounded embedding near-dup pruning (the
    * SemDeDup shape — Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"). Every vector
    * is coarse-assigned to its argmax-dot cell around the literal
    * `cents` centroids (the SAME map-only plan [[Similarity.ivfTopK]]
    * uses), and pairwise cosine runs ONLY within a cell: a vector whose
    * cell holds a lower-id mate with cosine ≥ `minCos` is marked a
    * duplicate of the smallest such mate.
    *
    * Scale shape: this is THE way semantic dedup stays sub-quadratic at
    * 100 TB — the O(n²) pair cost becomes Σ|cell|², bounded by the
    * clustering (with balanced cells, n²/nlist), the cell join is
    * co-partitioned on the cell key (shuffle-hash pinned: row-count stats
    * undersell the quadratic output), and cell assignment is map-only
    * codegen over broadcast-literal centroids. At corpus scale pass
    * kmeans-refined centroids ([[Similarity.ivfKmeansTopK]]'s sweep) and
    * a larger nlist; seeded centroids keep the whole pipeline (argmax,
    * pair set, min-id pick) exactly SQL-reproducible for the oracle.
    *
    * Hot-cell bound: a boilerplate-heavy corpus concentrates the near-dup
    * mass in FEW cells — exactly the rows this operator exists to find —
    * and an unblocked within-cell self-join would turn each hot cell into
    * one quadratic task. Cells larger than `cellCap` are therefore
    * triangle-block-partitioned ([[blockCells]]): the hot cell's pair work
    * spreads over B·(B+1)/2 tasks of ≤ ~2·cellCap input rows each
    * (B = ⌈|cell|/cellCap⌉), and the pair SET is provably identical to
    * the plain self-join — this is an exact load-balancing rewrite (the
    * SemDeDup paper caps cluster sizes for the same reason, but its cap
    * drops pairs; this one drops none). Balanced cells (B = 1) take the
    * exact r7 plan plus one broadcast join against the ≤ nlist-row
    * cell-size frame.
    *
    * Returns one row per vector: (id, cell, dup_of, is_dup) with
    * dup_of = min lower-id cell-mate at cosine ≥ minCos (NULL ⇒ kept). */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]], minCos: Double, cellCap: Int = 4096): DataFrame =
    semanticDedupWith(embs, idCol, vecCol,
      Similarity.cellArgmax(_, cents), minCos, cellCap)

  /** Scale-safe default cell count: ⌈n / targetCell⌉ keeps the EXPECTED
    * cell population — and the Σ|cell|² pair cost ≈ n·targetCell —
    * constant per row (the SemDeDup sizing practice: clusters grow with
    * the corpus). The floor keeps tiny corpora at the oracle-pinned
    * registered nlist = 16 (targetCell = 125 makes every verify/bench SF,
    * n ≤ 2000, derive exactly 16); the cap bounds the driver-resident
    * centroid literal (64 k × 64 dims ≈ 32 MB of doubles) — a corpus past
    * the cap (> 8 M rows at targetCell 125) should pass TRAINED centroids
    * ([[Similarity.ivfKmeansTopK]]'s sweep over a sample) to
    * [[semanticDedup]] explicitly, which is also SemDeDup practice. */
  def autoNlist(n: Long, targetCell: Int = 125, nMin: Int = 16,
      nMax: Int = 1 << 16): Int =
    math.min(nMax.toLong,
      math.max(nMin.toLong, (n + targetCell - 1) / targetCell)).toInt

  /** [[semanticDedup]] with the cell count DERIVED from the corpus row
    * count ([[autoNlist]]) — the scale-safe default: a fixed nlist is
    * quadratic-by-config (Σ|cell|² with |cell| ∝ n; the registered
    * nlist = 16 config measured 137× at the ×100 probe and the scaled
    * fix-up was opt-in until r13). Above `twoLevelAbove` centroids the
    * assignment switches to the two-level ⌈√nlist⌉-coarse probe
    * ([[Similarity.cellArgmaxTwoLevel]]) so assignment work stays
    * O(n·√nlist) instead of O(n·nlist) — the quadratic that excluded the
    * scaled-nlist ×1000 probe in r12. The threshold keeps every
    * verify/bench SF (nlist = 16) on the EXACT single-level argmax the
    * DuckDB oracle replays; the two-level path is approximate near coarse
    * boundaries (documented there). */
  def semanticDedupAuto(embs: DataFrame, idCol: String, vecCol: String,
      minCos: Double, targetCell: Int = 125, twoLevelAbove: Int = 64,
      cellCap: Int = 4096): DataFrame = {
    val nlist = autoNlist(Similarity.sizingCount(embs), targetCell)
    val cents = Similarity.seedCentroids(embs, idCol, vecCol, nlist)
    require(cents.nonEmpty,
      "semanticDedupAuto: empty corpus — no seed centroids to assign against")
    val assign: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (nlist <= twoLevelAbove) Similarity.cellArgmax(_, cents)
      else Similarity.cellArgmaxTwoLevel(_, cents)
    semanticDedupWith(embs, idCol, vecCol, assign, minCos, cellCap)
  }

  private def semanticDedupWith(embs: DataFrame, idCol: String, vecCol: String,
      assign: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      minCos: Double, cellCap: Int): DataFrame = {
    val dim = Similarity.vecDim(embs, vecCol)
    // the assignment (nlist×dim dots per row, one argmax kernel call —
    // Similarity.cellArgmax) feeds THREE consumers — the cell-size
    // aggregation, the blocked pair join, and the final join-back —
    // persist it so the dot pipeline evaluates once (MEMORY_AND_DISK:
    // spills at corpus scale; Spark evicts LRU)
    val assigned = spreadInput(embs
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.normFlat(col(vecCol), dim).as("norm")),
      par(embs)) // spread the per-row nlist×dim dot products
      .withColumn("cell", assign(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dedupWithinCells(assigned, par(embs), dim, minCos, cellCap,
      leafRowBound(embs))
  }

  /** The within-cell min-id dedup downstream shared by every SemDeDup
    * variant (literal-kernel assignment above, trained-frame assignment
    * in [[KMeans.semanticDedupTrained]]): blocked co-partitioned cell
    * self-join → min lower-id mate at cosine ≥ minCos → join-back.
    * `assigned` must be (id, v, norm, cell), persisted by the caller
    * (three consumers). */
  private[graft] def dedupWithinCells(assigned: DataFrame, par: Int,
      dim: Int, minCos: Double, cellCap: Int,
      maxGroupBound: Option[Long]): DataFrame = {
    // co-partitioned blocked self-join (pinned: a broadcast build side
    // would redo the whole assignment pipeline in one task). The join key
    // carries the block-pair (kx, ky) so a hot cell's quadratic output is
    // spread across its block-pair tasks; the extra predicate keeps
    // same-block pairs on the diagonal task only (they'd otherwise match
    // on every (blk, t) replica key — B duplicates per pair).
    val blocked = blockCells(assigned, par, cellCap, maxGroupBound)
      .hint("shuffle_hash")
    val dupOf = blocked.as("a")
      .join(blocked.as("b"),
        col("a.cell") === col("b.cell") && col("a.kx") === col("b.kx") &&
          col("a.ky") === col("b.ky") && col("a.id") < col("b.id") &&
          (col("a.blk") =!= col("b.blk") || col("a.kx") === col("a.ky")))
      // banded threshold: round-9 BigDecimal only inside the ±1e-9
      // boundary band (Similarity.roundedAtLeast) — identical accept set,
      // ~10× the combos/s of the always-round form
      .filter(Similarity.roundedAtLeast(
        Similarity.dotFlat(col("a.v"), col("b.v"), dim) /
          (col("a.norm") * col("b.norm")), minCos, 9))
      .groupBy(col("b.id").as("id"))
      .agg(min(col("a.id")).as("dup_of"))
    // the (id → dup_of) frame is narrow but its row-count estimate comes
    // from the quadratic pair pipeline — unhinted, the planner sorts both
    // sides into a sort-merge; a hash join on the id shuffle needs no sort
    assigned.select(col("id"), col("cell"))
      .join(dupOf.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Versioned binary codec for [[semanticDedupStream]]'s per-cell keeper
    * state. Layout: magic (4) | version (4) | count (4) | per keeper
    * id (8), dim (4), dim doubles, norm (8), sig (4). An explicit header
    * turns a checkpoint written under a DIFFERENT keeper shape into a
    * typed error at the first loaded group — Spark's state store hands
    * back raw bytes and an unversioned (e.g. Kryo) decode of an old blob
    * is undefined garbage. Bumping [[KeeperState.Version]] is the
    * contract for any future keeper-field change. */
  private[graft] object KeeperState {
    type Keeper = (Long, Array[Double], Double, Int)
    val Magic = 0x4B505253 // "KPRS"
    val Version = 2 // v1 = the (id, vec, norm) pre-prefilter shape

    def encode(keepers: List[Keeper]): Array[Byte] = {
      var bytes = 12
      keepers.foreach(k => bytes += 8 + 4 + 8 * k._2.length + 8 + 4)
      val bb = java.nio.ByteBuffer.allocate(bytes)
      bb.putInt(Magic).putInt(Version).putInt(keepers.length)
      keepers.foreach { case (id, v, norm, sig) =>
        bb.putLong(id).putInt(v.length)
        var i = 0
        while (i < v.length) { bb.putDouble(v(i)); i += 1 }
        bb.putDouble(norm).putInt(sig)
      }
      bb.array()
    }

    /** @throws IllegalStateException on a foreign or wrong-version blob */
    def decode(bytes: Array[Byte]): List[Keeper] = {
      if (bytes.length < 12)
        throw new IllegalStateException(
          s"keeper state version mismatch: blob of ${bytes.length} bytes has no header — " +
            "checkpoint written by an incompatible build; restart from a fresh checkpoint")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val magic = bb.getInt
      if (magic != Magic)
        throw new IllegalStateException(
          f"keeper state version mismatch: bad magic 0x$magic%08x (expected 0x$Magic%08x) — " +
            "checkpoint written by an incompatible build; restart from a fresh checkpoint")
      val ver = bb.getInt
      if (ver != Version)
        throw new IllegalStateException(
          s"keeper state version mismatch: checkpoint has v$ver, this build reads v$Version — " +
            "restart from a fresh checkpoint and re-feed, or run the matching build")
      val n = bb.getInt
      // body-level damage (truncation mid-keeper, corrupted count/dim)
      // must be the same typed error as header damage — never a raw
      // BufferUnderflow or a negative/multi-GB array allocation in the
      // state-load path
      def corrupt(what: String): Nothing =
        throw new IllegalStateException(
          s"keeper state version mismatch: v$Version blob is corrupt ($what) — " +
            "restart from a fresh checkpoint")
      if (n < 0) corrupt(s"negative keeper count $n")
      var out = List.empty[Keeper]
      var k = 0
      while (k < n) {
        if (bb.remaining < 12) corrupt(s"truncated at keeper $k")
        val id = bb.getLong
        val dim = bb.getInt
        if (dim < 0 || bb.remaining < 8L * dim + 12)
          corrupt(s"keeper $k dim $dim exceeds blob")
        val v = new Array[Double](dim)
        var i = 0
        while (i < dim) { v(i) = bb.getDouble; i += 1 }
        out = (id, v, bb.getDouble, bb.getInt) :: out
        k += 1
      }
      out.reverse
    }
  }

  /** STREAMING semantic dedup — the ingestion-time counterpart of
    * [[semanticDedup]]: each incoming vector is coarse-assigned to its
    * argmax-dot cell (map-only, the same [[Similarity.cellArgmax]] kernel
    * over broadcast-literal centroids — works unchanged on a streaming
    * frame), and compared against the cell's KEEPER set held in the state
    * store; a vector with a keeper mate at cosine ≥ `minCos` emits as a
    * duplicate of the LOWEST-id such keeper, otherwise it becomes a
    * keeper itself. First-arrival-wins — when ids arrive in id order this
    * is exactly the batch operator's min-id semantics (spec'd).
    *
    * Scale shape: state is sharded by cell across the state store (run
    * under RocksDB — `SPARK_GRAFT_STATESTORE=rocksdb` — for corpus-scale
    * keeper sets); each cell holds only its UNIQUE vectors, and
    * `maxKeepersPerCell` bounds the hot-boilerplate cell: past the cap,
    * new uniques still emit (as non-dups) but stop enrolling — a recall
    * degradation, never a false duplicate (the same capped-cluster
    * trade-off SemDeDup makes). Dimension comes from the centroids, so no
    * probe action runs against the unbounded stream.
    *
    * Per-arrival cost: the default (`signPrefilter = false`) runs exact
    * cosine against EVERY keeper in the cell — within-cell dedup is
    * exact, at up to `maxKeepersPerCell` dot products per arrival in a
    * hot cell. Opting into `signPrefilter = true` gives each keeper a
    * 32-bit sign signature (4 bands × 8 seeded hyperplane signs),
    * indexes the cell's keepers by their 4 band bytes, and runs exact
    * cosine ONLY against keepers sharing ≥ 1 band — ~4/256 of a diverse
    * cell instead of all of it. That is the same pigeonhole recall trade
    * as banded LSH: a pair at cosine c shares a band with probability
    * 1−(1−(1−θ/π)⁸)⁴ (θ = arccos c) — ≥ 0.999998 for near-identical
    * vectors (c ≥ 0.999), dropping for barely-over-threshold pairs
    * (~0.74 at c = 0.9) — a recall-only degradation, never a false
    * duplicate, and `dup_of` is the lowest-id SURFACED keeper. The
    * prefilter is OPT-IN precisely because it changes result semantics:
    * hot-cell throughput is its only upside. Out-of-order arrival is
    * first-wins either way: an id arriving before a lower-id near-mate
    * enrolls as the keeper and the lower id emits as ITS dup — batch
    * min-id equality holds only for in-id-order arrival (spec'd).
    *
    * State compatibility: the keeper set is stored as an explicitly
    * VERSIONED binary blob ([[KeeperState]], magic + version header) —
    * a checkpoint written under a different keeper shape (e.g. the
    * pre-prefilter 3-field tuples, or a future 5-field one) fails at
    * the first loaded group with a typed "keeper state version
    * mismatch" IllegalStateException instead of Kryo garbage. Both
    * prefilter modes share one encoding (the signature is stored but
    * unused when `signPrefilter = false`), so toggling the flag across
    * a restart is safe.
    *
    * Returns a streaming (id, cell, dup_of, is_dup) frame. */
  /** Cross-corpus SEMANTIC contamination: every (a ∈ A, b ∈ B) pair with
    * cosine ≥ `minCos`, found within shared IVF cells — the
    * embedding-space analogue of [[minhashCandidatesCross]] (d09's text
    * join): paraphrased benchmark content that shares no shingles still
    * lands in the same semantic cell. Cells seed from corpus A (the big
    * side — train — so the cell structure is the training corpus's),
    * sized by [[autoNlist]] unless pinned; assignment is the same
    * map-only argmax as [[semanticDedup]] (two-level above 64 cells),
    * and pair work is confined to co-assigned cells through the
    * rectangular block split ([[blockKeyedCross]] — hot cells spread
    * over block tasks, exactly).
    *
    * The PROBE side (B) is assigned to its top-`nprobe` cells instead of
    * the single argmax — the recall dial, default 2: the d10a audit
    * measured argmax-1 catching only 5/9 planted paraphrases (a small
    * perturbation near a thin cell-margin flips the argmax), while
    * nprobe = 2 catches 8/9 ≥ the 0.8 floor. Still map-only per row
    * ([[Similarity.cellProbes]] kernel + explode — no shuffle added);
    * pair work scales ×nprobe on the B side only, and a pair can match
    * in at most one cell (A keeps one cell per row), so no dedup pass.
    *
    * Returns (id_a, id_b, cos) with round-9 cosine, one row per
    * contaminated pair. */
  def semanticContaminationCross(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, minCos: Double, nlist: Int = 0,
      cellCap: Int = 4096, nprobe: Int = 2): DataFrame = {
    val dim = Similarity.vecDim(a, vecCol)
    val nl = if (nlist > 0) nlist else autoNlist(Similarity.sizingCount(a))
    val cents = Similarity.seedCentroids(a, idCol, vecCol, nl)
    require(cents.nonEmpty,
      "semanticContaminationCross: empty corpus A — no seed centroids")
    val assign: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (nl <= 64) Similarity.cellArgmax(_, cents)
      else Similarity.cellArgmaxTwoLevel(_, cents)
    val p = par(a)
    def side(df: DataFrame): DataFrame = spreadInput(df, p)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.normFlat(col(vecCol), dim).as("norm"))
      .withColumn("cell", assign(col("v")))
    def sideProbed(df: DataFrame): DataFrame = spreadInput(df, p)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.normFlat(col(vecCol), dim).as("norm"))
      .withColumn("cell",
        explode(Similarity.cellProbes(col("v"), cents, nprobe)))
    val (ba, bb) = blockKeyedCross(side(a), sideProbed(b), Seq("cell"), p,
      cellCap, boundA = leafRowBound(a), boundB = leafRowBound(b))
    ba.hint("shuffle_hash").as("a")
      .join(bb.hint("shuffle_hash").as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.kx") === col("b.kx") && col("a.ky") === col("b.ky"))
      .filter(Similarity.roundedAtLeast(
        Similarity.dotFlat(col("a.v"), col("b.v"), dim) /
          (col("a.norm") * col("b.norm")), minCos, 9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(Similarity.dotFlat(col("a.v"), col("b.v"), dim) /
          (col("a.norm") * col("b.norm")), 9).as("cos"))
  }

  /** Streaming near-dup guard: check every INCOMING document against a
    * STATIC corpus — the online-ingestion side of [[minhashCandidates]]
    * (is this new crawl page a near-dup of something already in the
    * training set?). Each incoming doc computes the SAME seeded
    * minhash banding as the batch path; its band buckets equi-join the
    * corpus's precomputed bucket table (a stream–static join: append
    * mode, NO state store — the corpus-side plan is persisted so each
    * micro-batch reads the materialized buckets instead of re-sharding
    * the corpus), a pair emits only from its first shared band (the
    * batch path's duplicate-elimination, [[firstSharedBand]]), and exact
    * Jaccard verifies in the same trigger against the corpus shingles
    * carried on the static side.
    *
    * Emits one row PER MATCH ≥ threshold: (id, dup_of, jaccard). A doc
    * matching several corpus docs emits several rows — reducing to the
    * best match would be a streaming aggregation (update mode + state)
    * for what is naturally an append-shaped check; the consumer picks.
    * Novel docs emit nothing. Recall is the banding's (probabilistic in
    * general, deterministic for any fixed input under the seeded hash
    * family). */
  def minhashDedupStream(stream: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 12, bands: Int = 6,
      threshold: Double = 0.7): DataFrame = {
    import graft.functions.TextFunctions.{minhashSignature, lshBuckets}
    val r = k / bands
    def banded(df: DataFrame, spread: Boolean) = {
      val base = if (spread) spreadInput(df, par(df)) else df
      base
        .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
        .select(col("id"), wordShingles(col("toks"), shingleN).as("sh"))
        .withColumn("sig", minhashSignature(col("sh"), k))
        .filter(col("sig").isNotNull) // shingle-less docs bucket nowhere
        .select(col("id"), col("sh"), lshBuckets(col("sig"), bands, r).as("bkts"))
        .select(col("id"), col("sh"), col("bkts"), posexplode(col("bkts")))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    }
    val corpusB = banded(corpus, spread = true)
      .withColumnsRenamed(Map(
        "id" -> "dup_of", "sh" -> "sh_b", "bkts" -> "bkts_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded(stream, spread = false)
      .join(corpusB, Seq("band", "bucket"))
      .filter(col("band") === firstSharedBand(col("bkts"), col("bkts_b")))
      .select(col("id"), col("dup_of"),
        (size(array_intersect(col("sh"), col("sh_b"))).cast("double") /
          size(array_union(col("sh"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Streaming near-dup guard in EMBEDDING space — the SemDeDup analogue
    * of [[minhashDedupStream]], completing the streaming dedup story: is
    * this incoming document a PARAPHRASE of something already in the
    * static training corpus? (The minhash guard catches shared-shingle
    * dups; paraphrased content shares no shingles but stays cosine-close.)
    *
    * Same no-state-store shape: the corpus is assigned once to its argmax
    * IVF cells (seeded centroids, [[autoNlist]]-sized) and PERSISTED so
    * each micro-batch joins the materialized cell table instead of
    * re-assigning the corpus; each incoming vector probes its top-`nprobe`
    * cells ([[Similarity.cellProbes]] — the d10a-measured recall dial,
    * default 2) and compares round-9 cosine against only the corpus rows
    * in those cells. Stream–static equi-join on the cell key, append
    * mode, NO state store. A pair can match through at most one cell
    * (the corpus side keeps one cell per row), so no dedup pass.
    *
    * Emits one row PER MATCH ≥ minCos: (id, dup_of, cos); novel docs emit
    * nothing (the consumer picks, as in [[minhashDedupStream]]). */
  def semanticDupGuardStream(stream: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, minCos: Double, nlist: Int = 0,
      nprobe: Int = 2): DataFrame = {
    val dim = Similarity.vecDim(corpus, vecCol)
    val nl = if (nlist > 0) nlist else autoNlist(Similarity.sizingCount(corpus))
    val cents = Similarity.seedCentroids(corpus, idCol, vecCol, nl)
    require(cents.nonEmpty,
      "semanticDupGuardStream: empty corpus — no seed centroids")
    val assign: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (nl <= 64) Similarity.cellArgmax(_, cents)
      else Similarity.cellArgmaxTwoLevel(_, cents)
    val corpusC = spreadInput(corpus, par(corpus))
      .select(col(idCol).as("dup_of"), col(vecCol).as("vb"),
        Similarity.normFlat(col(vecCol), dim).as("nb"))
      .withColumn("cell", assign(col("vb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stream
      .select(col(idCol).as("id"), col(vecCol).as("va"),
        Similarity.normFlat(col(vecCol), dim).as("na"))
      .withColumn("cell",
        explode(Similarity.cellProbes(col("va"), cents, nprobe)))
      .join(corpusC, Seq("cell"))
      .filter(Similarity.roundedAtLeast(
        Similarity.dotFlat(col("va"), col("vb"), dim) /
          (col("na") * col("nb")), minCos, 9))
      .select(col("id"), col("dup_of"),
        round(Similarity.dotFlat(col("va"), col("vb"), dim) /
          (col("na") * col("nb")), 9).as("cos"))
  }

  def semanticDedupStream(embs: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]], minCos: Double,
      maxKeepersPerCell: Int = 100000,
      signPrefilter: Boolean = false,
      comparisons: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.types._
    val assigned = embs
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), col("v"),
        graft.functions.GraftFunctions.vecNorm(col("v")).as("norm"),
        Similarity.cellArgmax(col("v"), cents).as("cell"))
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cell", IntegerType, nullable = false),
      StructField("dup_of", LongType, nullable = true),
      StructField("is_dup", BooleanType, nullable = false)))
    val cap = maxKeepersPerCell
    val cos = minCos
    val pre = signPrefilter
    val cmpAcc = comparisons
    // seeded sign planes (dim from the centroids — no stream probe); the
    // same hyperplane family the batch LSH path uses
    val planes: Array[Array[Double]] =
      Similarity.hyperplanes(cents.head.length, 4, 8, seed = 42L)
        .map(_.toArray).toArray
    def sigOf(v: Array[Double]): Int = {
      var sig = 0; var p = 0
      while (p < 32) {
        val pl = planes(p)
        var acc = 0.0; var i = 0
        val n = math.min(v.length, pl.length)
        while (i < n) { acc += v(i) * pl(i); i += 1 }
        if (acc >= 0) sig |= 1 << p
        p += 1
      }
      sig
    }
    // a keeper: (id, vector, norm, 32-bit sign signature)
    type Keeper = KeeperState.Keeper
    assigned
      .as(Encoders.row(assigned.schema))
      .groupByKey((r: Row) => r.getInt(3))(Encoders.scalaInt)
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (cell: Int, rows: Iterator[Row],
         gs: org.apache.spark.sql.streaming.GroupState[Array[Byte]]) =>
          var keepers = gs.getOption.map(KeeperState.decode).getOrElse(Nil)
          var nKeepers = keepers.size // counted once; List.size is O(n)
          // per-batch band index: (band << 8 | byte) → keepers; O(4)
          // inserts per keeper, amortized over the batch's arrivals
          val index = scala.collection.mutable.HashMap
            .empty[Int, List[Keeper]].withDefaultValue(Nil)
          def enroll(k: Keeper): Unit = {
            var b = 0
            while (b < 4) {
              val key = b << 8 | ((k._4 >>> (b * 8)) & 0xff)
              index(key) = k :: index(key)
              b += 1
            }
          }
          if (pre) keepers.foreach(enroll)
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.foreach { r =>
            val id = r.getLong(0)
            val v = r.getSeq[Double](1).toArray
            val norm = r.getDouble(2)
            val sig = if (pre) sigOf(v) else 0
            val candidates: Iterator[Keeper] =
              if (!pre) keepers.iterator
              else {
                val seen = scala.collection.mutable.LongMap.empty[Boolean]
                (0 until 4).iterator.flatMap { b =>
                  index(b << 8 | ((sig >>> (b * 8)) & 0xff)).iterator
                }.filter(k => seen.put(k._1, true).isEmpty)
              }
            var dupOf = -1L
            candidates.foreach { case (kid, kv, knorm, _) =>
              cmpAcc.foreach(_.add(1L))
              var acc = 0.0
              var i = 0
              val n = math.min(v.length, kv.length)
              while (i < n) { acc += v(i) * kv(i); i += 1 }
              // same round-9 boundary as the batch operator
              if (BigDecimal(acc / (norm * knorm))
                    .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble >= cos
                  && (dupOf < 0 || kid < dupOf)) dupOf = kid
            }
            if (dupOf >= 0)
              out += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
                Array[Any](id, cell, dupOf, true), outSchema)
            else {
              if (nKeepers < cap) {
                // enroll with a REAL signature in both modes (32 plane
                // dots per new unique only) so toggling signPrefilter
                // across a restart finds indexable keepers
                val k = (id, v, norm, if (pre) sig else sigOf(v))
                keepers = k :: keepers
                nKeepers += 1
                if (pre) enroll(k)
              }
              out += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
                Array[Any](id, cell, null, false), outSchema)
            }
          }
          gs.update(KeeperState.encode(keepers))
          out.iterator
      }(Encoders.BINARY, Encoders.row(outSchema))
      .toDF()
  }

  /** Triangle block-partitioning of a keyed frame for a bounded
    * within-group self-join (the 1-bucket-theta layout of Okcan &
    * Riedewald, SIGMOD'11, restricted to the per-group triangle): each
    * oversized group gets B = max(⌈|group|/cap⌉, minNb) id-hash blocks
    * (minNb makes B(B+1)/2 cover the reduce slots — see the inline
    * note), and every row
    * replicates to the B unordered block-pair keys (kx, ky) its block
    * participates in. Joining on (keys…, kx, ky) with
    * `a.blk ≠ b.blk OR kx = ky` then yields EVERY within-group pair
    * exactly once — cross-block pairs share exactly one replica key
    * {min, max}, same-block pairs match on all B of their keys but pass
    * the predicate only on the diagonal (p, p) — while no single task
    * reads more than ~2·cap rows. Groups within the cap degenerate to the
    * unblocked self-join with a constant (0, 0) key.
    *
    * Cost: replication factor B on oversized groups only — shuffle volume
    * |group|²/cap ≤ the pair comparisons the join must do anyway. Only
    * the OVERSIZED groups' sizes broadcast (hot groups are few by
    * definition — broadcasting every group's count would be the unbounded
    * broadcast this module bans); everyone else left-joins to nb = 1. */
  /** Hot-group detection sample rate (1/HotSampleDiv of rows by id hash).
    * The pair OUTPUT is exact for ANY nb assignment, so sampling only
    * loosens the task-size bound probabilistically: a group of 2·cap rows
    * evades detection with P ≈ e^(−cap/(2·HotSampleDiv)) — ~e⁻¹²⁸ at the
    * default cap — while the detection pass costs 1/16 of the upstream
    * map work (the id-hash filter pushes BELOW the signature compute). */
  private val HotSampleDiv = 16

  /** Max number of files whose parquet/orc footers [[leafRowBound]] will
    * read on the driver — metadata-only, but O(#files) round-trips; past
    * this the caller should supply a bound from table-level knowledge. */
  private val FooterScanMaxFiles = 64

  /** A provable UPPER BOUND on `df`'s row count from metadata alone, or
    * None. Walks the analyzed plan accepting only row-preserving or
    * row-reducing 1:1 nodes (project/filter/limit/repartition/sample/
    * dedup/sort) down to leaves whose cardinality is knowable without a
    * job: file footers (parquet/orc, ≤ [[FooterScanMaxFiles]] files),
    * local relations, and ranges. Joins, explodes, aggregates, unions ⇒
    * None (their output cardinality isn't boundable by metadata).
    *
    * Used to SKIP [[blockKeyed]]'s hot-group detection when no group can
    * possibly exceed the cap: each group of the frames this module blocks
    * holds at most one row per upstream document/vector, so the upstream
    * row bound IS a group-size bound. */
  /** Per-file footer row counts, memoized across calls. Keyed on
    * (path, modificationTime, length) — the FileStatus already in the
    * file index — so a file rewritten in place misses instead of
    * returning a stale bound; evicted LRU per-entry at [[FooterCacheMax]]. */
  private val FooterCacheMax = 4096
  private val footerRowCache: java.util.Map[(String, Long, Long), java.lang.Long] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), java.lang.Long](
          64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), java.lang.Long]): Boolean =
          size() > FooterCacheMax
      })

  /** Spread heavy map work over the cluster ONLY when the source scan is
    * less parallel than the target — the single/few-file LOCAL input case,
    * where Spark plans the whole kernel into one or two tasks. On a lake
    * scan the file splits already exceed the core count, and the
    * unconditional `repartition(p)` this replaces would round-robin the
    * RAW corpus bytes through a full shuffle for nothing — at 100 TB that
    * exchange costs more than the map work it spreads. Planning-time
    * metadata check only, with the task count UNDER-estimated so the
    * fallback direction is the safe one (when unsure, spread): for
    * splittable columnar formats (parquet/orc) bytes/`maxPartitionBytes`
    * (many small files each get ≥ 1 split on top); for row formats the
    * FILE count (a gzip'd file is never split, whatever its size); a
    * stats-less relation (sizeInBytes ≈ defaultSizeInBytes) counts as
    * unknown, not huge. One OVER-estimate exists: partition pruning applies below
    * the FileIndex, so a pruned scan of a huge table reports full-table
    * bytes and skips the spread — acceptable, because a scan pruned down
    * to little data has little kernel work to spread. Frames whose
    * lineage isn't a 1:1 view of a file scan (post-join/aggregate frames,
    * local relations) keep the explicit repartition — for those the
    * stats undersell output skew, which is why the spread exists. */
  private[graft] def spreadInput(df: DataFrame, p: Int): DataFrame = {
    val maxSplit = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val enough = leafFsRelation(df).exists { fs =>
      val bytes = scala.util.Try(fs.location.sizeInBytes).getOrElse(-1L)
      // a stats-less relation reports defaultSizeInBytes (~Long.MaxValue):
      // that is UNKNOWN, not huge — spread
      if (bytes <= 0 || bytes >= Long.MaxValue / 4) false
      else fs.fileFormat match {
        // splittable columnar formats: tasks ≈ bytes / maxPartitionBytes
        case _: org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat |
             _: org.apache.spark.sql.execution.datasources.orc.OrcFileFormat =>
          bytes / math.max(1L, maxSplit) >= p
        // row formats may be gzip'd etc. — never more than one task per
        // FILE, whatever the byte count (one 10 GB .json.gz is ONE task)
        case _ =>
          scala.util.Try(fs.location.inputFiles.length).getOrElse(0) >= p
      }
    }
    if (enough) df else df.repartition(p)
  }

  /** Total file bytes under `df`'s leaf scan, when the plan is a 1:1
    * row-preserving view of a single file relation — None otherwise. */
  private[graft] def leafScanBytes(df: DataFrame): Option[Long] =
    leafFsRelation(df).flatMap(fs =>
      scala.util.Try(fs.location.sizeInBytes).toOption)

  /** The file relation under `df`, when the plan is a 1:1 row-preserving
    * view of exactly one — None otherwise. Same plan walk as
    * [[leafRowBound]] but metadata-only (no footer reads). */
  private[graft] def leafFsRelation(df: DataFrame)
      : Option[org.apache.spark.sql.execution.datasources.HadoopFsRelation] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def walk(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, c) => walk(c)
      case Filter(_, c) => walk(c)
      case SubqueryAlias(_, c) => walk(c)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => Some(fs)
        case _ => None
      }
      case _ => None
    }
    scala.util.Try(walk(df.queryExecution.analyzed)).toOption.flatten
  }

  private[graft] def leafRowBound(df: DataFrame): Option[Long] =
    metadataRowCount(df, bound = true)

  /** An EXACT row count for `df` from metadata alone, or None. Unlike
    * [[leafRowBound]] — an upper BOUND that deliberately walks through
    * row-reducing nodes (Filter/Limit/Sample/Distinct), fine for its
    * bound-shaped uses ([[blockKeyed]] skip) — this walk accepts
    * row-PRESERVING nodes only (Project/SubqueryAlias/Sort/Repartition),
    * so a filtered or sampled frame returns None and the caller falls
    * back to a real count. Sizing decisions (autoLshR/autoNlist) need the
    * TRUE corpus size: a leaf-file bound over a selective filter (0.1 %
    * of a lake table) would size LSH buckets orders of magnitude too
    * sparse (silent recall collapse on true near-dup pairs) and SemDeDup
    * cells far too fine, with an oversized driver-resident centroid
    * literal. */
  private[graft] def exactRowCount(df: DataFrame): Option[Long] =
    metadataRowCount(df, bound = false)

  private def metadataRowCount(df: DataFrame, bound: Boolean): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.newHadoopConf()
    import org.apache.spark.sql.execution.datasources.FileStatusWithMetadata
    def cached(f: FileStatusWithMetadata, read: () => Long): Long = {
      val k = (f.getPath.toString, f.getModificationTime, f.getLen)
      val hit = footerRowCache.get(k)
      if (hit ne null) hit.longValue()
      else {
        val n = read()
        footerRowCache.put(k, java.lang.Long.valueOf(n))
        n
      }
    }
    def parquetRows(f: FileStatusWithMetadata): Long = cached(f, { () =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(f.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    })
    def orcRows(f: FileStatusWithMetadata): Long = cached(f, { () =>
      val r = org.apache.orc.OrcFile.createReader(
        f.getPath, org.apache.orc.OrcFile.readerOptions(conf))
      try r.getNumberOfRows finally r.close()
    })
    def footerRows(files: Seq[FileStatusWithMetadata],
        rows: FileStatusWithMetadata => Long): Option[Long] =
      if (files.isEmpty || files.length > FooterScanMaxFiles) None
      else scala.util.Try(files.map(rows).sum).toOption
    def walk(p: LogicalPlan): Option[Long] = p match {
      case Project(_, c) => walk(c)
      case SubqueryAlias(_, c) => walk(c)
      case Sort(_, _, c, _) => walk(c)
      case Repartition(_, _, c) => walk(c)
      case RepartitionByExpression(_, c, _, _) => walk(c)
      // row-REDUCING nodes: valid for an upper bound, not for an exact
      // count — exact mode stops here (caller falls back to df.count())
      case Filter(_, c) if bound => walk(c)
      case Distinct(c) if bound => walk(c)
      case Deduplicate(_, c) if bound => walk(c)
      case GlobalLimit(_, c) if bound => walk(c) // limit ≤ child bound
      case LocalLimit(_, c) if bound => walk(c)
      // with-replacement sampling can EXCEED the child count — only the
      // without-replacement form keeps the child bound valid
      case Sample(_, _, false, _, c) if bound => walk(c)
      // a union's count is the exact sum of its children's — makes the
      // replicated-corpus frames (a02b/d07b, ScaleProbe) metadata-counted
      // instead of a full count() job over the k-way union
      case u: Union =>
        val counts = u.children.map(walk)
        if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
      case l: LocalRelation => Some(l.data.length.toLong)
      case r: Range => Some(r.numElements.toLong)
      case lr: LogicalRelation => lr.relation match {
        // match the format by CLASS, not toString (fragile), and
        // dispatch the right footer reader
        case fs: HadoopFsRelation =>
          val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
          fs.fileFormat match {
            case _: org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat =>
              footerRows(files, parquetRows)
            case _: org.apache.spark.sql.execution.datasources.orc.OrcFileFormat =>
              footerRows(files, orcRows)
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }
    scala.util.Try(walk(df.queryExecution.analyzed)).toOption.flatten
  }

  /** Max uniform block count for [[blockKeyed]]'s static (detection-free)
    * path: nb* = ⌈bound/cap⌉ ≤ this ⟺ bound ≤ 4·cap rows — an input that
    * small makes ≤ 4× replication of narrow key rows cheaper than the
    * sampled detection aggregate + broadcast join it replaces. Large
    * inputs (the 100 TB case) always take the sampled-detection path,
    * where replication is paid only by provably-hot groups. */
  private val StaticNbMax = 4

  private[graft] def blockKeyed(df: DataFrame, keys: Seq[String], par: Int,
      cap: Int, maxGroupBound: Option[Long] = None): DataFrame = {
    require(cap > 0, "cap must be positive")
    // a metadata-proven group bound within the cap makes detection (and
    // blocking) provably a no-op: emit the degenerate constant block key
    // directly and reclaim the sample-scan stage — caps stay default-on,
    // the skip only fires when it cannot change the output
    // partition on the REAL keys only: the downstream join's kx/ky
    // equalities fold away as constants, so its requirement is
    // hashpartitioning(keys…) — including the literals here would read
    // as a different partitioning and buy a second, useless exchange
    if (maxGroupBound.exists(_ <= cap))
      return df
        .withColumn("blk", lit(0)).withColumn("kx", lit(0))
        .withColumn("ky", lit(0))
        .repartition(par, keys.map(col): _*)
    // bound slightly over the cap (⌈bound/cap⌉ ≤ StaticNbMax, i.e. a
    // provably SMALL input): the triangle partitioning is exact for ANY
    // block count, so apply a uniform static nb to every group and skip
    // detection entirely — the ≤ 4× replication of these few narrow rows
    // costs less than the sample aggregate + broadcast join
    maxGroupBound.map(b => ((b + cap - 1) / cap).toInt)
        .filter(_ <= StaticNbMax).foreach { nb =>
      return df
        .withColumn("blk", pmod(hash(col("id")), lit(nb)))
        .select(col("*"), explode(expr(s"sequence(0, ${nb - 1})")).as("t"))
        .withColumn("kx", least(col("blk"), col("t")))
        .withColumn("ky", greatest(col("blk"), col("t")))
        .drop("t")
        .repartition(par, keys.map(col) :+ col("kx") :+ col("ky"): _*)
    }
    // detect oversized groups on a deterministic id-hash sample: Catalyst
    // pushes the filter past the projection, so the expensive upstream
    // (minhash signatures, plane dots) runs on 1/16 of rows for this pass
    // instead of recomputing — or caching — the whole frame
    //
    // a hot group's block count must also COVER the reduce slots, not just
    // meet the cap: ceil(est/cap) alone can be tiny (a 16k group at cap
    // 4096 → nb 4 → 10 block-pair keys), and 10 deterministic join keys
    // hash into few partitions — the quadratic work re-serializes on the
    // exact corpora the caps target. Total join work is INVARIANT in nb
    // (Σ over block pairs |Aᵢ∪Aⱼ|² = 2·|group|² for any nb), so raising
    // nb until the hot groups TOGETHER cover the slots —
    // nHot·nb(nb+1)/2 ≥ 4·par — buys pure parallelism; the price is
    // replication nb on the hot groups' rows only, and the damping by
    // nHot keeps a many-hot-groups corpus (already parallel by count)
    // from paying replication for slots it cannot use. The 4×
    // oversubscription absorbs hash-collision imbalance (exact coverage
    // leaves ~2× variance when few deterministic keys hash into the
    // partition space; 2–4 tasks per slot is standard straggler
    // smoothing). nHot is a window count over the (tiny,
    // broadcast-bound) hot frame.
    val hot0 = df
      .filter(pmod(xxhash64(col("id")), lit(HotSampleDiv.toLong)) === 0L)
      .groupBy(keys.map(col): _*)
      .agg((count(lit(1)) * HotSampleDiv).as("_est"))
      .filter(col("_est") > cap)
    // one-group key declares the intentional single partition over the
    // bounded hot frame (see graft.ops.Windows.oneGroup)
    val nHot = count(lit(1)).over(
      Window.partitionBy(Windows.oneGroup(col(keys.head))))
    val minNb = greatest(lit(1),
      ceil((sqrt(lit(32.0) * par / nHot + 1) - 1) / 2).cast("int"))
    val hot = hot0.select(keys.map(col) :+
      greatest(ceil(col("_est").cast("double") / cap).cast("int"),
        minNb).as("nb"): _*)
    df
      .join(broadcast(hot), keys, "left")
      .withColumn("nb", coalesce(col("nb"), lit(1)))
      .withColumn("blk", pmod(hash(col("id")), col("nb")))
      .select(col("*"), explode(expr("sequence(0, nb - 1)")).as("t"))
      .withColumn("kx", least(col("blk"), col("t")))
      .withColumn("ky", greatest(col("blk"), col("t")))
      .drop("t", "nb")
      .repartition(par, keys.map(col) :+ col("kx") :+ col("ky"): _*)
  }

  /** Rectangular analogue of [[blockKeyed]] for a CROSS-frame keyed join
    * (the A×B rectangle of Okcan & Riedewald's 1-bucket-theta): within
    * each shared group, side A splits into nbA = ⌈|A∩g|/cap⌉ id-hash
    * blocks and side B into nbB; an A row in block i replicates to the
    * nbB keys (i, 0..nbB−1) and a B row in block j to the nbA keys
    * (0..nbA−1, j), so every cross pair meets on EXACTLY ONE (kx, ky) —
    * no diagonal predicate needed — and no task reads more than
    * ~cap + cap rows of one group. Balanced groups keep nb = 1 on both
    * sides (constant key, zero replication). Detection is the same
    * 1/16 id-hash sample per side; `boundA`/`boundB` skip a side's
    * detection when a metadata row bound proves it under the cap. */
  private[graft] def blockKeyedCross(dfA: DataFrame, dfB: DataFrame,
      keys: Seq[String], par: Int, cap: Int,
      boundA: Option[Long] = None, boundB: Option[Long] = None):
      (DataFrame, DataFrame) = {
    require(cap > 0, "cap must be positive")
    def hotOf(df: DataFrame, skip: Boolean, nbName: String): DataFrame = {
      val spark = df.sparkSession
      if (skip)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            df.select(keys.map(col): _*).schema.fields :+
              org.apache.spark.sql.types.StructField(nbName,
                org.apache.spark.sql.types.IntegerType)))
      else {
        // same damped parallelism floor as blockKeyed's (incl. the 4×
        // oversubscription): an oversized shared group must spread over
        // enough (kx, ky) keys to use the reduce slots; per side the
        // floor is √(4·par/nHot) so a both-sides-hot group covers
        // 4·par/nHot tasks (single-sided hot keeps √ coverage — its
        // rectangle is thin by construction)
        val hot0 = df
          .filter(pmod(xxhash64(col("id")), lit(HotSampleDiv.toLong)) === 0L)
          .groupBy(keys.map(col): _*)
          .agg((count(lit(1)) * HotSampleDiv).as("_est"))
          .filter(col("_est") > cap)
        val nHot = count(lit(1)).over(
          Window.partitionBy(Windows.oneGroup(col(keys.head))))
        val minNb = greatest(lit(1),
          ceil(sqrt(lit(4.0) * par / nHot)).cast("int"))
        hot0.select(keys.map(col) :+
          greatest(ceil(col("_est").cast("double") / cap).cast("int"),
            minNb).as(nbName): _*)
      }
    }
    val hotA = hotOf(dfA, boundA.exists(_ <= cap), "nbA")
    val hotB = hotOf(dfB, boundB.exists(_ <= cap), "nbB")
    def side(df: DataFrame, ownHot: DataFrame, otherHot: DataFrame,
        ownNb: String, otherNb: String, ownIsKx: Boolean): DataFrame = {
      val rep = df
        .join(broadcast(ownHot), keys, "left")
        .join(broadcast(otherHot), keys, "left")
        .withColumn(ownNb, coalesce(col(ownNb), lit(1)))
        .withColumn(otherNb, coalesce(col(otherNb), lit(1)))
        .withColumn("blk", pmod(hash(col("id")), col(ownNb)))
        .select(col("*"),
          explode(expr(s"sequence(0, $otherNb - 1)")).as("t"))
      val withKeys =
        if (ownIsKx) rep.withColumn("kx", col("blk")).withColumn("ky", col("t"))
        else rep.withColumn("kx", col("t")).withColumn("ky", col("blk"))
      withKeys.drop("t", ownNb, otherNb)
        .repartition(par, keys.map(col) :+ col("kx") :+ col("ky"): _*)
    }
    (side(dfA, hotA, hotB, "nbA", "nbB", ownIsKx = true),
      side(dfB, hotB, hotA, "nbB", "nbA", ownIsKx = false))
  }

  /** [[blockKeyed]] over a SemDeDup cell assignment. */
  private[graft] def blockCells(assigned: DataFrame, par: Int,
      cellCap: Int, maxGroupBound: Option[Long] = None): DataFrame =
    blockKeyed(assigned, Seq("cell"), par, cellCap, maxGroupBound)

  /** Cross-document duplicated-span ratio: for every document, the
    * fraction of its distinct word `shingleN`-gram spans that also occur
    * in at least one OTHER document. The corpus-level contamination /
    * boilerplate signal (the span-dedup analysis pass of CCNet/RefinedWeb
    * pipelines) — a doc with a high shared fraction is mostly made of
    * text that exists elsewhere.
    *
    * Scale shape: this is an inverted-index pass, not a pair join — and,
    * critically, NOTHING ever materializes a hot span's full posting list
    * in one task. The identity n_shared = n_shingles − n_unique (a span is
    * either shared or unique to its doc, since per-doc spans are DISTINCT)
    * turns the count into two hash AGGREGATIONS, both of which Spark
    * partial-aggregates map-side: a boilerplate span occurring in half the
    * corpus contributes one (g, partial_count) row per map task, never
    * O(n_docs) rows in one reduce partition (the r7 formulation's
    * `Window.partitionBy(g)` could not combine — WindowExec has no partial
    * aggregation — so one hot span meant one hot task; this one bounds the
    * reduce-side rows per span at #map-tasks). Unique spans re-key by
    * their single owning doc (ndocs = 1 ⇒ min(id) IS the owner), so the
    * only joins are narrow one-row-per-doc frames on the doc key. The
    * exploded span frame is persisted so the shingle expansion evaluates
    * ONCE for both aggregations (MEMORY_AND_DISK: at corpus scale it
    * spills rather than recomputing the text scan; Spark evicts it LRU —
    * call `spark.catalog.clearCache()` to drop it eagerly).
    *
    * Every input doc gets a row: docs with fewer than `shingleN` tokens
    * (no spans) emit (n_shingles = 0, shared_frac = NULL). */
  /** Persist the exploded span frame only when the corpus is provably
    * small enough for the cache to pay: the cache is TOKEN-count-sized,
    * and at 55M docs its MEMORY_AND_DISK spill filled a box (measured,
    * r14 ×10000 probe) where re-running the codegen'd explode for the
    * second aggregation is pure CPU. An upper BOUND under the threshold
    * proves it safe; unknown counts choose recompute — the at-scale
    * default (same lesson as t08: recompute cheap projections, don't
    * materialize data-sized intermediates). */
  private val SpanCacheMaxDocs = 1_000_000L

  def crossDocSharedShingles(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val base = docs
      .repartition(par(docs)) // single-file local input ⇒ force map parallelism
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      // key by the md5-derived 60-BIT span hash, not the span STRING: the
      // per-occurrence exchange was the r14 ×10000 box-disk bound, and a
      // 3-gram text key is ~60 bytes where the bigint is 8. The same
      // d04b md5 family DuckDB replays bit-for-bit, so the (astronomically
      // rare — E[collisions] ≈ (n_spans)²/2^61) hash merge reproduces
      // IDENTICALLY in both engines: the oracle stays exact, not
      // approximate. A production run would swap xxhash64 (same plan,
      // half the map CPU, no SQL replay).
      .select(col("id"), explode(wordShingles(col("toks"), shingleN)).as("gs"))
      .select(col("id"), expr(
        "cast(conv(substring(md5(gs), 1, 15), 16, 10) as bigint)").as("g"))
    val spans =
      if (leafRowBound(docs).exists(_ <= SpanCacheMaxDocs))
        base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base
    val perDoc = spans.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    // ndocs = 1 ⇒ the span's min(id) is its only owner: unique-span counts
    // re-aggregate on the owner, skew-free (both aggs partial-combine)
    val uniq = spans.groupBy("g")
      .agg(count(lit(1)).as("ndocs"), min(col("id")).as("owner"))
      .filter(col("ndocs") === 1)
      .groupBy(col("owner").as("id")).agg(count(lit(1)).as("n_unique"))
    // narrow one-row-per-doc joins on the doc key; pinned shuffle-hash
    // (agg-derived stats would otherwise sort both sides into a SMJ)
    docs.select(col(idCol).as("id"))
      .join(perDoc.hint("shuffle_hash"), Seq("id"), "left")
      .join(uniq.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        // explicit NULL for span-less docs (a bare 0/0 would be NaN)
        when(col("n_shingles") > 0,
          round((col("n_shingles") - coalesce(col("n_unique"), lit(0L)))
            .cast("double") / col("n_shingles"), 9)).as("shared_frac"))
  }

  /** Cross-doc duplicated-passage REMOVAL — the rewrite counterpart of
    * [[crossDocSharedShingles]] (which only MEASURES): the ExactSubstr
    * shape of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better". Every `spanLen`-token span occurring in
    * more than one document is removed from every document EXCEPT the
    * span's min-id owner; overlapping removal spans merge into maximal
    * intervals and the surviving tokens rebuild the cleaned text.
    *
    * Scale shape — an inverted span index, not a pair join:
    *  1. one map-only pass explodes every span OCCURRENCE
    *     (id, pos, md5(gram)) — [[graft.functions.WordShingles]]
    *     keeps occurrences in position order, so the array index IS the
    *     token position;
    *  2. ONE pinned md5-key exchange feeds both the per-gram stats
    *     aggregate (owner = min id, cross-doc = min ≠ max — both
    *     combine, no hot-span task) and the occurrence-side join probe
    *     (ReusedExchange — the d11 lesson applied at design time);
    *  3. removal positions re-key by DOC: interval merging is a window
    *     partitioned by doc (state bounded by one document's spans) and
    *     the slice rebuild is a per-doc HOF evaluated ONLY for docs that
    *     actually lost spans (the when-branch guards it).
    * Nothing ever materializes a hot span's posting list in one task
    * beyond its own occurrence rows, and no stage is all-pairs.
    *
    * The gram key is md5 so a SQL oracle replays the pipeline verbatim;
    * a production run would swap in xxhash64 (8-byte keys, same plan —
    * the d04/d04b family split).
    *
    * Returns one row per doc: (id, n_spans — merged removal intervals,
    * n_removed — tokens removed, clean_md5 — md5 of the cleaned,
    * normalized text). Docs below `spanLen` tokens pass through
    * untouched (clean_md5 = md5 of the full normalized text). */
  def removeDuplicatedPassages(docs: DataFrame, idCol: String,
      textCol: String, spanLen: Int = 20): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2, got $spanLen")
    val p = par(docs)
    val base = spreadInput(docs, p)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val occ = base
      .select(col("id"), posexplode(wordShinglesAll(col("toks"), spanLen)))
      // 60-bit md5-derived span key (8 bytes on the per-occurrence
      // exchange instead of the 32-char hex string — the d08 lesson);
      // DuckDB replays the same family bit-for-bit
      .select(col("id"), col("pos").cast("long").as("pos"),
        expr("cast(conv(substring(md5(col), 1, 15), 16, 10) as bigint)").as("g"))
      .repartition(p, col("g"))
    val st = occ.groupBy("g").agg(min("id").as("owner"), max("id").as("mx"))
      .filter(col("owner") =!= col("mx")) // cross-doc grams only
    // narrow probe: only non-owner occurrences of cross-doc grams become
    // removal positions; shuffle-hash pinned (both sides sit on
    // agg/exchange pipelines whose stats would force a sort-merge)
    val rem = occ.join(st.hint("shuffle_hash"), Seq("g"))
      .filter(col("id") =!= col("owner"))
      .select(col("id"), col("pos"))
    excisePositions(base, rem, spanLen)
  }

  /** Shared rewrite tail of [[removeDuplicatedPassages]] and
    * [[decontaminateSpans]]: merge per-doc removal START positions
    * (each covering `spanLen` tokens) into maximal intervals and rebuild
    * the surviving text. `base` = (id, toks); `rem` = (id, pos). */
  private def excisePositions(base: DataFrame, rem: DataFrame,
      spanLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + spanLen)
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    // gaps-and-islands: a span starting at or before the running maximum
    // end extends the current interval (adjacency merges too — the
    // removal SET is identical either way, and n_spans then counts
    // maximal contiguous removed blocks)
    val ivs = rem
      .withColumn("brk",
        when(col("pos") <= coalesce(prevEnd, lit(-1L)), 0L).otherwise(1L))
      .withColumn("island", sum("brk").over(wOrd))
      .groupBy("id", "island")
      .agg(min("pos").as("s"), (max("pos") + spanLen).as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivl"),
        count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("n_removed"))
    base.join(ivs.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("ivl").isNull,
          md5(concat_ws(" ", col("toks")).cast("binary")))
          .otherwise(md5(array_join(expr(
            """transform(
                 filter(sequence(0, size(toks) - 1),
                   p -> NOT exists(ivl, iv -> p >= iv.s AND p < iv.e)),
                 p -> element_at(toks, cast(p + 1 as int)))"""), " ")
            .cast("binary"))).as("clean_md5"))
  }

  /** Span-level benchmark DECONTAMINATION — the rewrite counterpart of
    * [[graft.ops.Packing.decontaminate]] (which only FLAGS whole docs):
    * every `spanLen`-token span of a training document that also occurs
    * anywhere in the `probes` corpus (the benchmark/eval set) is excised,
    * overlapping cuts merge, and the surviving tokens rebuild the cleaned
    * text — the GPT-3-style n-gram scrub (Brown et al. 2020 used 13-gram
    * collision removal) applied as a REWRITE instead of a drop, so a
    * single leaked passage no longer costs the whole document.
    *
    * Scale shape — strictly cheaper than [[removeDuplicatedPassages]]
    * because the contamination side is the benchmark, not the corpus:
    *  1. the probe gram set is DISTINCT spans of the benchmark — bounded
    *     by benchmark tokens (a few million rows for any real eval suite),
    *     so it BROADCASTS as 8-byte keys and the corpus-side probe is a
    *     map-side hash join: the training corpus is never shuffled by
    *     gram key at all (d12 needs that exchange because its stats side
    *     IS the corpus);
    *  2. only matched positions (bounded by true contamination) re-key by
    *     doc for the interval merge + slice rebuild, which [[excisePositions]]
    *     shares bit-for-bit with d12.
    * The gram key is the same 60-bit md5 span key as d12/d08 — SQL
    * oracles replay it verbatim; production would swap xxhash64.
    *
    * Returns one row per TRAINING doc: (id, n_spans, n_removed,
    * clean_md5); docs shorter than `spanLen` tokens pass through whole.
    *
    * Streaming: a rewrite emits exactly one row per input doc (not an
    * append-only match join like [[minhashDedupStream]]), so the
    * streaming form is `foreachBatch` — run this batch plan per
    * micro-batch against the static benchmark (StreamingSpec e2e). */
  def decontaminateSpans(docs: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, spanLen: Int = 13,
      confirmTokens: Boolean = false): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2, got $spanLen")
    val p = par(docs)
    val gramKey =
      expr("cast(conv(substring(md5(col), 1, 15), 16, 10) as bigint)")
    // explode, not posexplode: the probe side only contributes the gram
    // SET — a position column would be materialized per occurrence and
    // immediately discarded (position matters only corpus-side, where it
    // is the removal point)
    val probeExploded = probes
      .select(explode(wordShinglesAll(tokens(col(textCol)), spanLen)).as("col"))
    // confirmTokens: unlike dedup, a decontamination false positive
    // CORRUPTS clean text — a 60-bit collision between an innocent
    // training gram and any probe gram silently excises spanLen unrelated
    // tokens. The confirm rides the gram STRING on the broadcast (still
    // bounded by benchmark tokens) and equates it at the map-side join, so
    // a collision cannot excise; the shuffle story is unchanged (the
    // corpus is still never content-shuffled). Off by default so the
    // registered query replays the oracle's pure 60-bit family; identical
    // output whenever no collision exists (DedupSpec differential).
    val probeGrams =
      if (confirmTokens)
        probeExploded.select(gramKey.as("g"), col("col").as("gram")).distinct()
      else probeExploded.select(gramKey.as("g")).distinct()
    val base = spreadInput(docs, p)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val occ = base
      .select(col("id"), posexplode(wordShinglesAll(col("toks"), spanLen)))
    val rem =
      (if (confirmTokens)
        occ.select(col("id"), col("pos").cast("long").as("pos"),
            gramKey.as("g"), col("col").as("gram"))
          .join(broadcast(probeGrams), Seq("g", "gram"))
      else
        occ.select(col("id"), col("pos").cast("long").as("pos"), gramKey.as("g"))
          .join(broadcast(probeGrams), Seq("g")))
      .select(col("id"), col("pos"))
    excisePositions(base, rem, spanLen)
  }

  /** Exact embedding-cosine near-dup pairs (brute force; verification path).
    * The scale path is [[Similarity.lshNeighbors]]. */
  def embeddingNearDup(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val dim = Similarity.vecDim(embs, vecCol)
    val v = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.normFlat(col(vecCol), dim).as("norm"))
      .repartition(par(embs)) // streamed side of the nested-loop pair join
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (Similarity.dotFlat(col("a.v"), col("b.v"), dim)
          / (col("a.norm") * col("b.norm"))).as("_c"))
      // banded filter first (no per-combo BigDecimal); survivors — linear
      // in the true near-dup count — pay the oracle's round-6 once
      .filter(Similarity.roundedAtLeast(col("_c"), threshold, 6))
      .select(col("id_a"), col("id_b"), round(col("_c"), 6).as("cosine"))
  }
}
