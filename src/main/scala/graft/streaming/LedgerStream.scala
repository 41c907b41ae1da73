package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.Dedup

/** The ALWAYS-ON dedup ledger: the batch incremental classifiers
  * ([[Dedup.incrementalExactDedup]] / [[Dedup.incrementalMinhashDedup]])
  * driven by Structured Streaming, with each micro-batch BOTH classified
  * against the archive ledger AND — its novel rows — appended to it. This
  * closes the loop the static-corpus stream guards
  * ([[Dedup.minhashDedupStream]]) leave open: there the corpus never
  * grows, so a dup of a doc ingested two triggers ago sails through; here
  * trigger N's novel signatures are part of trigger N+1's archive.
  *
  * Reference analogue: the REMEMBER rotating-bloom discipline
  * (`src/RamenBloomFilter.ml`, exposed as the `remember` stateful function
  * in `doc/raql/remember.adoc`) — an always-on "have I seen this before"
  * memory that the insertion itself updates. The Spark-native state store
  * is wrong for this (the ledger is corpus-sized, shared across restarts
  * and with BATCH consumers), so the ledger lives as a parquet table and
  * the loop is `foreachBatch` — the documented pattern for streaming
  * writes that feed back into the stream's own logic.
  *
  * == Disk layout and the exactly-once story ==
  *
  * Every directory this module writes is keyed by the Structured
  * Streaming `batchId`: `dir/ingest_batch=<id>/…` written with
  * mode=overwrite. Under the foreachBatch replay contract (same batchId
  * re-delivered after a failure, given a `checkpointLocation`), a replayed
  * batch OVERWRITES its own partition instead of duplicating it, and
  * every read EXCLUDES the running batch's own partition
  * (`ingest_batch =!= batchId`), so a half-written append from the failed
  * attempt can neither duplicate the ledger nor leak into its own
  * classification (a doc must not classify `dup_of_archive` against its
  * own first attempt). Net: the ledger append and the classification
  * output are idempotent — effectively exactly-once — PROVIDED
  *  (a) the query runs with a checkpointLocation (otherwise a restart
  *      renumbers batches from 0 and the overwrite keying is void), and
  *  (b) nothing else writes these directories.
  * A non-idempotent downstream consumer of `outDir` still sees parquet
  * files appear at least once per batch — standard foreachBatch caveat.
  *
  * == Scale shape ==
  *
  * Identical to the batch classifiers' (see their Scaladoc): per trigger,
  * the delta fingerprints/signatures are one map pass; the archive is
  * touched only through its narrow ledger rows (exact: one row per
  * fingerprint; near-dup: one row per (doc, band)) plus — near-dup only —
  * the text of MATCHED candidates via the restrict-to-candidates
  * semi-join. At 100 TB the ledger table would be written bucketed by its
  * join key (fp / (band, bucket)) so the per-trigger probe co-locates
  * without a ledger shuffle; partitioning by ingest_batch keeps appends
  * cheap and replay idempotent at the cost of re-clustering reads — the
  * standard ingest-then-compact trade, with compaction an offline rewrite
  * that preserves the same rows. */
object LedgerStream {

  private def part(dir: String, batchId: Long): String =
    s"$dir/ingest_batch=$batchId"

  /** Read a batch-partitioned parquet dir EXCLUDING `batchId`'s own
    * partition; `empty` supplies the schema when the dir does not exist
    * yet (first trigger) or holds only our own replayed partition. */
  private def readPrior(spark: SparkSession, dir: String, batchId: Long,
      empty: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val hasPrior = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      n.startsWith("ingest_batch=") && n != s"ingest_batch=$batchId"
    }
    if (!hasPrior) empty
    else spark.read.option("basePath", dir).parquet(dir)
      .filter(col("ingest_batch") =!= batchId)
      .drop("ingest_batch")
  }

  /** One micro-batch step of the EXACT-dedup ledger loop. Classifies
    * `batch` against the fingerprint ledger accumulated at `ledgerDir`
    * (all prior triggers' novel rows), writes the classification —
    * [[Dedup.incrementalExactDedup]]'s (id, fp, status, keep_id) — to
    * `outDir/ingest_batch=<batchId>`, appends the novel rows' (fp,
    * keep_id) to `ledgerDir/ingest_batch=<batchId>`, and returns the
    * classification (re-read from the written files, so the caller does
    * not recompute the plan). Exposed separately from the stream wiring
    * so a batch replay — and the replay-idempotency spec — can drive the
    * exact per-trigger semantics without a streaming harness. */
  def exactStep(spark: SparkSession, batch: DataFrame, batchId: Long,
      ledgerDir: String, outDir: String, idCol: String,
      textCol: String): DataFrame = {
    val ledger = readPrior(spark, ledgerDir, batchId,
      Dedup.exactDedup(batch.limit(0), idCol, textCol)
        .select(col("fp"), col("keep_id")))
    Dedup.incrementalExactDedup(ledger, batch, idCol, textCol)
      .write.mode("overwrite").parquet(part(outDir, batchId))
    val out = spark.read.parquet(part(outDir, batchId))
    out.filter(col("status") === "novel")
      .select(col("fp"), col("id").as("keep_id"))
      .write.mode("overwrite").parquet(part(ledgerDir, batchId))
    out
  }

  /** Wire [[exactStep]] as a foreachBatch sink. The caller sets
    * `checkpointLocation` (REQUIRED for the exactly-once keying — see the
    * object Scaladoc) and starts the query. */
  def exactLedgerStream(stream: DataFrame, ledgerDir: String, outDir: String,
      idCol: String, textCol: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      exactStep(b.sparkSession, b, id, ledgerDir, outDir, idCol, textCol)
      ()
    }

  /** One micro-batch step of the NEAR-dup ledger loop
    * ([[Dedup.incrementalMinhashDedup]] as the classifier). Three
    * batch-partitioned tables: `ledgerDir` (the banded LSH signature rows,
    * [[Dedup.minhashLedger]] schema), `archiveDir` (the novel docs'
    * (id, text) — the verify stage's candidate-restricted text store),
    * and `outDir` (the per-trigger classification: id, status, dup_of,
    * jaccard). `bits` fixes the bucket-hash width for the STREAM'S
    * LIFETIME — size it for the corpus the archive will GROW INTO
    * ([[Dedup.autoBucketBits]] of the eventual count), not the first
    * trigger; after the first trigger the ledger's own column metadata is
    * authoritative and a mismatched restart fails fast rather than
    * probing with misaligned keys. */
  def minhashStep(spark: SparkSession, batch: DataFrame, batchId: Long,
      ledgerDir: String, archiveDir: String, outDir: String, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 12, bands: Int = 6,
      threshold: Double = 0.5, bits: Int = 24,
      bucketCap: Int = 4096): DataFrame = {
    val ledger = readPrior(spark, ledgerDir, batchId,
      Dedup.minhashLedger(batch.limit(0), idCol, textCol, shingleN, k,
        bands, bits))
    val meta = ledger.schema(ledger.schema.fieldIndex("bucket")).metadata
    val ledgerBits = meta.getLong(Dedup.LedgerBitsKey).toInt
    require(ledgerBits == bits,
      s"minhashStep: ledger at $ledgerDir was built with bits=$ledgerBits " +
        s"but this stream is configured with bits=$bits — the bucket keys " +
        "would not align; restart with the ledger's width")
    val archive = readPrior(spark, archiveDir, batchId,
      batch.limit(0).select(col(idCol), col(textCol)))
    // scope the classifier's internal candidate-frame persist to THIS
    // trigger: release after the write materializes it, without touching
    // unrelated frames a shared session may have cached
    val scope = graft.ops.CacheScope()
    try Dedup.incrementalMinhashDedup(ledger, archive, batch, idCol, textCol,
        shingleN, k, bands, threshold, bucketCap, scope)
      .write.mode("overwrite").parquet(part(outDir, batchId))
    finally scope.release()
    val out = spark.read.parquet(part(outDir, batchId))
    val novel = batch.join(
      out.filter(col("status") === "novel").select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
    Dedup.minhashLedger(novel, idCol, textCol, shingleN, k, bands, bits)
      .write.mode("overwrite").parquet(part(ledgerDir, batchId))
    novel.select(col(idCol), col(textCol))
      .write.mode("overwrite").parquet(part(archiveDir, batchId))
    out
  }

  /** One micro-batch step of the SEMANTIC ledger loop — the embedding-
    * space member of the always-on dedup trio (exact fingerprints /
    * banded LSH signatures / IVF-celled vectors): is this incoming
    * vector a PARAPHRASE of anything the stream has already admitted?
    * The archive ledger stores each novel vector's (id, v, norm, home
    * cell); an incoming vector probes its `nprobe` best cells through
    * the BROADCAST centroid frame and cosine-compares only those cells'
    * ledger rows (the [[Dedup.semanticDupGuardStream]] probe shape, but
    * against a GROWING archive). In-batch paraphrase pairs classify
    * through [[graft.ops.KMeans.semanticDedupTrained]] — archive wins
    * over any batch mate. Classification: (id, status, dup_of, cos).
    *
    * `cents` is a TRAINED centroid frame fixed for the stream's lifetime
    * (train offline with [[graft.ops.KMeans.trainCentroids]] and re-index
    * to rotate it — cell ids are meaningless across centroid sets, so a
    * mid-stream swap would misroute every probe; size nlist for the
    * corpus the archive will grow into). Same batchId-keyed idempotent
    * replay discipline as [[exactStep]]/[[minhashStep]]. */
  def semanticStep(spark: SparkSession, batch: DataFrame, batchId: Long,
      ledgerDir: String, outDir: String, idCol: String, vecCol: String,
      cents: DataFrame, nlist: Int, minCos: Double, nprobe: Int = 2,
      cellCap: Int = 4096): DataFrame = {
    import graft.ops.{KMeans, Similarity}
    // dim from the CENTROID frame, not the batch — an empty micro-batch
    // (idle trigger) must classify to zero rows, not throw on first()
    val dim = cents.select(size(col("cv"))).first().getInt(0)
    val batch0 = batch.withMetadata(vecCol,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(Similarity.VecDimKey, dim.toLong).build())
    val ledger = readPrior(spark, ledgerDir, batchId,
      KMeans.assignWithFrame(batch0, idCol, vecCol, cents, nlist).limit(0))
    // classification = the batch incremental classifier
    // ([[Dedup.incrementalSemanticDedup]] — probe top-nprobe cells via the
    // broadcast centroid frame, rectangle-blocked cell join, archive wins
    // over any in-batch mate), with the trigger's frames SCOPED: release
    // after the writes materialize them, not spark.catalog.clearCache()
    // (which would evict every unrelated frame a shared session has
    // cached, every micro-batch).
    //
    // ONE assignment pass per trigger (r18, guide §2.4): the home-cell
    // frame is computed and persisted here once and shared by (a) the
    // classifier's probe/in-batch sides and (b) the ledger append below.
    // Restricting the persisted assignment to the novel ids is
    // value-identical to assigning the novel rows directly — the
    // assignment is per-row deterministic in (vector, cents) alone
    // (LedgerStreamSpec's replay/restart pins re-certify the bytes).
    val scope = graft.ops.CacheScope()
    try {
      val assigned = scope.persist(
        KMeans.assignWithFrame(batch0, idCol, vecCol, cents, nlist))
      Dedup.incrementalSemanticDedup(ledger, batch0, idCol, vecCol,
          cents, nlist, minCos, nprobe, cellCap, scope,
          assigned = Some(assigned))
        .write.mode("overwrite").parquet(part(outDir, batchId))
      val out = spark.read.parquet(part(outDir, batchId))
      val novelIds = out.filter(col("status") === "novel").select(col("id"))
      assigned.join(novelIds, Seq("id"), "left_semi")
        .write.mode("overwrite").parquet(part(ledgerDir, batchId))
      out
    } finally scope.release()
  }

  /** Wire [[semanticStep]] as a foreachBatch sink (see
    * [[exactLedgerStream]] for the checkpoint requirement). */
  def semanticLedgerStream(stream: DataFrame, ledgerDir: String,
      outDir: String, idCol: String, vecCol: String, cents: DataFrame,
      nlist: Int, minCos: Double, nprobe: Int = 2,
      cellCap: Int = 4096): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      semanticStep(b.sparkSession, b, id, ledgerDir, outDir, idCol,
        vecCol, cents, nlist, minCos, nprobe, cellCap)
      ()
    }

  /** OFFLINE ledger compaction — the production completion of the
    * batchId-partitioned ingest layout. Per-trigger append partitions are
    * cheap and replay-idempotent, but every probe re-clusters the
    * accumulated ledger on its join key; compaction rewrites it ONCE as a
    * catalog table BUCKETED and sorted by `fp` ([[graft.ops.Bucketing]] —
    * bucket count should match the probe fan-out,
    * [[graft.ops.GraftPar]]), after which the incremental classifier
    * reads the ledger CO-LOCATED: zero exchange on the ledger side of the
    * fp probe join, pinned in LedgerStreamSpec. Run out-of-band (the
    * nightly ingest-then-compact discipline); triggers landing after a
    * compaction probe the bucketed table UNION the post-compaction
    * partitions — both sides stay narrow, and the union re-compacts on
    * the next cycle. The rows are preserved verbatim (same fp set — novel
    * fingerprints are appended at most once), so classification against
    * the compacted table is value-identical to the directory read. The
    * near-dup ledger compacts with the same rewrite keyed on
    * (band, bucket); its probe co-location additionally depends on the
    * hot-bucket blocking columns, so only the exact ledger carries the
    * zero-exchange pin. */
  def compactExactLedger(spark: SparkSession, ledgerDir: String,
      table: String, buckets: Int): DataFrame = {
    graft.ops.Bucketing.writeBucketed(
      spark.read.option("basePath", ledgerDir).parquet(ledgerDir)
        .select("fp", "keep_id"),
      table, "fp", buckets)
    spark.table(table)
  }

  /** [[compactExactLedger]] for the NEAR-dup signature ledger: the same
    * offline rewrite keyed on (band, bucket) — its bucket-hash-width
    * column metadata rides the catalog schema, so a probe against the
    * compacted table still derives identical join keys (spec'd). The
    * probe's full co-location additionally depends on the hot-bucket
    * blocking columns ([[graft.ops.Dedup]] blockKeyedCross), so the
    * zero-exchange pin stays with the exact ledger; what compaction buys
    * here is clustering — bucket-pruned scans and one-side-pre-sorted
    * joins instead of a many-small-partition directory read. */
  def compactMinhashLedger(spark: SparkSession, ledgerDir: String,
      table: String, buckets: Int): DataFrame = {
    graft.ops.Bucketing.writeBucketedBy(
      spark.read.option("basePath", ledgerDir).parquet(ledgerDir)
        .select("id", "pfx", "band", "bucket"),
      table, Seq("band", "bucket"), buckets)
    spark.table(table)
  }

  /** [[compactExactLedger]] for the SEMANTIC vector ledger: the offline
    * rewrite keyed on `cell` — after compaction the per-trigger probe
    * reads the archive vectors clustered by the very key the
    * [[graft.ops.Dedup.incrementalSemanticDedup]] probe joins on
    * (bucket-pruned scans, one side pre-sorted). As with the minhash
    * ledger, full probe co-location additionally depends on the
    * hot-cell blocking columns ([[graft.ops.Dedup]] blockKeyedCross),
    * so the zero-exchange pin stays with the exact ledger; the
    * classification against the compacted table is value-identical to
    * the directory read (spec'd, incl. the vector payload surviving the
    * catalog round-trip). */
  def compactSemanticLedger(spark: SparkSession, ledgerDir: String,
      table: String, buckets: Int): DataFrame = {
    graft.ops.Bucketing.writeBucketedBy(
      spark.read.option("basePath", ledgerDir).parquet(ledgerDir)
        .select("id", "v", "norm", "cell"),
      table, Seq("cell"), buckets)
    spark.table(table)
  }

  /** Wire [[minhashStep]] as a foreachBatch sink (see [[exactLedgerStream]]
    * for the checkpoint requirement). */
  def minhashLedgerStream(stream: DataFrame, ledgerDir: String,
      archiveDir: String, outDir: String, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 6,
      threshold: Double = 0.5, bits: Int = 24,
      bucketCap: Int = 4096): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      minhashStep(b.sparkSession, b, id, ledgerDir, archiveDir, outDir,
        idCol, textCol, shingleN, k, bands, threshold, bits, bucketCap)
      ()
    }
}
