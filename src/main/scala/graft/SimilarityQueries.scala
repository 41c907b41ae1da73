package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Similarity
import Det._

/** Similarity-search operators over the embeddings table.
  * See [[graft.ops.Similarity]] for the brute-force vs LSH scale rationale.
  */
object SimilarityQueries {

  /** The production LSH family (a02's bands/r/minCos). */
  private val LshBands = 12
  private val LshR = 4
  private val LshMinCos = 0.3

  /** The seeded hyperplanes as DuckDB literals. [[Similarity.hyperplanes]]
    * is a pure driver-side function of (dim, bands, r, seed), so the SAME
    * planes the Spark plan projects onto can be embedded in the oracle SQL
    * verbatim — `Double.toString` emits the shortest round-trippable
    * decimal, and DuckDB's parse is correctly rounded, so the oracle's
    * doubles are bit-identical to the plan's `typedlit` constants. dim=64
    * is the testdata embedding width (TESTDATA.md; constant across SFs). */
  private def lshPlanesValues: String =
    Similarity.hyperplanes(64, LshBands, LshR).zipWithIndex.map {
      case (p, i) =>
        s"($i, [${p.map(java.lang.Double.toString).mkString(", ")}])"
    }.mkString(", ")

  /** Full value-for-value oracle of the PRODUCTION [[Similarity.lshNeighbors]]
    * plan: recompute every plane projection (same sequential addition order
    * as VecDot ⇒ bit-identical signs), pack the per-band sign buckets, join
    * bucket-mates, re-score with round-9 cosine — any drift in projection,
    * banding, or re-scoring turns the driver row red. */
  private def lshOracleSql: String = s"""WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)) AS norm
        FROM embeddings),
        planes AS (SELECT * FROM (VALUES $lshPlanesValues) AS t(pid, p)),
        dots AS (
          SELECT v.vec_id, t.pid,
            list_reduce(list_prepend(0.0, list_transform(list_zip(v.v, t.p),
              q -> CAST(struct_extract(q, 1) AS DOUBLE) * CAST(struct_extract(q, 2) AS DOUBLE))),
              (acc, x) -> acc + x) AS dt
          FROM v CROSS JOIN planes t),
        b AS (
          SELECT vec_id, pid // $LshR AS band,
            SUM(CASE WHEN dt >= 0 THEN (1 << (${LshR - 1} - (pid % $LshR))) ELSE 0 END) AS bucket
          FROM dots GROUP BY 1, 2),
        pairs AS (
          SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
          FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket
            AND x.vec_id < y.vec_id)
        SELECT id_a, id_b, cos FROM (
          SELECT p.id_a, p.id_b,
            ROUND(list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, c.v),
              q -> CAST(struct_extract(q, 1) AS DOUBLE) * CAST(struct_extract(q, 2) AS DOUBLE))),
              (acc, x) -> acc + x) / (a.norm * c.norm), 9) AS cos
          FROM pairs p JOIN v a ON a.vec_id = p.id_a
            JOIN v c ON c.vec_id = p.id_b) z
        WHERE cos >= $LshMinCos ORDER BY id_a, id_b"""

  val entries: Seq[QueryDef] = Seq(
    // ---- a01: exact cosine top-k for a small query set (broadcast join)
    QueryDef(
      "a01_ann_bruteforce",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos"))
          .orderBy("query_id", "rk")
      },
      Some("""WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)) AS norm
        FROM embeddings)
        SELECT query_id, rk, neighbor_id, cos FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            ROUND(list_reduce(list_prepend(0.0,
                list_transform(list_zip(q.v, c.v),
                  p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
                (acc, x) -> acc + x) / (q.norm * c.norm), 9) AS cos,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ROUND(list_reduce(list_prepend(0.0,
                list_transform(list_zip(q.v, c.v),
                  p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
                (acc, x) -> acc + x) / (q.norm * c.norm), 9) DESC, c.vec_id) AS rk
          FROM v q JOIN v c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 10) t
        WHERE rk <= 5 ORDER BY query_id, rk"""),
      headline = true),

    // ---- a02: random-hyperplane LSH ANN (the 100 TB path: bucket join
    // instead of all pairs). This is the PRODUCTION plan — and it is fully
    // value-oracled: the seeded hyperplanes are driver-side constants, so
    // the oracle SQL embeds them as literals and replays the entire
    // pipeline (projections, sign banding, bucket join, round-9 cosine
    // re-score) value-for-value in DuckDB. The r6 bench timed the recall
    // AUDIT under this name; the audit is now a02a so cross-round tracking
    // times the 100 TB-critical plan itself.
    //
    // r is NOT pinned here: the registered config takes the scale-safe
    // default ([[Similarity.autoLshR]] — 2^r tracks corpus size so the
    // candidate-pair stream stays linear; the r12 probe measured the
    // pinned-r config filling the disk at ×100). The static oracle stays
    // valid because autoLshR derives exactly LshR = 4 at every
    // verify/bench SF (n ≤ 2000 ⇒ the rMin floor); a02a pins r
    // explicitly so its recall assertion tracks a fixed banding.
    QueryDef(
      "a02_ann_lsh",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        OraclePin.assertPinned("a02_ann_lsh", "r",
          Similarity.autoLshR(Similarity.sizingCount(embs)), LshR)
        Similarity.lshNeighbors(embs, "vec_id",
          "embedding", bands = LshBands, minCos = LshMinCos)
          .orderBy("id_a", "id_b")
      },
      Some(lshOracleSql),
      headline = true),

    // ---- a02a: per-query-point recall AUDIT of the production LSH plan:
    // n_true (exact neighbor count at cos ≥ 0.3) is value-checked by
    // DuckDB, and recall_ok asserts the production pair set caught ≥ 70%
    // of them (seeded ⇒ deterministic; measured per-query recall at sf0.01
    // is 0.75–1.0). The audit's exact side is one LINEAR broadcast pass
    // over the 10 query points, not all-pairs. Non-headline: the bench
    // times the production plan (a02); correctness still checks both.
    QueryDef(
      "a02a_lsh_audit",
      (s, d) => Similarity.lshRecallAudit(Tables.embeddings(s, d), "vec_id",
        "embedding", bands = LshBands, r = LshR, minCos = LshMinCos,
        nQueries = 10, minRecall = 0.7)
        .orderBy("query_id"),
      Some("""WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)) AS norm
        FROM embeddings),
        e AS (
          SELECT q.vec_id AS query_id, c.vec_id AS nid
          FROM v q JOIN v c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 10 AND
            ROUND(list_reduce(list_prepend(0.0,
                list_transform(list_zip(q.v, c.v),
                  p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
                (acc, x) -> acc + x) / (q.norm * c.norm), 9) >= 0.3)
        SELECT q.vec_id AS query_id, COUNT(e.nid) AS n_true, TRUE AS recall_ok
        FROM v q LEFT JOIN e ON e.query_id = q.vec_id
        WHERE q.vec_id < 10 GROUP BY q.vec_id ORDER BY query_id""")),

    // ---- a04: IVF ANN — coarse cells around literal centroids, map-only
    // assignment, nprobe-cell probe (the second scale path next to LSH;
    // see Similarity.ivfTopK). Centroid seeding is lowest-id (ORDER BY id
    // LIMIT nlist), so the ENTIRE pipeline — cell argmax, probe pick,
    // candidate re-rank — is replicated value-for-value by the DuckDB
    // oracle below: any drift in assignment or ranking turns the row red.
    QueryDef(
      "a04_ann_ivf",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        Similarity.ivfTopK(embs, embs.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
          .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos"))
          .orderBy("query_id", "rk")
      },
      Some("""WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)) AS norm
        FROM embeddings),
        c AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS cidx,
            list_transform(v, x -> x / greatest(norm, 1e-12)) AS cv
          FROM (SELECT vec_id, v, norm FROM v ORDER BY vec_id LIMIT 16) s0),
        sc AS (
          SELECT v.vec_id, c.cidx,
            list_reduce(list_prepend(0.0, list_transform(list_zip(v.v, c.cv),
              p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
              (acc, x) -> acc + x) AS dt
          FROM v CROSS JOIN c),
        cell AS (
          SELECT vec_id, cidx AS cell FROM (
            SELECT vec_id, cidx,
              row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
            FROM sc) z WHERE rk = 1),
        probe AS (
          SELECT vec_id AS qid, cidx AS cell FROM (
            SELECT vec_id, cidx,
              row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
            FROM sc WHERE vec_id < 10) z WHERE rk <= 4)
        SELECT query_id, rk, neighbor_id, cos FROM (
          SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
            ROUND(list_reduce(list_prepend(0.0, list_transform(list_zip(q.v, t.v),
                p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
                (acc, x) -> acc + x) / (q.norm * t.norm), 9) AS cos,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              ROUND(list_reduce(list_prepend(0.0, list_transform(list_zip(q.v, t.v),
                p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
                (acc, x) -> acc + x) / (q.norm * t.norm), 9) DESC, t.vec_id) AS rk
          FROM v q JOIN probe p ON p.qid = q.vec_id
            JOIN cell ce ON ce.cell = p.cell
            JOIN v t ON t.vec_id = ce.vec_id AND t.vec_id <> q.vec_id) z
        WHERE rk <= 5 ORDER BY query_id, rk""")),

    // ---- a04a: recall AUDIT of the IVF probe path — the nprobe/nlist
    // recall dial, measured (a02a measures LSH banding, d10a SemDeDup
    // cell confinement; this completes the triad). n_found = of each
    // query's 5 brute-force true neighbors, how many the nprobe=4 probe
    // over nlist=16 cells returned — the ORACLE replays both the IVF
    // pipeline and the brute-force top-5, so the recall numbers are
    // differential, and recall_ok is DERIVED from the replayed n_found on
    // both sides (n_found >= minRecall·k = 3) rather than pinned TRUE:
    // measured at sf0.01 min 3/5, avg 0.92, and a legitimate
    // data-dependent dip at a new SF turns the VALUE red identically in
    // both engines instead of only in Spark (r15 advice).
    QueryDef(
      "a04a_ivf_recall",
      (s, d) => Similarity.ivfRecallAudit(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4,
        nQueries = 10, minRecall = 0.6)
        .orderBy("query_id"),
      Some {
        def dot(a: String, b: String) = OracleSql.dot(a, b)
        s"""WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            sqrt(${dot("list_transform(embedding, x -> CAST(x AS DOUBLE))",
              "list_transform(embedding, x -> CAST(x AS DOUBLE))")}) AS norm
          FROM embeddings),
          c AS (
            SELECT row_number() OVER (ORDER BY vec_id) AS cidx,
              list_transform(v, x -> x / greatest(norm, 1e-12)) AS cv
            FROM (SELECT vec_id, v, norm FROM v ORDER BY vec_id LIMIT 16) s0),
          sc AS (
            SELECT v.vec_id, c.cidx, ${dot("v.v", "c.cv")} AS dt
            FROM v CROSS JOIN c),
          cell AS (
            SELECT vec_id, cidx AS cell FROM (
              SELECT vec_id, cidx,
                row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
              FROM sc) z WHERE rk = 1),
          probe AS (
            SELECT vec_id AS qid, cidx AS cell FROM (
              SELECT vec_id, cidx,
                row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
              FROM sc WHERE vec_id < 10) z WHERE rk <= 4),
          ivf AS (
            SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.vec_id ORDER BY
                  ROUND(${dot("q.v", "t.v")} / (q.norm * t.norm), 9) DESC,
                  t.vec_id) AS rk
              FROM v q JOIN probe p ON p.qid = q.vec_id
                JOIN cell ce ON ce.cell = p.cell
                JOIN v t ON t.vec_id = ce.vec_id AND t.vec_id <> q.vec_id) z
            WHERE rk <= 5),
          brute AS (
            SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.vec_id ORDER BY
                  ROUND(${dot("q.v", "t.v")} / (q.norm * t.norm), 9) DESC,
                  t.vec_id) AS rk
              FROM v q JOIN v t ON t.vec_id <> q.vec_id
              WHERE q.vec_id < 10) z
            WHERE rk <= 5)
        SELECT b.query_id, COUNT(i.neighbor_id) AS n_found,
          -- recall_ok DERIVED from the replayed counts on both sides
          -- (minRecall·k = 0.6·5 = 3), not pinned TRUE: IVF recall is
          -- data-dependent, so at a new verify SF a query can
          -- legitimately dip and both engines must agree on the verdict
          -- instead of the row going red with no code change (r15 advice)
          COUNT(i.neighbor_id) >= 3 AS recall_ok
        FROM brute b LEFT JOIN ivf i ON i.query_id = b.query_id
          AND i.neighbor_id = b.neighbor_id
        GROUP BY 1 ORDER BY 1"""
      }),

    // ---- a05: IVF with ONE spherical-kmeans refinement sweep — the
    // assignment plan a04 uses, run once more after recomputing each
    // cell's centroid as the elementwise member mean. Fully value-oracled:
    // the means go through round-6 + DECIMAL sums (exact integer
    // arithmetic, order-free — the a03 trick), normalization is the same
    // sequential ascending-dim fold in both engines, so DuckDB replays
    // seed → assign → refine → re-assign → probe → re-rank
    // value-for-value. Empty cells keep their seed centroid (both sides).
    QueryDef(
      "a05_ann_ivf_kmeans",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        Similarity.ivfKmeansTopK(embs, embs.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4, iters = 1)
          .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos"))
          .orderBy("query_id", "rk")
      },
      Some {
        def dot(a: String, b: String) = OracleSql.dot(a, b)
        s"""WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)) AS norm
          FROM embeddings),
        c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS cidx,
            list_transform(v, x -> x / greatest(norm, 1e-12)) AS cv
          FROM (SELECT vec_id, v, norm FROM v ORDER BY vec_id LIMIT 16) s0),
        sc0 AS (
          SELECT v.vec_id, t.cidx, ${dot("v.v", "t.cv")} AS dt
          FROM v CROSS JOIN c0 t),
        cell0 AS (
          SELECT vec_id, cidx AS cell FROM (
            SELECT vec_id, cidx,
              row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
            FROM sc0) z WHERE rk = 1),
        m AS (
          SELECT ce.cell AS cidx, dims.dim,
            CAST(SUM(CAST(ROUND(v.v[dims.dim], 6) AS DECIMAL(18,6))) AS DOUBLE)
              / COUNT(*) AS mv
          FROM v JOIN cell0 ce ON ce.vec_id = v.vec_id
          CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) dims
          GROUP BY ce.cell, dims.dim),
        m1 AS (SELECT cidx, list(mv ORDER BY dim) AS ml FROM m GROUP BY cidx),
        c1 AS (
          SELECT c0.cidx,
            COALESCE(list_transform(m1.ml, x -> x / greatest(
              sqrt(list_reduce(list_prepend(0.0,
                list_transform(m1.ml, y -> y * y)), (a, z) -> a + z)), 1e-12)),
              c0.cv) AS cv
          FROM c0 LEFT JOIN m1 ON m1.cidx = c0.cidx),
        sc1 AS (
          SELECT v.vec_id, t.cidx, ${dot("v.v", "t.cv")} AS dt
          FROM v CROSS JOIN c1 t),
        cell AS (
          SELECT vec_id, cidx AS cell FROM (
            SELECT vec_id, cidx,
              row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
            FROM sc1) z WHERE rk = 1),
        probe AS (
          SELECT vec_id AS qid, cidx AS cell FROM (
            SELECT vec_id, cidx,
              row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
            FROM sc1 WHERE vec_id < 10) z WHERE rk <= 4)
        SELECT query_id, rk, neighbor_id, cos FROM (
          SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
            ROUND(${dot("q.v", "t.v")} / (q.norm * t.norm), 9) AS cos,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              ROUND(${dot("q.v", "t.v")} / (q.norm * t.norm), 9) DESC, t.vec_id) AS rk
          FROM v q JOIN probe p ON p.qid = q.vec_id
            JOIN cell ce ON ce.cell = p.cell
            JOIN v t ON t.vec_id = ce.vec_id AND t.vec_id <> q.vec_id) z
        WHERE rk <= 5 ORDER BY query_id, rk"""
      }),

    // ---- a06: Johnson–Lindenstrauss random projection 64 → 16 dims —
    // the dimensionality-reduction pass before clustering/ANN. Map-only
    // codegen'd VecDots against the seeded driver-side matrix, which the
    // oracle embeds as literals (the a02 hyperplane trick) and replays
    // with the same sequential fold ⇒ bit-identical projections.
    QueryDef(
      "a06_random_projection",
      (s, d) => Similarity.randomProject(Tables.embeddings(s, d),
        "vec_id", "embedding", dimOut = 16)
        .select(col("id").as("vec_id"), col("dim"), col("proj"))
        .orderBy("vec_id", "dim"),
      Some {
        val m = Similarity.projectionMatrix(64, 16).zipWithIndex.map {
          case (p, i) =>
            s"(${i + 1}, [${p.map(java.lang.Double.toString).mkString(", ")}])"
        }.mkString(", ")
        s"""WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
          m AS (SELECT * FROM (VALUES $m) AS t(dim, p))
          SELECT v.vec_id, m.dim,
            ROUND(list_reduce(list_prepend(0.0, list_transform(list_zip(v.v, m.p),
              q -> CAST(struct_extract(q, 1) AS DOUBLE) * CAST(struct_extract(q, 2) AS DOUBLE))),
              (acc, x) -> acc + x), 9) AS proj
          FROM v CROSS JOIN m ORDER BY v.vec_id, m.dim"""
      }),

    // ---- a07: symmetric int8 scalar quantization — the embedding
    // storage-compression pass (4× smaller, re-rankable retrieval). Pure
    // map-only double math, summarized by deterministic integer
    // reductions; the oracle recomputes scale and every quantized
    // component from the same exactly-widened doubles.
    QueryDef(
      "a07_quantize_int8",
      (s, d) => Similarity.quantizeInt8(Tables.embeddings(s, d),
        "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("scale"), col("q_sum"),
          col("q_l1"), col("q_max"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id, ROUND(amax / 127.0, 9) AS scale,
          list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, x) -> a + x) AS q_sum,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(q, x -> abs(x))), (a, x) -> a + x) AS q_l1,
          list_max(q) AS q_max
        FROM (SELECT vec_id, amax,
            list_transform(vd, x -> CAST(round(x * 127.0 / amax) AS BIGINT)) AS q
          FROM (SELECT vec_id, vd,
              greatest(list_max(list_transform(vd, x -> abs(x))), 1e-12) AS amax
            FROM (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
              FROM embeddings) a) b) c
        ORDER BY vec_id""")),

    // ---- a08: product-quantization encoding (Jégou et al. 2011) — one
    // small code per 8-dim subspace instead of 64 floats: the embedding
    // compression behind IVF-PQ indexes. Map-only codegen against the
    // seeded literal codebooks; the oracle replays codebook construction,
    // every subspace dot, and the argmax value-for-value.
    QueryDef(
      "a08_pq_codes",
      (s, d) => Similarity.pqCodes(Tables.embeddings(s, d),
        "vec_id", "embedding", subs = 8, codes = 16)
        .select(col("id").as("vec_id"), col("sub"), col("code"), col("score"))
        .orderBy("vec_id", "sub"),
      Some("""WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        seeds AS (SELECT row_number() OVER (ORDER BY vec_id) AS cj, v
          FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16) s0),
        books AS (SELECT sub.s, seeds.cj,
            list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], x -> x / greatest(
              sqrt(list_reduce(list_prepend(0.0,
                list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], y -> y * y)),
                (a, z) -> a + z)), 1e-12)) AS cw
          FROM seeds CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sub),
        sc AS (SELECT v.vec_id, b.s, b.cj,
            list_reduce(list_prepend(0.0, list_transform(
              list_zip(v.v[b.s*8+1 : b.s*8+8], b.cw),
              p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
              (acc, x) -> acc + x) AS dt
          FROM v CROSS JOIN books b)
        SELECT vec_id, s + 1 AS sub, cj AS code, ROUND(dt, 9) AS score
        FROM (SELECT vec_id, s, cj, dt, row_number() OVER (
            PARTITION BY vec_id, s ORDER BY dt DESC, cj) AS rk FROM sc) z
        WHERE rk = 1 ORDER BY vec_id, sub"""),
      headline = true),

    // ---- a09: PQ asymmetric-distance (ADC) top-k — the query path over
    // a08's codes: corpus represented only by one code per subspace, each
    // query scores via a broadcast LUT of subs×codes partial dots,
    // ROUND-9 + DECIMAL-summed so the ranking is bit-deterministic. The
    // oracle replays codebooks, code assignment, the LUT, and the exact
    // decimal aggregation.
    QueryDef(
      "a09_pq_adc_search",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        Similarity.pqAdcTopK(embs, embs.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc"))
          .orderBy("query_id", "rk")
      },
      Some("""WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        seeds AS (SELECT row_number() OVER (ORDER BY vec_id) AS cj, v
          FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16) s0),
        books AS (SELECT sub.s, seeds.cj,
            list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], x -> x / greatest(
              sqrt(list_reduce(list_prepend(0.0,
                list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], y -> y * y)),
                (a, z) -> a + z)), 1e-12)) AS cw
          FROM seeds CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sub),
        sc AS (SELECT v.vec_id, b.s, b.cj,
            list_reduce(list_prepend(0.0, list_transform(
              list_zip(v.v[b.s*8+1 : b.s*8+8], b.cw),
              p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
              (acc, x) -> acc + x) AS dt
          FROM v CROSS JOIN books b),
        cd AS (SELECT vec_id, s, cj FROM (SELECT vec_id, s, cj,
            row_number() OVER (PARTITION BY vec_id, s ORDER BY dt DESC, cj) AS rk
          FROM sc) z WHERE rk = 1),
        lut AS (SELECT vec_id AS qid, s, cj,
            CAST(ROUND(dt, 9) AS DECIMAL(18,9)) AS qdot
          FROM sc WHERE vec_id < 10),
        adc AS (SELECT lut.qid AS query_id, cd.vec_id AS neighbor_id,
            CAST(SUM(lut.qdot) AS DOUBLE) AS adc
          FROM cd JOIN lut ON lut.s = cd.s AND lut.cj = cd.cj
          WHERE cd.vec_id <> lut.qid GROUP BY 1, 2)
        SELECT query_id, rk, neighbor_id, adc FROM (
          SELECT query_id, neighbor_id, adc, row_number() OVER (
            PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rk
          FROM adc) z
        WHERE rk <= 5 ORDER BY query_id, rk""")),

    // ---- a11: IVF-PQ (IVFADC) top-k with exact refine — the COMPOSED
    // production index (Jégou et al. 2011; FAISS IndexIVFPQ + refine):
    // a04's coarse-cell pruning × a09's one-byte-per-subspace ADC scoring,
    // then the rerank·k ADC shortlist re-ranked by exact cosine. Neither
    // component alone has the 100 TB shape (a04 carries full vectors
    // through the probe, a09 scans every code row); here the scan is
    // nprobe/nlist of dim/8-byte rows and full vectors are touched only
    // for the 15-row-per-query shortlist. The oracle replays EVERY stage
    // — centroids, cell argmax, probe pick, codebooks, code assignment,
    // LUT, decimal ADC, shortlist, exact re-rank — value-for-value.
    QueryDef(
      "a11_ivf_pq",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        Similarity.ivfPqTopK(embs, embs.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4,
          subs = 8, codes = 16, rerank = 3)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            col("adc"), col("cos"))
          .orderBy("query_id", "rk")
      },
      Some {
        def dot(a: String, b: String) = OracleSql.dot(a, b)
        s"""WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            sqrt(${dot("list_transform(embedding, x -> CAST(x AS DOUBLE))",
              "list_transform(embedding, x -> CAST(x AS DOUBLE))")}) AS norm
          FROM embeddings),
          c AS (
            SELECT row_number() OVER (ORDER BY vec_id) AS cidx,
              list_transform(v, x -> x / greatest(norm, 1e-12)) AS cv
            FROM (SELECT vec_id, v, norm FROM v ORDER BY vec_id LIMIT 16) s0),
          csc AS (
            SELECT v.vec_id, c.cidx, ${dot("v.v", "c.cv")} AS dt
            FROM v CROSS JOIN c),
          cell AS (
            SELECT vec_id, cidx AS cell FROM (
              SELECT vec_id, cidx, row_number() OVER (
                PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
              FROM csc) z WHERE rk = 1),
          probe AS (
            SELECT vec_id AS qid, cidx AS cell FROM (
              SELECT vec_id, cidx, row_number() OVER (
                PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
              FROM csc WHERE vec_id < 10) z WHERE rk <= 4),
          seeds AS (SELECT row_number() OVER (ORDER BY vec_id) AS cj, v
            FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16) s1),
          books AS (SELECT sub.s, seeds.cj,
              list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], x -> x / greatest(
                sqrt(list_reduce(list_prepend(0.0,
                  list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], y -> y * y)),
                  (a, z) -> a + z)), 1e-12)) AS cw
            FROM seeds CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sub),
          psc AS (SELECT v.vec_id, b.s, b.cj,
              ${dot("v.v[b.s*8+1 : b.s*8+8]", "b.cw")} AS dt
            FROM v CROSS JOIN books b),
          cd AS (SELECT vec_id, s, cj FROM (SELECT vec_id, s, cj,
              row_number() OVER (PARTITION BY vec_id, s ORDER BY dt DESC, cj) AS rk
            FROM psc) z WHERE rk = 1),
          lut AS (SELECT vec_id AS qid, s, cj,
              CAST(ROUND(dt, 9) AS DECIMAL(18,9)) AS qdot
            FROM psc WHERE vec_id < 10),
          adc AS (SELECT lut.qid, cd.vec_id AS nid,
              CAST(SUM(lut.qdot) AS DOUBLE) AS adc
            FROM cd JOIN cell ce ON ce.vec_id = cd.vec_id
              JOIN probe p ON p.cell = ce.cell
              JOIN lut ON lut.qid = p.qid AND lut.s = cd.s AND lut.cj = cd.cj
            WHERE cd.vec_id <> lut.qid GROUP BY 1, 2),
          short AS (SELECT qid, nid, adc FROM (SELECT qid, nid, adc,
              row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS ark
            FROM adc) z WHERE ark <= 15),
          rr AS (SELECT s.qid AS query_id, s.nid AS neighbor_id, s.adc,
              ROUND(${dot("q.v", "t.v")} / (q.norm * t.norm), 9) AS cos
            FROM short s JOIN v q ON q.vec_id = s.qid
              JOIN v t ON t.vec_id = s.nid)
        SELECT query_id, rk, neighbor_id, adc, cos FROM (
          SELECT query_id, neighbor_id, adc, cos, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
          FROM rr) z
        WHERE rk <= 5 ORDER BY query_id, rk"""
      }),

    // ---- a11a: recall AUDIT of the composed IVF-PQ pipeline — the
    // rerank × nprobe accuracy dial, measured (completing the dial set:
    // a02a LSH banding, a04a IVF probe, d10a SemDeDup confinement, a11a
    // the composed index). n_found = of each query's 5 brute-force true
    // neighbors, how many the nprobe=4 / rerank=3 ADC+refine path
    // returned; the oracle replays BOTH pipelines and derives recall_ok
    // from its own replayed count (>= 2 = minRecall 0.4 · k), so a
    // data-dependent dip at a new SF reds the VALUE in both engines
    // identically — measured at sf0.01: min 1/5 (query 6, recorded
    // FALSE by both engines), avg 0.64. Composed recall ≤ a04a's
    // exact-IVF recall by construction (ADC truncation only loses
    // candidates; uniform random vectors are the quantizer's hardest
    // case — clustered real embeddings sit far higher).
    QueryDef(
      "a11a_ivfpq_recall",
      (s, d) => Similarity.ivfPqRecallAudit(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4,
        subs = 8, codes = 16, rerank = 3, nQueries = 10, minRecall = 0.4)
        .orderBy("query_id"),
      Some {
        def dot(a: String, b: String) = OracleSql.dot(a, b)
        s"""WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            sqrt(${dot("list_transform(embedding, x -> CAST(x AS DOUBLE))",
              "list_transform(embedding, x -> CAST(x AS DOUBLE))")}) AS norm
          FROM embeddings),
          c AS (
            SELECT row_number() OVER (ORDER BY vec_id) AS cidx,
              list_transform(v, x -> x / greatest(norm, 1e-12)) AS cv
            FROM (SELECT vec_id, v, norm FROM v ORDER BY vec_id LIMIT 16) s0),
          csc AS (
            SELECT v.vec_id, c.cidx, ${dot("v.v", "c.cv")} AS dt
            FROM v CROSS JOIN c),
          cell AS (
            SELECT vec_id, cidx AS cell FROM (
              SELECT vec_id, cidx, row_number() OVER (
                PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
              FROM csc) z WHERE rk = 1),
          probe AS (
            SELECT vec_id AS qid, cidx AS cell FROM (
              SELECT vec_id, cidx, row_number() OVER (
                PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
              FROM csc WHERE vec_id < 10) z WHERE rk <= 4),
          seeds AS (SELECT row_number() OVER (ORDER BY vec_id) AS cj, v
            FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16) s1),
          books AS (SELECT sub.s, seeds.cj,
              list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], x -> x / greatest(
                sqrt(list_reduce(list_prepend(0.0,
                  list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], y -> y * y)),
                  (a, z) -> a + z)), 1e-12)) AS cw
            FROM seeds CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sub),
          psc AS (SELECT v.vec_id, b.s, b.cj,
              ${dot("v.v[b.s*8+1 : b.s*8+8]", "b.cw")} AS dt
            FROM v CROSS JOIN books b),
          cd AS (SELECT vec_id, s, cj FROM (SELECT vec_id, s, cj,
              row_number() OVER (PARTITION BY vec_id, s ORDER BY dt DESC, cj) AS rk
            FROM psc) z WHERE rk = 1),
          lut AS (SELECT vec_id AS qid, s, cj,
              CAST(ROUND(dt, 9) AS DECIMAL(18,9)) AS qdot
            FROM psc WHERE vec_id < 10),
          adc AS (SELECT lut.qid, cd.vec_id AS nid,
              CAST(SUM(lut.qdot) AS DOUBLE) AS adc
            FROM cd JOIN cell ce ON ce.vec_id = cd.vec_id
              JOIN probe p ON p.cell = ce.cell
              JOIN lut ON lut.qid = p.qid AND lut.s = cd.s AND lut.cj = cd.cj
            WHERE cd.vec_id <> lut.qid GROUP BY 1, 2),
          short AS (SELECT qid, nid, adc FROM (SELECT qid, nid, adc,
              row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS ark
            FROM adc) z WHERE ark <= 15),
          rr AS (SELECT s.qid AS query_id, s.nid AS neighbor_id,
              ROUND(${dot("q.v", "t.v")} / (q.norm * t.norm), 9) AS cos
            FROM short s JOIN v q ON q.vec_id = s.qid
              JOIN v t ON t.vec_id = s.nid),
          pqr AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
            FROM rr) z WHERE rk <= 5),
          brute AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ROUND(${dot("q.v", "t.v")} / (q.norm * t.norm), 9) DESC,
                t.vec_id) AS rk
            FROM v q JOIN v t ON t.vec_id <> q.vec_id
            WHERE q.vec_id < 10) z WHERE rk <= 5)
        SELECT b.query_id, COUNT(p.neighbor_id) AS n_found,
          -- recall_ok DERIVED from the replayed count on both sides
          -- (minRecall·k = 0.4·5 = 2): data-dependent dips red the VALUE
          -- identically in both engines (the a04a contract)
          COUNT(p.neighbor_id) >= 2 AS recall_ok
        FROM brute b LEFT JOIN pqr p ON p.query_id = b.query_id
          AND p.neighbor_id = b.neighbor_id
        GROUP BY 1 ORDER BY 1"""
      }),

    // ---- a11b: IVF-PQ with TRAINED centroids AND trained PQ codebooks
    // (r15 verdict task 6) — the full trained production index: one
    // distributed-kmeans sweep refines the coarse quantizer as a
    // DATAFRAME (KMeans.trainCentroids — the above-the-2^16-cap path,
    // corpus assigned through the broadcast-joined two-level frame),
    // one per-subspace kmeans sweep refines the PQ codebooks
    // (KMeans.trainPqCodebooks — the Jégou 2011 construction), and
    // Similarity.ivfPqTopKTrained composes them into a11's ADC + exact-
    // refine search. The oracle replays EVERY stage: centroid seeding,
    // fine→coarse grouping with the empty-group skip, the training means
    // (round-6 DECIMAL), re-grouping and re-assignment against the
    // TRAINED coarse rows, codebook seeding, per-subspace assignment and
    // means, trained encode, LUT, decimal ADC, shortlist, exact re-rank.
    QueryDef(
      "a11b_ivf_pq_trained",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        require(Similarity.vecDim(embs, "embedding") == 64,
          "a11b oracle SQL is generated for dim=64 embeddings")
        // the two training sweeps are independent until the search (the
        // coarse quantizer and the per-subspace codebooks never read each
        // other) and each is a SERIAL chain of bounded jobs — overlap
        // them so one sweep's stage tails back-fill the other's
        // (Concurrently, guide §2.6); values are unchanged, both sweeps
        // are deterministic in isolation
        val (cents, books) = graft.ops.Concurrently.both(
          graft.ops.KMeans.trainCentroids(
            embs, "vec_id", "embedding", nlist = 16, iters = 1),
          graft.ops.KMeans.trainPqCodebooks(
            embs, "vec_id", "embedding", subs = 8, codes = 16, iters = 1))
        // the trained search persists its assignment frame internally
        // (two consumers); scope it, materialize the bounded result and
        // release exactly that frame (the d13 discipline)
        val scope = graft.ops.CacheScope()
        val out = Similarity.ivfPqTopKTrained(embs,
          embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
          cents, nlist = 16, books, subs = 8, codes = 16,
          nprobe = 4, rerank = 3, scope = scope)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            col("adc"), col("cos"))
          .orderBy("query_id", "rk")
        try out.localCheckpoint()
        finally scope.release()
      },
      Some {
        def dot(a: String, b: String) = OracleSql.dot(a, b)
        // two-level assignment fragments shared with the d15 oracle
        // (OracleSql — one spelling, no drift) at nlist=16, nCoarse=4
        def grp(c: String, g: String) = OracleSql.twoLevelGrp(c, g, 4)
        def assign(c: String, g: String, cw: String, cell: String) =
          OracleSql.twoLevelAssign(c, g, cw, cell, 4)
        s"""WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
            sqrt(${dot("list_transform(embedding, x -> CAST(x AS DOUBLE))",
              "list_transform(embedding, x -> CAST(x AS DOUBLE))")}) AS norm
          FROM embeddings),
          c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) AS cidx,
              list_transform(v, x -> x / greatest(norm, 1e-12)) AS cv
            FROM (SELECT vec_id, v, norm FROM v ORDER BY vec_id LIMIT 16) s0),
          ${grp("c0", "grp0")},
          ${assign("c0", "grp0", "cw0", "cell0")},
          m AS (
            SELECT ce.cell AS cidx, dims.dim,
              CAST(SUM(CAST(ROUND(v.v[dims.dim], 6) AS DECIMAL(18,6))) AS DOUBLE)
                / COUNT(*) AS mv
            FROM v JOIN cell0 ce ON ce.vec_id = v.vec_id
            CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) dims
            GROUP BY ce.cell, dims.dim),
          m1 AS (SELECT cidx, list(mv ORDER BY dim) AS ml FROM m GROUP BY cidx),
          c1 AS (
            SELECT c0.cidx,
              COALESCE(list_transform(m1.ml, x -> x / greatest(
                sqrt(list_reduce(list_prepend(0.0,
                  list_transform(m1.ml, y -> y * y)), (a, x2) -> a + x2)),
                1e-12)), c0.cv) AS cv
            FROM c0 LEFT JOIN m1 USING (cidx)),
          ${grp("c1", "grp1")},
          ${assign("c1", "grp1", "cw1", "cell1")},
          probe AS (
            SELECT vec_id AS qid, cidx AS cell FROM (
              SELECT v.vec_id, c.cidx,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY ${dot("v.v", "c.cv")} DESC, c.cidx) AS rk
              FROM v CROSS JOIN c1 c WHERE v.vec_id < 10) zp WHERE rk <= 4),
          seeds AS (SELECT row_number() OVER (ORDER BY vec_id) AS cj, v
            FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16) s1),
          b0 AS (SELECT sub.s, seeds.cj,
              list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], x -> x / greatest(
                sqrt(list_reduce(list_prepend(0.0,
                  list_transform(seeds.v[sub.s*8+1 : sub.s*8+8], y -> y * y)),
                  (a, z) -> a + z)), 1e-12)) AS cw
            FROM seeds CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sub),
          psc0 AS (SELECT v.vec_id, b.s, b.cj,
              ${dot("v.v[b.s*8+1 : b.s*8+8]", "b.cw")} AS dt
            FROM v CROSS JOIN b0 b),
          cd0 AS (SELECT vec_id, s, cj FROM (SELECT vec_id, s, cj,
              row_number() OVER (PARTITION BY vec_id, s ORDER BY dt DESC, cj) AS rk
            FROM psc0) z0 WHERE rk = 1),
          bm AS (
            SELECT cd0.s, cd0.cj, dims.dim,
              CAST(SUM(CAST(ROUND(v.v[cd0.s*8 + dims.dim], 6) AS DECIMAL(18,6))) AS DOUBLE)
                / COUNT(*) AS mv
            FROM v JOIN cd0 ON cd0.vec_id = v.vec_id
            CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS dim) dims
            GROUP BY cd0.s, cd0.cj, dims.dim),
          bm1 AS (SELECT s, cj, list(mv ORDER BY dim) AS ml FROM bm GROUP BY s, cj),
          b1 AS (
            SELECT b0.s, b0.cj,
              COALESCE(list_transform(bm1.ml, x -> x / greatest(
                sqrt(list_reduce(list_prepend(0.0,
                  list_transform(bm1.ml, y -> y * y)), (a, x2) -> a + x2)),
                1e-12)), b0.cw) AS cw
            FROM b0 LEFT JOIN bm1 USING (s, cj)),
          psc1 AS (SELECT v.vec_id, b.s, b.cj,
              ${dot("v.v[b.s*8+1 : b.s*8+8]", "b.cw")} AS dt
            FROM v CROSS JOIN b1 b),
          cd1 AS (SELECT vec_id, s, cj FROM (SELECT vec_id, s, cj,
              row_number() OVER (PARTITION BY vec_id, s ORDER BY dt DESC, cj) AS rk
            FROM psc1) z1 WHERE rk = 1),
          lut AS (SELECT vec_id AS qid, s, cj,
              CAST(ROUND(dt, 9) AS DECIMAL(18,9)) AS qdot
            FROM psc1 WHERE vec_id < 10),
          adc AS (SELECT lut.qid, cd1.vec_id AS nid,
              CAST(SUM(lut.qdot) AS DOUBLE) AS adc
            FROM cd1 JOIN cell1 ce ON ce.vec_id = cd1.vec_id
              JOIN probe p ON p.cell = ce.cell
              JOIN lut ON lut.qid = p.qid AND lut.s = cd1.s AND lut.cj = cd1.cj
            WHERE cd1.vec_id <> lut.qid GROUP BY 1, 2),
          short AS (SELECT qid, nid, adc FROM (SELECT qid, nid, adc,
              row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS ark
            FROM adc) zs WHERE ark <= 15),
          rr AS (SELECT s.qid AS query_id, s.nid AS neighbor_id, s.adc,
              ROUND(${dot("q.v", "t.v")} / (q.norm * t.norm), 9) AS cos
            FROM short s JOIN v q ON q.vec_id = s.qid
              JOIN v t ON t.vec_id = s.nid)
        SELECT query_id, rk, neighbor_id, adc, cos FROM (
          SELECT query_id, neighbor_id, adc, cos, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
          FROM rr) zf
        WHERE rk <= 5 ORDER BY query_id, rk"""
      },
      // headline (r16 verdict task 6): the full trained IVF-PQ index,
      // tracked per-round — a regression in either training sweep or the
      // search composition shows up as a wall delta
      headline = true, benchReps = 3),

    // ---- a03: per-label centroid (first 4 dims) — float aggregation via
    // quantize-to-6dp + exact decimal sums so both engines agree bitwise
    QueryDef(
      "a03_centroids",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")))
          .filter(col("pos") < 4)
          .select(col("label"), (col("pos") + 1).as("dim"),
            round(col("col").cast(DoubleType), 6).as("xq"))
          .groupBy("label", "dim")
          .agg((sum(col("xq").cast(DecimalType(18, 6))).cast(DoubleType) /
            count(lit(1))).as("centroid"), count(lit(1)).as("n"))
          .orderBy("label", "dim")
      },
      Some("""SELECT label, dim,
        CAST(SUM(CAST(ROUND(CAST(embedding[dim] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*) AS centroid,
        COUNT(*) AS n
        FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS dim) dims
        GROUP BY label, dim ORDER BY label, dim""")),

    // ---- a10: cell-stratified diversity sample — SemDeDup's companion
    // SELECTION op (per-cell quotas flatten the kept set toward uniform
    // semantic coverage; ops.Selection.cellDiverseSample). Assignment is
    // d07/a04's seeded-centroid argmax (auto-sized — exactly 16 cells at
    // every verify SF, so the static oracle replays it single-level);
    // membership within a cell is the deterministic md5(id) order (t05),
    // so both engines keep identical rows. The only shuffle is the
    // cell-partitioned rank window, whose partitions the auto sizing
    // bounds at any corpus size.
    QueryDef(
      "a10_cell_diverse_sample",
      (s, d) => {
        val embs = Tables.embeddings(s, d)
        OraclePin.assertPinned("a10_cell_diverse_sample", "nlist",
          graft.ops.Dedup.autoNlist(Similarity.sizingCount(embs)), 16)
        graft.ops.Selection.cellDiverseSample(
          embs, "vec_id", "embedding", perCell = 16)
          .select(col("id").as("vec_id"), col("cell"), col("cell_rank"))
          .orderBy("vec_id")
      },
      Some("""WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)) AS norm
        FROM embeddings),
        c AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS cidx,
            list_transform(v, x -> x / greatest(norm, 1e-12)) AS cv
          FROM (SELECT vec_id, v, norm FROM v ORDER BY vec_id LIMIT 16) s0),
        sc AS (
          SELECT v.vec_id, c.cidx,
            list_reduce(list_prepend(0.0, list_transform(list_zip(v.v, c.cv),
              p -> CAST(struct_extract(p, 1) AS DOUBLE) * CAST(struct_extract(p, 2) AS DOUBLE))),
              (acc, x) -> acc + x) AS dt
          FROM v CROSS JOIN c),
        cell AS (
          SELECT vec_id, cidx AS cell FROM (
            SELECT vec_id, cidx,
              row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, cidx) AS rk
            FROM sc) z WHERE rk = 1),
        r AS (
          SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
              ORDER BY CAST(concat('0x',
                substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
              vec_id) AS cell_rank
          FROM cell)
        SELECT vec_id, cell, cell_rank FROM r
        WHERE cell_rank <= 16 ORDER BY vec_id"""))
  )
}
