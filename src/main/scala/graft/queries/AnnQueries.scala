package graft.queries

import graft.Catalog.{table => t}
import graft.functions.{Quantize, SimilarityFunctions => SF}
import PipelineQueries.{ivfKmeansAssignments, kmeansCte, memo, memoArtifact,
  normEmbeddings}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings: brute-force, LSH-bucketed,
  * IVF (fixed and k-means-trained centroids) and batched top-k, int8
  * quantization and quantized serving, the Gram matrix behind PCA,
  * and product quantization.
  *
  * PQ splits the 64-dim space into 4×16-dim subspaces; each gets its
  * own k=8 codebook (one Lloyd refinement from a deterministic seed,
  * every float SUM quantized to fixed-point BIGINT before summing —
  * the same cross-engine discipline as the IVF k-means tier), so
  * every vector compresses to 4 byte-sized codes. A probe builds a
  * 32-entry distance table and scores candidates by table lookup
  * (ADC) — O(1) per candidate instead of O(dim) — then exact-reranks
  * the shortlist. At 100 TB the codebook is O(model) broadcast state,
  * the codes live beside the vectors as a write-once index, and
  * serving never touches raw vectors until the rerank.
  */
object AnnQueries {

  /** Banded hyperplane-LSH buckets at the ANN-SERVING parameters
    * (4 bands × 2 planes — recall-biased, vs the dedup tier's 8×8
    * precision bias): the bucket index the batched top-k prefilter
    * joins probe-against-corpus on. Written beside the vectors at
    * ingest like DedupQueries.embBandBuckets; serving never re-hashes the
    * corpus (the batch query previously derived this table TWICE —
    * once per join side).
    */
  private[queries] def annBandBuckets(s: SparkSession, dir: String): DataFrame =
    memoArtifact(s, dir, "annbk") {
      // not key-partitioned — probe side broadcasts (see
      // DedupQueries.embBandBuckets)
      normEmbeddings(s, dir).select(col("vec_id"),
        posexplode(SF.lshBandBuckets(col("v"), 4, 2, 64))
          .as(Seq("band", "bucket")))
    }

  // ── PQ machinery: the generic operator lives in operators/Pq.scala
  // (train/encode/codesToWide over arbitrary frames); these memoize the
  // test corpus's write-once artifacts at the serving parameters
  // (4×16-dim subspaces, k=8).

  /** Trained per-subspace codebooks (s, cid, d, cx) — seed = the 8
    * lowest vec_ids' subvectors, one Lloyd refinement. Write-once
    * O(model) artifact (4×8×16 = 512 rows), memoized like the IVF
    * assignments; serving reads it, it never retrains.
    */
  private[queries] def pqCodebook(s: SparkSession, dir: String): DataFrame =
    memoArtifact(s, dir, "pqcb") {
      graft.operators.Pq.trainCodebook(
        normEmbeddings(s, dir).select("vec_id", "v"),
        "vec_id", "v")
    }

  /** PQ codes (vec_id, s, cid) — every vector's 4 codeword ids. The
    * write-once compressed index: 4 small ints per vector, stored
    * beside the corpus; the scale path's memory-resident search
    * structure.
    */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    memoArtifact(s, dir, "pqc") {
      graft.operators.Pq.encode(
        normEmbeddings(s, dir).select("vec_id", "v"),
        "vec_id", "v", pqCodebook(s, dir))
    }

  /** The codes in SERVING layout — one row per vector, `cw[s]` = the
    * subspace-s codeword id (array_sort over (s, cid) structs, so the
    * collect_list order can't matter). This is how the index is
    * actually stored at scale: 4 small ids beside each vector, making
    * ADC scoring a NARROW projection — no shuffle between the scan
    * and the shortlist.
    */
  private[queries] def pqCodesWide(s: SparkSession, dir: String): DataFrame =
    memoArtifact(s, dir, "pqcw") {
      // layout logic owned by the operator (Pq.codesToWide) so this
      // composes with the memoized code artifact instead of
      // duplicating the groupBy inline (ADVICE r12)
      graft.operators.Pq.codesToWide(pqCodes(s, dir), "vec_id")
    }

  /** The INCREMENTAL tier's standing codebook: trained on the even
    * half only — the signed-once corpus; a new shard encodes against
    * it without retraining (see ns_pq_encode_incremental).
    */
  private[queries] def pqCodebookEven(s: SparkSession, dir: String): DataFrame =
    memoArtifact(s, dir, "pqcbe") {
      graft.operators.Pq.trainCodebook(
        normEmbeddings(s, dir)
          .filter(col("vec_id") % 2 === 0).select("vec_id", "v"),
        "vec_id", "v")
    }

  /** The incremental codebook in the in-row encode layout, memoized
    * driver-side per (session, dir) beside the frame artifact above —
    * O(model) = k·dims, the same budget as the serving ADC table
    * (production ships it with the codebook parquet).
    */
  private[queries] def pqModelEven(s: SparkSession,
      dir: String): graft.plans.PqModel =
    memo(s, dir, "pqmodele") {
      graft.operators.Pq.collectModel(pqCodebookEven(s, dir))
    }

  /** DuckDB CTEs of the PQ codebook's one fixed-point Lloyd step over
    * the long-form subvectors `ev` (vec_id, s, d, x): seeds = the 8
    * lowest vec_ids (`c0`), assign (`d1` → `a1`), refined codebook
    * (`cb`), final codes (`d2` → `codes`), ties on cid — mirrors
    * Pq.trainCodebook/encode stage for stage with the same fixed-point
    * quantum.
    */
  private val lloydCte =
    """c0 AS (SELECT vec_id cid, s, d, x cx FROM ev WHERE vec_id < 8),
       d1 AS (SELECT ev.vec_id, ev.s, c0.cid,
                SUM(CAST(FLOOR((ev.x - c0.cx) * (ev.x - c0.cx)
                    * 1000000000000.0) AS BIGINT)) dist
              FROM ev JOIN c0 ON ev.s = c0.s AND ev.d = c0.d
              GROUP BY 1, 2, 3),
       a1 AS (SELECT vec_id, s, cid FROM (
                SELECT vec_id, s, cid, ROW_NUMBER() OVER (
                  PARTITION BY vec_id, s ORDER BY dist, cid) rn FROM d1)
              WHERE rn = 1),
       cb AS (SELECT a1.s, a1.cid, ev.d,
                SUM(CAST(FLOOR(ev.x * 1000000000000.0) AS BIGINT))::DOUBLE
                  / 1000000000000.0 / COUNT(*) cx
              FROM ev JOIN a1 ON ev.vec_id = a1.vec_id AND ev.s = a1.s
              GROUP BY 1, 2, 3),
       d2 AS (SELECT ev.vec_id, ev.s, cb.cid,
                SUM(CAST(FLOOR((ev.x - cb.cx) * (ev.x - cb.cx)
                    * 1000000000000.0) AS BIGINT)) dist
              FROM ev JOIN cb ON ev.s = cb.s AND ev.d = cb.d
              GROUP BY 1, 2, 3),
       codes AS (SELECT vec_id, s, cid FROM (
                SELECT vec_id, s, cid, ROW_NUMBER() OVER (
                  PARTITION BY vec_id, s ORDER BY dist, cid) rn FROM d2)
              WHERE rn = 1)"""

  /** The PQ serving oracle's CTE chain: embeddings → long form by
    * 16-dim subspace → [[lloydCte]].
    */
  private val pqCte =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       ev AS (SELECT vec_id, d // 16 s, d, v[d+1] x
              FROM e, range(0, 64) r(d)),
       """ + lloydCte

  val defs: Seq[QueryDef] = Seq(

    // X4/F15/F16/O3 — brute-force cosine-ish (dot product) top-k against
    // one probe vector; higher-order array functions, accumulation in
    // float64 on both engines (FIXTURES.md caveat).
    QueryDef(
      "q30_embedding_topk",
      Some("""SELECT e1.vec_id,
              ROUND(list_dot_product(e1.embedding::DOUBLE[],
                                     e2.embedding::DOUBLE[]), 4) AS dot
              FROM embeddings e1 JOIN embeddings e2
                ON e2.vec_id = 0 AND e1.vec_id <> 0
              ORDER BY dot DESC, e1.vec_id LIMIT 10"""),
      (s, dir) => {
        val e1 = t(s, dir, "embeddings").filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding").cast("array<double>"))
        val probe = t(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>").as("probe"))
        e1.crossJoin(broadcast(probe))
          .select(col("vec_id"),
            round(aggregate(
              zip_with(col("embedding"), col("probe"), (x, y) => x * y),
              lit(0.0), (acc, z) => acc + z), 4).as("dot"))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(10)
      }),

    // ── Similarity search baseline: brute-force cosine top-k against
    // probe vec 0 (the exact-rerank primitive).
    QueryDef(
      "ns_ann_cosine_topk",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v
                FROM embeddings)
              SELECT e1.vec_id,
                ROUND(list_dot_product(e1.v, e0.v) /
                  (sqrt(list_dot_product(e1.v, e1.v)) *
                   sqrt(list_dot_product(e0.v, e0.v))), 4) AS cos
              FROM e e1 JOIN e e0 ON e0.vec_id = 0 AND e1.vec_id <> 0
              ORDER BY cos DESC, e1.vec_id LIMIT 10"""),
      (s, dir) => {
        val e = normEmbeddings(s, dir).select("vec_id", "v")
        val probe = e.filter(col("vec_id") === 0)
          .select(col("v").as("pv"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"),
            round(SF.cosine(col("v"), col("pv")), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      }),

    // ── Similarity search scale path: random-hyperplane LSH bucket
    // prefilter (4 deterministic planes) + exact cosine rerank. At
    // 100 TB the bucket column is precomputed/partitioned-on; the
    // probe touches 1/2^p of the data instead of all of it.
    QueryDef(
      "ns_ann_lsh_topk",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v
                FROM embeddings),
              pl AS (SELECT p,
                [(('0x' || substring(md5(p::VARCHAR || ':' || d::VARCHAR),
                   1, 15))::BIGINT / 576460752303423488.0) - 1.0
                 for d in range(0, 64)] plane
                FROM range(4) t(p)),
              bk AS (SELECT e.vec_id,
                SUM(CASE WHEN list_dot_product(e.v, pl.plane) > 0
                    THEN (1 << p) ELSE 0 END)::INT bucket
                FROM e, pl GROUP BY e.vec_id)
              SELECT b1.vec_id,
                ROUND(list_dot_product(e1.v, e0.v) /
                  (sqrt(list_dot_product(e1.v, e1.v)) *
                   sqrt(list_dot_product(e0.v, e0.v))), 4) AS cos
              FROM bk b1
              JOIN bk b0 ON b0.vec_id = 0 AND b1.bucket = b0.bucket
                AND b1.vec_id <> 0
              JOIN e e1 ON e1.vec_id = b1.vec_id
              JOIN e e0 ON e0.vec_id = 0
              ORDER BY cos DESC, b1.vec_id LIMIT 10"""),
      (s, dir) => {
        val e = normEmbeddings(s, dir).select("vec_id", "v")
          .withColumn("bucket", SF.lshBucket(col("v"), 4, 64))
        val probe = e.filter(col("vec_id") === 0)
          .select(col("v").as("pv"), col("bucket").as("pbucket"))
        e.filter(col("vec_id") =!= 0)
          .join(broadcast(probe), col("bucket") === col("pbucket"))
          .select(col("vec_id"),
            round(SF.cosine(col("v"), col("pv")), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      }),

    // ── Similarity search, IVF-style: deterministic coarse quantizer
    // (centroids = the 8 lowest vec_ids), assign each vector to its
    // nearest centroid (inverted lists), probe searches only the
    // probe's list + exact rerank. At 100 TB the lists are the
    // partitioning key — a probe touches one partition, and real
    // centroids come from a k-means job instead of this fixed seed.
    QueryDef(
      "ns_ann_ivf_topk",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v
                FROM embeddings),
              cent AS (SELECT vec_id cid, v cv FROM e WHERE vec_id < 8),
              assign AS (SELECT e.vec_id, arg_min(c.cid,
                  list_dot_product(e.v, c.cv) /
                  (sqrt(list_dot_product(e.v, e.v)) *
                   sqrt(list_dot_product(c.cv, c.cv))) * -1) cid
                FROM e, cent c GROUP BY e.vec_id),
              probe AS (SELECT a.cid FROM assign a WHERE a.vec_id = 0)
              SELECT e1.vec_id,
                ROUND(list_dot_product(e1.v, e0.v) /
                  (sqrt(list_dot_product(e1.v, e1.v)) *
                   sqrt(list_dot_product(e0.v, e0.v))), 4) AS cos
              FROM assign a1
              JOIN probe p ON a1.cid = p.cid
              JOIN e e1 ON e1.vec_id = a1.vec_id AND e1.vec_id <> 0
              JOIN e e0 ON e0.vec_id = 0
              ORDER BY cos DESC, e1.vec_id LIMIT 10"""),
      (s, dir) => {
        val e = normEmbeddings(s, dir).select("vec_id", "v")
        val cent = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        // nearest centroid by cosine = argmin of negated similarity
        val assign = e.crossJoin(broadcast(cent))
          .withColumn("negsim",
            SF.cosine(col("v"), col("cv")) * -1)
          .groupBy("vec_id")
          .agg(min_by(col("cid"), col("negsim")).as("cid"))
        val probeCid = assign.filter(col("vec_id") === 0)
          .select(col("cid").as("pcid"))
        val probeVec = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
        assign.join(broadcast(probeCid), col("cid") === col("pcid"))
          .filter(col("vec_id") =!= 0)
          .join(e, Seq("vec_id"))
          .crossJoin(broadcast(probeVec))
          .select(col("vec_id"),
            round(SF.cosine(col("v"), col("pv")), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      }),

    // ── Similarity search, IVF with TRAINED centroids: 2 Lloyd
    // iterations of k-means (k=8, init = lowest vec_ids), then the
    // probe searches only its inverted list + exact rerank. Fully
    // declarative and cross-engine deterministic: every float SUM
    // (dot products, per-dim centroid means, norms) quantizes each
    // term to fixed-point BIGINT (floor(x·1e12)) before summing —
    // long addition is exact and order-independent, so Spark's
    // partial aggregation and DuckDB's sequential sum see identical
    // values (and longs stay on the codegen fast path, unlike
    // precision>18 decimals); ties break on cid. Shape at scale: the
    // long-form (vec, dim) table is n×64 rows, every stage is an
    // equi-join/groupBy — linear, no pair blowup; real deployments
    // run more iterations of exactly this dataflow.
    QueryDef(
      "ns_ann_ivf_kmeans_topk",
      Some(kmeansCte + """,
              pc AS (SELECT cid FROM a2 WHERE vec_id = 0)
              SELECT e1.vec_id,
                ROUND(list_dot_product(e1.v, e0.v) /
                  (sqrt(list_dot_product(e1.v, e1.v)) *
                   sqrt(list_dot_product(e0.v, e0.v))), 4) AS cos
              FROM a2 JOIN pc ON a2.cid = pc.cid
              JOIN e e1 ON e1.vec_id = a2.vec_id AND e1.vec_id <> 0
              JOIN e e0 ON e0.vec_id = 0
              ORDER BY cos DESC, e1.vec_id LIMIT 10"""),
      (s, dir) => {
        val e = normEmbeddings(s, dir).select("vec_id", "v")
        // the trained IVF index (k-means lists) is a memoized
        // write-once artifact like the shingle signatures — serving a
        // probe reads the index, it doesn't retrain it
        val a2 = ivfKmeansAssignments(s, dir)
        // the probe's list id joins in as a broadcast 1-row frame —
        // same pattern as ns_ann_ivf_topk; a driver-side collect()
        // lookup costs a whole extra job per probe on the serving
        // path (and an empty probe still yields empty, not a crash)
        val probeCid = a2.filter(col("vec_id") === 0)
          .select(col("cid").as("pcid"))
        val probeVec = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
        a2.join(broadcast(probeCid), col("cid") === col("pcid"))
          .filter(col("vec_id") =!= 0)
          .join(e, Seq("vec_id"))
          .crossJoin(broadcast(probeVec))
          .select(col("vec_id"),
            round(SF.cosine(col("v"), col("pv")), 4).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      }),

    // ── Similarity search, batched: top-5 neighbors for EVERY probe
    // in one pass (the production serving shape — point lookups
    // amortize nothing). Same banded hyperplane-LSH candidate
    // prefilter as ns_dedup_embed_cosine, then exact cosine + a
    // per-probe rank window. Scale shape: shuffles on (band, bucket)
    // and on probe_id only — never the all-pairs space.
    QueryDef(
      "ns_ann_batch_topk",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v,
                sqrt(list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[])) nrm
                FROM embeddings),
              pl AS (SELECT p,
                [(('0x' || substring(md5(p::VARCHAR || ':' || d::VARCHAR),
                   1, 15))::BIGINT / 576460752303423488.0) - 1.0
                 for d in range(0, 64)] plane
                FROM range(8) t(p)),
              bk AS (SELECT e.vec_id, pl.p // 2 AS band,
                SUM(CASE WHEN list_dot_product(e.v, pl.plane) > 0
                    THEN (1 << (pl.p % 2)) ELSE 0 END)::INT bucket
                FROM e, pl GROUP BY e.vec_id, pl.p // 2),
              cand AS (SELECT DISTINCT p.vec_id pid, b.vec_id cid
                       FROM bk p JOIN bk b
                         ON p.band = b.band AND p.bucket = b.bucket
                         AND p.vec_id <> b.vec_id
                       WHERE p.vec_id % 50 = 0),
              sc AS (SELECT c.pid, c.cid,
                       list_dot_product(x.v, y.v) / (x.nrm * y.nrm) cos
                     FROM cand c JOIN e x ON x.vec_id = c.pid
                                 JOIN e y ON y.vec_id = c.cid),
              rk AS (SELECT pid, cid, cos,
                       ROW_NUMBER() OVER (PARTITION BY pid
                         ORDER BY cos DESC, cid) rn
                     FROM sc)
              SELECT pid AS probe_id, CAST(rn AS INT) AS rnk,
                cid AS vec_id, ROUND(cos, 4) AS cos
              FROM rk WHERE rn <= 5 ORDER BY probe_id, rnk"""),
      (s, dir) => {
        val e = normEmbeddings(s, dir)
        // both join sides serve from the write-once ANN bucket index
        // (4×2 recall-biased banding) — serving never re-hashes.
        // PROBE side (the serving batch) is size-routed to broadcast:
        // the corpus-side index streams map-side through the band
        // match and the probe-vector attach, so the only wide
        // exchanges left are the candidate→corpus rerank join and the
        // top-k shuffle (round 20: the sf0.1 wall was 8 stages of
        // scheduling floor over ~0.35 s of executor work).
        val bands = annBandBuckets(s, dir)
        val probeBands = graft.operators.Joins.broadcastIfSmall(
          bands.filter(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("pid"), col("band"), col("bucket")),
          bands)
        val probeVecs = graft.operators.Joins.broadcastIfSmall(
          e.filter(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("pid"), col("v").as("xv"),
              col("nrm").as("xn")),
          e)
        // no pre-join .distinct(): a pair surfaces once per matching
        // band (≤4 copies) and the duplicates die in the top-k heap
        // (TopK.perKey distinct — the order ends in the unique cid,
        // so ties ARE duplicates); that folds the dedup exchange into
        // the shuffle the top-k already pays
        val cand = bands
          .select(col("vec_id").as("cid"), col("band"), col("bucket"))
          .join(probeBands, Seq("band", "bucket"))
          .filter(col("pid") =!= col("cid"))
          .select("pid", "cid")
        // exact-cosine rerank: candidate stream joins the corpus
        // vectors on cid — the embedding table is O(corpus), never
        // broadcast it
        val scored = cand
          .join(probeVecs, "pid")
          .join(e.select(col("vec_id").as("cid"), col("v").as("yv"),
            col("nrm").as("yn")), "cid")
          .withColumn("cos",
            SF.dot(col("xv"), col("yv")) / (col("xn") * col("yn")))
        // per-probe top-5 through the custom bounded-heap operator
        // (graft.operators.TopK) — no full per-probe sort of the
        // candidate scores; the rank column is then a window over the
        // ≤5 surviving rows per probe, not the full candidate set
        graft.operators.TopK.perKey(scored.select("pid", "cid", "cos"),
            Seq("pid"), Seq(col("cos").desc, col("cid")), 5,
            distinct = true)
          .withColumn("rnk", row_number().over(
            Window.partitionBy("pid").orderBy(col("cos").desc, col("cid"))))
          .select(col("pid").as("probe_id"), col("rnk"),
            col("cid").as("vec_id"), round(col("cos"), 4).as("cos"))
          // output is ≤ |probe batch| × k rows (both contract-bounded),
          // so a single-partition sort replaces orderBy's
          // range-partition sampling job
          .coalesce(1).sortWithinPartitions("probe_id", "rnk")
      }),

    // ── Embedding storage tier: symmetric int8 quantization
    // (graft.functions.Quantize) — 4× column-size cut for the ANN
    // serving path. The oracle verifies the EXACT codes (md5 over the
    // joined code array) plus their sum: the double-precision
    // floor(x·127/scale + 0.5) contract makes both engines produce
    // bit-identical codes. Narrow map-only plan; the only exchange is
    // the output ORDER BY.
    QueryDef(
      "ns_embed_quantize",
      Some("""WITH m AS (SELECT vec_id, embedding,
                COALESCE(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))), 0.0) mx
                FROM embeddings),
              c AS (SELECT vec_id, mx,
                CASE WHEN mx > 0 THEN list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5)
                       AS INT))
                ELSE list_transform(embedding, x -> 0) END codes
                FROM m)
              SELECT vec_id, ROUND(mx, 6) AS scale_r,
                md5(array_to_string(codes, ',')) AS code_fp,
                CAST(COALESCE(list_sum(codes), 0) AS BIGINT) AS code_sum
              FROM c ORDER BY vec_id"""),
      (s, dir) =>
        // the scale is materialized BEFORE the codes lambda: an
        // expression referenced inside a HOF lambda is re-evaluated
        // per ELEMENT on the interpreted path — 64× per row here
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            Quantize.int8Scale(col("embedding")).as("mx"))
          .select(col("vec_id"), col("mx"),
            Quantize.int8Codes(col("embedding"), col("mx")).as("codes"))
          .select(col("vec_id"),
            round(col("mx"), 6).as("scale_r"),
            md5(array_join(col("codes"), ",").cast("binary")).as("code_fp"),
            // matches the oracle's COALESCE(list_sum(codes), 0) on
            // BOTH divergent inputs: empty array (DuckDB NULL, Spark
            // fold seed 0) and NULL embedding (both folds NULL)
            coalesce(aggregate(col("codes"), lit(0L), (acc, x) => acc + x),
              lit(0L)).as("code_sum"))
          .orderBy("vec_id")),

    // ── ANN serving over QUANTIZED codes: top-k by int8-code dot
    // product — the standard memory-bound serving path (4× less data
    // per probe than float32; SIMD int8 on real hardware). Scores are
    // exact integers (|code| ≤ 127, dim 64 ⇒ |score| ≤ 64·127² <
    // 2^20, exactly representable in double), so the codegen
    // DotProduct verifies bit-identical against DuckDB
    // list_dot_product. Shape: narrow quantize pass + broadcast 1-row
    // probe + TakeOrderedAndProject.
    QueryDef(
      "ns_ann_int8_topk",
      Some("""WITH m AS (SELECT vec_id, embedding,
                COALESCE(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))), 0.0) mx FROM embeddings),
              c AS (SELECT vec_id,
                CASE WHEN mx > 0 THEN list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5)
                       AS INT))
                ELSE list_transform(embedding, x -> 0) END codes FROM m),
              p AS (SELECT codes pc FROM c WHERE vec_id = 0)
              SELECT c.vec_id,
                CAST(list_dot_product(c.codes, p.pc) AS BIGINT) AS score
              FROM c, p WHERE c.vec_id <> 0
              ORDER BY score DESC, c.vec_id LIMIT 10"""),
      (s, dir) => {
        val c = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            Quantize.int8Scale(col("embedding")).as("mx"))
          .select(col("vec_id"),
            Quantize.int8Codes(col("embedding"), col("mx"))
              .cast("array<double>").as("cd"))
        val probe = c.filter(col("vec_id") === 0).select(col("cd").as("pc"))
        c.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"),
            graft.functions.SimilarityFunctions.dot(col("cd"), col("pc"))
              .cast("long").as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10)
      }),

    // ── Embedding Gram matrix, the distributed face of the PCA fit
    // (operators/Pca.scala): ONE narrow pass accumulates all 64×64
    // moments in a fixed-size buffer (TypedImperativeAggregate;
    // map-side partial merge = matrix addition, driver sees one row)
    // vs the oracle's 2M-row cross-join formulation. Fixed-point
    // cells (Σ floor(xᵢ·xⱼ·10⁶) BIGINT — exact long addition,
    // order-independent) so the hash pins every one of the 4096
    // entries cross-engine; the double-precision fit and codegen
    // projection are pinned by PcaSpec's algebraic goldens.
    QueryDef(
      "ns_embed_gram",
      Some("""SELECT i, j,
                CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE)
                  * CAST(embedding[CAST(j+1 AS INT)] AS DOUBLE)
                  * 1000000) AS BIGINT)) AS BIGINT) AS g
              FROM embeddings, range(64) t1(i), range(64) t2(j)
              GROUP BY i, j ORDER BY i, j"""),
      (s, dir) =>
        graft.operators.Pca.gramFixedPoint(
            t(s, dir, "embeddings"), "embedding", d = 64)
          .select(col("i").cast("long").as("i"),
            col("j").cast("long").as("j"), col("g"))
          .orderBy("i", "j")),

    // ── Similarity search, PQ/ADC tier: probe builds its 32-entry
    // subspace distance table (probe row of d2), candidates score by
    // 4 table lookups each (codes ⨝ table on (s, cid) + SUM — exact
    // long arithmetic), top-64 shortlist by (approx dist, vec_id),
    // exact cosine rerank to 10. Shuffles touch only the O(n·4) code
    // rows and the shortlist — never raw vectors until the rerank,
    // never a pair space.
    QueryDef(
      "ns_ann_pq_topk",
      Some(pqCte + """,
       pt AS (SELECT s, cid, dist pdist FROM d2 WHERE vec_id = 0),
       ad AS (SELECT c.vec_id, SUM(p.pdist) adist
              FROM codes c JOIN pt p ON c.s = p.s AND c.cid = p.cid
              WHERE c.vec_id <> 0 GROUP BY 1),
       cand AS (SELECT vec_id FROM (SELECT vec_id,
                  ROW_NUMBER() OVER (ORDER BY adist, vec_id) rn FROM ad)
                WHERE rn <= 64)
       SELECT e1.vec_id, ROUND(list_dot_product(e1.v, e0.v) /
           (sqrt(list_dot_product(e1.v, e1.v)) *
            sqrt(list_dot_product(e0.v, e0.v))), 4) AS cos
       FROM cand JOIN e e1 ON e1.vec_id = cand.vec_id
       JOIN e e0 ON e0.vec_id = 0
       ORDER BY cos DESC, e1.vec_id LIMIT 10"""),
      (s, dir) => {
        val e = normEmbeddings(s, dir)
          .select("vec_id", "v")
        val codes = pqCodesWide(s, dir)
        // The ADC table is computed DRIVER-side: the codebook is
        // O(model) (512 rows, a memoized cache read) and the probe is
        // one vector — a serving node holds exactly this table in
        // RAM. Same fixed-point ops as the oracle's d2 row for the
        // probe (floor(diff² · 1e12) longs, order-free long sums), so
        // the values are bit-identical to the broadcast-join
        // formulation; what changes is the job count, not the math.
        // (Driver-side loops over DATA stay banned — this is the
        // "trained model → driver" shape of the IVF tier.)
        val cbRows = pqCodebook(s, dir).collect()
        val pvOpt = e.filter(col("vec_id") === 0).select("v")
          .collect().headOption.map(_.getSeq[Double](0).toArray)
        pvOpt match {
          case None => // empty probe yields empty, not a crash
            e.select(col("vec_id"), lit(0.0).as("cos")).limit(0)
          case Some(pv) =>
            val pt: Map[Long, Long] = cbRows
              .groupBy(r => (r.getLong(0), r.getLong(1)))
              .map { case ((sub, cid), rows) =>
                // the sub*8+cid packing (and the oracle's seed set)
                // assumes 8 contiguous 0-based codeword ids — FAIL
                // LOUD if a testdata regen breaks vec_id contiguity,
                // because a colliding/missing key would yield null
                // adist and nulls-first sort silently promotes
                // arbitrary candidates (ADVICE r12, medium)
                require(cid >= 0 && cid < 8,
                  s"PQ ADC packing needs codeword ids in [0,8); got " +
                    s"cid=$cid for subspace $sub — non-contiguous " +
                    "vec_ids in the corpus seeds?")
                var acc = 0L
                rows.foreach { r =>
                  val diff = pv(r.getInt(2)) - r.getDouble(3)
                  acc += math.floor(diff * diff * 1e12).toLong
                }
                (sub * 8 + cid) -> acc
              }
            // every code in cw exists in the table by construction
            // (codes are argmins OVER the codebook), so the lookups
            // can't miss. Scoring is a narrow projection over the
            // wide code index + TakeOrdered — scan to shortlist with
            // ZERO shuffles, the map-side pass a 1000-executor
            // serving job wants.
            val adist = (0 until 4)
              .map(sb => element_at(typedlit(pt),
                lit(sb * 8L) + element_at(col("cw"), sb + 1)))
              .reduce(_ + _)
            val cand = codes.filter(col("vec_id") =!= 0)
              .select(col("vec_id"), adist.as("adist"))
              .orderBy(col("adist"), col("vec_id")).limit(64)
            // probe norm driver-side with the oracle's sequential
            // float64 sum; the per-candidate dot stays the codegen
            // DotProduct against the probe literal
            var pn = 0.0
            var i = 0
            while (i < pv.length) { pn += pv(i) * pv(i); i += 1 }
            cand.select("vec_id").join(e, Seq("vec_id"))
              .select(col("vec_id"),
                round(SF.dot(col("v"), typedlit(pv.toSeq)) /
                  (SF.l2Norm(col("v")) * lit(math.sqrt(pn))), 4)
                  .as("cos"))
              .orderBy(col("cos").desc, col("vec_id")).limit(10)
        }
      }),

    // ── Incremental PQ encode: the PQ tier joins the incremental
    // family (shingle/winnow/minhash r10-r11). The standing codebook
    // is trained ONCE on the signed corpus (even half; seeds = its 8
    // lowest ids, contiguous ids make that vec_id < 16); a new shard
    // (odd half) encodes against it without retraining — and because
    // codes depend only on (vector, codebook), increment-equals-
    // rebuild holds exactly; the hash match pins the theorem. Round
    // 15: the timed ENCODE probe is the in-row tier (Pq.encodeInRow)
    // — codes are row-local given the O(model) codebook, so the plan
    // is a map-only scan with the model in a codegen expression: no
    // 64× explode, no broadcast join, no argmin window. Pq.encode
    // (the long-form join formulation) stays as the general API and
    // the differential-test anchor.
    QueryDef(
      "ns_pq_encode_incremental",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v
                FROM embeddings),
       ev AS (SELECT vec_id, d // 16 s, d, v[d+1] x
              FROM e, range(0, 64) r(d)),
       evn AS (SELECT * FROM ev WHERE vec_id % 2 = 0),
       c0 AS (SELECT vec_id cid, s, d, x cx FROM evn WHERE vec_id < 16),
       d1 AS (SELECT evn.vec_id, evn.s, c0.cid,
                SUM(CAST(FLOOR((evn.x - c0.cx) * (evn.x - c0.cx)
                    * 1000000000000.0) AS BIGINT)) dist
              FROM evn JOIN c0 ON evn.s = c0.s AND evn.d = c0.d
              GROUP BY 1, 2, 3),
       a1 AS (SELECT vec_id, s, cid FROM (
                SELECT vec_id, s, cid, ROW_NUMBER() OVER (
                  PARTITION BY vec_id, s ORDER BY dist, cid) rn FROM d1)
              WHERE rn = 1),
       cb AS (SELECT a1.s, a1.cid, evn.d,
                SUM(CAST(FLOOR(evn.x * 1000000000000.0) AS BIGINT))::DOUBLE
                  / 1000000000000.0 / COUNT(*) cx
              FROM evn JOIN a1 ON evn.vec_id = a1.vec_id AND evn.s = a1.s
              GROUP BY 1, 2, 3),
       d2 AS (SELECT ev.vec_id, ev.s, cb.cid,
                SUM(CAST(FLOOR((ev.x - cb.cx) * (ev.x - cb.cx)
                    * 1000000000000.0) AS BIGINT)) dist
              FROM ev JOIN cb ON ev.s = cb.s AND ev.d = cb.d
              WHERE ev.vec_id % 2 = 1 GROUP BY 1, 2, 3),
       codes AS (SELECT vec_id, s, cid FROM (
                SELECT vec_id, s, cid, ROW_NUMBER() OVER (
                  PARTITION BY vec_id, s ORDER BY dist, cid) rn FROM d2)
              WHERE rn = 1)
       SELECT vec_id, s, cid FROM codes ORDER BY vec_id, s"""),
      (s, dir) =>
        graft.operators.Pq.encodeInRow(
            normEmbeddings(s, dir)
              .filter(col("vec_id") % 2 === 1).select("vec_id", "v"),
            "vec_id", "v", pqModelEven(s, dir))
          .orderBy("vec_id", "s")),

    // ── Whiten → pqTrain → pqEncode, end to end cross-engine: the
    // PCA→PQ preprocessing composition with a DIAGONAL whitening
    // model — per-dim (μ, σ) from fixed-point aggregates, projection
    // = (x−μ)·(1/σ) per axis — driven through Pca.project +
    // Pq.trainCodebookInRow/encodeInRow. A diagonal model is a
    // PcaModel whose components are scaled unit vectors, round-robin
    // interleaved: projected subspace of original dim d = d mod nSub,
    // which the SQL mirrors as `d % 4`. A rotated (eigenvector) model
    // would need an eigen-solve, which no SQL oracle can mirror, so
    // the engine builds only this diagonal form.
    // Latency shape: a 4-job DAG (per-dim stats agg, O(model) seed
    // collect, one-pass codebook agg, in-row encode) whose floors
    // dominate at sf0.1 (0.60 s vs a 0.26 s oracle = 2.3x) and
    // amortize with scale: 1.29 s vs 0.764 s = 1.69x at sf1 (same-box
    // pair; BENCH_TREND.json). Every
    // per-dim statistic quantizes to fixed-point BIGINT before
    // summing (exact, order-independent long addition — the §2.11
    // discipline), the double expressions that derive (μ, 1/σ) are
    // mirrored op for op, and the PQ chain is the standing pqCte
    // contract (lloydCte: seeds = 8 lowest ids, one Lloyd step, ties
    // on cid).
    // Output = every (vec_id, subspace, codeword) — the full code
    // index, all BIGINT (outer casts per the ns_embed_gram lesson).
    QueryDef(
      "ns_pq_whiten_encode",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         lf AS (SELECT vec_id, d, v[d+1] x FROM e, range(0, 64) r(d)),
         st AS (SELECT d, SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) sfx,
                       SUM(CAST(FLOOR(x * x * 1000000) AS BIGINT)) ssq,
                       COUNT(*) n
                FROM lf GROUP BY d),
         m1 AS (SELECT d, CAST(sfx AS DOUBLE) / 1000000.0 / n m,
                       CAST(ssq AS DOUBLE) / 1000000.0 / n q
                FROM st),
         mu AS (SELECT d, m, sqrt(q - m * m) sg FROM m1),
         ev AS (SELECT lf.vec_id, lf.d % 4 s, lf.d,
                       (lf.x - mu.m) * (1.0 / mu.sg) x
                FROM lf JOIN mu ON lf.d = mu.d),
         """ + lloydCte + """
         SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(s AS BIGINT) AS s,
                CAST(cid AS BIGINT) AS cid
         FROM codes ORDER BY vec_id, s"""),
      (s, dir) => {
        import graft.operators.{Pca, Pq}
        val dDim = 64
        val nSub = 4
        val e = t(s, dir, "embeddings")
        // per-dim fixed-point stats → the diagonal whitening model.
        // O(model) collect (64 rows), the PQ-codebook budget class.
        val st = e.select(posexplode(col("embedding").cast("array<double>"))
            .as(Seq("d", "x")))
          .groupBy("d")
          .agg(sum(floor(col("x") * 1e6).cast("long")).as("sfx"),
            sum(floor(col("x") * col("x") * 1e6).cast("long")).as("ssq"),
            count(lit(1)).as("n"))
          .collect()
        val mean = new Array[Double](dDim)
        val inv = new Array[Double](dDim)
        st.foreach { r =>
          val d = r.getInt(0)
          val n = r.getLong(3)
          // EXACT mirrors of the oracle's m1/mu expressions, op for op
          val m = r.getLong(1).toDouble / 1000000.0 / n
          val q = r.getLong(2).toDouble / 1000000.0 / n
          mean(d) = m
          inv(d) = 1.0 / math.sqrt(q - m * m)
        }
        // diagonal model: component c = e_c · (1/σ_c), round-robin
        // interleaved so the projected subspace of original dim d is
        // d mod nSub — which the oracle mirrors as `lf.d % 4`
        val model = Pca.interleaved(
          Pca.PcaModel(mean,
            Array.tabulate(dDim)(c =>
              Array.tabulate(dDim)(i => if (i == c) inv(c) else 0.0)),
            Array.fill(dDim)(1.0)),
          nSub)
        // training via the ONE-PASS in-row tier and the final encode
        // via the serving in-row tier (ns_ann_pq_topk's shape): seed model
        // and trained codebook are both O(model) driver round-trips;
        // the distributed work is one narrow explode + a k·dims-row
        // aggregate + a map-only encode scan. Identical codes to the
        // join-form path (PqWhitenSpec differential).
        val proj = graft.operators.Pca.project(e, "embedding", model, "__w")
          .select(col("vec_id"), col("__w"))
        val cb = Pq.trainCodebookInRow(proj, "vec_id", "__w",
          subDim = dDim / nSub, k = 8)
        val pqm = Pq.collectModel(cb, subDim = dDim / nSub)
        Pq.encodeInRow(proj, "vec_id", "__w", pqm)
          .select(col("vec_id").cast("long").as("vec_id"),
            col("s").cast("long").as("s"),
            col("cid").cast("long").as("cid"))
          .orderBy("vec_id", "s")
      }),
  )
}
