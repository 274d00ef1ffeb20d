package graft.queries

import graft.Catalog
import graft.functions.{SimilarityFunctions => SF}
import graft.operators.Curate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 extensions: two more production shapes —
  *
  *  - PRODUCT-QUANTIZATION ANN (ns_ann_pq_topk): the memory-bound
  *    serving tier the ANN family was missing. The 64-dim space is
  *    split into 4×16-dim subspaces; each gets its own k=8 codebook
  *    (one Lloyd refinement from a deterministic seed, every float
  *    SUM quantized to fixed-point BIGINT before summing — the same
  *    cross-engine discipline as the IVF k-means tier); every vector
  *    compresses to 4 byte-sized codes. A probe builds a 32-entry
  *    distance table and scores candidates by table lookup (ADC) —
  *    O(1) per candidate instead of O(dim) — then exact-reranks the
  *    shortlist. At 100 TB the codebook is O(model) broadcast state,
  *    the codes live beside the vectors as a write-once index, and
  *    serving never touches raw vectors until the rerank.
  *
  *  - REPRODUCIBLE SHARD SHUFFLE (ns_shuffle_shards): the final
  *    "write the training corpus in randomized, balanced shard
  *    order" step (operators/Curate.shuffleShards) — content-hash
  *    randomness (never rand()), the distributed global-position
  *    machinery of ns_curriculum_order, round-robin shards whose
  *    sizes differ by at most one.
  */
object Round12Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

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
    PipelineQueries.memoArtifact(s, dir, "pqcb") {
      graft.operators.Pq.trainCodebook(
        PipelineQueries.normEmbeddings(s, dir).select("vec_id", "v"),
        "vec_id", "v")
    }

  /** PQ codes (vec_id, s, cid) — every vector's 4 codeword ids. The
    * write-once compressed index: 4 small ints per vector, stored
    * beside the corpus; the scale path's memory-resident search
    * structure.
    */
  private[queries] def pqCodes(s: SparkSession, dir: String): DataFrame =
    PipelineQueries.memoArtifact(s, dir, "pqc") {
      graft.operators.Pq.encode(
        PipelineQueries.normEmbeddings(s, dir).select("vec_id", "v"),
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
    PipelineQueries.memoArtifact(s, dir, "pqcw") {
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
    PipelineQueries.memoArtifact(s, dir, "pqcbe") {
      graft.operators.Pq.trainCodebook(
        PipelineQueries.normEmbeddings(s, dir)
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
    PipelineQueries.memo(s, dir, "pqmodele") {
      graft.operators.Pq.collectModel(pqCodebookEven(s, dir))
    }

  /** Shared oracle CTE chain for the PQ tier (embeddings → long form →
    * seed codebook → one Lloyd step → codes) — mirrors the Spark
    * dataflow stage for stage with the same fixed-point quantum.
    */
  private val pqCte =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       ev AS (SELECT vec_id, d // 16 s, d, v[d+1] x
              FROM e, range(0, 64) r(d)),
       c0 AS (SELECT vec_id cid, s, d, x cx FROM ev WHERE vec_id < 8),
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

  val defs: Seq[QueryDef] = Seq(

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
        val e = PipelineQueries.normEmbeddings(s, dir)
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

    // ── Reproducible shard shuffle: h = content hash of the id (both
    // engines derive the identical BIGINT from md5), pos = global
    // 1-based position under (h, doc_id) via the distributed prefix
    // machinery, shard = round-robin by position (sizes differ by ≤1).
    QueryDef(
      "ns_shuffle_shards",
      Some("""WITH h AS (SELECT doc_id,
                ('0x' || substring(md5('shuf:' || doc_id::VARCHAR),
                 1, 15))::BIGINT h
                FROM documents),
              p AS (SELECT doc_id, h,
                CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) pos
                FROM h)
              SELECT doc_id, h, pos, CAST((pos - 1) % 8 AS BIGINT) AS shard
              FROM p ORDER BY doc_id"""),
      (s, dir) =>
        Curate.shuffleShards(
            t(s, dir, "documents").select("doc_id"), "doc_id", 8)
          .select("doc_id", "h", "pos", "shard")
          .orderBy("doc_id")),

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
            PipelineQueries.normEmbeddings(s, dir)
              .filter(col("vec_id") % 2 === 1).select("vec_id", "v"),
            "vec_id", "v", pqModelEven(s, dir))
          .orderBy("vec_id", "s")),
  )
}
