package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** All-pairs TF-IDF-weighted cosine similarity over a term-postings
  * frame — the lexical-similarity tier behind `ns_text_tfidf_sim`.
  *
  * The naive formulation self-joins the postings on the shared term
  * and enumerates one row per (pair, shared term): Σ_s c_s² rows even
  * under a df cap — the engine's most expensive operator at sf1
  * (VERDICT r14 next-round #4; 138 M enumerated rows on the sf1 trend
  * corpus). This is the exact restructure:
  *
  *  1. **Prefix filter** (Bayardo, Ma, Srikant: "Scaling Up All Pairs
  *     Similarity Search", WWW 2007 — public): under ANY global total
  *     order on terms, a pair with sim ≥ t must share a term s* (its
  *     earliest shared term) such that BOTH docs' remaining-sum
  *     bounds at s* are ≥ t, where
  *     rem_d(k) = Σ_{j ≥ k, j ∈ d} û_d(j)·mw(j),
  *     û_d(j) = sqrt(wq_j)/|d| the doc's unit-normalized component
  *     and mw(j) = max_d û_d(j) the term's global max component. So
  *     candidate discovery joins only the PREFIX postings (positions
  *     with rem ≥ t) against each other — zero recall loss, and on
  *     the sf1 trend corpus 2.65 M postings shrink to 0.50 M and the
  *     enumerated pair rows from 138 M to 8 M. The order is
  *     (wq DESC, s ASC): idf-heavy terms first, so the suffix cut
  *     falls on exactly the boilerplate shingles that blow up c_s.
  *  2. **Norm-ratio prune** (exact): sab ≤ min(s2_a, s2_b) implies
  *     sim ≤ min(|a|,|b|)/max(|a|,|b|), so docs whose norms differ by
  *     more than 1/t never pair — applied inside the discovery join.
  *  3. **In-row verify**: surviving pairs join the per-doc SORTED
  *     signature arrays and compute the exact sab in one codegen
  *     two-pointer merge (plans.SortedIntersectWeightSum) — no
  *     (pair, term) rows, no verify groupBy. Same BIGINT sab, same
  *     sim doubles as the self-join formulation.
  *
  * [[prefixPostings]] and [[signatures]] are the tier's write-once
  * standing index (the literal index structure of the paper) — at
  * 100 TB they are built once per corpus beside the weight postings
  * and every similarity job probes them, exactly like the dedup
  * tiers' winnow/minhash artifacts.
  */
object TextSim {

  /** Per-doc norm of the postings frame `(doc_id, s, wq)`:
    * (doc_id, s2 = Σwq, nrm = sqrt(s2)).
    */
  def norms(w: DataFrame): DataFrame =
    w.groupBy("doc_id").agg(sum("wq").as("s2"))
      .withColumn("nrm", sqrt(col("s2").cast("double")))

  /** The Bayardo prefix-postings index: the (doc_id, s, nrm) rows a
    * sim ≥ `threshold` pair must collide on (see object doc). Linear:
    * two aggregations, two joins, one per-doc window.
    */
  def prefixPostings(w: DataFrame, threshold: Double): DataFrame = {
    val nrm = norms(w)
    val wn = w.join(nrm, "doc_id")
    // mw(s): the term's max unit-normalized component over docs =
    // sqrt(wq)/min norm among docs carrying it (wq is per-term in the
    // tf-idf postings, so max(wq) is that constant)
    val mw = wn.groupBy("s").agg(
        max(col("wq")).as("__graft_wq"), min(col("nrm")).as("__graft_mn"))
      .withColumn("mwv",
        sqrt(col("__graft_wq").cast("double")) / col("__graft_mn"))
      .select("s", "mwv")
    val ord = Window.partitionBy("doc_id")
      .orderBy(col("wq").desc, col("s").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    wn.join(mw, "s")
      .withColumn("__graft_ub",
        sqrt(col("wq").cast("double")) / col("nrm") * col("mwv"))
      .withColumn("__graft_rem", sum("__graft_ub").over(ord))
      .filter(col("__graft_rem") >= threshold)
      .select(col("doc_id"), col("s"), col("nrm"))
  }

  /** The per-doc signature table (doc_id, ss, ws, s2): term hashes and
    * weights as parallel arrays sorted ASC by hash — the in-row verify
    * input ([[plans.SortedIntersectWeightSum]]'s contract).
    */
  def signatures(w: DataFrame): DataFrame =
    w.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("s"), col("wq"))))
        .as("__graft_kv"))
      .select(col("doc_id"),
        transform(col("__graft_kv"), x => x.getField("s")).as("ss"),
        transform(col("__graft_kv"), x => x.getField("wq")).as("ws"))
      .join(norms(w).select("doc_id", "s2"), "doc_id")

  /** Exact cosine-≥-threshold pairs from the standing index halves:
    * (da, db, sab, s2a, s2b) for every pair da < db with
    * sim = sab / (sqrt(s2a)·sqrt(s2b)) ≥ threshold. The threshold
    * test is the same double division consumers (and the DuckDB
    * oracle) use, so boundary ULPs select identically.
    *
    * The signature side of the verify routes through
    * [[Joins.broadcastIfSmall]]: a shuffle-join verify re-exchanges
    * the candidate stream WITH doc a's ~1 KB arrays attached (the
    * dominant verify cost at sf1 — 3.9 s vs 1.3 s broadcast); built
    * as the broadcast side, pairs stream through both sig joins in
    * one stage and no array crosses a shuffle. `inflation = 2` (not
    * the parquet default 8) because the hint here is the signature
    * frame ITSELF — when served from a cached artifact its statistic
    * is materialized in-memory bytes, not a compressed file size, so
    * only the hash-relation overhead needs covering. A corpus whose
    * signature table outgrows the budget falls back to the shuffle
    * join — the honest 100 TB path.
    */
  def cosinePairsFromIndex(pre: DataFrame, sig: DataFrame,
      threshold: Double, verifyPartitions: Int = 0): DataFrame = {
    val cand0 = pre.select(col("doc_id").as("da"), col("s"),
        col("nrm").as("na"))
      .join(pre.select(col("doc_id").as("db"), col("s"),
        col("nrm").as("nb")),
        Seq("s"))
      .filter(col("da") < col("db") &&
        col("na") <= col("nb") / threshold &&
        col("nb") <= col("na") / threshold)
      .select("da", "db").distinct()
    // The verify below is compute-dense per BYTE (one sorted-merge
    // wsum per 16-byte pair row), so AQE's byte-targeted coalescing
    // collapses the candidate exchange to 1-2 partitions and
    // serializes it (measured 2 tasks × 0.2 s at sf0.1). An explicit
    // REPARTITION_BY_NUM pins the verify's parallelism (AQE never
    // coalesces user-specified counts); the pre-repartition dedup
    // keeps its map-side partial aggregation, so the added exchange
    // moves only the distinct pair keys.
    val cand =
      if (verifyPartitions > 0)
        cand0.repartition(verifyPartitions, col("da"), col("db"))
      else cand0
    cand
      .join(Joins.broadcastIfSmall(
        sig.select(col("doc_id").as("da"), col("ss").as("ssa"),
          col("ws").as("wsa"), col("s2").as("s2a")), sig, inflation = 2L),
        "da")
      .join(Joins.broadcastIfSmall(
        sig.select(col("doc_id").as("db"), col("ss").as("ssb"),
          col("s2").as("s2b")), sig, inflation = 2L), "db")
      .withColumn("sab", graft.plans.SortedIntersectWeightSum(
        col("ssa"), col("wsa"), col("ssb")))
      .filter(col("sab").cast("double") /
        (sqrt(col("s2a").cast("double")) *
          sqrt(col("s2b").cast("double"))) >= threshold)
      .select("da", "db", "sab", "s2a", "s2b")
  }
}
