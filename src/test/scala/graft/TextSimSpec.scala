package graft

import graft.operators.TextSim
import org.apache.spark.sql.functions._

/** Exactness theorem for the prefix-filtered all-pairs tier: the
  * Bayardo discovery + in-row verify must return EXACTLY the pairs
  * (and the same exact integer sab / s2) as the naive
  * shared-term-enumeration formulation, at several thresholds, on a
  * corpus engineered to stress the bounds (near-dup clusters, partial
  * overlaps, disjoint docs, skewed norms).
  */
class TextSimSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic synthetic postings: doc i carries terms from
    * overlapping windows plus cluster-shared cores, weights the
    * idf-style per-term constants the tf-idf tier produces.
    */
  private def postings() = {
    val rows = for {
      // docs 100+ are exact term-set twins of docs 0-4 (sim = 1.0
      // pairs so the 0.8 threshold row is non-degenerate)
      d0 <- (0L until 40L) ++ (100L until 105L)
      d = if (d0 >= 100L) d0 - 100L else d0
      // cluster core: docs in the same group of 4 share 10 terms
      core = (0L until 10L).map(t => (d / 4) * 1000L + t)
      // drifting window: overlaps neighbours by half
      drift = (0L until 8L).map(t => 5000L + d * 4 + t)
      s <- (core ++ drift).distinct
    } yield (d0, s)
    val inv = rows.toDF("doc_id", "s")
    // per-term idf-ish weight: rarer terms heavier, deterministic
    val dfx = inv.groupBy("s").agg(count(lit(1)).as("df"))
    inv.join(dfx, "s")
      .select(col("doc_id"), col("s"),
        floor(lit(1e6) / (col("df") * col("df"))).cast("long").as("wq"))
  }

  private def naive(w: org.apache.spark.sql.DataFrame, t: Double) = {
    val nrm = w.groupBy("doc_id").agg(sum("wq").as("s2"))
    w.as("a")
      .join(w.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(sum(col("a.wq")).as("sab"))
      .join(nrm.select(col("doc_id").as("da"), col("s2").as("s2a")), "da")
      .join(nrm.select(col("doc_id").as("db"), col("s2").as("s2b")), "db")
      .filter(col("sab").cast("double") /
        (sqrt(col("s2a").cast("double")) *
          sqrt(col("s2b").cast("double"))) >= t)
      .select("da", "db", "sab", "s2a", "s2b")
  }

  test("cosinePairs equals the naive shared-term enumeration exactly " +
      "(pairs, sab, norms) at thresholds 0.3 / 0.5 / 0.8") {
    val w = postings().persist()
    try {
      for (t <- Seq(0.3, 0.5, 0.8)) {
        val want = naive(w, t)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        // exact pairs, sab and norms
        val got = TextSim.cosinePairsFromIndex(TextSim.prefixPostings(w, t),
            TextSim.signatures(w), t)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(got == want,
          s"t=$t: missing=${(want -- got).take(5)} " +
            s"extra=${(got -- want).take(5)} " +
            s"(want ${want.size}, got ${got.size})")
        assert(want.nonEmpty, s"t=$t: degenerate fixture — no pairs")
      }
    } finally { w.unpersist(); () }
  }

  test("prefix filter prunes: prefix postings are a strict subset on " +
      "a corpus with a common-term tail") {
    val w = postings().persist()
    try {
      val total = w.count()
      val pre = TextSim.prefixPostings(w, 0.8).count()
      assert(pre < total, s"prefix $pre of $total — no pruning")
    } finally { w.unpersist(); () }
  }

  test("SortedIntersectWeightSum: two-pointer merge equals the join " +
      "formulation on edge shapes (empty, disjoint, contained)") {
    val df = Seq(
      (Array(1L, 3L, 5L), Array(10L, 30L, 50L), Array(3L, 5L, 9L), 80L),
      (Array.empty[Long], Array.empty[Long], Array(1L), 0L),
      (Array(2L, 4L), Array(7L, 9L), Array.empty[Long], 0L),
      (Array(1L, 2L, 3L), Array(1L, 2L, 4L), Array(1L, 2L, 3L), 7L),
      (Array(1L, 9L), Array(5L, 6L), Array(2L, 3L, 4L), 0L))
      .toDF("ka", "wa", "kb", "want")
    val got = df.withColumn("got", graft.plans.SortedIntersectWeightSum(
        col("ka"), col("wa"), col("kb")))
      .filter(col("got") =!= col("want")).count()
    assert(got == 0L)
  }

  test("SortedIntersectCount equals size(array_intersect) on edge " +
      "shapes including duplicate runs (distinct-count semantics)") {
    val df = Seq(
      (Array(1L, 3L, 5L), Array(3L, 5L, 9L)),
      (Array.empty[Long], Array(1L)),
      (Array(2L, 4L), Array.empty[Long]),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array(1L, 9L), Array(2L, 3L, 4L)),
      // duplicate runs on either side must still count each shared
      // value once, exactly as array_intersect's set semantics do
      (Array(1L, 1L, 2L, 2L, 2L, 7L), Array(1L, 2L, 2L, 8L)),
      (Array(5L, 5L, 5L), Array(5L)),
      (Array(-3L, -1L, 0L), Array(-3L, 0L, 0L, 2L)))
      .toDF("a", "b")
    val bad = df.withColumn("got",
        graft.plans.SortedIntersectCount(col("a"), col("b")))
      .withColumn("want",
        size(array_intersect(col("a"), col("b"))).cast("long"))
      .filter(col("got") =!= col("want")).count()
    assert(bad == 0L)
  }
}
