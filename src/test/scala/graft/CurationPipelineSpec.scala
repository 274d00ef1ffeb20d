package graft

import graft.operators.{Curate, Dedup}
import org.apache.spark.sql.functions._

/** End-to-end composition of the public curation operators — the
  * "switch your training-data pipeline to this library" proof: gate →
  * transitive dedup → chunk → pack → split, each stage feeding the
  * next on plain DataFrames.
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("quality gate → dedup → chunk → pack → split composes end to end") {
    val raw = Seq(
      (1L, "en", ("alpha beta gamma delta epsilon zeta eta theta " * 12).trim),
      (2L, "en", ("alpha beta gamma delta epsilon zeta eta theta " * 12).trim + " coda"), // near-dup of 1
      (3L, "en", (0 until 80).map(i => s"lorem$i").mkString(" ")), // 80 distinct tokens
      (4L, "en", "too short"),                       // fails quality gate
      (5L, "de", ("der fuchs springt ueber den faulen hund heute wieder " * 10).trim), // wrong lang
      (6L, "en", "1234 5678 " * 40)                  // fails alpha ratio
    ).toDF("doc_id", "lang", "text")

    val gated = Curate.qualityFilter(raw, "text", "lang",
      minTokens = 20, minAlphaRatio = 0.6, langs = Seq("en"))
    assert(gated.select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L), "gate keeps long clean English docs")

    // transitive dedup: verified minhash pairs → star-contraction
    // components → keep each component's min id
    val sh = Dedup.shingleSignatures(gated, "doc_id", "text")
    val pairs = Dedup.verifiedPairs(sh,
      Dedup.minhashCandidatesFromBanded(Dedup.bandedWithArray(sh)), 0.5)
    val labels = Dedup.componentLabelsStar(
      gated.select(col("doc_id").as("id")), pairs)
    val kept = labels.filter(col("id") === col("component"))
      .select(col("id").as("doc_id"))
    val survivors = kept.as[Long].collect().sorted.toSeq
    assert(survivors == Seq(1L, 3L), s"near-dup 2 collapses into 1: $survivors")
    val deduped = gated.join(kept, "doc_id")

    // optional paragraph-tier gate between doc-level dedup and
    // chunking (the round-10 CCNet middle tier): doc 1 is built from
    // a repeated 8-token phrase, so block-level keep-first dedup must
    // strip its internal repeats while doc 3's distinct blocks pass
    // through — the pipeline then chunks the DEDUPED text
    val par = Curate.dedupParagraphs(deduped, "doc_id", "text",
      parTokens = 8)
    val parStats = par.select("id", "n_par", "n_kept")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(parStats(1L)._3 < parStats(1L)._2,
      s"doc 1's repeated blocks must dedupe: ${parStats(1L)}")
    assert(parStats(3L)._3 == parStats(3L)._2,
      s"doc 3's distinct blocks all survive: ${parStats(3L)}")
    val corpus = deduped.drop("text")
      .join(par.select(col("id").as("doc_id"),
        col("text_kept").as("text")), "doc_id")
      .filter(length(col("text")) > 0)

    // the gate's doc-level n_tok gives way to the chunk-level count
    // (chunkDocuments fails fast on the collision rather than
    // silently overwriting)
    val chunked = Curate.chunkDocuments(corpus.drop("n_tok"),
      "doc_id", "text", maxTokens = 32, overlap = 8)
    val chunkCounts = chunked.groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    // doc 1 dedupes to a single 8-token block (1 chunk); doc 3's 80
    // distinct tokens still split
    assert(chunkCounts.values.forall(_ >= 1) && chunkCounts(3L) > 1,
      s"deduped docs chunk: $chunkCounts")

    val packed = Curate.packSequences(
      chunked.withColumn("seq_id",
        concat_ws(":", col("doc_id"), col("chunk_id"))),
      "chunk_text", "lang", "seq_id", budgetTokens = 64)
    assert(packed.select("pack_id").distinct().count() > 1,
      "chunks spread across packs under the budget")

    val split = Curate.sampleSplit(packed, "chunk_text")
    val splits = split.select("split").distinct().as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.nonEmpty)
    // every surviving chunk is routed exactly once
    assert(split.count() == chunked.count())
  }
}
