package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column-expression library for the training-data
  * pipeline surface (SURVEY.md §2 NS rows): tokenization, shingling,
  * portable 60-bit hashing, LSH banding, SimHash, language-ID,
  * quality-score components, fingerprinting.
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition
  * — codegen-friendly, no UDFs, no shuffle: per-document narrow
  * transforms that scale linearly to 100 TB. Cross-engine determinism
  * comes from md5 (identical in every engine) instead of engine-local
  * hash functions (xxhash64/hash differ between Spark and DuckDB).
  */
object TextFunctions {

  /** Whitespace tokens, lowercased, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " ", -1), _ =!= "")

  /** Portable 60-bit hash: first 15 hex chars of md5 as a positive
    * BIGINT. Same value in DuckDB via
    * ('0x' || substring(md5(x),1,15))::BIGINT.
    */
  def hex60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Distinct word k-shingles (word n-grams joined by single spaces).
    * Order-sensitive — the discriminative unit for near-dup detection
    * (word *sets* saturate on small vocabularies). Native single-pass
    * (graft.plans.WordNgrams) — shingling sits under every dedup
    * sketch, so its constant factor is corpus-sized. Null tokens
    * yield empty, matching the original when/otherwise contract (see
    * [[ngrams]]).
    */
  def shingles(toks: Column, k: Int = 3): Column =
    coalesce(graft.plans.WordNgrams(toks, k, distinct = true),
      array().cast("array<string>"))

  /** LSH band buckets from a MinHash signature: `bands` buckets of
    * `rows` signature slots each, bucket id = md5 of the joined slot
    * values. Docs sharing any (band, bucket) are near-dup candidates.
    */
  def lshBuckets(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b =>
        md5(concat_ws(",",
          transform(slice(sig, b * rows + 1, lit(rows)), _.cast("string")))
          .cast("binary")))

  /** OCCURRENCE word n-grams (every position, duplicates kept) — the
    * counting-tier unit ([[shingles]] dedupes per doc, which is right
    * for MinHash and wrong for repetition/frequency measurement).
    * Narrow per-row transform, no shuffle; native single-pass
    * (graft.plans.WordNgrams — the HOF compositions pay the
    * interpreted lambda path per element, 4-15× slower at sf0.1).
    * A null token array yields empty, not null — the contract every
    * pre-round-9 call site was built on (the when/otherwise form
    * returned [] for null input; bare UnaryExpression null
    * propagation would silently drop null-text docs from joins).
    * No query calls it: the fused kernels (graft.plans.NgramCounts,
    * NgramHashCounts) replace it in every plan. It stays as the
    * reference composition those kernels are tested against
    * (ScaleOpsSpec "NgramCounts fusion equals …").
    */
  def ngrams(toks: Column, n: Int): Column =
    coalesce(graft.plans.WordNgrams(toks, n, distinct = false),
      array().cast("array<string>"))

  /** 60-bit SimHash over (non-distinct) tokens: per bit, +1 when the
    * token-hash bit is set else -1; final bit = sign of the sum.
    * Evaluated by the native codegen expression (graft.plans.SimHash60
    * — the higher-order array-accumulator form interpreted ~100×
    * slower).
    */
  def simhash60(toks: Column): Column =
    graft.plans.SimHash60(graft.plans.Hex60Array(toks))

  /** Language marker stopword sets for the n-gram-free heuristic
    * language-ID tier (deterministic, SQL-portable).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist"),
    "es" -> Seq("el", "la", "y", "los", "de", "un"))

  private def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, w => w.isin(markers: _*)))

  /** Predicted language = argmax of marker-word hits, ties broken by
    * declaration order (en first), 'und' (undetermined) when no
    * marker hits at all.
    */
  def langId(toks: Column): Column = {
    val scores = langMarkers.map { case (l, ms) => l -> markerHits(toks, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), rest) =>
      when(s === best && best > 0, lit(l)).otherwise(rest)
    }
  }

  /** English stopwords — the stopword-ratio component of the fused
    * quality counters (graft.plans.QualityStats).
    */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "for")

  /** Alphabetic-character ratio of the raw text. */
  def alphaRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double") /
        length(text))
      .otherwise(0.0)

  /** Winnowing-style fingerprint: min/max of the hex60 hashes of all
    * character 5-grams — a compact order-sensitive sketch (rolling-hash
    * analog, SQL-portable).
    */
  def charGramMinHash(text: Column, k: Int = 5): Column =
    graft.plans.CharGramMinHash(text, k)

  /** Full winnowing fingerprint SET (distinct sliding-window minima of
    * the char-k-gram rolling hashes): the substring-level near-dup
    * unit — any shared run of >= w + k - 1 chars shares a fingerprint
    * (Schleimer et al. 2003). Null below k chars.
    */
  def charGramWinnow(text: Column, k: Int = 5, w: Int = 16): Column =
    graft.plans.CharGramWinnow(text, k, w)
}
