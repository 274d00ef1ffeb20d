package graft.queries

import graft.Catalog.{table => t}
import graft.functions.{TextFunctions => TF}
import PipelineQueries.{artifactPartitions, cappedInvertedIndex,
  charGramHashes, memo, memoArtifact, shingleCte}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis and cleaning: token counts, quality components,
  * language ID, content fingerprints, bigram and TF-IDF term
  * statistics, TF-IDF-weighted cosine similarity, printable/PII
  * cleaning and within-document repetition signals. Most rows are
  * narrow per-document kernels (graft.plans) whose only exchange is
  * the output ORDER BY.
  */
object TextQueries {

  /** DuckDB form of Spark's `round(x, 4)` on a DOUBLE: HALF_UP on the
    * shortest decimal that reads back as x (Spark rounds
    * `BigDecimal(x.toString)`). DuckDB's ROUND scales in binary floating
    * point first: 0.43724999999999997, the double both engines compute
    * for 0.32 * 0.3 + 0.80625 * 0.4 + 0.0625 * 0.3, becomes 4372.5 and
    * rounds up there, while Spark rounds it down.
    */
  private def round4(e: String): String =
    s"ROUND(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38, 20)), 4)::DOUBLE"

  /** TF-IDF weight postings (doc_id, s, wq): the df-capped inverted
    * index joined to its document frequencies with the fixed-point
    * squared ratio-idf weight — the write-once serving artifact of
    * the tf-idf similarity tier. Both self-join sides of the pair
    * join probe it; built inline each side re-pays the df groupBy +
    * join (2× per query). At 100 TB this is the posting-list file a
    * search index ships; queries read it.
    */
  private[graft] def tfidfWeights(s: SparkSession, dir: String): DataFrame =
    memoArtifact(s, dir, "tfidfw") {
      val inv = cappedInvertedIndex(s, dir)
      val nn = inv.agg(countDistinct("doc_id").as("n"))
      val dfx = inv.groupBy("s").agg(count(lit(1)).as("df"))
      inv.join(dfx, "s")
        .crossJoin(broadcast(nn)) // single global-count row
        .select(col("doc_id"), col("s"),
          floor((col("n").cast("double") / col("df")) *
            (col("n").cast("double") / col("df")) * 1e6)
            .cast("long").as("wq"))
    }

  /** The tf-idf tier's Bayardo prefix-postings index — the discovery
    * half of the all-pairs similarity index (operators/TextSim),
    * memoized beside the weight postings it derives from: at 100 TB
    * the prefix index is written once per corpus next to the posting
    * lists (it IS the index structure of Bayardo et al., WWW '07) and
    * every similarity job probes it.
    */
  private[queries] def tfidfPrefix(s: SparkSession, dir: String): DataFrame =
    memoArtifact(s, dir, "tfidfpre") {
      // partitioned on the term key for the same reason as
      // cappedInvertedIndex: the cosine pair stage self-joins this
      // artifact on s, and broken exchange reuse over caches would
      // otherwise shuffle it once per side per run
      graft.operators.TextSim.prefixPostings(tfidfWeights(s, dir), 0.5)
        .repartition(artifactPartitions(s, dir), col("s"))
    }

  /** The tf-idf tier's verify half: per-doc sorted signature arrays
    * (term hashes + weights) + the exact norm — the in-row-verify
    * twin of the prefix index above, same write-once contract.
    * Stored as an eager `localCheckpoint`, not a cached frame: both
    * verify sides broadcast it through identical exchanges, and AQE
    * wraps a cached scan in a per-reference `TableCacheQueryStage`
    * whose canonical form keeps the id, so exchange reuse never fires
    * (measured on Spark 4.1.2). A checkpoint scans as one plain
    * `Scan ExistingRDD`: the second side plans as ReusedExchange.
    * Trade-off: lineage-free blocks, so executor loss fails the job.
    */
  private[queries] def tfidfSig(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "tfidfsig") {
      graft.operators.TextSim.signatures(tfidfWeights(s, dir))
        .localCheckpoint(true)
    }

  val defs: Seq[QueryDef] = Seq(

    // ── Text analysis: token counting (whitespace + word-regex).
    QueryDef(
      "ns_text_tokens",
      Some("""SELECT doc_id,
              CAST(len(list_filter(string_split(lower(text), ' '),
                   x -> x <> '')) AS BIGINT) AS n_ws,
              CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                   AS BIGINT) AS n_words,
              CAST(len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe
              FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(TF.tokens(col("text"))).cast("long").as("n_ws"),
            regexp_count(lower(col("text")), lit("[a-z0-9]+"))
              .cast("long").as("n_words"),
            // BPE-ish segmentation: letter runs | digit runs | single
            // punctuation — the token-budget estimator tier
            regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
              .cast("long").as("n_bpe"))
          .orderBy("doc_id")),

    // ── Text analysis: quality scoring
    // (length/alpha/stopword components, SURVEY.md NS).
    QueryDef(
      "ns_text_quality",
      Some(s"""WITH q AS (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') tk,
                CASE WHEN length(text) = 0 THEN 0.0 ELSE
                  length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE /
                    length(text) END alpha_r
                FROM documents),
              c AS (SELECT doc_id, alpha_r,
                CASE WHEN len(tk) = 0 THEN 0.0 ELSE
                  len(list_filter(tk, x -> list_contains(
                    ['the','a','of','and','is','to','in','that','it','for'],
                    x)))::DOUBLE / len(tk) END stop_r,
                CASE WHEN len(tk) = 0 THEN 0.0 ELSE
                  list_sum(list_transform(tk, x -> length(x)))::DOUBLE /
                    len(tk) END mean_len,
                least(len(tk) / 100.0, 1.0) len_score
                FROM q)
              SELECT doc_id, ${round4("alpha_r")} AS alpha_r,
                ${round4("stop_r")} AS stop_r,
                ${round4("mean_len")} AS mean_len,
                ${round4("len_score * 0.3 + alpha_r * 0.4 + stop_r * 0.3")}
                  AS score
              FROM c ORDER BY doc_id"""),
      (s, dir) => {
        // ONE native pass (plans.QualityStats) produces the integer
        // inputs; the ratio arithmetic below mirrors the oracle's op
        // order exactly. The previous form paid a regexp_replace plus
        // three interpreted HOF re-tokenizations per row, re-evaluated
        // per referencing output column.
        val alphaR = when(col("q.n_chars") === 0, 0.0)
          .otherwise(col("q.n_alpha").cast("double") / col("q.n_chars"))
        val stopR = when(col("q.n_tok") === 0, 0.0)
          .otherwise(col("q.n_stop").cast("double") / col("q.n_tok"))
        val meanLen = when(col("q.n_tok") === 0, 0.0)
          .otherwise(col("q.tok_len_sum").cast("double") / col("q.n_tok"))
        val lenScore = least(col("q.n_tok") / 100.0, lit(1.0))
        t(s, dir, "documents")
          .select(col("doc_id"), graft.plans.QualityStats(col("text")).as("q"))
          .select(col("doc_id"),
            round(alphaR, 4).as("alpha_r"),
            round(stopR, 4).as("stop_r"),
            round(meanLen, 4).as("mean_len"),
            round(lenScore * 0.3 + alphaR * 0.4 + stopR * 0.3, 4).as("score"))
          .orderBy("doc_id")
      }),

    // ── Text analysis: heuristic language-ID by marker-word argmax.
    QueryDef(
      "ns_text_langid",
      Some("""WITH tk AS (SELECT doc_id, lang,
                list_filter(string_split(lower(text), ' '), x -> x <> '') t
                FROM documents),
              sc AS (SELECT doc_id, lang,
                len(list_filter(t, x -> list_contains(
                  ['the','a','of','and','is','to'], x))) s_en,
                len(list_filter(t, x -> list_contains(
                  ['le','la','et','les','des','un'], x))) s_fr,
                len(list_filter(t, x -> list_contains(
                  ['der','die','und','das','ein','ist'], x))) s_de,
                len(list_filter(t, x -> list_contains(
                  ['el','la','y','los','de','un'], x))) s_es
                FROM tk),
              p AS (SELECT doc_id, lang,
                CASE WHEN s_en = g AND g > 0 THEN 'en'
                     WHEN s_fr = g AND g > 0 THEN 'fr'
                     WHEN s_de = g AND g > 0 THEN 'de'
                     WHEN s_es = g AND g > 0 THEN 'es'
                     ELSE 'und' END pred
                FROM (SELECT *, greatest(s_en, s_fr, s_de, s_es) g FROM sc))
              SELECT doc_id, lang, pred,
                CASE WHEN pred = lang THEN 1 ELSE 0 END AS matched
              FROM p ORDER BY doc_id"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TF.langId(TF.tokens(col("text"))).as("pred"))
          .withColumn("matched",
            when(col("pred") === col("lang"), 1).otherwise(0))
          .orderBy("doc_id")),

    // ── Text analysis: document fingerprinting (normalized content
    // hash + winnowing-style char-5-gram min-hash).
    QueryDef(
      "ns_text_fingerprint",
      // fp_min: min over all char-5-grams of the Rabin–Karp hash
      // (charGramHashes)
      Some("""SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
              list_min(""" + charGramHashes + """) AS fp_min
              FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))
              .cast("binary")).as("fp"),
            TF.charGramMinHash(col("text")).as("fp_min"))
          .orderBy("doc_id")),

    // ── Text analysis: corpus-wide bigram counts (n-gram LM counting
    // tier; reuses the shingle machinery at n=2 — narrow explode +
    // one groupBy, the canonical linear count dataflow).
    QueryDef(
      "ns_text_bigrams",
      Some("""WITH toks AS (SELECT
                list_filter(string_split(lower(text), ' '), x -> x <> '') tk
                FROM documents),
              bg AS (SELECT UNNEST([tk[i] || ' ' || tk[i+1]
                       for i in range(1, len(tk))]) AS g
                     FROM toks WHERE len(tk) >= 2)
              SELECT g AS bigram, COUNT(*) AS cnt FROM bg
              GROUP BY g ORDER BY cnt DESC, bigram LIMIT 20"""),
      (s, dir) => {
        // NOT TF.shingles — that dedupes per doc (right for minhash,
        // wrong for counting); raw occurrence bigrams. zip_with over
        // two one-shot slices is one linear pass (a per-index slice()
        // inside transform() re-materializes a subarray per element)
        val tk = TF.tokens(col("text"))
        val bigrams = when(size(tk) >= 2,
          zip_with(
            slice(tk, lit(1), size(tk) - 1),
            slice(tk, lit(2), size(tk) - 1),
            (a, b) => concat(a, lit(" "), b)))
          .otherwise(array().cast("array<string>"))
        t(s, dir, "documents")
          .select(explode(bigrams).as("bigram"))
          .groupBy("bigram")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("bigram"))
          .limit(20)
      }),

    // ── Text cleaning: printable-only filter (P6,
    // master/master.ino:612), whitespace collapse, digit-run redaction
    // — the ingest normalization tier of a text pipeline.
    QueryDef(
      "ns_text_clean",
      Some("""SELECT doc_id,
              length(regexp_replace(regexp_replace(regexp_replace(text,
                '[^ -~]', '', 'g'), '[0-9]+', '<num>', 'g'),
                '\s+', ' ', 'g')) AS clean_len,
              md5(regexp_replace(regexp_replace(regexp_replace(text,
                '[^ -~]', '', 'g'), '[0-9]+', '<num>', 'g'),
                '\s+', ' ', 'g')) AS clean_fp
              FROM documents ORDER BY doc_id"""),
      (s, dir) => {
        val cleaned = regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), "[^ -~]", ""),
            "[0-9]+", "<num>"),
          "\\s+", " ")
        t(s, dir, "documents")
          .select(col("doc_id"),
            length(cleaned).cast("long").as("clean_len"),
            md5(cleaned.cast("binary")).as("clean_fp"))
          .orderBy("doc_id")
      }),

    // ── Text cleaning tier 2: PII redaction (emails, phone-shaped
    // digit groups, long digit runs → typed placeholders) — narrow
    // regexp transforms; the count column audits redaction volume.
    QueryDef(
      "ns_text_pii_redact",
      Some("""WITH r AS (SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                  '<email>', 'g'),
                  '\+?[0-9][0-9()\- ]{6,}[0-9]', '<phone>', 'g'),
                  '[0-9]{6,}', '<id>', 'g') red,
                CAST(len(regexp_extract_all(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
                  AS BIGINT) n_email
                FROM documents)
              SELECT doc_id, n_email,
                CAST(length(red) AS BIGINT) AS red_len, md5(red) AS red_fp
              FROM r ORDER BY doc_id"""),
      (s, dir) =>
        // counted form: the email automaton runs once per row for the
        // audit count AND the replacement (one fused kernel; the
        // compositional form paid four regex passes per document)
        graft.operators.Curate.redactPiiCounted(
            t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
            length(col("text_redacted")).cast("long").as("red_len"),
            md5(col("text_redacted").cast("binary")).as("red_fp"))
          .orderBy("doc_id")),

    // ── Text quality: Gopher-style within-document repetition signals
    // (Rae et al. 2021 §A1.1 use duplicate-line/-n-gram fractions as
    // core quality filters; this data has no lines, so the token and
    // bigram tiers carry the signal). All outputs are exact BIGINT
    // counts — ratios are one division away for callers, and counts
    // hash identically cross-engine. Scale shape: fully NARROW — all
    // five signals come from graft.plans.RepetitionStats, ONE native
    // single-pass loop per document (not an explode + corpus-wide
    // (doc, token) shuffle, and not interpreted HOF folds); the only
    // exchange in the plan is the output ORDER BY.
    QueryDef(
      "ns_text_repetition",
      Some("""WITH tk AS (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') tk
                FROM documents),
              t AS (SELECT doc_id, UNNEST(tk) w FROM tk),
              tc AS (SELECT doc_id, w, COUNT(*) c FROM t GROUP BY 1, 2),
              ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) n_tok,
                     CAST(COUNT(*) AS BIGINT) n_distinct_tok,
                     CAST(MAX(c) AS BIGINT) top_tok_cnt FROM tc GROUP BY 1),
              bg AS (SELECT doc_id, UNNEST([tk[i] || ' ' || tk[i+1]
                       for i in range(1, len(tk))]) g
                     FROM tk WHERE len(tk) >= 2),
              bc AS (SELECT doc_id, g, COUNT(*) c FROM bg GROUP BY 1, 2),
              bs AS (SELECT doc_id,
                     CAST(SUM(c) - COUNT(*) AS BIGINT) dup_bigram_cnt,
                     CAST(MAX(c) AS BIGINT) top_bigram_cnt FROM bc GROUP BY 1)
              SELECT d.doc_id,
                COALESCE(n_tok, 0) AS n_tok,
                COALESCE(n_distinct_tok, 0) AS n_distinct_tok,
                COALESCE(top_tok_cnt, 0) AS top_tok_cnt,
                COALESCE(dup_bigram_cnt, 0) AS dup_bigram_cnt,
                COALESCE(top_bigram_cnt, 0) AS top_bigram_cnt
              FROM documents d
              LEFT JOIN ts ON d.doc_id = ts.doc_id
              LEFT JOIN bs ON d.doc_id = bs.doc_id
              ORDER BY d.doc_id"""),
      (s, dir) =>
        // coalesce keeps zero-token and null-text docs (the oracle's
        // unnest-based CTEs drop them, so it LEFT JOINs back onto the
        // base table and zero-fills — both sides emit one row per doc)
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.plans.RepetitionStats(TF.tokens(col("text"))).as("r"))
          .select(col("doc_id") +:
            Seq("n_tok", "n_distinct_tok", "top_tok_cnt",
              "dup_bigram_cnt", "top_bigram_cnt")
              .map(f => coalesce(col(s"r.$f"), lit(0L)).as(f)): _*)
          .orderBy("doc_id")),

    // ── Text analysis: TF-IDF term scoring (ratio-idf: tf · N/df —
    // log-free so both engines compute pure rational arithmetic; a
    // log-idf differs in the last ulp between libm and java.lang.Math
    // and can flip a ROUND boundary). Shape at scale: tf is a narrow
    // per-doc explode+count, df one groupBy on term — both linear.
    QueryDef(
      "ns_text_tfidf",
      Some("""WITH tk AS (SELECT doc_id,
                UNNEST(list_filter(string_split(lower(text), ' '),
                       x -> x <> '')) AS w
                FROM documents),
              tf AS (SELECT doc_id, w, COUNT(*) c FROM tk GROUP BY 1, 2),
              df AS (SELECT w, COUNT(DISTINCT doc_id) d FROM tk GROUP BY w),
              n AS (SELECT COUNT(*) n FROM documents)
              SELECT tf.doc_id, tf.w AS term,
                ROUND(tf.c * (n.n * 1.0 / df.d), 4) AS score
              FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
              ORDER BY score DESC, tf.doc_id, term LIMIT 50"""),
      (s, dir) => {
        val tk = t(s, dir, "documents")
          .select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
        val tf = tk.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        val df = tk.groupBy("w").agg(countDistinct("doc_id").as("d"))
        val n = t(s, dir, "documents").agg(count(lit(1)).as("n"))
        tf.join(df, "w")
          .crossJoin(broadcast(n)) // single global-count row
          .select(col("doc_id"), col("w").as("term"),
            round(col("c") * (col("n") * lit(1.0) / col("d")), 4).as("score"))
          .orderBy(col("score").desc, col("doc_id"), col("term"))
          .limit(50)
      }),

    // ── Similarity tier 7: TF-IDF-weighted cosine over the df-capped
    // inverted shingle index — weighted lexical similarity without
    // embeddings (rare shingles dominate, boilerplate fades). Every
    // accumulated quantity is an exact BIGINT sum of per-term
    // fixed-point weights (floor(idf²·1e6); ratio idf N/df, never
    // log() — libm ulp differences break cross-engine parity), so
    // aggregation order cannot change the score; the final
    // sqrt/divide runs on identical doubles on both engines. Same
    // inverted-index shuffle shape as the ngram tier: linear in
    // postings, never O(n²).
    QueryDef(
      "ns_text_tfidf_sim",
      Some(shingleCte + """,
        inv0 AS (SELECT doc_id, UNNEST(hh) AS s FROM sh),
        hot AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 256),
        inv AS (SELECT i.doc_id, i.s FROM inv0 i
                ANTI JOIN hot h ON i.s = h.s),
        nn AS (SELECT COUNT(DISTINCT doc_id) n FROM inv),
        dfx AS (SELECT s, COUNT(*) df FROM inv GROUP BY s),
        w AS (SELECT i.doc_id, i.s,
                CAST(FLOOR((nn.n::DOUBLE / d.df) * (nn.n::DOUBLE / d.df)
                  * 1000000) AS BIGINT) wq
              FROM inv i JOIN dfx d ON i.s = d.s, nn),
        nrm AS (SELECT doc_id, SUM(wq) s2 FROM w GROUP BY doc_id),
        sab AS (SELECT a.doc_id da, b.doc_id db, SUM(a.wq) sab
                FROM w a JOIN w b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
        simt AS (SELECT sab.da, sab.db,
                  sab.sab::DOUBLE /
                    (sqrt(na.s2::DOUBLE) * sqrt(nb.s2::DOUBLE)) sim
                FROM sab JOIN nrm na ON na.doc_id = sab.da
                         JOIN nrm nb ON nb.doc_id = sab.db)
        SELECT da AS doc_a, db AS doc_b, ROUND(sim, 3) AS sim FROM simt
        WHERE sim >= 0.5 ORDER BY doc_a, doc_b"""),
      (s, dir) => {
        // the pair stage is the exact Bayardo-prefix-filtered +
        // in-row-verified restructure (operators/TextSim — VERDICT
        // r14 next-round #4: the naive self-join enumerated Σ c_s²
        // (pair, term) rows, 138 M at sf1, and was the engine's most
        // expensive op). Served from the tier's memoized standing
        // index halves (prefix postings + signature arrays, the
        // write-once artifacts beside tfidfWeights). Result set
        // provably identical, so the oracle SQL keeps the reference
        // formulation.
        graft.operators.TextSim.cosinePairsFromIndex(
            tfidfPrefix(s, dir),
            tfidfSig(s, dir), 0.5,
            verifyPartitions = artifactPartitions(s, dir))
          .withColumn("sim", col("sab").cast("double") /
            (sqrt(col("s2a").cast("double")) *
              sqrt(col("s2b").cast("double"))))
          .select(col("da").as("doc_a"), col("db").as("doc_b"),
            round(col("sim"), 3).as("sim"))
          // materialization boundary before the global sort: the range
          // exchange's sampling pass re-executes its child pipeline,
          // and here that child is the whole in-row verify (one
          // sorted-merge wsum per candidate pair) — measured as two
          // identical post-candidate stages, each ~0.2 s/task at
          // sf0.1. A keyed repartition turns the verify output
          // (post-threshold pairs, tiny) into its own materialized
          // stage; sample + write then re-READ it instead of
          // re-COMPUTING it. Result order unchanged — (doc_a, doc_b)
          // is a unique sort key.
          .repartition(col("doc_a"))
          .orderBy("doc_a", "doc_b")
      }),
  )
}
