package graft.tools

import org.apache.spark.sql.DataFrame

/** Golden-plan fingerprints (VERDICT r7 item 5): the physical-plan
  * SHAPE of the most expensive queries, normalized to strip
  * run-dependent noise, committed under `docs/plan_golden/` and
  * re-checked by QueryPlanSpec on every test run. A silent join-order,
  * pushdown, or strategy regression then fails the suite instead of
  * hiding in bench noise (which machine contention can mimic —
  * VERDICT r7 item 1).
  *
  * The fingerprint is the PRE-AQE physical plan (`sparkPlan`):
  * deterministic for a fixed session config + fixed input files,
  * unlike the adaptively re-planned executed plan. Goldens are
  * generated BY THE SPEC ITSELF (`GRAFT_REGEN_PLANS=1 sbt "testOnly
  * graft.QueryPlanSpec"`) so the generation config is identical to
  * the assertion config by construction.
  */
object PlanGolden {

  /** The bench's most expensive isolated queries (r8 capture), plus
    * the two canonical headline shapes q06/q09 — the plans whose
    * regressions would cost the most at 100 TB. Round 9 adds the
    * as-of family's remaining shapes (VERDICT r8 missing #1): q69 is
    * the bench's single most expensive query (forced-bucketed as-of),
    * q29 the closest data-dominated query to the 2× gate, and q70 the
    * auto router's plain route at the production default target.
    */
  val picks: Seq[String] = Seq(
    // round-20 addition: the star-ladder sibling's semi-join probe
    // shape (BUILDING keyset → qualifying-orderkey broadcast → LEFT
    // SEMI lineitem probe → orderkey agg → top-k) — a pushdown or
    // build-side regression here re-opens the r19 q46 gate breach
    "q46_tpch_shipping",
    "ns_tokenize_vocab",
    "ns_text_tfidf_sim",
    "ns_dedup_ngram_jaccard",
    "ns_dedup_embed_cosine",
    "ns_text_quality",
    "q45_tpch_pricing",
    "q59_asof_join",
    "q64_tpch_big_orders",
    "ns_text_pii_redact",
    "q15_rank_ntile_seq",
    "ns_dedup_containment",
    "q06_star_join",
    "q09_agg_suite",
    "q29_asof_prior",
    "q69_asof_auto",
    "q70_asof_auto_default",
    // round-9 addition: the substring-dedup tier entered the top-5
    "ns_dedup_substring",
    // round-10 additions: the incremental probe is now the most
    // expensive committed query (in-plan index build), and the
    // paragraph tier's keep-first window is a new shuffle shape
    "ns_dedup_incremental",
    "ns_dedup_paragraph",
    // round-11 additions: the new scale-pattern shapes — the
    // distributed prefix sum (budget selection), its counting twin
    // (curriculum order), the bloom-prefiltered decontamination, the
    // sketch-tier incremental probe, and the corpus-LM two-pass
    "ns_select_budget",
    "ns_curriculum_order",
    "ns_decontaminate_bloom",
    "ns_dedup_incremental_minhash",
    "ns_score_lm",
    // round-12 additions: the PQ tier's ADC lookup join (codes ⨝
    // 32-row table, shortlist, 1-row-broadcast rerank) and the
    // distributed shard shuffle (range exchange + offsets twin)
    "ns_ann_pq_topk",
    "ns_shuffle_shards",
    // round-14 addition (VERDICT r13 #3): pin q47's width-honest
    // broadcast routing — the six-way TPC-H Q5 star must keep the
    // orders side on the BroadcastHashJoin plan at catalog scale
    "q47_tpch_local_volume")

  def fingerprint(df: DataFrame): String =
    normalize(df.queryExecution.sparkPlan.treeString)

  /** Strip what varies run-to-run (expression ids, plan ids, paths,
    * statistics, codegen ids) while keeping what defines the shape:
    * the operator tree, join strategies, pushed filters, read schemas,
    * partial/final aggregate modes, sort orders.
    */
  def normalize(plan: String): String =
    plan.linesIterator.map { l =>
      l.replaceAll("#\\d+", "#X")
        .replaceAll("plan_id=\\d+", "plan_id=X")
        .replaceAll("exprId=\\d+", "exprId=X")
        .replaceAll("cg\\d+", "cgX")
        // whole-stage-codegen span ids (`*(3) HashAggregate`): these
        // only reach a fingerprint inside an embedded EXECUTED subtree
        // (an InMemoryRelation's cached plan / an eager operator's AQE
        // stages), where the numbering depends on how many spans were
        // planned earlier in the JVM — numbering is not shape
        .replaceAll("\\*\\(\\d+\\)", "*(S)")
        // an eagerly-materialized cached subtree (EAGER operators like
        // componentLabels) embeds AQE stage ids numbered by a session-global
        // counter — how many stages ran before is not shape
        .replaceAll(
          "(Broadcast|Shuffle|TableCache|Result)QueryStage \\d+",
          "$1QueryStage X")
        // JVM identity hashes: array params to expressions print as
        // e.g. [J@58a89d50 — identity, different every run
        .replaceAll("@[0-9a-f]{4,}", "@X")
        // lambda variable names carry a session-global counter
        // (x_3 vs x_13 depending on how many lambdas were planned
        // earlier in the JVM) — counter is not shape
        .replaceAll("([a-z])_\\d+#", "$1_N#")
        // DataFilters is rendered THEN truncated at a fixed width, so
        // its cut point shifts with raw expression-id digit counts;
        // the same predicates appear un-truncated as Filter nodes and
        // PushedFilters, so the field carries no extra shape
        .replaceAll("DataFilters: .*?, Format:", "DataFilters: [...], Format:")
        .replaceAll("file:[^\\s,\\]\\)]+", "file:PATH")
        // Spark cuts a scan's Location at a fixed width, so a longer
        // checkout path can cut off the `]` after the path
        .replaceAll("\\[file:PATH\\]?", "[file:PATH]")
        .replaceAll("\\[\\d+ paths\\]", "[N paths]")
        .replaceAll("InMemoryFileIndex\\([^)]*\\)", "InMemoryFileIndex(...)")
        .replaceAll("Statistics\\([^)]*\\)", "Statistics(...)")
        .replaceAll("\\d+ more fields", "N more fields")
        // O(model) driver-side literals (the PQ probe vector / ADC
        // table, any future trained-model constant): their VALUES are
        // data, not shape — a testdata regen must not break the
        // golden. Collapse bracketed numeric lists and map literals.
        .replaceAll("map\\(keys: \\[[^\\]]*\\], values: \\[[^\\]]*\\]\\)",
          "map(keys: [...], values: [...])")
        .replaceAll("\\[(-?\\d[-0-9.,E]*)\\]", "[...]")
        // trailing whitespace differences are not shape
        .replaceAll("\\s+$", "")
    }.mkString("\n").trim + "\n"

  /** First line where two fingerprints diverge — assertion messages
    * need to point AT the regression, not dump two 200-line plans.
    */
  def firstDiff(a: String, b: String): String = {
    val as = a.linesIterator.toVector
    val bs = b.linesIterator.toVector
    val i = as.zip(bs).indexWhere { case (x, y) => x != y }
    if (i >= 0) s"line ${i + 1}:\n  golden: ${as(i)}\n  actual: ${bs(i)}"
    else if (as.length != bs.length)
      s"length differs: golden ${as.length} lines, actual ${bs.length}"
    else "identical"
  }
}
