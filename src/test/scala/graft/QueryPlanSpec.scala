package graft

import graft.queries.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** t1 physical-plan assertions (SURVEY.md §4.2, §5.2): the Catalyst
  * rewrites the engine relies on must actually appear in EXPLAIN —
  * predicate pushdown into parquet, column pruning, broadcast joins
  * for tiny dims, TakeOrderedAndProject for top-k. These are the
  * 100 TB-scale guarantees, checked at sf0.001.
  */
class QueryPlanSpec extends SparkSpec {

  private def planOf(name: String): DataFrame =
    Registry.queries(name)(spark, sfDir)

  private def explainStr(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      df.explain("formatted")
    }
    out.toString
  }

  test("q02: filter is pushed down to the parquet scan") {
    val e = explainStr(planOf("q02_filter_predicates"))
    assert(e.contains("PushedFilters: ["), e)
    assert(e.contains("l_returnflag"), e)
  }

  test("q02: column pruning — scan reads only cited columns") {
    val e = explainStr(planOf("q02_filter_predicates"))
    val readSchema = e.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice"),
      s"scan should not read uncited columns: $readSchema")
  }

  test("q05/q06: tiny dims join via BroadcastHashJoin") {
    assert(explainStr(planOf("q05_broadcast_join_case"))
      .contains("BroadcastHashJoin"))
    assert(explainStr(planOf("q06_star_join")).contains("BroadcastHashJoin"))
  }

  test("q07/q08: anti/semi joins plan as joins, not cartesian") {
    val e7 = explainStr(planOf("q07_anti_join"))
    val e8 = explainStr(planOf("q08_semi_join"))
    assert(e7.contains("LeftAnti"), e7)
    assert(e8.contains("LeftSemi"), e8)
    assert(!e7.contains("CartesianProduct"))
  }

  test("q18: top-k plans as TakeOrderedAndProject (no global sort)") {
    val e = explainStr(planOf("q18_topk"))
    assert(e.contains("TakeOrderedAndProject"), e)
  }

  test("q09: aggregate is partial+final (map-side combine)") {
    val e = explainStr(planOf("q09_agg_suite"))
    assert(e.contains("HashAggregate"), e)
    assert(e.toLowerCase.contains("partial"), e)
  }

  test("whole-stage codegen covers the scan-heavy paths") {
    // AQE finalizes codegen spans only at execution time; codegen'd
    // stages render as "*(n)" in the executed plan
    val df = planOf("q09_agg_suite")
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("*("), planStr)
  }

  test("ns sketches shuffle only on bucket/shingle keys, never n² pairs") {
    // minhash signing and banding (the dedup tier's signature path)
    // must be shuffle-free: narrow projections over documents
    val sigOnly = graft.operators.Dedup.bandedWithArray(
      graft.operators.Dedup.shingleSignatures(
        Catalog.table(spark, sfDir, "documents"), "doc_id", "text"))
    def countExchanges(p: SparkPlan): Int = {
      val self = p match {
        case _: Exchange => 1
        case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
        case _ => 0
      }
      self + p.children.map(countExchanges).sum
    }
    assert(countExchanges(sigOnly.queryExecution.executedPlan) == 0,
      "sketching must be a narrow transform")
  }

  test("dedup tier never force-broadcasts a full-corpus table") {
    // The signature / sizes / embedding tables are O(corpus) — at
    // 100 TB broadcasting one is tens of TB to every executor. The
    // verify joins must leave join-strategy choice to the optimizer
    // (AQE may still broadcast when the table is actually tiny), so
    // the analyzed plans must carry zero explicit broadcast hints.
    for (q <- Seq("ns_dedup_minhash_lsh", "ns_dedup_apply",
        "ns_dedup_ngram_jaccard", "ns_dedup_embed_cosine")) {
      val hints = planOf(q).queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.isEmpty,
        s"$q: forced-broadcast hint on an O(corpus) table: $hints")
    }
  }

  test("q29 as-of plans linearly: window over one sort, no self-join") {
    val e = explainStr(planOf("q29_asof_prior"))
    assert(!e.contains("Join"), s"as-of must not plan as a join:\n$e")
    assert(e.contains("Window"), e)
  }

  test("global sweep: no CartesianProduct anywhere; BNLJ only for declared tiny-side broadcasts") {
    // BroadcastNestedLoopJoin is legitimate ONLY when the broadcast
    // side is O(1) rows by construction (a probe vector / global count)
    // or a constant-size enum dim (q34's 5-row region self-theta).
    val bnljAllowed = Set(
      "q30_embedding_topk", "ns_ann_cosine_topk", "ns_ann_ivf_topk",
      "ns_ann_ivf_kmeans_topk", "ns_ann_lsh_topk", "ns_text_tfidf",
      "ns_text_tfidf_sim", "q34_theta_join",
      // 1-row-by-construction broadcasts: the int8 probe vector and
      // the corpus-scaled df-cap aggregate (the star row shares the
      // winnow-postings artifact and with it the df-cap broadcast)
      "ns_ann_int8_topk", "ns_dedup_substring", "ns_dedup_substring_star",
      // PQ rerank: 1-row probe-vector broadcast, same as the ANN tier
      "ns_ann_pq_topk")
    for ((name, fn) <- Registry.queries) {
      val e = explainStr(fn(spark, sfDir))
      assert(!e.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!bnljAllowed(name))
        assert(!e.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin on an undeclared side")
    }
  }

  test("ns_tokenize_vocab: fused in-row kernel, no join/explode in the plan") {
    // default route = the TokenIdStats kernel tier: the mapped query
    // is ONE narrow projection + the contract sort — no posexplode,
    // no join, no per-doc aggregation exchange (the vocab build runs
    // as its own model-sized top-k job at construction)
    val e = explainStr(planOf("ns_tokenize_vocab"))
    assert(e.contains("graft_token_id_stats"), e)
    assert(!e.contains("Join"), e)
    assert(!e.contains("Generate"), e)
    // the big-vocab tier keeps the broadcast-join scale shape:
    // distributed top-k vocab cut, BHJ mapping, map-side combine
    val big = explainStr(graft.operators.Curate.tokenizeWithVocab(
      spark.read.parquet(s"$sfDir/documents.parquet"),
      "doc_id", "text", vocabSize = 16, inRowMaxVocab = 0))
    assert(big.contains("TakeOrderedAndProject"), big)
    assert(big.contains("BroadcastHashJoin"), big)
  }

  test("golden plan fingerprints: the top expensive plans keep their shape") {
    // VERDICT r7 item 5: a pushdown / join-order / strategy regression
    // in a headline query must fail the suite, not hide in bench noise.
    // Regenerate with: GRAFT_REGEN_PLANS=1 sbt "testOnly graft.QueryPlanSpec"
    import java.nio.file.{Files, Paths}
    // Fingerprints must capture the RAW operator shape, independent of
    // which specs (or none — a `-z golden` run) executed earlier in
    // this JVM: the artifact store (PipelineQueries.memo) persists +
    // materializes shared artifacts at query-CONSTRUCTION time, so a
    // pick that is the first-ever reference to an artifact would
    // register a cache entry mid-loop and every later pick would
    // fingerprint an InMemoryRelation substitution instead of its own
    // operator tree (the r15 poisoned regen). Construct every pick
    // once to force all artifact creation, THEN clear the cache — the
    // store survives and a hit returns its frame untouched, so the
    // fingerprint pass below rebuilds no artifact and substitutes no
    // cache, whatever ran before.
    graft.tools.PlanGolden.picks.foreach { name =>
      Registry.queries(name)(spark, sfDir); ()
    }
    spark.catalog.clearCache()
    // this checkout's goldens: the forked test JVM runs in the repo root
    val dir = Paths.get("docs", "plan_golden")
    val regen = sys.env.contains("GRAFT_REGEN_PLANS")
    if (regen) Files.createDirectories(dir)
    val failures = graft.tools.PlanGolden.picks.flatMap { name =>
      val fp = graft.tools.PlanGolden.fingerprint(
        Registry.queries(name)(spark, sfDir))
      val f = dir.resolve(s"$name.txt")
      if (regen) { Files.writeString(f, fp); None }
      else if (!Files.exists(f))
        Some(s"$name: missing golden $f — regenerate with GRAFT_REGEN_PLANS=1")
      else {
        val want = Files.readString(f)
        if (fp == want) None
        else Some(s"$name: physical plan shape changed vs docs/plan_golden/" +
          s"$name.txt (${graft.tools.PlanGolden.firstDiff(want, fp)}) — if " +
          "intentional, regenerate with GRAFT_REGEN_PLANS=1")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("smoke: entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
