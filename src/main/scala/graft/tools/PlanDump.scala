package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Bench, SparkEntry}

/** Dev tool, two modes:
  *
  *  - default: dump EXPLAIN FORMATTED for representative queries into
  *    docs/PLANS.md so plan-level properties (pushdown, pruning,
  *    broadcast, TakeOrdered, codegen spans) are reviewable without
  *    running anything. `sbt "runMain graft.tools.PlanDump"`.
  *  - `--fingerprint [query ...]`: print the normalized pre-AQE
  *    fingerprints (PlanGolden.fingerprint; all golden picks when no
  *    names given) — the one-invocation ".explain and iterate" loop.
  *    `sbt "runMain graft.tools.PlanDump --fingerprint ns_text_repetition"`.
  */
object PlanDump {
  val picks = Seq(
    "q02_filter_predicates", "q06_star_join", "q09_agg_suite",
    "q14_latest_per_key", "q18_topk", "q29_asof_prior", "q33_range_join",
    "q52_calibration_dim_join", "ns_dedup_minhash_lsh",
    "ns_dedup_embed_cosine", "ns_dedup_components", "ns_ann_cosine_topk",
    "ns_pack_sequences",
    // round 3: join-free linear as-of, batch ANN, chunking, and the
    // custom bounded-heap top-k physical operator
    "q59_asof_join", "q60_gapfill_ffill", "ns_ann_batch_topk",
    "ns_chunk_documents", "q66_topk_per_key",
    // round 9: skew-adaptive as-of routing (both routes), the native
    // repetition/winnowing tiers, and the quantized ANN serving path
    "q69_asof_auto", "q70_asof_auto_default", "ns_text_repetition",
    "ns_dedup_substring", "ns_ann_int8_topk",
    // round 10: incremental probe against the standing index, and the
    // paragraph-tier keep-first window
    "ns_dedup_incremental", "ns_dedup_paragraph",
    // round 12: PQ/ADC serving tier and the balanced shard shuffle
    "ns_ann_pq_topk", "ns_shuffle_shards")

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val unknown = flags.filterNot(_ == "--fingerprint")
    require(unknown.isEmpty,
      s"unknown flags ${unknown.mkString(",")} — only --fingerprint is " +
        "supported (a typo must not silently rewrite docs/PLANS.md)")
    // an sf-dir is recognized by being an existing directory (ADVICE
    // r9: the old leading-slash heuristic silently treated a relative
    // data dir as a query name)
    val (dirs, names) = rest.partition(a => Files.isDirectory(Paths.get(a)))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.001")
    val unknownQ = names.filterNot(SparkEntry.queries.contains)
    require(unknownQ.isEmpty,
      s"not a known query and not an existing directory: ${
        unknownQ.mkString(",")} (known queries: see SparkEntry.queries; " +
        "an sf-dir argument must exist on disk)")
    // the session Bench times, at 4 cores
    val spark = Bench.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    if (flags.contains("--fingerprint")) {
      val qs = if (names.nonEmpty) names.toSeq else PlanGolden.picks
      for (q <- qs) {
        println(s"=== $q ===")
        println(PlanGolden.fingerprint(
          graft.queries.Registry.queries(q)(spark, sfDir)))
      }
    } else if (names.nonEmpty) {
      // named queries inspect to stdout — never overwrite PLANS.md
      for (name <- names) {
        println(s"## $name")
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
      }
    } else {
      val sb = new StringBuilder
      sb.append(s"# Physical plans (EXPLAIN FORMATTED, ${
        Paths.get(sfDir).getFileName})\n\n")
      sb.append("Generated by `graft.tools.PlanDump`. Things to check per\n")
      sb.append("plan: `PushedFilters`/`ReadSchema` on scans (pushdown +\n")
      sb.append("pruning), `BroadcastHashJoin` for dims,\n")
      sb.append("`TakeOrderedAndProject` for top-k, partial+final\n")
      sb.append("`HashAggregate`, and `WholeStageCodegen` span ids.\n")
      picks.foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      }
      Files.createDirectories(Paths.get("docs"))
      Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
      println(s"wrote docs/PLANS.md (${picks.size} plans)")
    }
    spark.stop()
  }
}
