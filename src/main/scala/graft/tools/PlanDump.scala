package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Engine, SparkEntry}

/** Dev tool: print plans of the engine session to stdout, two modes.
  * `docs/plan_golden/` is the committed plan record (QueryPlanSpec).
  *
  *  - `query ...`: EXPLAIN FORMATTED per named query — pushdown,
  *    pruning, broadcast, TakeOrdered, codegen spans.
  *    `sbt "runMain graft.tools.PlanDump q06_star_join"`.
  *  - `--fingerprint [query ...]`: print the normalized pre-AQE
  *    fingerprints (PlanGolden.fingerprint; all golden picks when no
  *    names given) — the one-invocation ".explain and iterate" loop.
  *    `sbt "runMain graft.tools.PlanDump --fingerprint ns_text_repetition"`.
  *
  * An existing directory argument is the sf dir (default sf0.001).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val unknown = flags.filterNot(_ == "--fingerprint")
    require(unknown.isEmpty,
      s"unknown flags ${unknown.mkString(",")} — only --fingerprint is " +
        "supported")
    // an sf-dir is recognized by being an existing directory (ADVICE
    // r9: the old leading-slash heuristic silently treated a relative
    // data dir as a query name)
    val (dirs, names) = rest.partition(a => Files.isDirectory(Paths.get(a)))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.001")
    val fingerprint = flags.contains("--fingerprint")
    require(fingerprint || names.nonEmpty,
      "name the queries to explain, or pass --fingerprint")
    val unknownQ = names.filterNot(SparkEntry.queries.contains)
    require(unknownQ.isEmpty,
      s"not a known query and not an existing directory: ${
        unknownQ.mkString(",")} (known queries: see SparkEntry.queries; " +
        "an sf-dir argument must exist on disk)")
    // the session hwbench times, at 4 cores like the plan goldens
    val spark = Engine.session("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    if (fingerprint) {
      val qs = if (names.nonEmpty) names.toSeq else PlanGolden.picks
      for (q <- qs) {
        println(s"=== $q ===")
        println(PlanGolden.fingerprint(
          graft.queries.Registry.queries(q)(spark, sfDir)))
      }
    } else {
      for (name <- names) {
        println(s"## $name")
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
