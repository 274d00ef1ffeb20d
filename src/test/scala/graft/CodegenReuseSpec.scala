package graft

import graft.queries.Registry
import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code compiles once per JVM (`Engine.codegenConfs`): a
  * second pass over the same queries finds every class in Spark's
  * generated-class cache. At Spark's defaults (100 entries, stage ids
  * in class names) the first pass's classes evict each other and the
  * second pass recompiles them.
  */
class CodegenReuseSpec extends SparkSpec {

  /** Core SQL queries whose classes together overflow the default cache,
    * plus the queries whose AQE stage numbering used to change between
    * executions (each compiled new classes on later executions).
    * `ns_dedup_substring` is not here although its numbering was fixed
    * too: AQE picks its candidate join's build side anew as stages finish,
    * so it compiles a second plan variant on whichever execution first
    * draws the other side (`Engine.codegenConfs`).
    */
  private val names = Seq(
    "q06_star_join", "q10_distinct_barrier", "q15_rank_ntile_seq",
    "q16_lag_running", "q19_set_ops", "q26_hourly_window",
    "ns_dedup_incremental", "ns_dedup_incremental_minhash",
    "ns_text_tfidf", "q53_lateral_topk")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles per query over one pass of `names`. */
  private def pass(): Seq[(String, Long)] = {
    val defs = Registry.all.map(q => q.name -> q).toMap
    names.map { n =>
      val c0 = compiles()
      defs(n).build(spark, sfDir).collect()
      n -> (compiles() - c0)
    }
  }

  test("a second pass over the same queries compiles no class") {
    val first = pass()
    info(s"first pass compiled ${first.map(_._2).sum} classes")
    val again = pass().filter(_._2 > 0)
    assert(again.isEmpty, s"recompiled on the second pass: ${again.mkString(", ")}")
  }
}
