package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}

/** q47's size-routed plans must be RESULT-identical: the broadcast
  * ladder (small qualifying-orders side) and the shuffle fallback (a
  * shuffled-hash join of the qualifying orders against lineitem, once
  * that side outgrows the broadcast budget) compute the same revenue
  * rows.
  */
class Q47RouteSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def scansLineitem(p: SparkPlan): Boolean =
    collect(p) { case s: FileSourceScanExec => s }
      .exists(_.relation.location.rootPaths.exists(_.getName.startsWith("lineitem")))

  test("q47 shuffle fallback (forced) equals the broadcast-ladder result") {
    val fn = SparkEntry.queries("q47_tpch_local_volume")
    val ladder = fn(spark, sfDir).collect().toSeq
    assert(ladder.nonEmpty)
    spark.conf.set("spark.graft.broadcast.maxBytes", "1")
    try {
      val df = fn(spark, sfDir)
      assert(df.collect().toSeq == ladder)
      // and the forced plan really took the shuffle route: the join
      // that reads lineitem is a shuffled-hash join
      val plan = df.queryExecution.executedPlan
      val lineitemJoins = collect(plan) {
        case j: BaseJoinExec if scansLineitem(j) => j
      }
      assert(lineitemJoins.nonEmpty &&
        lineitemJoins.forall(_.isInstanceOf[ShuffledHashJoinExec]),
        s"expected a ShuffledHashJoin over lineitem in the forced plan:\n$plan")
    } finally spark.conf.unset("spark.graft.broadcast.maxBytes")
  }
}
