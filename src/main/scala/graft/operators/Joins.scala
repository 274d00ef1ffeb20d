package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-routed join planning helpers — the join-side analog of
  * [[AsOf.autoPlan]]'s disclosed routing pattern: read cheap
  * driver-side plan statistics, pick the plan shape those statistics
  * justify, never hardcode a size assumption into query code.
  *
  * Reference analog: the firmware sizes its gather loop off the fixed
  * slave registry (master/master.ino:151-168) — plan decisions come
  * from known cardinalities, not hope.
  */
object Joins {

  /** The broadcast budget, unless `spark.graft.broadcast.maxBytes`
    * overrides it. */
  private val MaxBytes = 256L << 20

  /** The row cap of [[dimFold]]. */
  private val MaxFoldRows = 1024

  /** Wrap `df` in a broadcast hint when `sizeHint`'s plan-statistics
    * size — INFLATED to an in-memory hash-relation estimate — is at
    * most the 256 MB budget; otherwise return `df` unchanged and let
    * the planner shuffle. Metadata-only routing: `sizeHint` statistics
    * come from file bytes (scans) or cache stats (InMemoryRelation)
    * — no Spark job runs.
    *
    * The inflation factor exists because the statistic and the cost
    * live in different units (ADVICE r13): a parquet scan's
    * sizeInBytes is COMPRESSED columnar file bytes, while the thing
    * executors must hold is a decompressed row-format hash relation
    * over the join OUTPUT — typically 3-6x the file bytes from
    * encoding alone, plus the hash-table overhead and any columns the
    * joined-in side adds. Comparing the raw stat against the budget
    * would admit a "256 MB" side that materializes as multi-GB per
    * executor — the exact OOM this routing exists to avoid (Spark's
    * own autoBroadcastJoinThreshold defaults to 10 MB for the same
    * reason). `inflation` = 8 is a deliberately conservative multiple
    * of the observed parquet-to-hash-relation blowup on the catalog
    * tables; with the 256 MB default budget it admits file stats up
    * to 32 MB.
    *
    * Pass `sizeHint` PROJECTED to the columns the broadcast output
    * actually carries after pruning (e.g. `o.select("o_orderkey")`
    * when only the join key survives): plan statistics scale
    * sizeInBytes by output-row width, so an un-projected hint charges
    * the broadcast side for columns the optimizer will drop and
    * pushes borderline sides onto the shuffle plan (q47 at sf1 —
    * BENCH_TREND r13 measured the shuffle plan 4.5× off the oracle's
    * hash join).
    *
    * Contract: `df` must be a NON-GROWING derivation of `sizeHint` —
    * filters, projections, and joins that match each `sizeHint` row
    * at most once (e.g. an FK-side equi-join against a dimension), so
    * the single-table statistic is a true upper bound on the
    * broadcast side's ROW COUNT at ANY scale. Join-OUTPUT statistics
    * without CBO are multiplicative guesses; the input-table statistic
    * is exact, which is what makes this routing honest at 100 TB: a
    * fact side that outgrows the budget routes to the shuffle plan
    * instead of an executor OOM.
    */
  def broadcastIfSmall(df: DataFrame, sizeHint: DataFrame,
      inflation: Long = 8L): DataFrame =
    if (fitsBroadcast(sizeHint, inflation)) broadcast(df) else df

  /** The routing PREDICATE behind [[broadcastIfSmall]], exposed so a
    * caller can shape the REST of its plan around the same decision
    * (e.g. q47 hints a shuffled-hash join only on the shuffle route,
    * where the build side is no longer broadcast). The budget may be
    * overridden per session via `spark.graft.broadcast.maxBytes` —
    * the production-tuning knob, and the test seam that exercises the
    * shuffle route at toy scale. A value that is not a positive long
    * fails the query rather than silently falling back.
    */
  def fitsBroadcast(sizeHint: DataFrame, inflation: Long = 8L): Boolean = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    require(inflation > 0, "inflation must be positive")
    val budget = graft.Engine.positiveLongConf(sizeHint.sparkSession,
      "spark.graft.broadcast.maxBytes", MaxBytes)
    val plan = sizeHint.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    // `inflation` converts COMPRESSED parquet file bytes to an
    // in-memory hash-relation estimate (see broadcastIfSmall). When
    // every leaf of the hint plan is an InMemoryRelation the statistic
    // is ALREADY in-memory columnar bytes — applying the full parquet
    // factor double-counts the decompression and mis-routes sides
    // whose true build is comfortably broadcastable (q47 at the sf3
    // trend point: cached-stat × 8 pushed a ~50 MB build onto a
    // 267 MB lineitem exchange). Over cached stats only the
    // row-format + hash-table overhead remains: factor 2. (A cache
    // that is not materialized yet reports its source plan's parquet
    // bytes, so the estimate tightens once it loads.)
    val cached = leaves.nonEmpty &&
      leaves.forall(_.isInstanceOf[InMemoryRelation])
    val eff = if (cached) 2L.min(inflation) else inflation
    plan.stats.sizeInBytes * eff <= budget
  }

  /** Fold a CONSTANT-cardinality dimension to the driver as plain
    * rows, with a hard cap that fails loudly if the "constant" claim
    * is wrong. For dims whose cardinality is fixed by the DOMAIN, not
    * the scale factor (region = 5, nation = 25 in the TPC-H model —
    * they are the same 25 rows at sf0.001 and at 100 TB), a broadcast
    * join is pure overhead: each one costs a full Spark job (scan →
    * collect → hash-relation build → broadcast) on the query's
    * critical path. Folding turns the join into a pushed-down
    * `IN (literal keys)` scan filter or a literal-map lookup — zero
    * jobs, and the predicate reaches the parquet row-group pruner.
    *
    * This is NOT for customer/part/supplier-class dims (they grow
    * with SF; that's [[broadcastIfSmall]]'s territory). The 1024-row
    * cap ([[MaxFoldRows]]) is the contract's teeth: a mis-classified
    * growing dim fails the require at ANY scale rather than silently
    * ballooning driver memory — same bounded-collect discipline as
    * AsOf's one-row probes.
    *
    * Reference analog: the firmware folds its fixed slave registry
    * into the gather loop as compile-time constants
    * (master/master.ino:151-168) rather than re-discovering it per
    * poll.
    */
  def dimFold(df: DataFrame, cols: Seq[String]): Seq[org.apache.spark.sql.Row] = {
    require(cols.nonEmpty, "dimFold needs at least one column")
    val rows = df.select(cols.head, cols.tail: _*)
      .limit(MaxFoldRows + 1).collect()
    require(rows.length <= MaxFoldRows,
      s"dimFold: ${cols.mkString(",")} exceeded $MaxFoldRows rows — this " +
        "dimension grows with scale; use broadcastIfSmall instead")
    rows.toSeq
  }
}
