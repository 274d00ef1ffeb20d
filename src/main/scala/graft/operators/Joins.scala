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

  /** Wrap `df` in a broadcast hint when `sizeHint`'s plan-statistics
    * size — INFLATED to an in-memory hash-relation estimate — is at
    * most `maxBytes`; otherwise return `df` unchanged and let the
    * planner shuffle. Metadata-only routing: `sizeHint` statistics
    * come from file bytes (scans) or cache stats (InMemoryRelation)
    * — no Spark job runs.
    *
    * The inflation factor exists because the statistic and the cost
    * live in different units (ADVICE r13): a parquet scan's
    * sizeInBytes is COMPRESSED columnar file bytes, while the thing
    * executors must hold is a decompressed row-format hash relation
    * over the join OUTPUT — typically 3-6x the file bytes from
    * encoding alone, plus the hash-table overhead and any columns the
    * joined-in side adds. Comparing the raw stat against `maxBytes`
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
      maxBytes: Long = 256L << 20, inflation: Long = 8L,
      statsKey: String = null): DataFrame =
    if (fitsBroadcast(sizeHint, maxBytes, inflation, statsKey)) broadcast(df)
    else df

  /** The routing PREDICATE behind [[broadcastIfSmall]], exposed so a
    * caller can shape the REST of its plan around the same decision
    * (e.g. q47 hints a shuffled-hash join only on the shuffle route,
    * where the build side is no longer broadcast). The budget may be
    * overridden per session via `spark.graft.broadcast.maxBytes` —
    * the production-tuning knob, and the test seam that exercises the
    * shuffle route at toy scale. A value that is not a positive long
    * fails the query rather than silently falling back.
    */
  def fitsBroadcast(sizeHint: DataFrame, maxBytes: Long = 256L << 20,
      inflation: Long = 8L, statsKey: String = null): Boolean = {
    require(maxBytes > 0, "maxBytes must be positive")
    require(inflation > 0, "inflation must be positive")
    val budget = graft.Engine.positiveLongConf(sizeHint.sparkSession,
      "spark.graft.broadcast.maxBytes", maxBytes)
    // reading the hint's plan statistics runs an extra analyze +
    // optimize pass over the hint subtree at query-CONSTRUCTION time
    // — serial driver latency on the query's critical path. For
    // bare-parquet catalog inputs the statistic is a pure function of
    // the immutable files, so callers may pass a `statsKey`
    // (convention: "<dir>#<site>") to memoize it for the JVM
    // lifetime, the dimFoldCached discipline. Snapshot-versioned
    // inputs move under commits — such callers must keep the
    // per-call probe (statsKey = null).
    val (bytes, cachedStat) =
      if (statsKey == null) statsOf(sizeHint)
      else statsCache.computeIfAbsent(statsKey, _ => statsOf(sizeHint))
    // `inflation` converts COMPRESSED parquet file bytes to an
    // in-memory hash-relation estimate (see broadcastIfSmall). When
    // every leaf of the hint plan is an InMemoryRelation the statistic
    // is ALREADY in-memory columnar bytes — applying the full parquet
    // factor double-counts the decompression and mis-routes sides
    // whose true build is comfortably broadcastable (q47 at the sf3
    // trend point: cached-stat × 8 pushed a ~50 MB build onto a
    // 267 MB lineitem exchange). Over cached stats only the
    // row-format + hash-table overhead remains: factor 2.
    val eff = if (cachedStat) 2L.min(inflation) else inflation
    bytes * eff <= budget
  }

  private def statsOf(sizeHint: DataFrame): (BigInt, Boolean) = {
    val plan = sizeHint.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    val cached = leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
    (plan.stats.sizeInBytes, cached)
  }

  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (BigInt, Boolean)]()

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
    * with SF; that's [[broadcastIfSmall]]'s territory). The `maxRows`
    * cap (default 1024) is the contract's teeth: a mis-classified
    * growing dim fails the require at ANY scale rather than silently
    * ballooning driver memory — same bounded-collect discipline as
    * AsOf's one-row probes.
    *
    * Reference analog: the firmware folds its fixed slave registry
    * into the gather loop as compile-time constants
    * (master/master.ino:151-168) rather than re-discovering it per
    * poll.
    */
  def dimFold(df: DataFrame, cols: Seq[String],
      maxRows: Int = 1024): Seq[org.apache.spark.sql.Row] = {
    require(cols.nonEmpty, "dimFold needs at least one column")
    val rows = df.select(cols.head, cols.tail: _*)
      .limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"dimFold: ${cols.mkString(",")} exceeded $maxRows rows — this " +
        "dimension grows with scale; use broadcastIfSmall instead")
    rows.toSeq
  }

  private val foldCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), Seq[org.apache.spark.sql.Row]]()

  /** [[dimFold]] memoized for the JVM lifetime under a caller-chosen
    * key (convention: `"<dir>/<table>"`). Domain-constant dims are by
    * definition the same rows for the life of a session, so paying a
    * collect job per QUERY for the 25 nation rows is waste — the fold
    * is metadata, cached the way Catalog memoizes table DataFrames.
    * Do NOT use for snapshot-versioned tables (their content moves
    * under commits — take the per-call [[dimFold]] instead); the
    * bare-parquet catalog dims this exists for are immutable inputs.
    */
  def dimFoldCached(key: String, df: => DataFrame, cols: Seq[String],
      maxRows: Int = 1024): Seq[org.apache.spark.sql.Row] =
    foldCache.computeIfAbsent((key, cols), _ => dimFold(df, cols, maxRows))
}
