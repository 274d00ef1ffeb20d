package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every declared
  * query at SPARK_GRAFT_SF_DIR on SPARK_GRAFT_CPUS cores and prints
  * ONE JSON record with per-query seconds. Queries are fully
  * materialized through the `noop` sink (count() would let Catalyst
  * prune the projections being measured).
  *
  * The session is `Engine.session(local[cpus])`, the one `Verify`
  * dumps the oracle results from and `hwbench/` times. The
  * repository's benchmark for performance claims is `hwbench/` (see
  * README); this record is the per-query view.
  */
object Bench {

  /** Client threads of the pooled (multi-tenant) pass. */
  private val Par = 8

  /** Sequential reps per query in the isolated pass. */
  private val IsoReps = 3

  private def runOne(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : (String, Double) = {
    val t0 = System.nanoTime()
    val ok =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      // one failing query must not end the run: it is logged and
      // counted in n_failed / iso_n_failed below
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    // a failed query must not masquerade as a fast one
    name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
  }

  def main(args: Array[String]): Unit = {
    // Sampled before ANY bench work: the only loadavg reading that is
    // purely EXTERNAL load. loadavg_before (pre-isolated-pass) is
    // self-inflated by the pooled phase's own residue.
    val loadStart = readLoadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(s"local[${cpus()}]")
    try run(spark, sfDir, args.toSet, loadStart)
    finally spark.stop()
  }

  private def run(spark: SparkSession, sfDir: String, only: Set[String],
      loadStart: String): Unit = {
    // Warm path outside the timed region: the in-memory columnar cache
    // for the catalog tables (every query builds on Catalog's memoized
    // DataFrames, so all timed queries read the columnar cache —
    // measuring engine compute, not repeated cold parquet scans; the
    // DuckDB baseline likewise re-reads from the OS page cache) and the
    // shared dedup/ANN-tier artifacts (PipelineQueries.warmShared). A
    // failure here fails the run: timing the cold path instead would
    // report a different benchmark under the same name.
    Catalog.tableNames.foreach(t => Catalog.table(spark, sfDir, t).cache().count())
    graft.queries.PipelineQueries.warmShared(spark, sfDir)

    // optional args = dev-loop query filter (driver passes none)
    val work = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // Pooled pass: most queries cannot fill the cores on their own at
    // this sf, so submit from a small client pool (the multi-tenant
    // shape a real engine serves) so tiny jobs overlap. Alphabetical
    // submission clusters the CPU-heavy families (ns_text_*,
    // ns_dedup_*) into the same pool slots; interleave
    // deterministically by name hash instead.
    val spread = work.sortBy { case (n, _) =>
      java.util.UUID.nameUUIDFromBytes(n.getBytes).toString
    }
    val compiles0 = compiles()
    val wall0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Par)
    val results: Seq[(String, Double)] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        spread.map { case (name, fn) =>
          scala.concurrent.Future(runOne(spark, sfDir, name, fn))
        }.map(f =>
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val compiles1 = compiles()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)

    // Isolated pass: every query ALONE — sequential, all cores to
    // itself, IsoReps runs — keeping [min, median, max] per query. The
    // rep spread is the in-band contention signal the pooled numbers
    // cannot give.
    val loadBefore = readLoadAvg()
    val isolated: Seq[(String, Double, Double, Double)] =
      work.map { case (name, fn) =>
        val ok = (1 to IsoReps).map(_ => runOne(spark, sfDir, name, fn)._2)
          .filter(_ >= 0).sorted
        // median of the successful reps; all-failed keeps the sentinel
        if (ok.isEmpty) (name, -1.0, -1.0, -1.0)
        else (name, ok(ok.length / 2), ok.head, ok.last)
      }
    val loadAfter = readLoadAvg()
    val compiles2 = compiles()
    val isoQs = isolated.map { case (k, med, _, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val isoReps3 = isolated.map { case (k, med, mn, mx) =>
      "\"" + k + "\":[" + mn + "," + med + "," + mx + "]"
    }.mkString("{", ",", "}")
    val isoOk = isolated.filter(_._2 >= 0)
    val isoSum = isoOk.map(_._2).sum
    val isoMinSum = isoOk.map(_._3).sum
    val isoNFailed = isolated.count(_._2 < 0)
    // Contended = the median sum drifts more than 1.25× off the
    // best-case (min-rep) sum: ~1.075× on a quiet capture, and it
    // scales with the inflation a contended capture reports. Load that
    // poisons all reps equally is what the loadavg fields are for.
    val contended = isoMinSum > 0 && isoSum / isoMinSum > 1.25
    // Headline `value` = the isolated median sum. If ANY isolated
    // query failed, that is a partial sum that would make a breakage
    // look like a speedup — fall back to the pooled wall.
    val value = if (isolated.nonEmpty && isoNFailed == 0) isoSum else wallSec
    val summary =
      s""""metric":"total","value":$value,"unit":"sec","n_failed":$nFailed,"iso_n_failed":$isoNFailed,"codegen_compiles":${compiles1 - compiles0},"iso_codegen_compiles":${compiles2 - compiles1},"contended":$contended,"loadavg_start":"$loadStart","loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","sf":"$sfDir""""
    val detail =
      s"""{$summary,"queries":$qs,"queries_isolated":$isoQs,"isolated_reps_detail":$isoReps3}"""
    // Full per-query detail: one (long) line + a file copy. The LAST
    // line printed is a short summary that always fits a tail capture.
    println(detail)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"), detail + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] bench_full.json not written: $e")
    }
    println(s"""{$summary,"n_queries":${results.size}}""")
  }

  /** Classes Janino has compiled in this JVM: each miss of Spark's
    * generated-class cache counts once, so a pass whose plans were all
    * compiled before adds 0 (see `Engine.codegenConfs`).
    */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `SPARK_GRAFT_CPUS`, the core count of Bench's and Verify's
    * sessions; the JVM's processors when unset.
    */
  private[graft] def cpus(): Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** First three fields of /proc/loadavg ("1m 5m 15m"), or "" off-Linux.
    * External load is the usual cause of rep spread; having it in-band
    * lets a flagged capture be attributed without re-running.
    */
  private def readLoadAvg(): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim
      s.split("\\s+").take(3).mkString(" ")
    } catch { case _: java.io.IOException => "" }
}
