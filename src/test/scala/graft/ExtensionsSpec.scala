package graft

import java.sql.Timestamp

import graft.streaming.TelemetryPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions SQL surface + the W3 delta-alert stream. Uses its
  * own session (extensions bind at session build time).
  */
class ExtensionsSpec extends AnyFunSuite {

  test("graft_* functions resolve and match the DataFrame-API results") {
    // Engine.session binds GraftExtensions at build time
    val s = SparkSpecBase.spark
    import s.implicits._
    val dot = s.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").as[Double].head()
    assert(dot == 11.0)
    val sig = s.sql(
      """SELECT graft_minhash_sig(
           graft_hex60_array(array('the quick brown', 'quick brown fox')), 4)
      """).as[Seq[Long]].head()
    assert(sig.length == 4 && sig.forall(_ >= 0))
    val sh = s.sql(
      "SELECT graft_shingle_hash60(array('a','b','c','d'), 3)")
      .as[Seq[Long]].head()
    assert(sh.length == 2) // "a b c", "b c d"
    val cg = s.sql("SELECT graft_chargram_minhash('hello world', 5)")
      .as[Long].head()
    assert(cg > 0)
  }

  test("HLL sketches merge: per-shard sketches union to the global estimate") {
    // the 100 TB distinct-count pattern: build an hll sketch per
    // partition/day at write time, MERGE sketches at query time —
    // never rescan history. Spark 4's datasketches functions make the
    // sketch a first-class aggregatable value.
    val s = SparkSpecBase.spark
    import s.implicits._
    val df = (1 to 10000).map(i => (i % 7, (i % 1000).toLong))
      .toDF("shard", "uid")
    val global = df.selectExpr("hll_sketch_estimate(hll_sketch_agg(uid)) AS est")
      .as[Long].head()
    val merged = df.groupBy("shard")
      .agg(org.apache.spark.sql.functions.expr("hll_sketch_agg(uid)").as("sk"))
      .selectExpr("hll_sketch_estimate(hll_union_agg(sk)) AS est")
      .as[Long].head()
    assert(merged == global,
      s"merged-sketch estimate $merged must equal single-pass $global")
    // estimate is within HLL error of the true 1000
    assert(math.abs(merged - 1000) < 50, merged.toString)
  }

  test("quantile sketches: lossless regime exact, lossy merge within bounded rank error") {
    val s = SparkSpecBase.spark
    import s.implicits._
    import graft.functions.{QuantileSketch => QS}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val probs = Seq(0.25, 0.5, 0.75, 0.9)

    // LOSSLESS: n (2000) ≤ k (4096) — per-shard sketches unioned must
    // equal the exact percentile_disc answer over the raw values,
    // regardless of sharding
    val vals = new scala.util.Random(18).shuffle((1 to 2000).toVector)
    val df = vals.zipWithIndex
      .map { case (v, i) => (i % 13, v.toDouble) }.toDF("shard", "x")
    val exact = {
      val sorted = vals.sorted
      probs.map(q => sorted(math.ceil(q * sorted.size).toInt - 1).toDouble)
    }
    val merged = df.groupBy("shard").agg(QS.sketchAgg($"x").as("sk"))
      .agg(QS.sketchUnionAgg($"sk").as("sk"))
      .select(QS.sketchQuantiles($"sk", probs)).as[Seq[Double]].head()
    assert(merged == exact, s"lossless union must be exact: $merged vs $exact")
    val direct = df.agg(QS.sketchAgg($"x").as("sk"))
      .select(QS.sketchQuantiles($"sk", probs)).as[Seq[Double]].head()
    assert(direct == exact, s"lossless direct must be exact: $direct")

    // LOSSY: n = 200k uniform values with k = 256 — compaction is
    // heavy (n/k ≈ 800), and the merged-sketch answer must land
    // within a bounded RANK error of the truth. KLL's bound is
    // O(log(n/k)/k); assert the generous envelope 5% the profiling
    // use-case needs.
    val big = s.range(0, 200000)
      .select((col("id") % 16).as("shard"),
        pmod(col("id") * 2654435761L, lit(200000L)).cast("double").as("x"))
    val lossy = big.groupBy("shard").agg(QS.sketchAgg($"x", k = 256).as("sk"))
      .agg(QS.sketchUnionAgg($"sk").as("sk"))
      .select(QS.sketchQuantiles($"sk", probs)).as[Seq[Double]].head()
    probs.zip(lossy).foreach { case (q, v) =>
      val rankErr = math.abs(v / 200000.0 - q) // x is its own rank/n here
      assert(rankErr <= 0.05, s"q=$q: value $v rank error $rankErr > 5%")
    }
  }

  test("quantile/frequency sketch edges: empties, nulls, deep-compaction round-trip") {
    val s = SparkSpecBase.spark
    import s.implicits._
    import graft.functions.{FrequencySketch => FS, QuantileSketch => QS}
    import org.apache.spark.sql.functions.{col, explode, lit}
    // all-null input → empty sketch → NaN quantiles, empty top-k
    // (never a throw): the per-shard pattern hits this on empty shards
    val nulls = Seq.fill(5)(Option.empty[Double]).toDF("x")
    val q = nulls.agg(QS.sketchAgg($"x").as("sk"))
      .select(QS.sketchQuantiles($"sk", Seq(0.5))).as[Seq[Double]].head()
    assert(q.length == 1 && q.head.isNaN, q.toString)
    val strs = Seq.fill(5)(Option.empty[String]).toDF("w")
    val top = strs.agg(FS.freqAgg($"w", 8).as("sk"))
      .select(explode(FS.freqTopK($"sk", 3))).count()
    assert(top == 0L, "empty summary yields no top-k rows")
    // deep compaction state survives serialize→union→query: a lossy
    // sketch unioned with an empty one must answer exactly like the
    // original (the stored-column read-back path)
    val big = s.range(0, 50000).select((col("id") % 9973).cast("double").as("x"))
    val direct = big.agg(QS.sketchAgg($"x", k = 128).as("sk"))
      .select(QS.sketchQuantiles($"sk", Seq(0.25, 0.75))).as[Seq[Double]].head()
    val viaUnion = big.agg(QS.sketchAgg($"x", k = 128).as("sk"))
      .unionByName(nulls.agg(QS.sketchAgg($"x", k = 128).as("sk")))
      .agg(QS.sketchUnionAgg($"sk").as("sk"))
      .select(QS.sketchQuantiles($"sk", Seq(0.25, 0.75))).as[Seq[Double]].head()
    assert(viaUnion == direct,
      s"union with empty must be identity: $viaUnion vs $direct")
    // and the lossy answers stay within rank bounds
    direct.zip(Seq(0.25, 0.75)).foreach { case (v, p) =>
      assert(math.abs(v / 9973.0 - p) < 0.08, s"q=$p got $v")
    }
  }

  test("W3: weight-delta alert stream fires only past the threshold") {
    val s = SparkSpecBase.spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(x: String) = Timestamp.valueOf(x)
    val input = MemoryStream[TelemetryPipeline.RoundReading]
    val q = TelemetryPipeline.weightDeltaAlerts(input.toDS(), 500.0)
      .writeStream.format("memory").queryName("alerts_out")
      .outputMode("append").start()
    try {
      input.addData(
        TelemetryPipeline.RoundReading("H0001", ts("2024-01-01 00:00:00"), 32000),
        TelemetryPipeline.RoundReading("H0001", ts("2024-01-01 01:00:00"), 32100), // +100: no alert
        TelemetryPipeline.RoundReading("H0001", ts("2024-01-01 02:00:00"), 31000), // -1100: alert
        TelemetryPipeline.RoundReading("H0002", ts("2024-01-01 00:00:00"), 28000)) // first: no alert
      q.processAllAvailable()
      val alerts = s.table("alerts_out")
        .as[TelemetryPipeline.DeltaAlert].collect()
      assert(alerts.length == 1)
      assert(alerts.head.device_code == "H0001")
      assert(alerts.head.delta_g == -1100.0)
    } finally q.stop()
  }
}
