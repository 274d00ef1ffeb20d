package graft

import graft.operators.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The custom grouped-top-k physical operator: must agree with the
  * declarative window rank-filter on arbitrary data, while planning
  * as the bounded-heap exec (no WindowExec, no full per-key sort).
  */
class TopKOperatorSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("randomized differential: custom operator == window rank-filter") {
    val gen = Gen.listOfN(300,
      Gen.zip(Gen.choose(1, 8), Gen.choose(0, 50), Gen.choose(0L, 1000000L)))
    samples(gen, 6).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.zipWithIndex
        .map { case ((k, v, s), id) => (k, v, s + id) } // unique tiebreak
        .toDF("k", "v", "uid")
      val fast = TopK.perKey(df, Seq("k"), Seq($"v".desc, $"uid"), 3)
        .select("k", "v", "uid").as[(Int, Int, Long)].collect().sorted
      val declarative = df.withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy($"v".desc, $"uid")))
        .filter($"rn" <= 3).drop("rn")
        .as[(Int, Int, Long)].collect().sorted
      assert(fast.toSeq == declarative.toSeq, s"sample $i diverged")
    }
  }

  test("the plan is the custom exec: no WindowExec, one clustering exchange") {
    val df = Catalog.table(spark, sfDir, "events")
      .select($"user_id", $"event_id", $"value")
    val plan = TopK.perKey(df, Seq("user_id"), Seq($"value".desc, $"event_id"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"custom exec missing:\n$plan")
    assert(!plan.contains("Window"), s"window fallback crept in:\n$plan")
  }

  test("per-key output is in sort order and capped at k") {
    val df = Seq((1, 5), (1, 9), (1, 1), (1, 7), (2, 3)).toDF("k", "v")
    val out = TopK.perKey(df, Seq("k"), Seq($"v".desc), 2)
      .select("k", "v").as[(Int, Int)].collect()
    assert(out.count(_._1 == 1) == 2)
    assert(out.filter(_._1 == 1).map(_._2).toSeq == Seq(9, 7),
      "within-key rows come back best-first")
    assert(out.filter(_._1 == 2).map(_._2).toSeq == Seq(3),
      "groups smaller than k survive whole")
  }

  test("hot key does not accumulate state beyond k rows") {
    // 100k rows on ONE key: the rank-filter form would buffer+sort
    // all of them; the heap keeps 5. Correctness proxy: result is
    // exactly the true top-5 of the hot key.
    val df = spark.range(100000)
      .select(lit(1).as("k"), (($"id" * 2654435761L) % 1000003L).as("v"))
    val top = TopK.perKey(df, Seq("k"), Seq($"v".desc), 5)
      .select("v").as[Long].collect().toSeq
    val expected = df.select("v").as[Long].collect().sorted.reverse.take(5).toSeq
    assert(top == expected, s"$top != $expected")
  }

  test("null keys group together, matching the window form's PARTITION BY") {
    // SQL window PARTITION BY puts all null keys in ONE partition —
    // the custom operator must do the same (ClusteredDistribution
    // hashes null consistently; the heap map keys on the null struct)
    val df = Seq((Some(1), 10), (None, 20), (None, 30), (None, 5))
      .toDF("k", "v")
    val fast = TopK.perKey(df, Seq("k"), Seq($"v".desc), 2)
      .select("k", "v").as[(Option[Int], Int)].collect().sorted
    val declarative = df.withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy($"v".desc)))
      .filter($"rn" <= 2).drop("rn")
      .as[(Option[Int], Int)].collect().sorted
    assert(fast.toSeq == declarative.toSeq)
    assert(fast.count(_._1.isEmpty) == 2, "null group keeps its own top-2")
  }

  test("spill path: randomized differential under a tiny row budget") {
    // budget 64 forces many sorted runs on every sample — the merge
    // must still agree with the window rank-filter exactly, including
    // keys whose rows straddle spill boundaries
    spark.conf.set("spark.graft.topk.maxBufferedRows", "64")
    try {
      val gen = Gen.listOfN(300,
        Gen.zip(Gen.choose(1, 8), Gen.choose(0, 50), Gen.choose(0L, 1000000L)))
      samples(gen, 4).zipWithIndex.foreach { case (rows, i) =>
        val df = rows.zipWithIndex
          .map { case ((k, v, s), id) => (k, v, s + id) }
          .toDF("k", "v", "uid")
        val fast = TopK.perKey(df, Seq("k"), Seq($"v".desc, $"uid"), 3)
          .select("k", "v", "uid").as[(Int, Int, Long)].collect().sorted
        val declarative = df.withColumn("rn", row_number().over(
            Window.partitionBy("k").orderBy($"v".desc, $"uid")))
          .filter($"rn" <= 3).drop("rn")
          .as[(Int, Int, Long)].collect().sorted
        assert(fast.toSeq == declarative.toSeq, s"spill sample $i diverged")
      }
    } finally spark.conf.unset("spark.graft.topk.maxBufferedRows")
  }

  test("distinct: order-ties dedup in-heap, matching distinct-then-topk") {
    // duplicate rows (the LSH band-join shape: a pair surfaces once
    // per matching band, up to 4 copies) must not occupy top-k slots;
    // the order ends in the unique uid so ties ARE duplicates
    val gen = Gen.listOfN(250,
      Gen.zip(Gen.choose(1, 6), Gen.choose(0, 30), Gen.choose(1, 4)))
    samples(gen, 4).zipWithIndex.foreach { case (rows, i) =>
      val base = rows.zipWithIndex.map { case ((k, v, dups), id) =>
        (k, v, id.toLong, dups) }
      val df = base.flatMap { case (k, v, uid, dups) =>
        Seq.fill(dups)((k, v, uid)) }.toDF("k", "v", "uid")
      val fast = TopK.perKey(df, Seq("k"), Seq($"v".desc, $"uid"), 3,
          distinct = true)
        .select("k", "v", "uid").as[(Int, Int, Long)].collect().sorted
      val declarative = df.distinct().withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy($"v".desc, $"uid")))
        .filter($"rn" <= 3).drop("rn")
        .as[(Int, Int, Long)].collect().sorted
      assert(fast.toSeq == declarative.toSeq, s"distinct sample $i diverged")
    }
  }

  test("distinct survives the spill-merge path (dups straddling runs)") {
    spark.conf.set("spark.graft.topk.maxBufferedRows", "32")
    try {
      val gen = Gen.listOfN(200,
        Gen.zip(Gen.choose(1, 5), Gen.choose(0, 20), Gen.choose(1, 4)))
      samples(gen, 3).zipWithIndex.foreach { case (rows, i) =>
        val df = rows.zipWithIndex.flatMap { case ((k, v, dups), id) =>
          Seq.fill(dups)((k, v, id.toLong)) }.toDF("k", "v", "uid")
          // repartition(1) so duplicates of one logical row land in the
          // same partition but in DIFFERENT sorted runs (budget 32)
          .repartition(1)
        val fast = TopK.perKey(df, Seq("k"), Seq($"v".desc, $"uid"), 3,
            distinct = true)
          .select("k", "v", "uid").as[(Int, Int, Long)].collect().sorted
        val declarative = df.distinct().withColumn("rn", row_number().over(
            Window.partitionBy("k").orderBy($"v".desc, $"uid")))
          .filter($"rn" <= 3).drop("rn")
          .as[(Int, Int, Long)].collect().sorted
        assert(fast.toSeq == declarative.toSeq,
          s"distinct spill sample $i diverged")
      }
    } finally spark.conf.unset("spark.graft.topk.maxBufferedRows")
  }

  test("spill guard: a million distinct keys per partition stays bounded") {
    // VERDICT r3 item 3: high distinct-key density must degrade to
    // sorted runs instead of growing the heap map unbounded. Budget
    // 5000 rows caps live heap state at ~5000 entries while 1M keys
    // stream through; the numSpills metric proves the guard engaged
    // (AQE off so the exec node's metrics are reachable in the plan).
    spark.conf.set("spark.graft.topk.maxBufferedRows", "5000")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 2M rows, 1M keys, 2 rows per key: top-1 by v desc is always
      // the second occurrence (v = k + 1M)
      val df = spark.range(2000000)
        .select(($"id" % 1000000).as("k"), $"id".as("v"))
      val out = TopK.perKey(df, Seq("k"), Seq($"v".desc), 1)
      // run THIS QueryExecution (count()/filter() build new ones whose
      // metrics we can't reach) — toRdd.count() executes the plan the
      // metric assertion below inspects
      assert(out.queryExecution.toRdd.count() == 1000000L)
      val exec = out.queryExecution.executedPlan.collectFirst {
        case e: graft.plans.TopKPerKeyExec => e
      }.getOrElse(fail("custom exec missing from plan"))
      val bad = out.filter($"v" =!= $"k" + 1000000L).count()
      assert(bad == 0, s"$bad keys lost their true top-1 across spills")
      assert(exec.metrics("numSpills").value > 0,
        "the run never spilled — the guard was not exercised")
      assert(exec.metrics("spilledRows").value > 0)
    } finally {
      spark.conf.unset("spark.graft.topk.maxBufferedRows")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("GraftExtensions injects the planner strategy at session build") {
    // the config path (spark.sql.extensions=graft.plans.GraftExtensions)
    // wires TopKStrategy through injectPlannerStrategy — assert the
    // suite's Engine.session plans with it, and that it did not come
    // from TopK's own experimental fallback, so deleting the injection
    // can't pass silently
    val strategies = org.apache.spark.sql.graft.Bridge.plannerStrategies(spark)
    assert(strategies.exists(_.isInstanceOf[graft.plans.TopKStrategy]),
      s"TopKStrategy missing from the session's strategies: $strategies")
    assert(!spark.experimental.extraStrategies
      .exists(_.isInstanceOf[graft.plans.TopKStrategy]),
      "TopKStrategy came from the experimental fallback, not the extension")
  }

  test("ensureStrategy does not stack duplicate strategies on repeat calls") {
    val keyed = Seq((1, 10), (1, 20), (2, 30)).toDF("k", "v")
    (1 to 3).foreach { _ =>
      val out = TopK.perKey(keyed, Seq("k"), Seq($"v".desc), 1)
        .select("k", "v").as[(Int, Int)].collect().sorted
      assert(out.toSeq == Seq((1, 20), (2, 30)))
    }
    val copies = spark.experimental.extraStrategies
      .count(_.isInstanceOf[graft.plans.TopKStrategy])
    assert(copies <= 1, s"duplicate TopKStrategy registrations: $copies")
  }
}
