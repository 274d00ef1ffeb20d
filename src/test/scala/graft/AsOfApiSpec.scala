package graft

import graft.operators.AsOf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The public as-of join operator over arbitrary frames: linear
  * union+window plan, inclusive/strict match, null handling, and
  * same-row atomicity of multi-column values.
  */
class AsOfApiSpec extends SparkSpec {
  import spark.implicits._

  private val probe = Seq(
    (1L, 1L, 10L), // user 1 at t=10
    (2L, 1L, 20L),
    (3L, 1L, 5L),  // before any build row
    (4L, 2L, 50L),
    (5L, 3L, 50L)  // user with no build rows at all
  ).toDF("event_id", "k", "t")

  private val build = Seq(
    (1L, 10L, "a", 100.0),
    (1L, 15L, "b", 200.0),
    (2L, 50L, "c", 300.0)
  ).toDF("k", "t", "tag", "amount")

  /** [[AsOf.joinLatestAuto]] routed by a fresh [[AsOf.autoPlan]]
    * probe at `target` rows per task. */
  private def auto(p: DataFrame, b: DataFrame, pk: String, bk: String,
      pt: String, bt: String, valueCols: Seq[String], strict: Boolean,
      target: Long): DataFrame =
    AsOf.joinLatestAuto(p, b, Seq(pk), Seq(bk), pt, bt, valueCols, strict,
      AsOf.autoPlan(p, b, Seq(pk), Seq(bk), pt, bt,
        targetRowsPerTask = target),
      tieBreak = Nil)

  test("inclusive match takes the latest build row with t <= probe t") {
    val out = AsOf.joinLatest(probe, build, Seq("k"), Seq("k"), "t", "t",
      valueCols = Seq("tag", "amount"))
      .select("event_id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(out(1L).contains("a"))  // t=10 matches the t=10 build row
    assert(out(2L).contains("b"))  // latest prior is t=15
    assert(out(3L).isEmpty)        // nothing at or before t=5
    assert(out(4L).contains("c"))  // equal time matches
    assert(out(5L).isEmpty)        // key never appears in build
  }

  test("strict match excludes build rows at the probe's exact time") {
    val out = AsOf.joinLatest(probe, build, Seq("k"), Seq("k"), "t", "t",
      valueCols = Seq("tag"), strict = true)
      .select("event_id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(out(1L).isEmpty)        // t=10 build row no longer visible
    assert(out(4L).isEmpty)        // equal time excluded
    assert(out(2L).contains("b"))  // strictly-prior rows still match
  }

  test("value columns stay atomic: both come from the same build row") {
    val out = AsOf.joinLatest(probe, build, Seq("k"), Seq("k"), "t", "t",
      valueCols = Seq("tag", "amount"))
      .filter($"event_id" === 2L)
      .select("tag", "amount").as[(String, Double)].head()
    assert(out == ("b", 200.0), out.toString)
  }

  test("null keys and null times never match; probe rows survive") {
    val p = Seq((1L, Some(1L), Some(10L)), (2L, None, Some(10L)),
      (3L, Some(1L), None))
      .toDF("event_id", "k", "t")
    val b = Seq((Some(1L), Some(5L), "x"), (None, Some(1L), "nullkey"),
      (Some(1L), None, "nulltime"))
      .toDF("k", "t", "tag")
    val out = AsOf.joinLatest(p, b, Seq("k"), Seq("k"), "t", "t", Seq("tag"))
      .select("event_id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(out.size == 3, "left join keeps every probe row")
    assert(out(1L).contains("x"))
    assert(out(2L).isEmpty, "null probe key matches nothing")
    assert(out(3L).isEmpty, "null probe time matches nothing")
  }

  test("multi-key as-of: compound (entity, metric) keys match independently") {
    val p = Seq(
      (1L, 1L, "w", 10L),  // device 1, weight stream
      (2L, 1L, "t", 10L),  // device 1, temperature stream
      (3L, 1L, "w", 3L),   // before any weight build row
      (4L, 2L, "w", 10L)   // device 2: no build rows
    ).toDF("event_id", "dev", "metric", "t")
    val b = Seq(
      (1L, "w", 5L, 100.0),
      (1L, "w", 9L, 110.0),
      (1L, "t", 7L, 36.5)
    ).toDF("dev", "metric", "t", "reading")
    val out = AsOf.joinLatest(p, b, Seq("dev", "metric"),
      Seq("dev", "metric"), "t", "t", Seq("reading"), strict = false)
      .select("event_id", "reading").as[(Long, Option[Double])]
      .collect().toMap
    assert(out(1L).contains(110.0), "latest weight, not the temperature")
    assert(out(2L).contains(36.5), "temperature stream matches its own key")
    assert(out(3L).isEmpty)
    assert(out(4L).isEmpty)
    // regression: probe and build key COLUMN NAMES differ — the key
    // struct must align positionally (unionByName aligns nested
    // fields by name and would null-fill mismatched names)
    val p2 = Seq((1L, 1L, 10L)).toDF("event_id", "left_key", "t")
    val b2 = Seq((1L, 5L, "x")).toDF("right_key", "t", "tag")
    val crossNamed = AsOf.joinLatest(p2, b2, Seq("left_key"),
      Seq("right_key"), "t", "t", Seq("tag"), strict = false)
      .select("tag").as[Option[String]].head()
    assert(crossNamed.contains("x"), s"cross-named keys must match: $crossNamed")
  }

  test("bucketed as-of equals the single-window form on the fixed cases") {
    // bucket width 7 puts probe rows and their matching build rows in
    // DIFFERENT buckets (t=20 probes vs t=15 build) — the carry-in
    // path, not just the within-bucket window, is exercised
    val expected = AsOf.joinLatest(probe, build, Seq("k"), Seq("k"), "t", "t",
      Seq("tag", "amount"))
      .select("event_id", "tag", "amount")
      .as[(Long, Option[String], Option[Double])].collect().toSet
    val got = AsOf.joinLatestBucketed(probe, build, Seq("k"), Seq("k"),
      "t", "t", Seq("tag", "amount"), bucket = t => floor(t / 7))
      .select("event_id", "tag", "amount")
      .as[(Long, Option[String], Option[Double])].collect().toSet
    assert(got == expected, s"bucketed mismatch:\n$got\nvs\n$expected")
  }

  test("bucketed as-of: randomized differential vs joinLatest (both modes)") {
    // hot single key + deterministic pseudo-random times: every value
    // must come out identical to the unsalted window, across bucket
    // widths that split histories mid-stream, for inclusive AND strict
    val rnd = new scala.util.Random(42)
    val b = (1 to 400)
      .map(i => (rnd.nextInt(3).toLong, rnd.nextInt(100).toLong, i.toLong))
      .toDF("k", "t", "v")
      // unique (k, t): duplicate-time winners are unspecified in BOTH
      // forms, so dedup keeps the differential meaningful
      .groupBy("k", "t").agg(max("v").as("v"))
    val p = (1 to 300)
      .map(i => (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(110).toLong))
      .toDF("event_id", "pk", "pt")
    for (strict <- Seq(false, true); width <- Seq(1, 13, 1000)) {
      val expected = AsOf.joinLatest(p, b, Seq("pk"), Seq("k"),
        "pt", "t", Seq("v"), strict)
        .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
      val got = AsOf.joinLatestBucketed(p, b, Seq("pk"), Seq("k"),
        "pt", "t", Seq("v"), bucket = t => floor(t / width), strict = strict)
        .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
      assert(got == expected,
        s"strict=$strict width=$width: ${(got -- expected).take(5)} vs ${(expected -- got).take(5)}")
    }
  }

  test("bucketed as-of: null keys/times behave like the single-window form") {
    val p = Seq((1L, Some(1L), Some(10L)), (2L, None, Some(10L)),
      (3L, Some(1L), None))
      .toDF("event_id", "k", "t")
    val b = Seq((Some(1L), Some(5L), "x"), (None, Some(1L), "nullkey"),
      (Some(1L), None, "nulltime"))
      .toDF("k", "t", "tag")
    val out = AsOf.joinLatestBucketed(p, b, Seq("k"), Seq("k"), "t", "t",
      Seq("tag"), bucket = t => floor(t / 3))
      .select("event_id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(out.size == 3, "left join keeps every probe row")
    assert(out(1L).contains("x"))
    assert(out(2L).isEmpty, "null probe key matches nothing")
    assert(out(3L).isEmpty, "null probe time matches nothing")
  }

  test("auto routing: plain on uniform keys, bucketed on a hot key, identical results") {
    // uniform: 40 keys × 10 rows — far under the 25-row target, so the
    // probe must choose the plain single-window plan
    val uniformB = (1 to 400)
      .map(i => (i % 40L, i.toLong, i * 2L)).toDF("k", "t", "v")
    val uniformP = (1 to 200)
      .map(i => (i.toLong, i % 40L, i.toLong + 1)).toDF("event_id", "pk", "pt")
    val planU = AsOf.autoPlan(uniformP, uniformB, Seq("pk"), Seq("k"),
      "pt", "t", targetRowsPerTask = 25, fraction = 1.0)
    assert(!planU.bucketed, s"uniform keys must stay plain: $planU")
    assert(planU.maxKeyRows == 15, planU.toString) // 10 build + 5 probe

    // hot: one key owns 360 of 400 build rows — over the target, so
    // the probe must route to the bucketed plan with >1 bucket
    val hotB = (1 to 400)
      .map(i => (if (i <= 360) 7L else i % 10L, i.toLong, i * 2L))
      .toDF("k", "t", "v")
    val planH = AsOf.autoPlan(uniformP, hotB, Seq("pk"), Seq("k"),
      "pt", "t", targetRowsPerTask = 25, fraction = 1.0)
    assert(planH.bucketed && planH.nBuckets > 1,
      s"hot key must route to bucketed: $planH")
    assert(planH.maxKeyRows >= 360, planH.toString)

    // and BOTH routes return exactly what the explicit plain form does
    for (strict <- Seq(false, true); b <- Seq(uniformB, hotB)) {
      val expected = AsOf.joinLatest(uniformP, b, Seq("pk"), Seq("k"),
        "pt", "t", Seq("v"), strict)
        .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
      val got = auto(uniformP, b, "pk", "k", "pt", "t", Seq("v"), strict,
        target = 25)
        .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
      assert(got == expected, s"strict=$strict auto != plain")
    }
  }

  test("auto routing handles timestamp time columns and empty frames") {
    val p = Seq((1L, 1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:10")))
      .toDF("event_id", "k", "ts")
    val b = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:05"), "x"))
      .toDF("k", "ts", "tag")
    val out = auto(p, b, "k", "k", "ts", "ts", Seq("tag"), strict = false,
      target = 1)
      .select("tag").as[Option[String]].head()
    assert(out.contains("x"), s"timestamp auto route: $out")
    // empty inputs: probe aggregate returns no per-key rows — must
    // fall back plain, not throw
    val plan = AsOf.autoPlan(p.limit(0), b.limit(0), Seq("k"), Seq("k"),
      "ts", "ts", fraction = 1.0)
    assert(!plan.bucketed && plan.maxKeyRows == 0L, plan.toString)
  }

  test("auto probe measures skew over matchable keys only — nulls don't route") {
    // 300 null-key probe rows + 300 null-key build rows, real keys
    // uniform (≤4 rows each). joinLatest drops null-key build rows and
    // null-key probe rows match nothing, so the probe must NOT read
    // the nulls as one 600-row hot key and route to bucketed.
    val p = (1 to 320).map(i =>
      (i.toLong, if (i <= 300) None else Some(i % 10L), i.toLong))
      .toDF("event_id", "pk", "pt")
    val b = (1 to 320).map(i =>
      (if (i <= 300) None else Some(i % 10L), i.toLong, i * 2L))
      .toDF("k", "t", "v")
    val plan = AsOf.autoPlan(p, b, Seq("pk"), Seq("k"), "pt", "t",
      targetRowsPerTask = 25, fraction = 1.0)
    assert(!plan.bucketed,
      s"null keys must not register as a hot key: $plan")
    assert(plan.maxKeyRows <= 4, plan.toString)
  }

  test("precomputed AutoPlan overload routes as instructed, results identical") {
    val b = (1 to 400)
      .map(i => (if (i <= 360) 7L else i % 10L, i.toLong, i * 2L))
      .toDF("k", "t", "v")
    val p = (1 to 200)
      .map(i => (i.toLong, i % 40L, i.toLong + 1)).toDF("event_id", "pk", "pt")
    // probe once, reuse across several joins (VERDICT r8 #3 shape)
    val plan = AsOf.autoPlan(p, b, Seq("pk"), Seq("k"), "pt", "t",
      targetRowsPerTask = 25, fraction = 1.0)
    assert(plan.bucketed, plan.toString)
    val expected = AsOf.joinLatest(p, b, Seq("pk"), Seq("k"),
      "pt", "t", Seq("v"), strict = false)
      .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
    for (pl <- Seq(plan, AsOf.AutoPlan(bucketed = false, 0L, 1, 0.0, 1.0))) {
      val got = AsOf.joinLatestAuto(p, b, Seq("pk"), Seq("k"),
        "pt", "t", Seq("v"), strict = false, pl, tieBreak = Nil)
        .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
      assert(got == expected, s"plan=$pl: precomputed route != plain")
    }
  }

  test("tieBreak on the raw build side equals the pre-aggregated build") {
    // duplicate (k, t) build rows with distinct values: the tie column
    // must make the GREATEST value win — exactly what pre-aggregating
    // with max() produced, minus the extra shuffle
    val p = (1 to 50).map(i => (i.toLong, i % 5L, i.toLong))
      .toDF("event_id", "pk", "pt")
    val dup = Seq.tabulate(200)(i =>
      (i % 5L, (i % 10).toLong, i.toLong)) // 4 dup rows per (k, t)
      .toDF("k", "t", "v")
    val agg = dup.groupBy("k", "t").agg(max("v").as("v"))
    for (strict <- Seq(false, true)) {
      val expected = AsOf.joinLatest(p, agg, Seq("pk"), Seq("k"),
        "pt", "t", Seq("v"), strict)
        .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
      val gotPlain = AsOf.joinLatest(p, dup, Seq("pk"), Seq("k"),
        "pt", "t", Seq("v"), strict, tieBreak = Seq("v"))
        .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
      val gotBucketed = AsOf.joinLatestBucketed(p, dup, Seq("pk"), Seq("k"),
        "pt", "t", Seq("v"), bucket = t => floor(t / 3), strict,
        tieBreak = Seq("v"))
        .select("event_id", "v").as[(Long, Option[Long])].collect().toSet
      assert(gotPlain == expected, s"strict=$strict plain tieBreak != pre-agg")
      assert(gotBucketed == expected,
        s"strict=$strict bucketed tieBreak != pre-agg")
    }
  }

  test("compact as-of equals the union-window form (randomized differential)") {
    // random keys/times with deliberate collisions: equal-time ties
    // (tie column decides), null keys/times on both sides, keys with
    // no build rows at all
    val rnd = new scala.util.Random(18)
    val p = (1 to 500).map { i =>
      (i.toLong,
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(12).toLong),
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(40).toLong))
    }.toDF("event_id", "pk", "pt")
    val b = (1 to 300).map { i =>
      (if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(12).toLong),
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(40).toLong),
        i.toLong, rnd.nextInt(5).toString)
    }.toDF("k", "t", "tie", "tag")
    for (strict <- Seq(false, true)) {
      // tie column makes the winner deterministic, so the two plans
      // must agree row-for-row (not just set-wise)
      val expected = AsOf.joinLatest(p, b, Seq("pk"), Seq("k"), "pt", "t",
        Seq("tie", "tag"), strict, tieBreak = Seq("tie"))
        .select("event_id", "tie", "tag")
        .as[(Long, Option[Long], Option[String])].collect().toSet
      val got = AsOf.joinLatestCompact(p, b, Seq("pk"), Seq("k"), "pt", "t",
        Seq("tie", "tag"), strict, tieBreak = Seq("tie"))
        .select("event_id", "tie", "tag")
        .as[(Long, Option[Long], Option[String])].collect().toSet
      assert(got == expected, s"strict=$strict compact != union-window")
    }
    // multi-key + timestamp time type
    val p2 = Seq(
      (1L, 1L, "w", java.sql.Timestamp.valueOf("2026-01-01 00:00:10")),
      (2L, 1L, "t", java.sql.Timestamp.valueOf("2026-01-01 00:00:10")),
      (3L, 2L, "w", java.sql.Timestamp.valueOf("2026-01-01 00:00:10")))
      .toDF("event_id", "dev", "metric", "ts")
    val b2 = Seq(
      (1L, "w", java.sql.Timestamp.valueOf("2026-01-01 00:00:05"), 1.0),
      (1L, "w", java.sql.Timestamp.valueOf("2026-01-01 00:00:09"), 2.0),
      (1L, "t", java.sql.Timestamp.valueOf("2026-01-01 00:00:07"), 3.0))
      .toDF("dev", "metric", "ts", "v")
    val out2 = AsOf.joinLatestCompact(p2, b2, Seq("dev", "metric"),
      Seq("dev", "metric"), "ts", "ts", Seq("v"))
      .select("event_id", "v").as[(Long, Option[Double])].collect().toMap
    assert(out2(1L).contains(2.0) && out2(2L).contains(3.0) &&
      out2(3L).isEmpty, out2.toString)
  }

  test("compact tier plan: no probe-side sort before the join, search is codegen") {
    val plan = AsOf.joinLatestCompact(probe, build, Seq("k"), Seq("k"),
      "t", "t", Seq("tag")).queryExecution.executedPlan.toString
    assert(plan.contains("graft_sorted_count_le"), plan)
    // the probe side must reach the hash join unsorted: SMJ would
    // show SortMergeJoin; the hint pins ShuffledHashJoin (or a
    // broadcast upgrade)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("sampled routing probe: fraction=1 reproduces the exact probe") {
    val b = (1 to 400)
      .map(i => (if (i <= 360) 7L else i % 10L, i.toLong, i * 2L))
      .toDF("k", "t", "v")
    val p = (1 to 200)
      .map(i => (i.toLong, i % 40L, i.toLong + 1)).toDF("event_id", "pk", "pt")
    // fraction = 1 keeps every row: hot key 7 has 364 build rows
    // (t = 1..360 and 367, 377, 387, 397) and 5 probe rows (pt = 8,
    // 48, 88, 128, 168) — 369 rows over t = 1..397, so
    // ceil(369 / 25) = 15 buckets of width 396 / 15
    val full = AsOf.autoPlan(p, b, Seq("pk"), Seq("k"), "pt", "t",
      targetRowsPerTask = 25, fraction = 1.0)
    assert(full == AsOf.AutoPlan(bucketed = true, 369L, 15, 1.0, 396.0 / 15),
      s"fraction=1 must count every row exactly: $full")
    // empty inputs fall back plain
    val empty = AsOf.autoPlan(p.limit(0), b.limit(0), Seq("pk"),
      Seq("k"), "pt", "t")
    assert(!empty.bucketed && empty.maxKeyRows == 0L, empty.toString)
    // a genuinely hot key must still route bucketed from a partial
    // sample: scale the fixture so the 2% default sample sees it
    val hotBig = spark.range(0, 60000)
      .selectExpr("7L as k", "id as t", "id * 2 as v")
    val sampled = AsOf.autoPlan(p, hotBig, Seq("pk"), Seq("k"),
      "pt", "t", targetRowsPerTask = 1000)
    assert(sampled.bucketed && sampled.nBuckets > 1,
      s"hot key must route bucketed from the sampled probe: $sampled")
  }

  test("the plan is one shuffle + window — no join operator") {
    val plan = AsOf.joinLatest(probe, build, Seq("k"), Seq("k"), "t", "t", Seq("tag"))
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"as-of must be join-free (union+window):\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("auto routing: non-orderable (map) value columns fall back from the compact tier") {
    // the compact tier's sort_array(collect_list(struct(..))) rejects
    // map fields at ANALYSIS time; the union-window plan's last()
    // needs no value ordering — eligibility must route there instead
    // of failing (ADVICE r18)
    val b = Seq((1L, 1L, Map("a" -> 1)), (1L, 5L, Map("b" -> 2)),
        (2L, 2L, Map("c" -> 3)))
      .toDF("k", "t", "m")
    val p = Seq((10L, 1L, 6L), (11L, 1L, 3L), (12L, 2L, 1L))
      .toDF("event_id", "k", "pt")
    // bounded fanout ⇒ the router would pick compact if eligible
    val got = auto(p, b, "k", "k", "pt", "t", Seq("m"), strict = false,
        target = 1L << 20)
      .select("event_id", "m")
      .as[(Long, Option[Map[String, Int]])].collect().toMap
    assert(got == Map(10L -> Some(Map("b" -> 2)),
      11L -> Some(Map("a" -> 1)), 12L -> None), got.toString)
    // an orderable value column on the same shapes still routes compact
    val b2 = b.withColumn("m", lit(1L))
    val plan2 = auto(p, b2, "k", "k", "pt", "t", Seq("m"), strict = false,
        target = 1L << 20)
      .queryExecution.executedPlan.toString
    assert(plan2.contains("graft_sorted_count_le"),
      s"orderable values must keep the compact tier:\n$plan2")
  }
}
