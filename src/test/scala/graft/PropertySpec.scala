package graft

import graft.operators.Telemetry
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-driven properties (SURVEY.md §5.2): calibration
  * invariants, the boundary-alarm formula (incl. the exact-boundary
  * skip), dedup idempotence under input shuffling. Sampled with a
  * fixed seed (no scalatest-scalacheck bridge in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("P1: calibrated weight is non-negative and scale-consistent") {
    val gen = Gen.zip(Gen.choose(-1e9, 1e9), Gen.choose(1e3, 1e5),
      Gen.choose(-10.0, 10.0))
    samples(gen).foreach { case (raw, f, z) =>
      val kg = math.abs(raw / f - z)
      assert(kg >= 0.0)
      // doubling raw and factor together leaves the reading unchanged
      val kg2 = math.abs((2 * raw) / (2 * f) - z)
      assert(math.abs(kg - kg2) < 1e-9 * math.max(1.0, math.abs(kg)))
    }
  }

  test("F10: next alarm is the smallest interval multiple STRICTLY greater than ts") {
    // the firmware formula (ts/i + 1)*i skips to the NEXT boundary when
    // exactly on one (master/master.ino:673-674)
    val gen = Gen.zip(Gen.choose(0L, 4102444800L),
      Gen.oneOf(60L, 3600L, 86400L))
    samples(gen).foreach { case (ts, i) =>
      val next = (ts / i + 1) * i
      assert(next > ts)
      assert(next % i == 0)
      assert(next - ts <= i)
    }
    // exact boundary: firmware skips a full interval
    assert((7200L / 3600 + 1) * 3600 == 10800L)
  }

  test("A3/Q28: dedup-keep-first is idempotent under input order shuffle") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.choose(1, 5), Gen.choose(1L, 100L)))
    samples(gen, 5).foreach { pairs =>
      val a = pairs.toDF("k", "v").groupBy("k").agg(min("v").as("first"))
        .as[(Int, Long)].collect().sortBy(_._1).toSeq
      val b = new scala.util.Random(42).shuffle(pairs).toDF("k", "v")
        .groupBy("k").agg(min("v").as("first"))
        .as[(Int, Long)].collect().sortBy(_._1).toSeq
      assert(a == b)
    }
  }

  test("NS tokenize: fused kernel equals the brute-force spec on adversarial text") {
    // random texts: multi-space runs, tabs/newlines (NOT separators),
    // mixed case, unicode, empties — the kernel must match the
    // tokens()-composition spec byte for byte
    val piece = Gen.oneOf("the", "Fox", "  ", " ", "\t", "\n", "x1",
      "\u00fcber", "DATA", "", "a b", "mixedCASE", "zz")
    val textGen = Gen.listOfN(8, piece).map(_.mkString(" "))
    val vocab = Map("the" -> 1L, "fox" -> 2L, "x1" -> 3L, "a" -> 4L,
      "\u00fcber" -> 5L)
    def spec(text: String): (Long, Long, Long) = {
      val toks = text.toLowerCase.split(" ", -1).filter(_.nonEmpty)
      val ids = toks.map(t => vocab.getOrElse(t, 0L))
      (toks.length.toLong, ids.count(_ == 0L).toLong,
        ids.zipWithIndex.map { case (id, i) => id * (i + 1) }.sum)
    }
    val texts = samples(textGen, 300).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val got = graft.operators.Curate.tokenizeInRow(df, "id", "t", vocab)
      .select("id", "n_tok", "n_oov", "checksum")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = spec(t)
      if (want._1 == 0L)
        assert(!got.contains(i.toLong), s"empty doc present: '$t'")
      else assert(got(i.toLong) == want, s"mismatch on '$t'")
    }
  }

  test("P3: nullif-zero maps only the sentinel to null") {
    val rows = Seq(0.0, 1.5, -2.0, 0.0).toDF("w")
      .select(Telemetry.nullifZero($"w").as("w")).as[Option[Double]]
      .collect()
    assert(rows.toSeq == Seq(None, Some(1.5), Some(-2.0), None))
  }

  test("X4/LSH: JVM plane components equal the SQL md5 derivation exactly") {
    // lshBucket/lshBandBuckets constant-fold planeComponent(p, d) into
    // literals; the DuckDB oracles re-derive the identical planes with
    // ('0x'||substring(md5(p||':'||d),1,15))::BIGINT / 2^59 - 1 — the
    // two formulas must agree bit-for-bit or every LSH query diverges
    import graft.functions.SimilarityFunctions
    for (p <- 0 until 8; d <- 0 until 64) {
      val jvm = SimilarityFunctions.planeComponent(p, d)
      val viaHex = SimilarityFunctions.hex60Local(s"$p:$d").toDouble /
        576460752303423488.0 - 1.0
      assert(jvm == viaHex, s"plane($p,$d): $jvm != $viaHex")
      assert(jvm >= -1.0 && jvm < 1.0)
    }
  }

  test("J6/AsOf: linear union+window join equals the naive quadratic join") {
    // randomized differential proof of the as-of rewrite: on arbitrary
    // (key, time) data with duplicates and unmatched keys, the
    // join-free AsOf.joinLatest must agree row-for-row with the
    // obviously-correct O(n²) formulation
    val gen = Gen.zip(
      Gen.listOfN(60, Gen.zip(Gen.choose(1, 5), Gen.choose(0L, 50L))),
      Gen.listOfN(25, Gen.zip(Gen.choose(1, 6), Gen.choose(0L, 50L))))
    samples(gen, 8).zipWithIndex.foreach { case ((probeRows, buildRows), i) =>
      val probe = probeRows.zipWithIndex
        .map { case ((k, t), id) => (id.toLong, k, t) }
        .toDF("pid", "k", "t")
      // unique (k, t) on the build side — ties are unspecified by contract
      val build = buildRows.distinct.groupBy(r => (r._1, r._2)).map(_._1)
        .map { case (k, t) => (k, t, k * 1000L + t) }.toSeq
        .toDF("k", "t", "v")
      val naive = probe.as("p")
        .join(build.as("b"),
          col("p.k") === col("b.k") && col("b.t") <= col("p.t"), "left")
        .groupBy(col("pid"))
        .agg(max_by(col("b.v"), col("b.t")).as("v"))
        .as[(Long, Option[Long])].collect().toMap
      // all three physical tiers must agree with the quadratic spec:
      // union-window (plain), per-key sorted arrays + binary search
      // (compact), and the salted-window bucketed form
      val tiers: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "plain" -> graft.operators.AsOf.joinLatest(
          probe, build, Seq("k"), Seq("k"), "t", "t", Seq("v")),
        "compact" -> graft.operators.AsOf.joinLatestCompact(
          probe, build, Seq("k"), Seq("k"), "t", "t", Seq("v")),
        "bucketed" -> graft.operators.AsOf.joinLatestBucketed(
          probe, build, Seq("k"), Seq("k"), "t", "t", Seq("v"),
          bucket = t => floor(t / 7)))
      tiers.foreach { case (tier, df) =>
        val fast = df.select("pid", "v")
          .as[(Long, Option[Long])].collect().toMap
        assert(fast == naive, s"sample $i diverged on the $tier tier")
      }
    }
  }

  test("NS quantile sketch: lossless regime equals percentile_disc under any sharding") {
    // randomized: values with heavy duplication, arbitrary shard
    // assignment — per-shard sketches unioned must equal the exact
    // rank answer (smallest value with cum count >= q·n), for every
    // probability, as long as n <= k (the lossless contract the
    // oracle row relies on)
    import graft.functions.{QuantileSketch => QS}
    val probs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val gen = Gen.zip(
      Gen.choose(1, 300),
      Gen.choose(2, 9),
      Gen.choose(0L, 1L << 30))
    samples(gen, 10).foreach { case (n, shards, seed) =>
      val rnd = new scala.util.Random(seed)
      val vals = Vector.fill(n)(rnd.nextInt(40).toDouble)
      val sorted = vals.sorted
      val exact = probs.map(q =>
        sorted(math.max(0, math.ceil(q * n).toInt - 1).min(n - 1)))
      val df = vals.zipWithIndex
        .map { case (v, i) => (i % shards, v) }.toDF("shard", "x")
      val merged = df.groupBy("shard").agg(QS.sketchAgg($"x", k = 512).as("sk"))
        .agg(QS.sketchUnionAgg($"sk").as("sk"))
        .select(QS.sketchQuantiles($"sk", probs)).as[Seq[Double]].head()
      assert(merged == exact,
        s"n=$n shards=$shards seed=$seed: $merged vs $exact")
    }
  }

  test("NS freq sketch: lossless equals GROUP BY under any sharding; lossy bound holds") {
    import graft.functions.{FrequencySketch => FS}
    // lossless: distinct keys <= k — per-shard summaries unioned must
    // equal exact counts regardless of shard assignment
    val gen = Gen.zip(Gen.choose(1, 400), Gen.choose(2, 7),
      Gen.choose(0L, 1L << 30))
    samples(gen, 8).foreach { case (n, shards, seed) =>
      val rnd = new scala.util.Random(seed)
      val vals = Vector.fill(n)("w" + rnd.nextInt(30))
      val truth = vals.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val df = vals.zipWithIndex.map { case (v, i) => (i % shards, v) }
        .toDF("shard", "w")
      val got = df.groupBy("shard").agg(FS.freqAgg($"w", k = 64).as("sk"))
        .agg(FS.freqUnionAgg($"sk").as("sk"))
        .select(explode(FS.freqTopK($"sk", 30)).as("e"))
        .select($"e.token", $"e.cnt").as[(String, Long)].collect().toMap
      assert(got == truth, s"n=$n shards=$shards seed=$seed")
    }
    // lossy: Zipf-ish stream with far more distinct keys than k —
    // estimates are UNDER-counts within the tracked decrement depth,
    // and the true heavy hitter is still on top
    val n = 20000
    val vals = (0 until n).map { i =>
      if (i % 3 == 0) "hot" else "cold" + (i % 4000)
    }
    val truth = vals.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val df = vals.zipWithIndex.map { case (v, i) => (i % 5, v) }
      .toDF("shard", "w")
    val top = df.groupBy("shard").agg(FS.freqAgg($"w", k = 32).as("sk"))
      .agg(FS.freqUnionAgg($"sk").as("sk"))
      .select(explode(FS.freqTopK($"sk", 5)).as("e"))
      .select($"e.token", $"e.cnt", $"e.cnt_max")
      .as[(String, Long, Long)].collect()
    val hot = top.find(_._1 == "hot").getOrElse(
      fail(s"true heavy hitter missing from the summary: ${top.mkString(",")}"))
    assert(hot._2 <= truth("hot") && truth("hot") <= hot._3,
      s"bounds must bracket the truth: $hot vs ${truth("hot")}")
    // MG guarantee: undercount <= n/(k+1)
    assert(truth("hot") - hot._2 <= n / (32 + 1) + 1,
      s"undercount ${truth("hot") - hot._2} exceeds n/(k+1)")
  }

  test("NS chunk: chunks cover every token, overlap exactly, none contained") {
    // randomized invariants of the training-sequence splitter: full
    // coverage, exact overlap between neighbors, and no chunk that is
    // a pure subset of its predecessor (duplicate training data)
    val gen = Gen.choose(1, 200)
    samples(gen, 30).foreach { n =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val chunks = graft.operators.Curate.chunkDocuments(
          Seq((1L, text)).toDF("id", "body"), "id", "body",
          maxTokens = 64, overlap = 16)
        .select("chunk_id", "chunk_text").as[(Int, String)]
        .collect().sortBy(_._1).map(_._2.split(" ").toSeq)
      // coverage: the union of chunks is exactly tokens 1..n in order
      val covered = chunks.zipWithIndex.flatMap { case (c, i) =>
        if (i == 0) c else c.drop(16)
      }
      assert(covered.toSeq == (1 to n).map(i => s"t$i"),
        s"n=$n: coverage broken")
      // neighbors share exactly `overlap` tokens (when the successor
      // is long enough to reach past the overlap)
      chunks.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.takeRight(16) == b.take(16), s"n=$n: overlap broken")
          assert(b.length > 16, s"n=$n: contained tail chunk emitted")
        case _ => ()
      }
    }
  }

  test("NS pack: pack_id is non-decreasing in doc order and respects the budget") {
    val rows = graft.queries.Registry.queries("ns_pack_sequences")(spark, sfDir)
      .select("lang", "doc_id", "n_tok", "pack_id")
      .as[(String, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val ordered = docs.sortBy(_._2)
      // monotone pack ids per shard
      assert(ordered.map(_._4).sliding(2).forall {
        case Array(a, b) => a <= b; case _ => true })
      // every pack's cumulative tokens start below its boundary:
      // floor((cum-before)/4096) = pack_id by construction
      var cum = 0L
      ordered.foreach { case (_, _, n, pid) =>
        assert(pid == cum / 4096, s"pack_id $pid != ${cum / 4096}")
        cum += n
      }
    }
  }

  test("components: star contraction collapses a 256-chain in O(log n) rounds with the analytic labels") {
    // the case min-label propagation can't afford: a length-n dup
    // chain (daily crawl snapshots, each near-dup of the previous)
    // needs n-1 propagation rounds; star contraction must stay
    // logarithmic AND still produce the analytic answer (everything
    // labelled by the chain head)
    val n = 256
    val ids = (0L until n.toLong).toDF("id")
    val pairs = (0L until (n - 1).toLong).map(i => (i + 1, i))
      .toDF("ida", "idb")
    val (labels, rounds) =
      graft.operators.Dedup.componentLabelsStarWithRounds(ids, pairs)
    assert(rounds <= 12, s"256-chain took $rounds star rounds (want O(log n))")
    assert(labels.filter(col("component") =!= 0L).count() == 0,
      "chain must collapse to the head label")
    assert(labels.count() == n)
    labels.unpersist()
  }

  test("components: star contraction is differential-equal to min-label propagation") {
    // chain + branches + isolated nodes + a second component, sampled
    // shapes: both algorithms at fixpoint must emit identical labels
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L)))
    samples(gen, 4).foreach { rawPairs =>
      val ids = (0L until 40L).toDF("id")
      val pairs = rawPairs.toDF("ida", "idb")
      val star = graft.operators.Dedup.componentLabelsStar(ids, pairs)
      val prop = graft.operators.Dedup.componentLabels(ids, pairs,
        maxIterations = 60)
      val a = star.as[(Long, Long)].collect().sortBy(_._1).toSeq
      val b = prop.as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(a == b, "star vs propagation label mismatch")
      star.unpersist(); prop.unpersist()
    }
    // the verdict's chain shape, explicitly: propagation needs 23
    // rounds here, star ~5 — labels must still agree exactly
    val ids = (0L until 24L).toDF("id")
    val chain = (0L until 23L).map(i => (i + 1, i)).toDF("ida", "idb")
    val a = graft.operators.Dedup.componentLabelsStar(ids, chain)
    val b = graft.operators.Dedup.componentLabels(ids, chain,
      maxIterations = 30)
    assert(a.as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      b.as[(Long, Long)].collect().sortBy(_._1).toSeq)
    a.unpersist(); b.unpersist()
  }

  test("J6 guard: priorOtherTypeMax falls back past the type cap and matches the naive join") {
    // VERDICT r3 item 7: 5 types must pick the per-type window
    // decomposition; 1000 types must pick the range-join fallback —
    // and BOTH must agree with the naive inequality join
    def mk(nTypes: Int) = (0 until 400).map { i =>
      (i.toLong, s"t${i % nTypes}",
        if (i % 13 == 0) None else Some(s"u${i % 7}"),
        new java.sql.Timestamp(1700000000000L + (i * 977 % 3000) * 1000L))
    }.toDF("event_id", "event_type", "user_id", "ts")
    def naive(ev: org.apache.spark.sql.DataFrame) =
      ev.as("a").join(ev.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.ts") < col("a.ts") &&
            col("b.event_type") =!= col("a.event_type"), "left")
        .groupBy(col("a.event_id").as("event_id"))
        .agg(max(col("b.event_id")).as("prior_b"))
    for (nTypes <- Seq(5, 1000)) {
      val ev = mk(nTypes)
      val got = graft.queries.TelemetryQueries.priorOtherTypeMax(ev, 32)
      val usedJoin = got.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
      assert(usedJoin == (nTypes > 32),
        s"nTypes=$nTypes picked the wrong regime")
      val exp = naive(ev).as[(Long, Option[Long])].collect().sortBy(_._1)
      val act = got.as[(Long, Option[Long])].collect().sortBy(_._1)
      assert(act.toSeq == exp.toSeq, s"nTypes=$nTypes result mismatch")
    }
  }
}
