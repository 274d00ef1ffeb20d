package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.Telemetry
import graft.streaming.TelemetryPipeline
import org.apache.spark.sql.functions._

/** Scale posture: tag-partitioned sink layout (S9/T9 routing) writes
  * one directory per frame tag; Engine catalog surface resolves SQL;
  * the adaptive and pruning plans fire at test scale.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tag-partitioned sink writes one directory per telemetry kind") {
    val out = java.nio.file.Files.createTempDirectory("graft_tag_sink").toString
    val frames = Seq(
      ("""D{"H0001":{"w":1}}""", "2024-01-01 00:00:00"),
      ("""S{"H1":true}""", "2024-01-01 00:00:01"),
      ("""E{"H0001":{"w":0,"p":0,"s":0}}""", "2024-01-01 00:00:02"))
      .toDF("frame", "ts")
      .select($"frame", $"ts".cast("timestamp").as("device_ts"))
    TelemetryPipeline.decode(frames)
      .write.mode("overwrite").partitionBy("tag").parquet(out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("tag=D", "tag=E", "tag=S"))
    // partition pruning: reading one tag touches only its directory
    val d = spark.read.parquet(out).filter($"tag" === "D")
    assert(d.count() == 1)
  }

  test("Engine: catalog SQL surface end-to-end") {
    Catalog.registerAll(spark, sfDir)
    val n = spark.sql("SELECT COUNT(*) AS c FROM lineitem").as[Long].head()
    assert(n > 0)
    assert(spark.table("lineitem").count() ==
      Catalog.table(spark, sfDir, "lineitem").count())
  }

  test("bucketed tables co-locate the join: no shuffle exchange on either side") {
    // SURVEY.md scale posture: pre-bucket fact tables on the join key
    // so repeated joins skip the shuffle entirely (the 100 TB win:
    // shuffle once at write time, never again at read time)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Catalog.table(spark, sfDir, "orders")
        .write.mode("overwrite").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable("orders_bkt")
      Catalog.table(spark, sfDir, "customer")
        .write.mode("overwrite").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable("customer_bkt")
      val joined = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"),
          $"o_custkey" === $"c_custkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in plan)") {
    // one hot key dominating a sort-merge join gets its partition
    // split by OptimizeSkewedJoin — thresholds lowered to trigger at
    // test scale
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = spark.range(200000)
        .select(
          when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 1000)
            .as("k"),
          col("id").as("v"))
      val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      // NOTE: no aggregation downstream of the join — a required hash
      // distribution on k would veto the skew split (split partitions
      // no longer satisfy hashpartitioning)
      val joined = hot.join(dim, "k").select("k")
      joined.collect() // finalize THIS dataset's adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-split in executed plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // the row-group-level cousin of DPP: a selective dim filter
    // builds a bloom filter at runtime and pushes might_contain into
    // the fact scan — at 100 TB this skips most of the fact I/O for
    // joins the partition layout can't pre-prune. Thresholds lowered
    // to trigger at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Catalog.table(spark, sfDir, "lineitem")
      val dim = Catalog.table(spark, sfDir, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
      val j = fact.join(dim, $"l_orderkey" === $"o_orderkey")
        .select("l_orderkey", "o_orderpriority")
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected runtime bloom filter:\n$plan")
      assert(j.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE coalesces over-provisioned shuffle partitions at runtime") {
    // the other half of adaptive execution (skew-split is proven
    // above): a 32-partition shuffle over tiny data collapses to a
    // handful of post-shuffle partitions, so task count tracks DATA
    // size, not the static shuffle.partitions guess — at 100 TB the
    // same mechanism stops a mis-sized config from drowning the
    // scheduler in empty tasks
    val confs = Seq(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // the shared test session runs shuffle.partitions=4 — raise it
      // so the assertion can actually fail when coalescing breaks
      "spark.sql.shuffle.partitions" -> "32")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val agg = spark.range(1000).select(($"id" % 10).as("k"))
        .groupBy("k").count()
      val n = agg.rdd.getNumPartitions
      assert(n < 32, s"AQE should coalesce the 32 shuffle partitions, got $n")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("schema evolution: mergeSchema reads mixed-generation layouts") {
    // 100 TB tables accrete columns over years; old files must stay
    // readable next to new ones (new column null for old rows)
    val out = java.nio.file.Files.createTempDirectory("graft_evo").toString
    Seq((1L, "a")).toDF("id", "v")
      .write.parquet(s"$out/gen=1")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score")
      .write.parquet(s"$out/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.toSet == Set("id", "v", "score", "gen"))
    val rows = merged.select("id", "score")
      .as[(Long, Option[Double])].collect().toMap
    assert(rows(1L).isEmpty && rows(2L).contains(9.5))
  }

  test("ignoreCorruptFiles: one bad file does not take down the scan") {
    // at 100 TB a handful of truncated/corrupt files is a certainty;
    // the scan must degrade (skip + log), not abort the job
    val out = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    Catalog.table(spark, sfDir, "region").write.mode("overwrite").parquet(out)
    val good = spark.read.parquet(out).count()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/part-zz-garbage.parquet"),
      "this is not a parquet file")
    val prev = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(spark.read.parquet(out).count() == good)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", v)
      case None => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }

  test("sorted write enables parquet row-group skipping on range scans") {
    // clustering the sort key at write time is what makes pushed range
    // predicates skip whole row groups — on a 100 TB fact table the
    // difference between reading one row group and reading everything
    val base = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    // synthetic rows: enough volume to span many 64 KiB row groups
    // regardless of the test scale factor
    val ev = spark.range(200000).select(
      $"id".as("event_id"), ($"id" % 100).as("user_id"),
      ($"id" * 7 % 1000).cast("double").as("value"))
    val total = ev.count()
    // small row groups so sf-scale data spans many groups
    ev.repartition(1).sortWithinPartitions("user_id")
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(s"$base/sorted")
    ev.repartition(1)
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(s"$base/unsorted")
    def scannedRows(path: String): Long = {
      val df = spark.read.parquet(path).filter($"user_id" === 7)
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val sorted = scannedRows(s"$base/sorted")
    val unsorted = scannedRows(s"$base/unsorted")
    assert(unsorted == total,
      s"unsorted layout cannot skip groups: read $unsorted of $total")
    assert(sorted < total / 4,
      s"sorted layout should skip most row groups: read $sorted of $total")
  }

  test("date-partitioned facts: dim filter triggers dynamic partition pruning") {
    // SURVEY §4.2 claim, proven: facts laid out by date partition +
    // a runtime-filtered dim ⇒ the fact scan's PartitionFilters carry
    // a dynamicpruning subquery — at 100 TB the scan touches only the
    // dim-selected dates instead of the full history.
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Catalog.table(spark, sfDir, "events")
      .withColumn("event_date", to_date($"ts"))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val fact = spark.read.parquet(out)
    // dim date-set is only known at runtime (filter on a non-join col)
    val dim = Catalog.table(spark, sfDir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select(to_date($"o_orderdate").as("d")).distinct()
    val joined = fact.join(dim, $"event_date" === $"d")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected DPP in fact scan PartitionFilters:\n$plan")
  }

  test("approx percentile (t-digest-style sketch) lands within 5% of exact") {
    // the 100 TB path for q36's exact percentile: a mergeable sketch
    // instead of a full sort — single pass, partial+final aggregation
    val e = Catalog.table(spark, sfDir, "events")
    val (approx, exact) = e
      .agg(expr("approx_percentile(value, 0.9, 1000)").as("a"),
        expr("percentile(value, 0.9)").as("e"))
      .as[(Double, Double)].head()
    assert(math.abs(approx - exact) / math.abs(exact) < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("A5: approx_count_distinct (HLL++) lands within 5% of exact") {
    val o = Catalog.table(spark, sfDir, "orders")
    val (approx, exact) = o
      .agg(approx_count_distinct($"o_custkey").as("a"),
        countDistinct($"o_custkey").as("e"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("AsOf hot key: 10^6 build rows on ONE key complete within a bounded window buffer") {
    // AsOf.joinLatest puts each key on ONE task by construction
    // (Window.partitionBy) — the documented scale bound. This golden
    // proves the hot-key task survives a million-row partition with a
    // BOUNDED in-memory buffer: the window spill threshold is forced
    // low so the partition must go through the disk-spill path, and
    // the result is still exact on every probe row.
    val confs = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "1024",
      "spark.sql.windowExec.buffer.spill.threshold" -> "4096")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val build = spark.range(1000000).select(
        lit("hot").as("k"), $"id".as("t"), ($"id" * 2).as("v"))
      val probe = spark.range(1000).select(
        lit("hot").as("pk"), ($"id" * 1000 + 500).as("pt"))
      val out = graft.operators.AsOf.joinLatest(
        probe, build, Seq("pk"), Seq("k"), "pt", "t", Seq("v"))
      out.collect() // materialize so the executed plan carries metrics
      val rows = out.select($"pt", $"v").as[(Long, Long)].collect()
      assert(rows.length == 1000)
      // latest build t <= pt is pt itself (build has every integer t)
      assert(rows.forall { case (pt, v) => v == pt * 2 },
        s"wrong as-of values: ${rows.filterNot { case (pt, v) => v == pt * 2 }.take(3).mkString(",")}")
      // unwrap AQE: neither AdaptiveSparkPlanExec nor QueryStageExec
      // expose their finalized subplan as children, so plain collect()
      // never reaches the WindowExec whose metrics we need
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
        case q: QueryStageExec => p +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val spilled = allNodes(out.queryExecution.executedPlan).collect {
        case p if p.metrics.contains("spillSize") =>
          p.metrics("spillSize").value
      }.sum
      assert(spilled > 0,
        "expected the hot-key window partition to take the spill path")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("native text expressions stay linear on degenerate mega-documents") {
    // The round-9 single-pass expressions claim O(doc) work/memory per
    // row; this golden drives each through one pathological document —
    // a million tokens (RepetitionStats, WordNgrams) and a multi-MB
    // string (CharGramWinnow) — on one task, where a quadratic or
    // subarray-per-element implementation would blow past the test
    // timeout (the interpreted slice form measured ~8 µs/element:
    // ~hours at 10^6) or OOM the partition.
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps")
    val megaToks = Seq.tabulate(1000000)(i => vocab(i % 5))
    val t0 = System.nanoTime()
    val rep = Seq(Tuple1(megaToks)).toDF("tk")
      .select(graft.plans.RepetitionStats($"tk").as("r"))
      .select($"r.n_tok", $"r.n_distinct_tok", $"r.top_tok_cnt",
        $"r.dup_bigram_cnt", $"r.top_bigram_cnt")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(rep == ((1000000L, 5L, 200000L, 999994L, 200000L)), rep.toString)
    val sh = Seq(Tuple1(megaToks)).toDF("tk")
      .select(org.apache.spark.sql.functions.size(
        graft.plans.WordNgrams($"tk", 3, distinct = true)).as("n"))
      .as[Int].head()
    assert(sh == 5, s"periodic vocab has 5 distinct trigrams, got $sh")
    val mega = ("abcdefghij" * 500000) + "zzzzz" // 5 MB, 10-periodic + tail
    val fps = Seq(mega).toDF("text")
      .select(TF.charGramWinnow($"text", 5, 16).as("f"))
      .as[Seq[Long]].head()
    // periodic text has ≤10 distinct 5-gram hashes + a few tail grams
    assert(fps.nonEmpty && fps.size <= 32, s"${fps.size} fingerprints")
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 60, f"linear pass took $sec%.1f s — not linear")
  }

  test("NgramCounts fusion equals the ValueCounts∘ngrams∘tokens " +
      "composition, and stays linear on a mega-document") {
    // the fused expression must be BYTE-equal to the composition it
    // replaces (the corpus-LM scorer's oracle depends on it), including
    // the empty-token-drop and short-doc edge cases
    val docs = Seq(
      "the quick  brown fox   the quick brown fox",
      "", "one", "a a a a a", "x  y").toDF("text")
    val fused = docs.select(
      org.apache.spark.sql.functions.explode(
        graft.plans.NgramCounts($"text", 2)).as("gc"))
      .select($"gc.g", $"gc.c").as[(String, Long)].collect().toSeq
    val composed = docs.select(
      org.apache.spark.sql.functions.explode(
        graft.plans.ValueCounts(TF.ngrams(TF.tokens($"text"), 2))).as("gc"))
      .select($"gc.g", $"gc.c").as[(String, Long)].collect().toSeq
    assert(fused == composed && fused.contains(("the quick", 2L)),
      s"$fused vs $composed")
    // linearity golden, same family as the mega-doc cases above
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps")
    val mega = Seq.tabulate(300000)(i => vocab(i % 5)).mkString(" ")
    val t0 = System.nanoTime()
    val n = Seq(mega).toDF("text")
      .select(org.apache.spark.sql.functions.size(
        graft.plans.NgramCounts($"text", 2)).as("n")).as[Int].head()
    assert(n == 5, s"periodic vocab has 5 distinct bigrams, got $n")
    assert((System.nanoTime() - t0) / 1e9 < 30, "not linear")
  }

  test("NgramHashCounts mirrors NgramCounts: same per-row count " +
      "multiset and distinct-gram count, deterministic keys, no " +
      "collisions on a real-vocabulary corpus") {
    val docs = Seq(
      "the quick  brown fox   the quick brown fox",
      "", "one", "a a a a a", "x  y",
      (1 to 400).map(i => s"w$i").mkString(" ")).toDF("text")
    // per-row: distinct count and count-multiset must match the
    // string-keyed kernel exactly (the hash only renames keys)
    val str = docs.select(graft.plans.NgramCounts($"text", 2).as("a"))
      .as[Seq[(String, Long)]].collect()
    val hsh = docs.select(graft.plans.NgramHashCounts($"text", 2).as("a"))
      .as[Seq[(Long, Long)]].collect()
    str.zip(hsh).foreach { case (s, h) =>
      assert(s.size == h.size, s"distinct-gram count: ${s.size} vs ${h.size}")
      assert(s.map(_._2).sorted == h.map(_._2).sorted, "count multiset")
      // same gram string → same hash key, across rows
    }
    // determinism + injectivity on this corpus: equal gram strings
    // hash equal, distinct gram strings hash distinct
    val pairs = str.flatten.map(_._1).zip(hsh.flatten.map(_._1))
    val byStr = pairs.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    assert(byStr.values.forall(_.size == 1), "same gram, different hash")
    assert(byStr.map(_._2.head).toSeq.distinct.size == byStr.size,
      "hash collision on a small real vocabulary")
  }

  test("NgramHashCounts byte-walk handles multibyte UTF-8 and Unicode " +
      "lowercasing identically to the string kernel") {
    // the byte-walk splits on 0x20 bytes AFTER UTF8String.toLowerCase —
    // multibyte sequences (which never contain 0x20) must tokenize
    // exactly like the split(" ") kernel, including case folding that
    // CHANGES byte length (ß, İ) and repeated non-ASCII grams
    val docs = Seq(
      "Ärger Straße ÄRGER straße Ärger Straße",
      "İstanbul  deniz İSTANBUL deniz",
      "日本語 テスト 日本語 テスト",
      "mixed Ähnlich tokens ähnlich MIXED tokens").toDF("text")
    val str = docs.select(graft.plans.NgramCounts($"text", 2).as("a"))
      .as[Seq[(String, Long)]].collect()
    val hsh = docs.select(graft.plans.NgramHashCounts($"text", 2).as("a"))
      .as[Seq[(Long, Long)]].collect()
    str.zip(hsh).foreach { case (s, h) =>
      assert(s.size == h.size,
        s"distinct grams: ${s.map(_._1)} vs ${h.size} hashed")
      assert(s.map(_._2).sorted == h.map(_._2).sorted,
        s"count multiset drifted on ${s.map(_._1)}")
    }
    val pairs = str.flatten.map(_._1).zip(hsh.flatten.map(_._1))
    val byStr = pairs.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    assert(byStr.values.forall(_.size == 1),
      "same unicode gram, different hash")
  }

  test("routeFor maps tags to the gateway endpoints") {
    val out = Seq("D", "S", "E", "X").toDF("t")
      .select(Telemetry.routeFor($"t")).as[Option[String]].collect()
    assert(out.toSeq == Seq(Some("/data/"), Some("/setup-notification/"),
      Some("/error-report/"), None))
  }

  test("fitsBroadcast routes a cached leaf at inflation 2 on its current size") {
    import org.apache.spark.sql.functions.col
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_returnflag").filter(col("l_orderkey") > -7)
      .persist()
    def hint = base.select("l_orderkey", "l_returnflag")
    def bytes = hint.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxBytes = "spark.graft.broadcast.maxBytes"
    try {
      val planned = bytes // the unmaterialized cache reports parquet bytes
      base.count()
      val loaded = bytes
      assert(planned != loaded)
      // cached leaves route at inflation 2: put the budget between the
      // two estimates, so each answer shows which one it used
      spark.conf.set(maxBytes, (2 * planned.min(loaded)).toString)
      base.unpersist(blocking = true)
      base.persist()
      assert(graft.operators.Joins.fitsBroadcast(hint) == (planned <= loaded))
      base.count()
      assert(graft.operators.Joins.fitsBroadcast(hint) == (loaded <= planned))
    } finally {
      spark.conf.unset(maxBytes)
      base.unpersist()
    }
  }

  test("malformed graft byte confs fail loudly, naming the conf and value") {
    val hint = spark.range(10).toDF()
    val reads: Seq[(String, () => Any)] = Seq(
      "spark.graft.broadcast.maxBytes" ->
        (() => graft.operators.Joins.fitsBroadcast(hint)),
      "spark.graft.artifact.targetBytes" ->
        (() => graft.queries.PipelineQueries.artifactPartitions(spark, sfDir)))
    for ((key, read) <- reads) {
      for (bad <- Seq("12MB", "-1", "0")) {
        spark.conf.set(key, bad)
        try {
          val e = intercept[IllegalArgumentException](read())
          assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"),
            e.getMessage)
        } finally spark.conf.unset(key)
      }
      spark.conf.set(key, "4096")
      try read() finally spark.conf.unset(key)
    }
  }
}
