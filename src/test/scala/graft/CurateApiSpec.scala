package graft

import graft.operators.Curate
import org.apache.spark.sql.functions._

/** The public curation API over arbitrary user frames. */
class CurateApiSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog again"),
    (2L, "en", "ok"),                               // too short
    (3L, "de", "der schnelle braune fuchs springt heute wieder sehr hoch"),
    (4L, "en", "1234 5678 9012 3456 7890 1234 5678")) // digits: low alpha
    .toDF("id", "lang", "body")

  test("qualityFilter applies token/alpha/lang gates") {
    val kept = Curate.qualityFilter(docs, "body", "lang")
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L))
    val keptDe = Curate.qualityFilter(docs, "body", "lang",
      langs = Seq("en", "de")).select("id").as[Long].collect().sorted
    assert(keptDe.toSeq == Seq(1L, 3L))
  }

  test("tokenizeWithVocab: ids by (freq desc, tok asc), OOV=0, " +
      "positional checksum; empty docs absent") {
    // corpus counts: b=4, a=3, c=2, z=1 → vocabSize=3 keeps b=1, a=2,
    // c=3 (the a/c boundary is frequency; the b/a order is too) and z
    // falls OOV
    val corpus = Seq(
      (10L, "a b c b"),        // ids 2 1 3 1 → cks 2+2+9+4=17, oov 0
      (11L, "b z a"),          // ids 1 0 2 → cks 1+0+6=7, oov 1
      (12L, "c a b"),          // ids 3 2 1 → cks 3+4+3=10, oov 0
      (13L, ""))               // no tokens → absent
      .toDF("my_id", "body")
    val out = Curate.tokenizeWithVocab(corpus, "my_id", "body",
        vocabSize = 3)
      .select("my_id", "n_tok", "n_oov", "checksum")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((10L, 4L, 0L, 17L), (11L, 3L, 1L, 7L),
      (12L, 3L, 0L, 10L)))
    // vocab ids deterministic incl. the tie rule: equal counts order
    // by token ASC
    val voc = Curate.buildVocab(corpus, "body", vocabSize = 10)
      .select("tok", "id").as[(String, Long)].collect().toMap
    assert(voc == Map("b" -> 1L, "a" -> 2L, "c" -> 3L, "z" -> 4L))
    val tie = Curate.buildVocab(
        Seq((1L, "x y"), (2L, "y x")).toDF("id", "t"), "t", 1)
      .select("tok").as[String].collect().toSeq
    assert(tie == Seq("x")) // 2-2 tie → lexicographically first
    // both tiers (fused kernel / broadcast join) are the same operator:
    // identical rows whatever the routing
    val joinTier = Curate.tokenizeWithVocab(corpus, "my_id", "body",
        vocabSize = 3, inRowMaxVocab = 0)
      .select("my_id", "n_tok", "n_oov", "checksum")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(joinTier.toSeq == out.toSeq)
  }

  test("packSequences fills the token budget per shard in order") {
    val out = Curate.packSequences(docs, "body", "lang", "id",
      budgetTokens = 12)
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    // en shard: doc1 (10 tok) -> pack 0; doc2 (1) -> pack 0 (cum 10);
    // doc4 (7) -> cum before = 11 -> floor(11/12) = 0
    assert(out(1L) == 0L && out(2L) == 0L)
    assert(out(3L) == 0L) // de shard starts fresh
  }

  test("dedupParagraphs drops repeated blocks keep-first and reassembles") {
    // parTokens=3: doc 1 = [a b c][d e f]; doc 2 repeats [a b c] then
    // unique tail; doc 3 repeats both of doc 1's blocks exactly; doc 4
    // is empty
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "a b c d e f"),
      (4L, ""))
      .toDF("my_id", "body")
    val out = Curate.dedupParagraphs(corpus, "my_id", "body", parTokens = 3)
      .select("id", "n_par", "n_kept", "text_kept")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, 2L, "a b c d e f")))
    // doc 2: [a b c] seen at doc 1 -> dropped; [x y z] kept
    assert(out(2L) == ((2L, 2L, 1L, "x y z")))
    // doc 3: both blocks already seen -> empty
    assert(out(3L) == ((3L, 2L, 0L, "")))
    // zero-token doc survives with zero counts
    assert(out(4L) == ((4L, 0L, 0L, "")))
  }

  test("redactPii replaces digit runs and emails") {
    val (red, nEmail) = Curate.redactPiiCounted(
      Seq((1L, "mail me at a.b@example.com or call +1 (555) 123-4567 id 9876543"))
        .toDF("id", "body"), "body")
      .select("text_redacted", "n_email").as[(String, Long)].head()
    assert(!red.contains("example.com") && red.contains("<email>"), red)
    assert(red.contains("<phone>"), red)
    assert(!red.contains("9876543"), red)
    assert(nEmail == 1L, s"n_email = $nEmail")
  }

  test("PiiRedact kernel is bit-equal to the chained regexp_replace + " +
      "regexp_count formulation on edge shapes") {
    import graft.plans.PiiRedactSupport.{emailRegex, phoneRegex, idRunRegex}
    val docs = Seq(
      "mail a.b@example.com or a@b.cd then +1 (555) 123-4567 id 9876543",
      "", "no pii here at all",
      "x@y.zz x@y.zz x@y.zz",                      // repeated emails
      "trailing dot a@b.cd. and a@b.c",            // backtracking edges
      "digits 12345 123456 1234567890123456789",   // run boundaries
      "phone-ish ++12 34 56 78 90 and (1)2-3 4",
      "dollar $1000000 and back\\slash \\9876543", // $ and \ in INPUT
      "unicode é@exämple.com 999999é123456",
      "a@b.cd123456",                              // email then id run adjacent
      "+123456789012345678901234567890")           // long phone run
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "body")
    val want = docs.select(col("id"),
      regexp_replace(regexp_replace(regexp_replace(col("body"),
        emailRegex, "<email>"), phoneRegex, "<phone>"),
        idRunRegex, "<id>").as("red"),
      regexp_count(col("body"), lit(emailRegex)).cast("long").as("n"))
    val got = Curate.redactPiiCounted(docs, "body")
      .select(col("id"), col("text_redacted").as("red"),
        col("n_email").as("n"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      s"kernel vs compositional:\n${got.collect().mkString("\n")}\nvs\n" +
        want.collect().mkString("\n"))
  }

  test("chunkDocuments: overlapping fixed-size chunks cover every token") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ") // 100 tokens
    val one = Seq((7L, text)).toDF("id", "body")
    val chunks = Curate.chunkDocuments(one, "id", "body",
      maxTokens = 64, overlap = 16)
      .select("chunk_id", "n_tok", "chunk_text")
      .as[(Int, Int, String)].collect().sortBy(_._1)
    // step 48: chunk 0 covers tokens 1-64, chunk 1 covers 49-100; a
    // third chunk at 97 would be fully contained in chunk 1 (its 4
    // tokens are all inside 49-100) and must NOT be emitted
    assert(chunks.map(_._1).toSeq == Seq(0, 1))
    assert(chunks.map(_._2).toSeq == Seq(64, 52))
    assert(chunks(0)._3.startsWith("w1 ") && chunks(1)._3.endsWith(" w100"))
    // consecutive chunks overlap by exactly `overlap` tokens
    val c0 = chunks(0)._3.split(" ").toSeq
    val c1 = chunks(1)._3.split(" ").toSeq
    assert(c0.takeRight(16) == c1.take(16))
    // empty docs yield no chunks
    assert(Curate.chunkDocuments(Seq((1L, "")).toDF("id", "body"),
      "id", "body").count() == 0)
  }

  test("sampleStratified applies per-stratum rates deterministically") {
    val many = (1 to 1000).flatMap(i =>
      Seq((i.toLong, "en"), (i.toLong + 10000, "fr"), (i.toLong + 20000, "xx")))
      .toDF("id", "lang")
    val kept = Curate.sampleStratified(many, "id", "lang",
      rates = Seq("en" -> 50, "fr" -> 25), defaultPct = 10)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    // hash buckets are uniform-ish: rates land within a loose band
    assert(kept("en") > 400 && kept("en") < 600, kept.toString)
    assert(kept("fr") > 180 && kept("fr") < 320, kept.toString)
    assert(kept("xx") > 50 && kept("xx") < 160, kept.toString)
    val again = Curate.sampleStratified(many, "id", "lang",
      rates = Seq("en" -> 50, "fr" -> 25), defaultPct = 10)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept == again, "must be deterministic")
  }

  test("decontaminate flags train docs sharing an n-gram with the eval set") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", true), // eval
      (2L, "intro text then the quick brown fox appears here", false),
      (3L, "entirely unrelated training document body text", false))
      .toDF("id0", "body", "ev")
    val out = Curate.decontaminate(corpus, "id0", "body", col("ev"))
      .as[(Long, Long)].collect().toMap
    assert(out.contains(2L) && out(2L) >= 1,
      s"doc 2 shares 'the quick brown fox' 4-gram: $out")
    assert(!out.contains(3L), s"clean doc flagged: $out")
    assert(!out.contains(1L), "eval docs are never in the output")
  }

  test("sampleSplit is deterministic and covers all three splits") {
    val many = (1 to 300).map(i => (i.toLong, s"document number $i body"))
      .toDF("id", "body")
    val a = Curate.sampleSplit(many, "body").select("id", "split")
      .as[(Long, String)].collect().toMap
    val b = Curate.sampleSplit(many, "body").select("id", "split")
      .as[(Long, String)].collect().toMap
    assert(a == b, "split must be deterministic")
    assert(a.values.toSet == Set("train", "val", "test"))
  }

  test("selectByBudget: distributed prefix sum equals the " +
      "single-window spec; range partitioning in the plan") {
    import org.apache.spark.sql.expressions.Window
    def check(rows: org.apache.spark.sql.DataFrame, budget: Long): Unit = {
      val sel = Curate.selectByBudget(rows, "id", "score", "w", budget,
        numPartitions = 7)
      // the scale contract: global order comes from a range exchange,
      // never a single-task unpartitioned data window
      assert(sel.queryExecution.executedPlan.toString
        .contains("rangepartitioning"))
      val have = sel.select("id", "cum_w").as[(Long, Long)].collect().toSet
      val spec = Window.orderBy(col("score").desc, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expect = rows
        .withColumn("cum_w", sum(col("w").cast("long")).over(spec))
        .filter(col("cum_w") <= budget)
        .select("id", "cum_w").as[(Long, Long)].collect().toSet
      val wrong = have.diff(expect)
      if (have != expect || have.isEmpty) fail(s"kept ${have.size} rows " +
        s"where the spec keeps ${expect.size}; ${wrong.size} (id, cum_w) " +
        s"pairs differ from the spec, e.g. ${wrong.take(3)}")
    }
    val rows = (1L to 100L).map(i => (i, i * 37 % 11, i % 7 + 1))
      .toDF("id", "score", "w") // tied scores -> id tie-break matters
    check(rows, 150L)
    // the running sums and the per-range offsets both read the ranges;
    // over a cached input each read of a range exchange on the order
    // samples its own bounds (see globalOrderIndex's test)
    val cached = spark.range(0, 20000, 1, 2)
      .select(col("id"), (col("id") * 7919 % 1000).as("score"),
        (col("id") % 7 + 1).as("w")).cache()
    try check(cached, 40000L) finally { cached.unpersist(); () }
    // budget below the best doc's weight selects nothing
    assert(Curate.selectByBudget(rows, "id", "score", "w", 0L)
      .count() == 0)
  }

  test("hashed decontamination tier: equals the string formulation, " +
      "bloom probe exact at absurd fpp, in-row prune in the plan") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", true), // eval
      (2L, "intro text then the quick brown fox appears here", false),
      (3L, "entirely unrelated training document body text", false),
      (4L, "another clean doc with nothing shared at all here", false))
      .toDF("id0", "body", "ev")
    val strings = Curate.decontaminate(corpus, "id0", "body", col("ev"))
      .as[(Long, Long)].collect().toMap
    // the 60-bit hash is collision-free at this size: identical result
    val sig = Curate.contamSignatures(corpus, "id0", "body", col("ev"))
    val train = sig.filter(!col("is_eval")).select("id", "hh")
    val evalH = sig.filter(col("is_eval"))
      .select(explode(col("hh")).as("h")).distinct()
    val hashed = Curate.decontaminateHashedExact(train, evalH)
      .as[(Long, Long)].collect().toMap
    assert(hashed == strings, s"$hashed vs $strings")
    // bloom-prefiltered probe: fpp 0.5 passes plenty of clean hashes —
    // the verify join must still reduce to exactly the exact answer
    val idx = Curate.ContamIndexHashed(evalH,
      Curate.bloomOverHashes(evalH, fpp = 0.5))
    val probed = Curate.probeContamHashed(train, idx)
      .as[(Long, Long)].collect().toMap
    assert(probed == strings, s"$probed vs $strings")
    // the scale property: the bloom prunes IN-ROW (the native
    // graft_bloom_filter_array expression), before any explode — on a
    // parquet-backed signature table (a local Seq constant-folds the
    // whole projection into a LocalTableScan)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-contamsig-").toString + "/sig"
    train.write.parquet(dir)
    val plan = Curate.probeContamHashed(spark.read.parquet(dir), idx)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_filter_array"), plan)
    val genIdx = plan.indexOf("Generate explode")
    val bloomIdx = plan.indexOf("graft_bloom_filter_array")
    assert(genIdx >= 0 && bloomIdx > genIdx,
      s"bloom prune must sit below the explode:\n$plan")
  }

  test("in-row decontamination: equals the exact and bloom tiers, " +
      "no join or shuffle") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", true), // eval
      (2L, "intro text then the quick brown fox appears here", false),
      (3L, "entirely unrelated training document body text", false),
      (4L, "another clean doc with nothing shared at all here", false))
      .toDF("id0", "body", "ev")
    val sig = Curate.contamSignatures(corpus, "id0", "body", col("ev"))
    val train = sig.filter(!col("ev")).select("id", "hh")
    val evalH = sig.filter(col("ev"))
      .select(explode(col("hh")).as("h")).distinct()
    val exact = Curate.decontaminateHashedExact(train, evalH)
      .as[(Long, Long)].collect().toMap
    val set = Curate.evalHashSet(evalH)
    assert(set.sameElements(set.sorted.distinct), "sorted + distinct")
    val inRow = Curate.decontaminateHashedInRow(train, set)
      .as[(Long, Long)].collect().toMap
    assert(inRow == exact && inRow.contains(2L) && !inRow.contains(3L),
      s"$inRow vs $exact")
    // the scale property: the whole probe is one map-side expression —
    // no Join or shuffle Exchange anywhere in the plan (parquet-backed:
    // a local Seq constant-folds into a LocalTableScan)
    val pdir = java.nio.file.Files
      .createTempDirectory("graft-inrow-").toString + "/sig"
    train.write.parquet(pdir)
    val plan = Curate.decontaminateHashedInRow(
        spark.read.parquet(pdir), set)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_set_intersect_count"), plan)
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"in-row tier must not join or shuffle:\n$plan")
    // the big-eval tier over the same hashes (bloom + verify join,
    // ns_decontaminate_bloom's route) gives the same exact answer
    val large = Curate.probeContamHashed(train,
        Curate.ContamIndexHashed(evalH, Curate.bloomOverHashes(evalH)))
      .as[(Long, Long)].collect().toMap
    assert(large == exact, s"$large vs $exact")
  }

  test("globalOrderIndex equals the single-window ROW_NUMBER spec; " +
      "range partitioning in the plan") {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("score").desc, col("id").asc)
    def check(rows: org.apache.spark.sql.DataFrame): Unit = {
      val got = Curate.globalOrderIndex(rows, ord, numPartitions = 7)
      assert(got.queryExecution.executedPlan.toString
        .contains("rangepartitioning"))
      val expect = rows
        .withColumn("pos", row_number().over(
          Window.orderBy(ord: _*)).cast("long"))
        .select("id", "pos").as[(Long, Long)].collect().toSet
      val have = got.select("id", "pos").as[(Long, Long)].collect().toSet
      val wrong = have.diff(expect)
      if (have != expect) fail(s"${wrong.size} of ${expect.size} (id, pos) " +
        s"pairs differ from the spec, e.g. ${wrong.take(3)}; " +
        s"${expect.diff(have).size} missing")
    }
    check((1L to 100L).map(i => (i, i * 37 % 11))
      .toDF("id", "score")) // tied scores -> id tie-break matters
    // Both the numbering and the offsets read the partitioned rows. Over
    // a cached input (how the catalog serves tables) AQE does not reuse
    // an exchange, and each execution of a range exchange samples its
    // own bounds: with 10 000 rows per input partition the sample is
    // partial, so the two reads can cut the order at different bounds.
    val cached = spark.range(0, 20000, 1, 2)
      .select(col("id"), (col("id") * 7919 % 1000).as("score")).cache()
    try check(cached) finally { cached.unpersist(); () }
  }

  test("waterfillAllocation: saturation walk matches the brute-force " +
      "water level; budget edges behave") {
    val strata = Seq(
      ("tiny", 50L, 4L),   // heavy weight, tiny capacity -> saturates
      ("smal", 300L, 2L),
      ("medi", 900L, 1L),
      ("larg", 2000L, 1L))
      .toDF("src", "n", "w")
    val out = Curate.waterfillAllocation(strata, "src", "n", "w", 1000L)
      .select("src", "saturated", "alloc")
      .as[(String, Int, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // brute force: t=1000/8=125 -> tiny (cap 50 <= 4*125) saturates;
    // then t=950/4=237.5 -> smal (300 > 2*237.5=475? no: 300<=475)
    // saturates; then t=650/2=325 -> medi (900>325) and larg stay
    // unsaturated at floor(1*650/2)=325 each
    assert(out("tiny") == ((1, 50L)), s"$out")
    assert(out("smal") == ((1, 300L)), s"$out")
    assert(out("medi") == ((0, 325L)), s"$out")
    assert(out("larg") == ((0, 325L)), s"$out")
    // allocations fill the budget exactly (no rounding loss here)
    assert(out.values.map(_._2).sum == 1000L)
    // zero budget -> zero everywhere, nothing saturates
    val zero = Curate.waterfillAllocation(strata, "src", "n", "w", 0L)
      .select("saturated", "alloc").as[(Int, Long)].collect()
    assert(zero.forall(_ == ((0, 0L))), zero.toSeq.toString)
    // budget >= total capacity -> everything saturates at capacity
    val all = Curate.waterfillAllocation(strata, "src", "n", "w", 10000L)
      .select("src", "saturated", "alloc")
      .as[(String, Int, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(all.values.forall(_._1 == 1) && all("larg")._2 == 2000L, s"$all")
  }

  test("scoreByNgramFreq: average corpus bigram frequency, fixed-point") {
    val corpus = Seq(
      (1L, "a b c"),       // bigrams: "a b", "b c"
      (2L, "a b a b"),     // "a b" x2, "b a" x1
      (3L, "x"))           // no bigrams -> absent from output
      .toDF("id0", "body")
    val out = Curate.scoreByNgramFreq(corpus, "id0", "body")
      .select("id", "n_ngrams", "score")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // corpus counts: "a b" -> 3, "b c" -> 1, "b a" -> 1
    // doc 1: (3 + 1) * 1e6 / 2 = 2_000_000
    // doc 2: (3 + 3 + 1) * 1e6 / 3 = 2_333_333 (floor)
    assert(out(1L) == ((2L, 2000000L)), s"$out")
    assert(out(2L) == ((3L, 2333333L)), s"$out")
    assert(!out.contains(3L), s"$out")
  }
}
