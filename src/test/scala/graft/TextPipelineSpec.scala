package graft

import graft.functions.{SimilarityFunctions => SF, TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Semantic specs for the LLM-pipeline operator library: sketches
  * behave like sketches (near-dups collide, distinct docs don't),
  * stubs produce deterministic features, LSH recall is sane.
  */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  val nearDupA = "the quick brown fox jumps over the lazy dog again and again"
  val nearDupB = "the quick brown fox jumps over the lazy dog again and once"
  val distinct1 = "completely different content about spark query engines"

  test("shingles are order-sensitive word n-grams") {
    val sh = Seq(nearDupA).toDF("text")
      .select(TF.shingles(TF.tokens($"text")).as("ss"))
      .as[Seq[String]].head()
    assert(sh.contains("the quick brown"))
    assert(sh.contains("quick brown fox"))
    assert(!sh.contains("brown quick the"))
  }

  test("minhash signatures: near-dups agree on most slots, distinct docs don't") {
    // the dedup tier's signing path: sorted shingle hashes → MinHash
    val sigs = graft.operators.Dedup.shingleSignatures(
        Seq(nearDupA, nearDupB, distinct1).zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
        "id", "text")
      .select(col("id"), graft.plans.MinHashSig(col("hh"), 32).as("sig"))
      .orderBy("id").select("sig").as[Seq[Long]].collect()
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sigs(0), sigs(1)) >= 20,
      s"near-dups should share most minhash slots, got ${agree(sigs(0), sigs(1))}/32")
    assert(agree(sigs(0), sigs(2)) <= 5,
      s"distinct docs should share few slots, got ${agree(sigs(0), sigs(2))}/32")
  }

  test("simhash: near-dups are hamming-close, distinct docs are not") {
    val hs = Seq(nearDupA, nearDupB, distinct1).toDF("text")
      .select(TF.simhash60(TF.tokens($"text")).as("h")).as[Long].collect()
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(0), hs(1)) <= 15,
      s"near-dup hamming ${hamming(hs(0), hs(1))}")
    assert(hamming(hs(0), hs(2)) > 15,
      s"distinct hamming ${hamming(hs(0), hs(2))}")
  }

  test("langId picks the marker-dominant language; 'und' when none") {
    val rows = Seq(
      "the cat and the dog of a house is to blame",
      "le chat et la maison des gens un jour",
      "der hund und die katze das haus ein tag ist hier",
      "xyzzy plugh qwert").toDF("text")
      .select(TF.langId(TF.tokens($"text")).as("l")).as[String].collect()
    assert(rows.toSeq == Seq("en", "fr", "de", "und"))
  }

  test("quality score stays in [0,1] and favors clean prose") {
    // the score ns_text_quality computes (length, alpha ratio and
    // stopword share), over a two-document catalog
    val dir = java.nio.file.Files.createTempDirectory("graft-quality-")
      .toString
    Seq((1L, "the quick brown fox jumps over the lazy dog and runs to the hills"),
        (2L, "@@@@ #### $$$$ 1234 %%%% ^^^^ &&&&"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val scores = graft.queries.Registry.all.find(_.name == "ns_text_quality")
      .get.build(spark, dir).select("score").as[Double].collect()
    assert(scores.length == 2)
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1))
  }

  test("hex60 JVM twin matches the SQL expression") {
    val sqlVal = Seq("abc").toDF("s").select(TF.hex60($"s")).as[Long].head()
    assert(sqlVal == SF.hex60Local("abc"))
  }

  test("LSH bucket prefilter finds most of the brute-force cosine top-10") {
    val e = Catalog.table(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val probe = e.filter($"vec_id" === 0).select($"v".as("pv"))
    val brute = e.filter($"vec_id" =!= 0).crossJoin(broadcast(probe))
      .select($"vec_id", SF.cosine($"v", $"pv").as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val bucketed = e.withColumn("b", SF.lshBucket($"v", 4, 64))
    val pb = bucketed.filter($"vec_id" === 0)
      .select($"b".as("pbk"), $"v".as("pv"))
    val cand = bucketed.filter($"vec_id" =!= 0)
      .join(broadcast(pb), $"b" === $"pbk")
      .select($"vec_id", SF.cosine($"v", $"pv").as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    // 4-plane LSH halves the space 4×; expect meaningful but not
    // perfect recall on 50 vectors (sf0.001)
    assert(cand.nonEmpty, "LSH bucket should contain candidates")
    assert((brute & cand).nonEmpty,
      s"LSH top-k should overlap brute-force top-k: brute=$brute lsh=$cand")
  }

  // independent reference: the per-gram closed form the oracle SQL
  // computes (Σ cp_j·B^(k-1-j) mod M per position, min over positions)
  // — NOT the rolling update, so a rolling-arithmetic bug can't hide
  private def naiveGramMin(s: String, k: Int): Long = {
    val M = graft.plans.HashSupport.RollM
    val B = graft.plans.HashSupport.RollB
    val cps = s.codePoints().toArray
    (0 to cps.length - k).map { i =>
      (0 until k).foldLeft(0L)((h, j) => (h * B + cps(i + j)) % M)
    }.min
  }

  test("charGramMinHash slices code points, not UTF-16 units") {
    // five non-BMP code points = ten UTF-16 units; code-point slicing
    // (DuckDB substring semantics) yields exactly one 5-gram = the
    // whole string
    val emoji = "😀😁😂😃😄"
    val got = Seq(emoji).toDF("text")
      .select(TF.charGramMinHash($"text", 5)).as[Long].head()
    assert(got == naiveGramMin(emoji, 5))
    // four code points → below k → null
    val short = Seq(emoji.substring(0, 8)).toDF("text")
      .select(TF.charGramMinHash($"text", 5)).as[Option[Long]].head()
    assert(short.isEmpty)
  }

  test("charGramMinHash rolling update matches the per-gram closed form") {
    val samples = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaa", "ab😀cd😁ef", "hello", "0123456789" * 7)
    val got = samples.toDF("text")
      .select(TF.charGramMinHash($"text", 5)).as[Long].collect()
    samples.zip(got).foreach { case (s, h) =>
      assert(h == naiveGramMin(s, 5), s"mismatch for '$s'")
    }
  }

  test("ngrams keep every occurrence; shingles dedupe") {
    val doc = "a b a b c"
    val bg = Seq(doc).toDF("text")
      .select(TF.ngrams(TF.tokens($"text"), 2).as("g")).as[Seq[String]].head()
    assert(bg == Seq("a b", "b a", "a b", "b c"), bg)
    val sh = Seq(doc).toDF("text")
      .select(TF.shingles(TF.tokens($"text"), 2).as("g")).as[Seq[String]].head()
    assert(sh == Seq("a b", "b a", "b c"), sh)
    // below-order docs yield empty, not a descending-sequence error
    val short = Seq("only").toDF("text")
      .select(TF.ngrams(TF.tokens($"text"), 2).as("g")).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("shingles/ngrams: null tokens yield empty, not null (pre-r9 contract)") {
    val got = Seq(Tuple1(Option.empty[String])).toDF("text")
      .select(TF.shingles(TF.tokens($"text")).as("sh"),
        TF.ngrams(TF.tokens($"text"), 2).as("ng"))
      .as[(Seq[String], Seq[String])].head()
    assert(got._1.isEmpty && got._2.isEmpty,
      s"null text must shingle to [], got $got")
  }

  test("temperatureResample: NULL stratum is its own stratum, no silent drops") {
    val docs = (1 to 90).map(i =>
      (i.toLong, if (i <= 60) "en" else null, s"body $i"))
      .toDF("doc_id", "lang", "text")
    val out = graft.operators.Curate
      .temperatureResample(docs, "text", "lang")
    assert(out.count() == 90, "every doc keeps a row, NULL stratum included")
    val nullRepeats = out.filter($"lang".isNull)
      .agg(sum($"n_repeats")).as[Long].head()
    assert(nullRepeats > 0, "NULL-stratum docs must be resampled, not dropped")
  }

  test("RepetitionStats matches the naive groupBy formulation") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "x")
    val docs = Seq("", "solo", "a a a a", "a b a b c") ++
      Seq.tabulate(30)(_ =>
        Seq.fill(rnd.nextInt(60) + 1)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    val got = docs.toDF("text")
      .select(graft.plans.RepetitionStats(TF.tokens($"text")).as("r"))
      .select($"r.n_tok", $"r.n_distinct_tok", $"r.top_tok_cnt",
        $"r.dup_bigram_cnt", $"r.top_bigram_cnt")
      .as[(Long, Long, Long, Long, Long)].collect()
    docs.zip(got).foreach { case (doc, g) =>
      val tk = doc.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      val bg = tk.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val want = (tk.size.toLong, tk.distinct.size.toLong,
        if (tk.isEmpty) 0L
        else tk.groupBy(identity).values.map(_.size).max.toLong,
        (bg.size - bg.distinct.size).toLong,
        if (bg.isEmpty) 0L
        else bg.groupBy(identity).values.map(_.size).max.toLong)
      assert(g == want, s"'$doc': $g vs $want")
    }
  }

  test("int8 quantization: codes bounded, symmetric, zero-safe, 4x smaller") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f)),           // all-zero: scale 0, codes 0
      (3L, Array(-0.75f)),
      (4L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val got = vecs.select($"vec_id",
        graft.functions.Quantize.int8Scale($"embedding").as("s"),
        graft.functions.Quantize.int8Codes($"embedding",
          graft.functions.Quantize.int8Scale($"embedding")).as("c"))
      .as[(Long, Double, Seq[Int])].collect().sortBy(_._1)
    assert(got(0)._2 == 1.0 && got(0)._3 == Seq(64, -127, 32, 0), got(0))
    assert(got(1)._2 == 0.0 && got(1)._3 == Seq(0, 0), got(1))
    // single negative element: scale = |x|, code = floor(-127 + .5)
    assert(got(2)._2 == 0.75 && got(2)._3 == Seq(-127), got(2))
    assert(got(3)._2 == 0.0 && got(3)._3.isEmpty, got(3))
    // max |code| never exceeds 127 on arbitrary floats
    val rnd = new scala.util.Random(42)
    val big = Seq.tabulate(50)(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val codes = big.select(graft.functions.Quantize.int8Codes($"embedding",
        graft.functions.Quantize.int8Scale($"embedding")).as("c"))
      .as[Seq[Int]].collect()
    assert(codes.flatten.forall(c => c >= -127 && c <= 127))
    // the max-|x| element always maps to ±127 (scale anchor)
    assert(codes.forall(_.exists(c => math.abs(c) == 127)))
  }

  test("QualityStats: one-pass counts match the per-column formulations") {
    val cases = Seq(
      // (text, n_chars, n_alpha, n_tok, n_stop, tok_len_sum)
      ("", 0L, 0L, 0L, 0L, 0L),
      ("   ", 3L, 0L, 0L, 0L, 0L),
      ("THE the The", 11L, 9L, 3L, 3L, 9L), // stopwords match lowercased
      ("año b 😀", 7L, 3L, 3L, 0L, 5L), // code points, not UTF-16 units
      ("the quick brown fox", 19L, 16L, 4L, 1L, 16L))
    for ((txt, ch, al, tk, st, ls) <- cases) {
      val got = Seq(txt).toDF("text")
        .select(graft.plans.QualityStats($"text").as("q"))
        .select($"q.n_chars", $"q.n_alpha", $"q.n_tok", $"q.n_stop",
          $"q.tok_len_sum")
        .as[(Long, Long, Long, Long, Long)].head()
      assert(got == ((ch, al, tk, st, ls)), s"'$txt': $got")
    }
  }

  test("charGramWinnow: window minima, substring-match guarantee, short-doc edges") {
    // naive reference: all k-gram rolling hashes, then every w-window min
    def naive(s: String, k: Int, w: Int): Set[Long] = {
      val cps = s.codePoints().toArray
      if (cps.length < k) return Set.empty
      val hs = cps.sliding(k).map(_.foldLeft(0L)((h, c) =>
        (h * 1000003L + c) % 2147483647L)).toArray
      if (hs.length <= w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val samples = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", "short", "ab", "hello world hello world hello",
      // non-BMP: gram windows must count CODE POINTS (a UTF-16-unit
      // slice would split the surrogate pairs)
      "café 😀😁😂 naïve 😀😁😂 end")
    val got = samples.toDF("text")
      .select(TF.charGramWinnow($"text", 5, 4).as("f"))
      .as[Option[Seq[Long]]].collect()
    samples.zip(got).foreach { case (s, f) =>
      if (s.codePointCount(0, s.length) < 5) assert(f.isEmpty, s"'$s' must be null")
      else assert(f.get.toSet == naive(s, 5, 4), s"mismatch for '$s'")
    }
    // the winnowing guarantee: two docs sharing a >= w+k-1 char run
    // share at least one fingerprint
    val shared = "XYZQW-shared-substring-PQRST"
    val a = ("prefix one " + shared + " tail a").toUpperCase
    val b = ("completely different opening " + shared + " endb").toUpperCase
    val fps = Seq(a, b).toDF("text")
      .select(TF.charGramWinnow($"text", 5, 16).as("f"))
      .as[Seq[Long]].collect()
    assert(fps(0).toSet.intersect(fps(1).toSet).nonEmpty,
      "docs sharing a 28-char run must share a fingerprint")
  }

  test("temperatureResample: repeats preserve E[corpus], tilt toward rare strata") {
    val docs = (1 to 360).map(i =>
      (i.toLong, if (i <= 300) "en" else "de", s"doc number $i body"))
      .toDF("doc_id", "lang", "text")
    val out = graft.operators.Curate
      .temperatureResample(docs, "text", "lang")
      .select($"lang", $"n_repeats").as[(String, Long)].collect()
    val bySrc = out.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // sqrt tilt: en share 300/360 -> weight .91/1.57, de .41/1.57
    // => en expected ~209, de expected ~151 of 360 total
    assert(bySrc("de") > 100 && bySrc("de") < 200, bySrc.toString)
    assert(bySrc("en") > 150 && bySrc("en") < 260, bySrc.toString)
    val total = out.map(_._2).sum
    assert(math.abs(total - 360L) < 40, s"E[corpus] drift: $total vs 360")
  }
}
