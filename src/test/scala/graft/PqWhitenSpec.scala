package graft

import graft.operators.{Pca, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA→PQ preprocessing composition (VERDICT r18 missing #3): the
  * rotation algebra SQL cannot see, plus the miniature twin of the
  * committed docs/PQ_WHITEN_AB.json recall/distortion A/B. Fully
  * deterministic (hash-noise corpus) — pass/fail never flakes.
  */
class PqWhitenSpec extends SparkSpec {
  import spark.implicits._

  private val d = 16
  private val subDim = 4
  private lazy val u = PqWhitenSpec.basis(d, seed = 19L)
  private lazy val corpus = (0L until 400L)
    .map(i => (i, PqWhitenSpec.vector(i, u))).toDF("vec_id", "v")

  test("fitProjection is orthonormal and interleave is a bijection") {
    val m = Pq.fitProjection(corpus, "v", d, subDim, whiten = false)
    assert(m.components.length == d)
    // rows orthonormal (the PCA basis survives the permutation)
    for (i <- 0 until d; j <- i until d) {
      val dot = m.components(i).zip(m.components(j))
        .map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"row ${i}x${j} dot = $dot")
    }
    // interleave: positions are a permutation, and each subspace gets
    // exactly one component from each variance-rank residue class
    val m0 = Pca.fit(corpus, "v", d, k = d)
    val perm = m.components.map(row =>
      m0.components.indexWhere(r0 =>
        r0.zip(row).map { case (a, b) => math.abs(a - b) }.sum < 1e-12))
    assert(perm.sorted.toSeq == (0 until d), s"not a bijection: ${perm.toSeq}")
    // round-robin law: projected position p carries the component of
    // variance rank (p mod subDim)·nSub + p div subDim — so each
    // subspace holds one component from each rank residue class
    val nSub = d / subDim
    for (p <- 0 until d)
      assert(perm(p) == (p % subDim) * nSub + p / subDim,
        s"position $p carries rank ${perm(p)}")
  }

  test("rotation preserves pairwise L2 exactly (whiten=false)") {
    val m = Pq.fitProjection(corpus, "v", d, subDim, whiten = false)
    val small = corpus.limit(20)
    val raw = small.as[(Long, Seq[Double])].collect().toMap
    val proj = Pca.project(small, "v", m, "w")
      .select("vec_id", "w").as[(Long, Seq[Double])].collect().toMap
    for (a <- raw.keys; b <- raw.keys if a < b) {
      def d2(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum
      assert(math.abs(d2(raw(a), raw(b)) - d2(proj(a), proj(b))) < 1e-9,
        s"pair ($a,$b): rotation must preserve L2")
    }
  }

  test("whitened model scales projected variance to ~1 per axis") {
    val m = Pca.whitened(Pca.fit(corpus, "v", d, k = d))
    val vs = Pca.project(corpus, "v", m, "w")
      .select(posexplode(col("w")).as(Seq("c", "x")))
      .groupBy("c").agg(var_pop(col("x")).as("vv"))
      .as[(Int, Double)].collect()
    vs.foreach { case (c, vv) =>
      assert(math.abs(vv - 1.0) < 0.05, s"axis $c variance $vv")
    }
  }

  test("trainCodebookInRow == trainCodebook: the one-pass tier is a pure plan change") {
    val cbJoin = Pq.trainCodebook(corpus, "vec_id", "v", subDim, k = 8)
      .as[(Long, Long, Int, Double)].collect().toSet
    val cbRow = Pq.trainCodebookInRow(corpus, "vec_id", "v", subDim, k = 8)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(cbRow == cbJoin,
      s"one-pass training must be bit-identical to the join form; " +
        s"diff=${(cbRow -- cbJoin).take(3)} / ${(cbJoin -- cbRow).take(3)}")
    // and in the projected space too (the whitened-row path)
    val m = Pq.fitProjection(corpus, "v", d, subDim, whiten = false)
    val proj = Pca.project(corpus, "v", m, "w").select(col("vec_id"), col("w"))
    val a = Pq.trainCodebook(proj, "vec_id", "w", subDim, k = 8)
      .as[(Long, Long, Int, Double)].collect().toSet
    val b = Pq.trainCodebookInRow(proj, "vec_id", "w", subDim, k = 8)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(a == b, "projected-space training differential")
  }

  test("non-integral ids route to the join form; numeric-string order is preserved") {
    // ADVICE r19: orderBy(cast long) silently reordered numeric-string
    // ids (lexicographic "10" < "9" becomes numeric 9 < 10) and
    // crashed on non-numeric ids. The in-row tier now REQUIRES an
    // integral id and otherwise delegates — so string ids must give
    // exactly the join form's codebook, seed order included.
    val strCorpus = corpus.select(
      concat(lit("id-"), col("vec_id")).as("vec_id"), col("v"))
    val join = Pq.trainCodebook(strCorpus, "vec_id", "v", subDim, k = 8)
      .as[(Long, String, Int, Double)].collect().toSet
    val row = Pq.trainCodebookInRow(strCorpus, "vec_id", "v", subDim, k = 8)
      .as[(Long, String, Int, Double)].collect().toSet
    assert(row == join, "string-id training must match the join form")
    // numeric strings whose lexicographic and numeric orders DIFFER:
    // ids 9..16 — lexicographic seed set would pick {10..16,9}-order
    val numStr = corpus.limit(8).select(
      (col("vec_id") + 9).cast("string").as("vec_id"), col("v"))
    val a = Pq.trainCodebook(numStr, "vec_id", "v", subDim, k = 4)
      .as[(Long, String, Int, Double)].collect().toSet
    val b = Pq.trainCodebookInRow(numStr, "vec_id", "v", subDim, k = 4)
      .as[(Long, String, Int, Double)].collect().toSet
    assert(a == b, "numeric-string ids must keep the NATURAL seed order")
  }

  test("ragged vectors: dims past the seed dimensionality are dropped, not null cids") {
    // one NON-SEED vector (id 300 — seeds are the k lowest ids; a
    // ragged SEED legitimately trains extra subspaces in both forms)
    // carries 2 extra subspaces; the join form drops them via the
    // codebook join — the in-row form must agree instead of emitting
    // null-cid groups
    val ragged = corpus.withColumn("v",
      when(col("vec_id") === 300L,
        concat(col("v"), array((0 until 2 * subDim).map(i =>
          lit(0.5 + i * 0.01)): _*)))
        .otherwise(col("v")))
    val join = Pq.trainCodebook(ragged, "vec_id", "v", subDim, k = 8)
      .as[(Long, Long, Int, Double)].collect().toSet
    val row = Pq.trainCodebookInRow(ragged, "vec_id", "v", subDim, k = 8)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(!row.exists(_ == null), "no null rows")
    assert(row == join, s"ragged differential; " +
      s"diff=${(row -- join).take(3)} / ${(join -- row).take(3)}")
  }

  test("miniature A/B: rotated+interleaved PQ beats raw PQ on recall AND distortion") {
    // the committed full-size record is docs/PQ_WHITEN_AB.json; this
    // twin re-derives the comparison at 400+15 so a regression in the
    // composition (wrong permutation, broken projection, codebook in
    // the wrong space) fails the build, not just the doc
    val probes = (0L until 15L)
      .map(i => (1000000L + i, PqWhitenSpec.vector(1000000L + i, u)))
      .toDF("pid", "v")
    val exact = probes.withColumnRenamed("v", "pv").crossJoin(corpus)
      .select(col("pid"), col("vec_id"),
        aggregate(zip_with(col("pv"), col("v"),
          (a, b) => (a - b) * (a - b)), lit(0.0), _ + _).as("d2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid")
          .orderBy(col("d2"), col("vec_id"))))
      .filter(col("rn") <= 10)
      .select("pid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val (rRaw, mRaw) = PqWhitenSpec.measure(spark, corpus, probes, exact,
      subDim, None)
    val model = Pq.fitProjection(corpus, "v", d, subDim, whiten = false)
    val (rRot, mRot) = PqWhitenSpec.measure(spark, corpus, probes, exact,
      subDim, Some(model))
    info(f"recall@10 raw=$rRaw%.3f rotated=$rRot%.3f; " +
      f"distortion raw=$mRaw%.3f rotated=$mRot%.3f")
    assert(rRot > rRaw,
      f"rotated recall $rRot%.3f must beat raw $rRaw%.3f on the " +
        "anisotropic corpus")
    assert(mRot < mRaw * 0.8,
      f"rotated distortion $mRot%.3f must be well under raw $mRaw%.3f")
  }
}

/** The A/B's corpus and measurement: x(id) = Σ_c λ_c·a_c(id)·u_c with
  * a fixed decaying spectrum λ, a deterministic orthonormal basis U
  * (Gram-Schmidt over hash-noise), and per-(id, c) coefficients from a
  * splitmix64-style hash mapped to [-1, 1] — ANISOTROPIC, CORRELATED
  * embeddings, the shape [[Pq.fitProjection]] exists for. The
  * full-size record (1200 corpus vectors + 40 probes) is
  * docs/PQ_WHITEN_AB.json.
  */
object PqWhitenSpec {

  /** splitmix64 finalizer — deterministic per-(id, dim) noise. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform in [-1, 1] from a hash. */
  private def u11(seed: Long): Double =
    (mix(seed) >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0

  /** Deterministic orthonormal basis: Gram-Schmidt over hash-noise. */
  def basis(d: Int, seed: Long): Array[Array[Double]] = {
    val u = Array.tabulate(d, d)((i, j) => u11(seed + i * 1009L + j))
    for (i <- 0 until d) {
      for (p <- 0 until i) {
        val dot = (0 until d).map(j => u(i)(j) * u(p)(j)).sum
        for (j <- 0 until d) u(i)(j) -= dot * u(p)(j)
      }
      val n = math.sqrt((0 until d).map(j => u(i)(j) * u(i)(j)).sum)
      for (j <- 0 until d) u(i)(j) /= n
    }
    u
  }

  val Spectrum: Array[Double] = Array(
    6.0, 5.0, 4.2, 3.5, 2.9, 2.4, 2.0, 1.6,
    1.3, 1.05, 0.85, 0.7, 0.55, 0.45, 0.35, 0.25)

  def vector(id: Long, u: Array[Array[Double]]): Seq[Double] = {
    val d = u.length
    val a = Array.tabulate(d)(c => u11(id * 7919L + c) * Spectrum(c))
    Seq.tabulate(d)(j => (0 until d).map(c => a(c) * u(c)(j)).sum)
  }

  /** ADC top-10 per probe from a (projected-space) codebook + codes. */
  def adcTop10(probesLf: DataFrame, codes: DataFrame,
      codebook: DataFrame): DataFrame = {
    val pt = Pq.distances(probesLf, codebook, "pid")
    pt.join(codes, Seq("s", "cid"))
      .groupBy(col("pid"), col("vec_id"))
      .agg(sum(col("dist")).as("adist"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid")
          .orderBy(col("adist"), col("vec_id"))))
      .filter(col("rn") <= 10)
      .select("pid", "vec_id")
  }

  /** One full variant measurement → (recall@10, distortion MSE). */
  def measure(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      exact: Map[Long, Set[Long]], subDim: Int,
      model: Option[Pca.PcaModel]): (Double, Double) = {
    import spark.implicits._
    def proj(df: DataFrame) = model match {
      case Some(m) => Pca.project(df, "v", m, "__w")
        .select(col(df.columns.head), col("__w").as("v"))
      case None => df
    }
    val c = proj(corpus)
    val p = proj(probes)
    val cb = Pq.trainCodebook(c, "vec_id", "v", subDim, k = 8)
    val codes = Pq.encode(c, "vec_id", "v", cb, subDim)
    val approx = adcTop10(Pq.longForm(p, "pid", "v", subDim), codes, cb)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (k2, xs) => k2 -> xs.map(_._2).toSet }
    val recalls = exact.map { case (pid, truth) =>
      approx.getOrElse(pid, Set.empty).intersect(truth).size.toDouble /
        truth.size
    }
    val recall = recalls.sum / recalls.size
    // distortion: mean ‖x − centroid(code(x))‖² in the encode space
    val mse = Pq.longForm(c, "vec_id", "v", subDim)
      .join(codes, Seq("vec_id", "s"))
      .join(cb, Seq("s", "cid", "d"))
      .agg(avg((col("x") - col("cx")) * (col("x") - col("cx"))
        * lit(Spectrum.length)))
      .as[Double].head()
    (recall, mse)
  }
}
