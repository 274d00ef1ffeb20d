package graft

import graft.operators.{Pca, Pq}
import org.apache.spark.sql.functions._

/** PCA→PQ preprocessing: the projection algebra (a rotation keeps
  * distances, the diagonal whitening model unit variance) and the PQ
  * training tiers in raw and whitened (projected) space, where the
  * one-pass in-row tier must equal the join form. Fully deterministic
  * (hash-noise corpus) — pass/fail never flakes.
  */
class PqWhitenSpec extends SparkSpec {
  import spark.implicits._

  private val d = 16
  private val subDim = 4
  private lazy val u = PqWhitenSpec.basis(d, seed = 19L)
  private lazy val corpus = (0L until 400L)
    .map(i => (i, PqWhitenSpec.vector(i, u))).toDF("vec_id", "v")

  /** The model shape ns_pq_whiten_encode builds: per-dim (μ, 1/σ),
    * component c = e_c · (1/σ_c), round-robin interleaved.
    */
  private lazy val diagonalWhitening = {
    val rows = corpus.select("v").as[Seq[Double]].collect()
    val mean = Array.tabulate(d)(j => rows.map(_(j)).sum / rows.length)
    val inv = Array.tabulate(d)(j => 1.0 / math.sqrt(
      rows.map(r => (r(j) - mean(j)) * (r(j) - mean(j))).sum / rows.length))
    Pca.interleaved(Pca.PcaModel(mean,
      Array.tabulate(d)(c =>
        Array.tabulate(d)(i => if (i == c) inv(c) else 0.0)),
      Array.fill(d)(1.0)), d / subDim)
  }

  test("rotation preserves pairwise L2 exactly (whiten=false)") {
    // an unscaled orthonormal model (the corpus basis U as components)
    // is a rotation: projection must keep every pairwise distance
    val m = Pca.PcaModel(Array.fill(d)(0.0), u, Array.fill(d)(1.0))
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
    val vs = Pca.project(corpus, "v", diagonalWhitening, "w")
      .select(posexplode(col("w")).as(Seq("c", "x")))
      .groupBy("c").agg(var_pop(col("x")).as("vv"))
      .as[(Int, Double)].collect()
    assert(vs.length == d)
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
    // and in the projected space too (the whitened-row path of
    // ns_pq_whiten_encode: a diagonal whitening model, interleaved)
    val proj = Pca.project(corpus, "v", diagonalWhitening, "w")
      .select(col("vec_id"), col("w"))
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
}

/** The test corpus: x(id) = Σ_c λ_c·a_c(id)·u_c with a fixed decaying
  * spectrum λ, a deterministic orthonormal basis U (Gram-Schmidt over
  * hash-noise), and per-(id, c) coefficients from a splitmix64-style
  * hash mapped to [-1, 1] — anisotropic, correlated embeddings.
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
}
