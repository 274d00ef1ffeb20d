package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding similarity-search primitives (SURVEY.md §2.10 X4, NS
  * similarity rows): dot product / cosine via codegen'd higher-order
  * array functions, plus deterministic random-hyperplane LSH for the
  * approximate (100 TB) path.
  *
  * Accumulation is float64 and strictly sequential over the array on
  * both engines (Spark `aggregate` ≡ DuckDB `list_dot_product`), so
  * results are bit-identical cross-engine (FIXTURES.md caveat).
  */
object SimilarityFunctions {

  /** Sequential float64 dot product over two array<double> columns,
    * via the codegen'd native expression (graft.plans.DotProduct).
    * Bit-identical to the higher-order `aggregate(zip_with(...))` form
    * and to DuckDB `list_dot_product`.
    */
  def dot(a: Column, b: Column): Column = graft.plans.DotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * hex60(md5("p:d")) / 2^59 - 1. Computed driver-side with the same
    * md5 the SQL engines use, so the DuckDB oracle can re-derive the
    * identical planes with pure SQL.
    */
  def planeComponent(p: Int, d: Int): Double =
    (hex60Local(s"$p:$d").toDouble / (1L << 59).toDouble) - 1.0

  /** First 15 hex chars of md5 as a long — the JVM-side twin of
    * TextFunctions.hex60 (bit-identical to the SQL form).
    */
  def hex60Local(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** One hyperplane as a flat literal array (constant-folded by
    * Catalyst — zero per-row hash cost vs. re-deriving md5 per row).
    */
  private def planeLiteral(p: Int, dim: Int): Column =
    array((0 until dim).map(d => lit(planeComponent(p, d))): _*)

  /** Sign-bucket id in [0, 2^nPlanes): bit p set iff dot(v, plane_p)
    * > 0. Vectors sharing a bucket are ANN candidates.
    */
  def lshBucket(v: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { p =>
      when(dot(v, planeLiteral(p, dim)) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Banded hyperplane-LSH buckets: `nBands` independent sign-buckets
    * of `planesPerBand` planes each (band b uses planes
    * b*planesPerBand .. b*planesPerBand+planesPerBand-1). OR-ed bands
    * trade candidate-set size for recall exactly like MinHash LSH
    * banding: a pair is a candidate if it agrees in ANY band. Returns
    * array<int> of length nBands for posexplode into (band, bucket).
    */
  def lshBandBuckets(v: Column, nBands: Int, planesPerBand: Int,
      dim: Int): Column =
    array((0 until nBands).map { b =>
      (0 until planesPerBand).map { i =>
        when(dot(v, planeLiteral(b * planesPerBand + i, dim)) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
}
