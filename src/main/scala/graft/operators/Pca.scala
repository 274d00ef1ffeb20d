package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Distributed PCA-style preprocessing for embedding columns — the
  * dimensionality-reduction / whitening step a training-data pipeline
  * runs before ANN serving or PQ coding (SemDeDup-style semantic dedup
  * clusters PCA'd embeddings; OPQ/whitening decorrelates subspaces
  * before product quantization).
  *
  * Two parts, both live in the query layer:
  *  - ONE narrow pass accumulates the d×d Gram matrix in a single
  *    fixed-size aggregation buffer (d=64 → 33 KB) — map-side partial
  *    merge is matrix addition, the driver sees exactly one row
  *    (`ns_embed_gram`, via [[gramFixedPoint]]).
  *  - Projection over the corpus by a [[PcaModel]] is a codegen
  *    expression: k·d multiply-adds per row inside whole-stage
  *    codegen, no shuffle, no UDF (`ns_pq_whiten_encode` projects by
  *    a diagonal whitening model).
  *
  * Oracle strategy: double-precision Gram sums are partition-order
  * dependent in the last ulp, so the Gram cells are fixed-point
  * (Σ floor(xᵢ·xⱼ·10⁶) as BIGINT — exact long addition,
  * order-independent, the repo's standard cross-engine discipline).
  */
object Pca {

  /** One-pass Gram accumulator: cell (i, j) = Σ floor(xᵢ·xⱼ·10⁶) as
    * a long — exact, order-independent addition.
    */
  final class Moments(val d: Int) extends Serializable {
    val gram = new Array[Long](d * d)

    def add(v: Array[Double]): Unit = {
      var i = 0
      while (i < d) {
        val xi = v(i)
        val row = i * d
        var j = 0
        while (j < d) {
          gram(row + j) += math.floor(xi * v(j) * 1e6).toLong
          j += 1
        }
        i += 1
      }
    }

    def merge(o: Moments): Unit = {
      var i = 0
      while (i < d * d) { gram(i) += o.gram(i); i += 1 }
    }

    def serialize(): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * d * d)
      bb.putInt(d)
      gram.foreach(bb.putLong)
      bb.array()
    }
  }

  private def deserializeMoments(bytes: Array[Byte]): Moments = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = new Moments(bb.getInt)
    var i = 0
    while (i < m.d * m.d) { m.gram(i) = bb.getLong; i += 1 }
    m
  }

  private def toDoubles(a: ArrayData, et: DataType, d: Int)
      : Array[Double] = {
    val out = new Array[Double](d)
    val n = math.min(d, a.numElements())
    var i = 0
    et match {
      case FloatType =>
        while (i < n) { out(i) = a.getFloat(i).toDouble; i += 1 }
      case DoubleType =>
        while (i < n) { out(i) = a.getDouble(i); i += 1 }
      case other => sys.error(s"unsupported embedding element type $other")
    }
    out
  }

  /** The Gram aggregate: one row-major array<long> of d×d cells per
    * group.
    */
  case class MomentsAgg(child: Expression, d: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Moments] {
    require(d > 0 && d <= 4096, s"dimension $d out of range")
    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_pca_moments"
    override val dataType: DataType = ArrayType(LongType, false)
    @transient private lazy val elemType: DataType = child.dataType match {
      case ArrayType(et, _) => et
      case other => sys.error(s"need array input, got $other")
    }
    override def createAggregationBuffer(): Moments = new Moments(d)
    override def update(b: Moments, row: InternalRow): Moments = {
      val v = child.eval(row)
      if (v != null) b.add(toDoubles(v.asInstanceOf[ArrayData], elemType, d))
      b
    }
    override def merge(b: Moments, o: Moments): Moments = { b.merge(o); b }
    override def eval(b: Moments): Any = new GenericArrayData(b.gram)
    override def serialize(b: Moments): Array[Byte] = b.serialize()
    override def deserialize(bytes: Array[Byte]): Moments =
      deserializeMoments(bytes)
    override def withNewMutableAggBufferOffset(o: Int): MomentsAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): MomentsAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): MomentsAgg = copy(child = c.head)
  }

  /** Exact fixed-point Gram matrix as (i, j, g) rows — the
    * oracle-checkable one-pass aggregate (order-independent long
    * sums; see object scaladoc).
    */
  def gramFixedPoint(df: DataFrame, embedCol: String, d: Int): DataFrame =
    df.agg(Bridge.column(MomentsAgg(Bridge.expression(col(embedCol)), d)
        .toAggregateExpression()).as("m"))
      .select(posexplode(col("m")).as(Seq("pos", "g")))
      .select((col("pos") / d).cast("int").as("i"),
        pmod(col("pos"), lit(d)).cast("int").as("j"), col("g"))

  /** Projection model: `components(k)(d)` rows, the per-dim `mean`
    * subtracted before projecting, and a per-component `variance`.
    */
  final case class PcaModel(mean: Array[Double],
      components: Array[Array[Double]], variance: Array[Double])

  /** Codegen projection: out(c) = Σ_j components(c)(j)·(x(j) − mean(j))
    * — k·d fused multiply-adds per row, no shuffle.
    */
  case class PcaProjectExpr(child: Expression, mean: Array[Double],
      flat: Array[Double], k: Int, d: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, false)
    override def prettyName: String = "graft_pca_project"
    @transient private lazy val elemType: DataType = child.dataType match {
      case ArrayType(et, _) => et
      case other => sys.error(s"need array input, got $other")
    }
    override protected def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val x = toDoubles(a, elemType, d)
      // terms beyond the input's actual length are SKIPPED, exactly
      // like the generated code's min(d, numElements) loop bound — a
      // short array must project identically whether or not
      // whole-stage codegen fired
      new GenericArrayData(Pca.projectOne(x,
        math.min(d, a.numElements()), mean, flat, k, d))
    }
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val meanRef = ctx.addReferenceObj("graftPcaMean", mean, "double[]")
      val flatRef = ctx.addReferenceObj("graftPcaFlat", flat, "double[]")
      val getter = elemType match {
        case FloatType  => "getFloat"
        case DoubleType => "getDouble"
        case other      => sys.error(s"unsupported element type $other")
      }
      nullSafeCodeGen(ctx, ev, in => {
        val out = ctx.freshName("out")
        val c = ctx.freshName("c")
        val j = ctx.freshName("j")
        val acc = ctx.freshName("acc")
        val nn = ctx.freshName("nn")
        s"""
           |final double[] $out = new double[$k];
           |final int $nn = java.lang.Math.min($d, $in.numElements());
           |for (int $c = 0; $c < $k; $c++) {
           |  double $acc = 0.0;
           |  for (int $j = 0; $j < $nn; $j++) {
           |    $acc += $flatRef[$c * $d + $j] *
           |      (((double) $in.$getter($j)) - $meanRef[$j]);
           |  }
           |  $out[$c] = $acc;
           |}
           |${ev.value} =
           |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(
        c: Expression): PcaProjectExpr = copy(child = c)
  }

  /** `n` = the input array's true length; only j < min(n, d) terms
    * contribute, mirroring the codegen loop bound so interpreted and
    * generated paths agree on short arrays.
    */
  private[graft] def projectOne(x: Array[Double], n: Int,
      mean: Array[Double], flat: Array[Double], k: Int,
      d: Int): Array[Double] = {
    val out = new Array[Double](k)
    val nn = math.min(n, d)
    var c = 0
    while (c < k) {
      var acc = 0.0
      var j = 0
      while (j < nn) { acc += flat(c * d + j) * (x(j) - mean(j)); j += 1 }
      out(c) = acc
      c += 1
    }
    out
  }

  private[graft] def projectOne(x: Array[Double], mean: Array[Double],
      flat: Array[Double], k: Int, d: Int): Array[Double] =
    projectOne(x, x.length, mean, flat, k, d)

  /** Round-robin interleave of components across `nSub` subspaces:
    * component ranked r lands at projected position
    * (r mod nSub)·subDim + (r div nSub), so each PQ subspace receives an even mix of high- and low-variance
    * directions instead of subspace 0 hoarding the whole spectrum —
    * the eigenvalue-allocation idea of the OPQ literature in its
    * closed-form (permutation-only) form. Pure reordering of the
    * projection rows: a bijection, metric untouched.
    */
  def interleaved(model: PcaModel, nSub: Int): PcaModel = {
    val k = model.components.length
    require(k % nSub == 0, s"k=$k not divisible into $nSub subspaces")
    val subDim = k / nSub
    val perm = Array.tabulate(k)(r => (r % nSub) * subDim + r / nSub)
    val comps = new Array[Array[Double]](k)
    val vars = new Array[Double](k)
    for (r <- 0 until k) {
      comps(perm(r)) = model.components(r)
      vars(perm(r)) = model.variance(r)
    }
    PcaModel(model.mean, comps, vars)
  }

  /** Project an embedding column onto the fitted components. */
  def project(df: DataFrame, embedCol: String, model: PcaModel,
      outCol: String): DataFrame = {
    val d = model.mean.length
    val k = model.components.length
    val flat = new Array[Double](k * d)
    var c = 0
    while (c < k) {
      System.arraycopy(model.components(c), 0, flat, c * d, d)
      c += 1
    }
    df.withColumn(outCol, Bridge.column(PcaProjectExpr(
      Bridge.expression(col(embedCol)), model.mean, flat, k, d)))
  }
}
