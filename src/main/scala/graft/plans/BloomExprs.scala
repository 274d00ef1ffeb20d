package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

object BloomSupport {
  /** Keep the longs the bloom might contain. Returns the input array
    * unchanged when everything survives (the eval-side case) so the
    * common no-copy path allocates nothing beyond the scratch buffer.
    */
  def filterLongs(bloom: BloomFilter, arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val tmp = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      if (bloom.mightContainLong(v)) { tmp(m) = v; m += 1 }
      i += 1
    }
    if (m == n) arr
    else new GenericArrayData(java.util.Arrays.copyOf(tmp, m))
  }
}

/** In-row bloom prefilter over an array<long> of shingle hashes: keeps
  * only the elements the serialized bloom might contain. The scale
  * point (decontamination at 100 TB): the overwhelmingly-clean corpus
  * shingle stream is discarded INSIDE the row — before any explode
  * materializes it as rows — so the only explode the plan pays is over
  * the (tiny, bloom-hit) candidate arrays, and the verify join's probe
  * side is candidate-sized, not corpus-sized.
  *
  * KEYING CONTRACT: the bloom's bits must have been set with `putLong`
  * on the SAME hash values this array carries (Curate.bloomOverHashes
  * does `stat.bloomFilter` over the raw hex60 longs) — the probe here
  * is `mightContainLong` on the raw element, no re-hash. A bloom
  * keyed any other way (e.g. on xxhash64 of the n-gram string)
  * silently filters everything out.
  *
  * The bits deserialize once per task via an `addReferenceObj`-bound
  * filter (codegen) / a transient lazy (interpreted) — the same
  * lifecycle Spark's own injected runtime-filter
  * `BloomFilterMightContain` literals have.
  */
case class BloomFilterArrayLong(child: Expression, bits: Array[Byte])
    extends UnaryExpression {
  override def dataType: DataType = child.dataType match {
    case a: ArrayType => a
    case _ => ArrayType(LongType)
  }
  override def prettyName: String = "graft_bloom_filter_array"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bits))

  override protected def nullSafeEval(input: Any): Any =
    BloomSupport.filterLongs(bloom, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.BloomSupport.filterLongs($ref, $c);")
  }

  override protected def withNewChildInternal(c: Expression): BloomFilterArrayLong =
    copy(child = c)
}

object BloomFilterArrayLong {
  def apply(arr: Column, bloom: BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    Bridge.column(BloomFilterArrayLong(Bridge.expression(arr),
      bos.toByteArray))
  }
}

object SortedSetSupport {
  /** Count of `arr` elements present in the sorted long array (binary
    * search per element — ~log2(|set|) probes, branch-free inner
    * loop). Caller guarantees `sorted` is ascending and duplicate-free
    * and `arr` is duplicate-free (ShingleHash60 emits distinct
    * hashes), so the count IS the intersection size.
    */
  def countIn(sorted: Array[Long], arr: ArrayData): Long = {
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0) c += 1L
      i += 1
    }
    c
  }
}

/** In-row EXACT set-membership count over an array<long> of shingle
  * hashes: how many elements appear in a driver-held sorted eval hash
  * set. The small-eval tier of the decontamination ladder (the common
  * case — eval suites are benchmark-sized while the corpus is not):
  * when the distinct eval hash set fits comfortably in a task
  * (8 B/hash ⇒ 2M hashes ≈ 16 MB), shipping the SET itself costs the
  * same order as shipping bloom bits, and the probe needs no join, no
  * broadcast exchange, and no explode — n_shared is computed inside
  * the row and the plan is scan→project→filter. Beyond that size the
  * bloom tier ([[BloomFilterArrayLong]] + candidate verify join)
  * takes over (ns_decontaminate runs this tier,
  * ns_decontaminate_bloom the bloom tier).
  *
  * The set rides to executors once per task via `addReferenceObj`
  * (codegen) — the same lifecycle as the bloom bits above — not as a
  * per-row literal.
  */
case class LongArraySetCount(child: Expression, sorted: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_set_intersect_count"

  override protected def nullSafeEval(input: Any): Any =
    SortedSetSupport.countIn(sorted, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftEvalSet", sorted, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SortedSetSupport.countIn($ref, $c);")
  }

  override protected def withNewChildInternal(c: Expression): LongArraySetCount =
    copy(child = c)
}

object LongArraySetCount {
  def apply(arr: Column, sorted: Array[Long]): Column =
    Bridge.column(LongArraySetCount(Bridge.expression(arr), sorted))
}
