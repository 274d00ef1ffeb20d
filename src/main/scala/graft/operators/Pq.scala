package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization over arbitrary vector frames — the
  * memory-bound ANN index family: [[trainCodebook]] and [[encode]] are
  * the write-once index jobs, [[codesToWide]] the serving layout (the
  * codes stored beside the corpus), and the ADC distance table is
  * O(model) state a serving node computes in RAM (see
  * queries/AnnQueries.scala for the full serving plan).
  *
  * Cross-engine determinism discipline (identical to the IVF k-means
  * tier): every float SUM quantizes each term to fixed-point BIGINT
  * (floor(x·1e12)) BEFORE summing — long addition is exact and
  * order-independent, so Spark's partial aggregation and a sequential
  * SQL engine derive the identical codebook; argmin ties break on the
  * codeword id.
  *
  * Incremental contract: codes depend only on (vector, codebook) —
  * never on other corpus rows — so encoding a new shard against the
  * standing codebook equals a batch re-encode restricted to the shard
  * (the same increment-equals-rebuild theorem as the MinHash sketch
  * tier; reference analog: master/master.ino:158-168 skips work for
  * already-read slaves rather than re-polling the fleet).
  */
object Pq {

  /** Fixed-point quantum shared with the oracle CTEs. */
  val Q: Double = 1e12

  private def fx(c: Column): Column = floor(c * Q).cast("long")

  /** Long-form (id, s, d, x) view of a vector column — narrow explode,
    * the shared input of training and encoding. `s` = d div subDim.
    */
  def longForm(vecs: DataFrame, idCol: String, vecCol: String,
      subDim: Int): DataFrame =
    vecs.select(col(idCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .withColumn("s", expr(s"d div $subDim"))

  /** Fixed-point squared-L2 distance of every (id, subspace) to every
    * codeword. The codebook is O(model): always a broadcast.
    *
    * Input-magnitude bound (ADVICE r12): each term quantizes as
    * floor(diff² · 1e12) into a Long, which overflows past 2⁶³ when
    * |diff| exceeds ~3.0e3; the sum over `subDim` terms tightens the
    * per-term headroom by a further √subDim. Fine for normalized or
    * feature-scaled embeddings (|x| ≲ 1); rescale inputs (or shrink
    * [[Q]]) before quantizing vectors with coordinates beyond ~1e3.
    */
  def distances(ev: DataFrame, codebook: DataFrame,
      idCol: String): DataFrame =
    ev.join(broadcast(codebook), Seq("s", "d"))
      .groupBy(col(idCol), col("s"), col("cid"))
      .agg(sum(fx((col("x") - col("cx")) * (col("x") - col("cx"))))
        .as("dist"))

  /** Nearest codeword per (id, subspace); ties break on cid so every
    * engine picks identically. Implemented as min(struct(dist, cid))
    * — struct ordering IS the (dist, cid) lexicographic tie rule —
    * rather than a row_number window: the aggregate combines
    * MAP-SIDE, so the shuffle carries one row per (id, subspace)
    * instead of sorting every (id, subspace, codeword) distance row
    * (k× more) through a window sort (round-19: the window shape was
    * ~40% of the whitened-PQ train pass at sf0.1).
    */
  def nearest(d: DataFrame, idCol: String): DataFrame =
    d.groupBy(col(idCol), col("s"))
      .agg(min(struct(col("dist"), col("cid"))).as("__pq_m"))
      .select(col(idCol), col("s"), col("__pq_m.cid").as("cid"))

  /** Train per-subspace codebooks (s, cid, d, cx): seed = the k
    * lowest-id vectors' subvectors (cid = the seed's id), one Lloyd
    * refinement. O(model) output — k codewords × dims rows.
    */
  def trainCodebook(vecs: DataFrame, idCol: String, vecCol: String,
      subDim: Int = 16, k: Int = 8): DataFrame = {
    val ev = longForm(vecs, idCol, vecCol, subDim)
    val seeds = vecs.select(col(idCol)).orderBy(col(idCol)).limit(k)
    val c0 = ev.join(broadcast(seeds), Seq(idCol))
      .select(col(idCol).as("cid"), col("s"), col("d"),
        col("x").as("cx"))
    val a1 = nearest(distances(ev, c0, idCol), idCol)
    // centroid mean: fixed-point sum → double → / count, in exactly
    // that op order (long division last would truncate)
    ev.join(a1, Seq(idCol, "s"))
      .groupBy("s", "cid", "d")
      .agg((sum(fx(col("x"))).cast("double") / Q / count(lit(1)))
        .as("cx"))
  }

  /** One-pass training tier (round 19): the seed codebook is k
    * vectors = O(model), so it goes DRIVER-side and the Lloyd
    * assignment computes IN-ROW against it ([[graft.plans.PqEncodeVec]]
    * codegen — the same in-row scan the serving encode uses), leaving
    * ONE narrow explode + one (s, cid, d)-grouped aggregate (k·dims
    * output rows, map-side combined) as the only distributed work.
    * Replaces [[trainCodebook]]'s explode → broadcast-join →
    * aggregate → aggregate → join → aggregate chain (4+ shuffles of
    * the exploded long form) for the common fixed-seed case; output
    * is IDENTICAL (same fixed-point means, same (dist, cid) argmin —
    * differential golden in PqWhitenSpec). [[trainCodebook]] stays as
    * the general join-form anchor.
    */
  def trainCodebookInRow(vecs: DataFrame, idCol: String, vecCol: String,
      subDim: Int = 16, k: Int = 8): DataFrame = {
    // Seed ORDER must match trainCodebook exactly (it orders by the
    // NATURAL id); an unconditional cast-to-long would reorder
    // numeric-string ids (lexicographic vs numeric) and NULL out
    // non-numeric ids. In-row cids are long, so this fast path takes
    // integral ids only and hands anything else to the join form.
    val integralId = vecs.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType
         | _: org.apache.spark.sql.types.ShortType
         | _: org.apache.spark.sql.types.IntegerType
         | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (!integralId) return trainCodebook(vecs, idCol, vecCol, subDim, k)
    val seedRows = vecs
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
    if (seedRows.isEmpty) return trainCodebook(vecs, idCol, vecCol, subDim, k)
    val d = seedRows.head.getSeq[Double](1).length
    require(d % subDim == 0, s"d=$d not divisible by subDim=$subDim")
    val nSub = d / subDim
    val kk = seedRows.length
    val cids = new Array[Long](nSub * kk)
    val cx = new Array[Double](nSub * kk * subDim)
    // seeds arrive id-ascending (the orderBy), so per-subspace cid
    // order is ascending — the first-min scan tie rule needs that
    for (s <- 0 until nSub; ci <- 0 until kk) {
      cids(s * kk + ci) = seedRows(ci).getLong(0)
      val v = seedRows(ci).getSeq[Double](1)
      var j = 0
      while (j < subDim) {
        cx((s * kk + ci) * subDim + j) = v(s * subDim + j)
        j += 1
      }
    }
    val c0 = graft.plans.PqModel(subDim, nSub, kk, cids, cx)
    vecs.select(col(vecCol).cast("array<double>").as("__pq_v"),
        graft.plans.PqEncodeVec(
          col(vecCol).cast("array<double>"), c0).as("__pq_c"))
      .select(posexplode(col("__pq_v")).as(Seq("d", "x")), col("__pq_c"))
      .withColumn("s", expr(s"d div $subDim"))
      // fixed-dimensionality contract (same as the join form, where
      // the seed-derived codebook's `s` domain bounds the join): a
      // ragged vector's dims beyond the seed dimensionality fall in
      // subspaces the model doesn't have — DROP them instead of
      // emitting null cids through an out-of-range element_at
      .filter(col("s") < nSub)
      .withColumn("cid",
        element_at(col("__pq_c"), (col("s") + 1).cast("int")))
      .groupBy("s", "cid", "d")
      .agg((sum(fx(col("x"))).cast("double") / Q / count(lit(1)))
        .as("cx"))
  }

  /** Encode vectors against a (standing) codebook → (id, s, cid).
    * Corpus-independent given the codebook: the incremental path IS
    * this call on the new shard alone.
    */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, subDim: Int = 16): DataFrame =
    nearest(distances(longForm(vecs, idCol, vecCol, subDim),
      codebook, idCol), idCol)

  /** Driver-side materialization of a codebook frame (s, cid, d, cx)
    * into the in-row encode layout — O(model) = k·dims rows, the same
    * "driver touches models, never data" budget as the serving tier's
    * ADC table. Codeword ids sort ascending within each subspace so
    * the in-row first-min scan reproduces the `ORDER BY dist, cid`
    * tie-break.
    */
  def collectModel(codebook: DataFrame, subDim: Int = 16): graft.plans.PqModel = {
    val rows = codebook.select(col("s").cast("int"),
        col("cid").cast("long"), col("d").cast("int"),
        col("cx").cast("double")).collect()
    val nSub = rows.map(_.getInt(0)).max + 1
    val cidsBySub = rows.map(r => (r.getInt(0), r.getLong(1))).distinct
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sorted }
    val k = cidsBySub.values.map(_.length).max
    require(cidsBySub.values.forall(_.length == k),
      "ragged codebook: unequal codewords per subspace")
    val cids = new Array[Long](nSub * k)
    val cx = new Array[Double](nSub * k * subDim)
    for (s <- 0 until nSub; ci <- 0 until k)
      cids(s * k + ci) = cidsBySub(s)(ci)
    val cidIdx = cidsBySub.map { case (s, xs) =>
      s -> xs.zipWithIndex.toMap }
    rows.foreach { r =>
      val s = r.getInt(0)
      val ci = cidIdx(s)(r.getLong(1))
      val j = r.getInt(2) - s * subDim
      cx((s * k + ci) * subDim + j) = r.getDouble(3)
    }
    graft.plans.PqModel(subDim, nSub, k, cids, cx)
  }

  /** In-row encode against a driver-held codebook model — the
    * serving-scale twin of [[encode]]: the whole probe is one
    * map-only projection ([[graft.plans.PqEncodeVec]]), no explode,
    * no shuffle, no window; identical codes (differential-tested).
    * At 100 TB an incremental shard encode is a linear scan.
    */
  def encodeInRow(vecs: DataFrame, idCol: String, vecCol: String,
      model: graft.plans.PqModel): DataFrame =
    vecs.select(col(idCol),
        posexplode(graft.plans.PqEncodeVec(
          col(vecCol).cast("array<double>"), model)).as(Seq("s", "cid")))
      .select(col(idCol), col("s").cast("long").as("s"), col("cid"))

  /** Long-form codes (id, s, cid) → the wide serving layout — one
    * row per vector, `cw[s]` = the subspace-s codeword id (array_sort
    * over (s, cid) structs, so collect_list order can't matter). Takes
    * already-materialized codes (e.g. a memoized or loaded code index)
    * so the layout logic exists once (ADVICE r12: the query layer
    * previously duplicated this groupBy inline).
    */
  def codesToWide(codes: DataFrame, idCol: String): DataFrame =
    codes.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("s"), col("cid"))))
        .as("__pq_sc"))
      .select(col(idCol),
        transform(col("__pq_sc"), x => x("cid")).as("cw"))
}
