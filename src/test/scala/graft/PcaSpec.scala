package graft

import graft.operators.Pca
import org.apache.spark.sql.functions._

/** PCA-style preprocessing: one-pass fixed-point moments and the
  * codegen projection, pinned against driver-side math.
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("projection matches driver math and plans as the native expression") {
    // a diagonal whitening model, round-robin interleaved — the model
    // shape ns_pq_whiten_encode builds
    val d = 8
    val rnd = new scala.util.Random(18)
    val rows = (1 to 400).map(_ =>
      Seq.tabulate(d)(j => (rnd.nextGaussian() * (j + 1) + 3.0).toFloat))
    val df = rows.toDF("embedding")
    val mean = Array.tabulate(d)(j => 3.0 + j * 0.1)
    val model = Pca.interleaved(Pca.PcaModel(mean,
      Array.tabulate(d)(c =>
        Array.tabulate(d)(i => if (i == c) 1.0 / (c + 1) else 0.0)),
      Array.fill(d)(1.0)), 2)
    // codegen projection == driver-side math, row for row
    val projected = Pca.project(df, "embedding", model, "pc")
      .select("embedding", "pc")
      .as[(Seq[Float], Seq[Double])].collect()
    projected.foreach { case (x, pc) =>
      val flat = model.components.flatten
      val expect = Pca.projectOne(x.map(_.toDouble).toArray,
        model.mean, flat, d, d)
      pc.zip(expect).foreach { case (got, e) =>
        assert(math.abs(got - e) < 1e-9, s"$got vs $e")
      }
      // the interleave puts original dim c at (c mod 2)·4 + (c div 2)
      for (c <- 0 until d) {
        val want = (x(c) - mean(c)) / (c + 1)
        assert(math.abs(pc((c % 2) * (d / 2) + c / 2) - want) < 1e-9,
          s"dim $c: ${pc.mkString(",")}")
      }
    }
    // the projection is the native expression (no UDF). On a local
    // relation Catalyst constant-folds the whole projection into a
    // LocalTableScan (fine — that IS the interpreted eval the row
    // comparison above already verified); a datasource-backed frame
    // keeps it in the physical plan where whole-stage codegen
    // compiles it.
    val tmp = java.nio.file.Files.createTempDirectory("graft-pca-").toString
    df.write.mode("overwrite").parquet(tmp)
    val onDisk = Pca.project(spark.read.parquet(tmp), "embedding", model, "pc")
    assert(onDisk.queryExecution.executedPlan.toString
      .contains("graft_pca_project"), onDisk.queryExecution.executedPlan)
    val codegenSum =
      onDisk.select(sum(element_at(col("pc"), 1))).as[Double].head()
    assert(math.abs(codegenSum - projected.map(_._2.head).sum) < 1e-6,
      s"codegen projection sum $codegenSum")
  }

  test("short input arrays project identically in interpreted and codegen paths") {
    // d=4 model, inputs of length 2: terms beyond the input's length
    // are SKIPPED in both paths (ADVICE r18 — interpreted eval used to
    // zero-pad and subtract mean for all d, codegen stopped at
    // numElements, so the same row projected differently depending on
    // whether whole-stage codegen fired)
    val d = 4
    val mean = Array(1.0, 2.0, 3.0, 4.0)
    val comps = Array(Array(0.5, -0.25, 0.125, 1.0),
      Array(-1.0, 0.75, 2.0, -0.5))
    val model = Pca.PcaModel(mean, comps, Array(2.0, 1.0))
    val expect = Array.tabulate(2)(c =>
      comps(c)(0) * (10.0 - mean(0)) + comps(c)(1) * (20.0 - mean(1)))
    // interpreted: Expression.eval on a literal input
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val flat = comps.flatten
    val interp = graft.operators.Pca.PcaProjectExpr(
        Literal.create(Seq(10.0, 20.0),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, false)),
        mean, flat, 2, d)
      .eval(null).asInstanceOf[ArrayData].toDoubleArray()
    // codegen: datasource-backed frame keeps the expression physical
    val tmp = java.nio.file.Files.createTempDirectory("graft-pca-short-")
      .toString
    Seq(Seq(10.0f, 20.0f)).toDF("embedding").write
      .mode("overwrite").parquet(tmp)
    val viaDf = Pca.project(spark.read.parquet(tmp), "embedding", model, "pc")
      .select("pc").as[Seq[Double]].head().toArray
    for (c <- 0 until 2) {
      assert(math.abs(interp(c) - expect(c)) < 1e-12,
        s"interpreted c=$c: ${interp(c)} vs ${expect(c)}")
      assert(math.abs(viaDf(c) - expect(c)) < 1e-12,
        s"codegen c=$c: ${viaDf(c)} vs ${expect(c)}")
    }
  }

  test("moments merge == global: partitioning cannot change the fixed-point gram") {
    val d = 4
    val rows = (1 to 200).map(i =>
      Seq.tabulate(d)(j => ((i * 31 + j * 17) % 13 - 6).toFloat / 3f))
    val one = rows.toDF("e").repartition(1)
    val many = rows.toDF("e").repartition(13)
    def g(df: org.apache.spark.sql.DataFrame) =
      Pca.gramFixedPoint(df, "e", d)
        .as[(Int, Int, Long)].collect().toSet
    assert(g(one) == g(many), "fixed-point gram must be partition-invariant")
    // and it matches the brute-force driver sum exactly
    val brute = (for (i <- 0 until d; j <- 0 until d) yield (i, j,
      rows.map(r => math.floor(r(i).toDouble * r(j).toDouble * 1e6).toLong)
        .sum)).toSet
    assert(g(one) == brute)
  }
}
