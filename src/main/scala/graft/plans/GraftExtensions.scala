package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point (SURVEY.md §4.3): registers the
  * graft native expressions on the SQL surface, so
  * `spark.sql("SELECT graft_dot(a, b) ...")` plans the same codegen
  * operators the DataFrame API uses. Activate with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def register(
      ext: SparkSessionExtensions,
      name: String,
      usage: String,
      builder: FunctionBuilder): Unit =
    ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be a literal int")
  }

  def functions: Seq[(String, String, FunctionBuilder)] = Seq(
    ("graft_dot",
      "graft_dot(a, b) - float64 dot product of two array<double>",
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("graft_simhash60",
      "graft_simhash60(hashes) - 60-bit simhash of an array<long>",
      (args: Seq[Expression]) => SimHash60(args(0))),
    ("graft_hex60_array",
      "graft_hex60_array(arr[, m]) - md5-derived 60-bit hash per element",
      (args: Seq[Expression]) => Hex60Array(args(0),
        if (args.length > 1) longArg(args(1), "m") else 0L)),
    ("graft_shingle_hash60",
      "graft_shingle_hash60(tokens, k) - distinct hashed word k-shingles",
      (args: Seq[Expression]) => ShingleHash60(args(0), longArg(args(1), "k").toInt)),
    ("graft_chargram_minhash",
      "graft_chargram_minhash(text, k) - min hex60 over char k-grams",
      (args: Seq[Expression]) => CharGramMinHash(args(0), longArg(args(1), "k").toInt)),
    ("graft_minhash_sig",
      "graft_minhash_sig(hashes, k) - k-slot affine MinHash signature",
      (args: Seq[Expression]) => {
        val k = longArg(args(1), "k").toInt
        MinHashSig(args(0), MinHashSig.seedsA(k), MinHashSig.seedsB(k))
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, usage, builder) =>
      register(ext, name, usage, builder)
    }
    // whole-operator extension: the grouped-bounded-top-k planner rule
    ext.injectPlannerStrategy(_ => new TopKStrategy)
  }
}
