package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** X5 (SURVEY.md §2.10): the one genuine custom aggregate — an
  * outlier-resistant mean for calibration samples, generalizing the
  * reference's N-sample averaging (hx711_calibration/
  * hx711_calibration.ino:23, prototype_1/prototype_1.ino:35) to a
  * min/max-trimmed mean: drop the single lowest and highest sample,
  * average the rest (falls back to the plain mean below 3 samples —
  * trimming would discard everything).
  *
  * Exactly (sum - min - max) / (count - 2) — SQL-expressible on both
  * engines, so the oracle can check the custom-UDAF path.
  *
  * Buffer is 4 numbers regardless of group size (partial-aggregable,
  * merge-associative) — safe at any scale.
  */
object RobustCalibAgg {

  /** Sum, min and max as DECIMAL(18,6) unscaled longs (micro-units),
    * plus the sample count: long addition is exact, so the result
    * cannot depend on partition-merge order, as a double sum does.
    */
  case class Buf(sum: Long, min: Long, max: Long, count: Long)

  // NULL samples are skipped, like SQL aggregates; an all-NULL group
  // yields NULL. The output is the exact quotient rounded HALF_UP at
  // 18 dp: the quotient's denominator is count·10⁶, so no exact value
  // lies within 10⁻¹⁸ of a coarser rounding boundary without being on
  // it, and rounding it again (e.g. to 4 dp) equals rounding the
  // exact quotient once.
  val aggregator: Aggregator[java.math.BigDecimal, Buf, java.math.BigDecimal] =
    new Aggregator[java.math.BigDecimal, Buf, java.math.BigDecimal] {
      override def zero: Buf = Buf(0L, Long.MaxValue, Long.MinValue, 0L)
      override def reduce(b: Buf, x: java.math.BigDecimal): Buf =
        if (x == null) b
        else {
          val u = x.movePointRight(6).longValueExact()
          Buf(Math.addExact(b.sum, u), math.min(b.min, u),
            math.max(b.max, u), b.count + 1)
        }
      override def merge(a: Buf, b: Buf): Buf =
        Buf(Math.addExact(a.sum, b.sum), math.min(a.min, b.min),
          math.max(a.max, b.max), a.count + b.count)
      override def finish(b: Buf): java.math.BigDecimal =
        if (b.count == 0) null
        else {
          val (num, den) =
            if (b.count < 3) (b.sum, b.count)
            else (b.sum - b.min - b.max, b.count - 2)
          java.math.BigDecimal.valueOf(num, 6).divide(
            java.math.BigDecimal.valueOf(den), 18,
            java.math.RoundingMode.HALF_UP)
        }
      override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      override def outputEncoder: Encoder[java.math.BigDecimal] =
        Encoders.DECIMAL
    }

  /** Column form for DataFrame groupBy().agg(...): samples are taken
    * as DECIMAL(18,6) (QueryDef's money convention), the result is a
    * DECIMAL(38,18).
    */
  def robustMean(c: Column): Column =
    udaf(aggregator, Encoders.DECIMAL).apply(c.cast("decimal(18,6)"))
}
