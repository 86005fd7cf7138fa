package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Exact product aggregates — the reference's one true custom aggregate
  * (`numeric_product`, sfunc=numeric_mul with init 1,
  * `00093_rebase_adjusted_bars.sql:24-37`): split/merge adjustment factors
  * must be multiplied exactly; `exp(sum(ln(x)))` is explicitly rejected
  * there for precision.
  *
  * [[DecimalProduct]] folds `java.math.BigDecimal` with unbounded precision
  * (MathContext.DECIMAL128 guard rails) — the exact analog of Postgres
  * numeric multiplication.
  */
object ProductAgg {

  object DecimalProduct extends Aggregator[java.math.BigDecimal,
      java.math.BigDecimal, java.math.BigDecimal] {
    private val mc = java.math.MathContext.DECIMAL128
    override def zero: java.math.BigDecimal = java.math.BigDecimal.ONE
    override def reduce(b: java.math.BigDecimal,
                        a: java.math.BigDecimal): java.math.BigDecimal =
      if (a == null) b else b.multiply(a, mc)
    override def merge(b1: java.math.BigDecimal,
                       b2: java.math.BigDecimal): java.math.BigDecimal =
      b1.multiply(b2, mc)
    override def finish(r: java.math.BigDecimal): java.math.BigDecimal = r
    override def bufferEncoder: Encoder[java.math.BigDecimal] =
      Encoders.DECIMAL
    override def outputEncoder: Encoder[java.math.BigDecimal] =
      Encoders.DECIMAL
  }

  /** Column-level exact decimal product (group aggregate or window). */
  def decimalProduct(c: Column): Column = udaf(DecimalProduct).apply(c)
}
