package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator` surface (SURVEY §2.13 UDAF row): the engine's
  * custom aggregations are normally RELATIONAL decompositions because
  * composed built-ins stay in codegen; this module carries the genuine
  * `Aggregator[IN, BUF, OUT]` instance for the cases a decomposition
  * can't express — order-robust single-pass moment accumulation here.
  *
  * [[WelfordVar]] is Welford's online variance with Chan's parallel
  * MERGE step — the formulation whose partial states combine
  * associatively, which is exactly what a distributed `Aggregator`
  * contract requires (`merge` runs once per partition pair in the
  * partial-agg tree; a naive Σx/Σx² buffer loses precision
  * catastrophically when mean ≫ stddev). One pass, map-side partials,
  * O(1) state — the UDAF scale shape.
  */
object StatAggregators {

  /** (count, mean, M2 = Σ(x − mean)²) running state. */
  final case class Moments(n: Long, mean: Double, m2: Double)

  /** Sample variance via Welford accumulation + Chan merge. Returns
    * null (Double.NaN-free) semantics through the SQL layer: n < 2
    * yields Double.NaN which the caller maps; the shipped query only
    * aggregates groups with n ≫ 2. */
  object WelfordVar extends Aggregator[Double, Moments, Double] {
    override def zero: Moments = Moments(0L, 0.0, 0.0)
    override def reduce(b: Moments, x: Double): Moments = {
      val n = b.n + 1
      val delta = x - b.mean
      val mean = b.mean + delta / n
      Moments(n, mean, b.m2 + delta * (x - mean))
    }
    override def merge(a: Moments, b: Moments): Moments = {
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        val n = a.n + b.n
        val delta = b.mean - a.mean
        Moments(n,
          a.mean + delta * b.n / n,
          a.m2 + b.m2 + delta * delta * a.n * b.n / n)
      }
    }
    override def finish(r: Moments): Double =
      if (r.n < 2) Double.NaN else r.m2 / (r.n - 1)
    override def bufferEncoder: Encoder[Moments] = Encoders.product[Moments]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Column form for untyped DataFrame aggregation. */
  def welfordVar(col: Column): Column = udaf(WelfordVar).apply(col)
}
