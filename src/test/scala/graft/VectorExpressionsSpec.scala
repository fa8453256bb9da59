package graft

import graft.expressions.VectorExpressions.{arrayDot, arrayMaxAbs, arrayNorm, arrayQuantError, fastCosine}
import org.apache.spark.sql.functions._

/** Codegen'd vector kernels vs the interpreted higher-order-function
  * forms they claim bit-equality with. */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (Array(1.0f, 2.0f, 3.0f), Array(4.0f, -5.0f, 6.0f)),
    (Array(0.0f, 0.0f), Array(0.0f, 1.0f)),
    (Array(0.25f, -0.75f, 1.5f, 2.25f), Array(1.125f, 0.5f, -0.25f, 3.0f))
  ).toDF("a", "b")

  // the interpreted higher-order-function baseline lives in
  // graft.functions.VectorFunctions — the codegen'd kernels claim
  // bit-equality with it
  private def interpretedDot = graft.functions.VectorFunctions.dot(col("a"), col("b"))

  test("ArrayDot is bit-equal to aggregate(zip_with(...))") {
    val got = vecs.select(
      arrayDot(col("a"), col("b")).as("fast"), interpretedDot.as("slow"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("ArrayDot returns null on ragged inputs (zip_with pad semantics)") {
    val ragged = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val got = ragged.select(arrayDot(col("a"), col("b")).as("d")).collect().head
    assert(got.isNullAt(0))
    // and the interpreted form agrees (null-poisoned sum)
    val slow = ragged.select(interpretedDot.as("d")).collect().head
    assert(slow.isNullAt(0))
  }

  test("ArrayLongEqCount is bit-equal to the interpreted agreement count") {
    val sigs = Seq(
      (Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 4L)),
      (Array(7L, 7L), Array(7L, 7L)),
      (Array(-1L, 0L, Long.MaxValue), Array(-1L, 1L, Long.MaxValue)),
      (Array.empty[Long], Array.empty[Long]),
      (Array(5L, 6L, 7L), Array(5L, 6L)) // ragged: pads contribute 0
    ).toDF("a", "b")
    val got = sigs.select(
      graft.expressions.VectorExpressions
        .arrayLongEqCount(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).as("slow"))
      .collect()
    got.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("ArrayNorm is sqrt of sequential sum of squares") {
    val got = vecs.select(arrayNorm(col("a")).as("n")).as[Double].collect()
    val want = Seq(
      math.sqrt(1.0 + 4.0 + 9.0),
      0.0,
      math.sqrt(0.25 * 0.25 + 0.75 * 0.75 + 1.5 * 1.5 + 2.25 * 2.25))
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("VectorFunctions cosine/norm agree with the codegen'd kernels") {
    // ANSI mode (Spark 4 default) raises on 0/0 — exclude the zero
    // vector from the cosine comparison; norms compare everywhere
    val got = vecs
      .filter(arrayNorm(col("a")) > 0)
      .select(
        graft.functions.VectorFunctions.cosine(col("a"), col("b")).as("ic"),
        fastCosine(col("a"), col("b")).as("fc"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))

    val norms = vecs.select(
      graft.functions.VectorFunctions.l2Norm(col("a")).as("in"),
      arrayNorm(col("a")).as("fn")).collect()
    norms.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("ArrayMaxAbs matches the interpreted HOF maximum and is 0 for empty arrays") {
    val got = vecs.select(
        arrayMaxAbs(col("a")).as("fast"),
        expr("aggregate(a, CAST(0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))").as("slow"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    val empty = Seq(Tuple1(Array.empty[Float])).toDF("a")
    assert(empty.select(arrayMaxAbs(col("a"))).as[Double].collect().head === 0.0)
  }

  test("ArrayQuantError honors the half-step bound and nulls at scale <= 0") {
    // symmetric int8 step: every reconstruction error must stay within
    // half a step — the defining round-to-nearest guarantee (e09's oracle)
    val checked = vecs.select(col("a"),
        (arrayMaxAbs(col("a")) / 127).as("s"))
      .filter(col("s") > 0)
      .select(arrayQuantError(col("a"), col("s")).as("e"), col("s"))
      .collect()
    assert(checked.nonEmpty)
    checked.foreach(r =>
      assert(r.getDouble(0) <= r.getDouble(1) * 0.5000001,
        s"err ${r.getDouble(0)} exceeds half step ${r.getDouble(1) / 2}"))
    // exact half-integer quotient: error == exactly scale/2
    val half = Seq(Tuple1(Array(0.5f, 1.0f))).toDF("a")
    val e = half.select(arrayQuantError(col("a"), lit(1.0))).as[Double]
      .collect().head
    assert(e === 0.5)
    // degenerate scale nulls instead of dividing by zero
    val z = vecs.select(arrayQuantError(col("a"), lit(0.0)).as("e"))
      .collect()
    assert(z.forall(_.isNullAt(0)))
  }

  test("fastCosine of identical vectors is 1") {
    val self = Seq(Tuple1(Array(0.5f, -1.25f, 2.0f))).toDF("a")
    val got = self.select(fastCosine(col("a"), col("a")).as("c"))
      .as[Double].collect().head
    assert(math.abs(got - 1.0) < 1e-12)
  }
}
