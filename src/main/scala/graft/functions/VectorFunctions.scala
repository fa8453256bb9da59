package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>`/`ARRAY<DOUBLE>` columns as pure
  * Catalyst expressions (SURVEY §2.7 F15/F16). Elements are cast to
  * double before any arithmetic and summed left-to-right (`aggregate` is
  * a sequential fold), which keeps IEEE results bit-identical to a
  * sequential oracle — then callers round before hashing.
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("double")

  /** Σ aᵢ·bᵢ */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => d(x) * d(y)), lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => d(x) * d(x)), lit(0.0), (acc, v) => acc + v))

  /** cos(a,b) = a·b / (‖a‖‖b‖) — ref ...optimised_clusters.R:863. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))
}
