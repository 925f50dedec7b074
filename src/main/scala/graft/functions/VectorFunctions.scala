package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns, expressed with
  * higher-order functions (`zip_with`/`aggregate`) so it stays codegen'd
  * and per-row — no UDF, no driver round-trip.
  *
  * Elements are cast to double BEFORE multiplying: both this engine and
  * the DuckDB oracle then do identical IEEE double ops (only summation
  * order differs, absorbed by rounding at the output edge).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision. */
  def dot(a: Column, b: Column): Column =
    expr(s"aggregate(zip_with(${a.toString}, ${b.toString}, " +
      "(x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v)")

  /** ‖a‖₂ in double precision. */
  def norm(a: Column): Column = {
    val t = a.toString
    sqrt(expr(s"aggregate(transform($t, x -> cast(x AS double) * cast(x AS double)), 0D, (acc, v) -> acc + v)"))
  }

  /** Cosine similarity, optionally rounded for cross-engine parity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  // Native codegen'd variants (graft.plans.FloatVectorDot) — identical
  // double accumulation order, so results are bit-equal to the HOF forms.
  def dotNative(a: Column, b: Column): Column = call_function("float_dot", a, b)

  def cosineNative(a: Column, b: Column): Column =
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))
}
