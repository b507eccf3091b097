package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column functions (SURVEY.md §2.10 similarity search).
  * Vectors are `array<float>` columns widened elementwise to double (the
  * float→double cast is exact), then folded with builtin higher-order
  * functions — codegen'd, no UDFs. Sequential fold order keeps results
  * within ~1e-14 of any other summation order, far inside the 1e-6 rounding
  * the oracle queries apply.
  */
object VectorFunctions {

  /** Elementwise cast array<float> → array<double>. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product of two double arrays — a native codegen'd Expression
    * (graft.plans.DotProduct); left-to-right summation, identical to the
    * builtin-HOF composition it replaces. */
  def dot(a: Column, b: Column): Column = graft.plans.DotProduct(a, b)

  /** The builtin-HOF formulation, kept as the portability reference. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, computed as dot/(‖a‖·‖b‖). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Unit-normalized copy: v/‖v‖ — a native codegen'd Expression
    * (graft exprs NormalizeExpr). Pre-normalizing once per row turns every
    * pairwise cosine into a single dot product — at n² pairs this is the
    * difference between one array fold and three per pair. The HOF form
    * `transform(v, x => x / norm(v))` recomputes the norm (a full
    * self-dot) for EVERY element inside the lambda; the native form
    * computes it once per row and divides — bit-identical output (same
    * fold, same divisor). */
  def normalized(v: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      org.apache.spark.sql.graftexpr.NormalizeExpr(
        org.apache.spark.sql.GraftExpressionBridge.expression(v)))

  /** Symmetric per-vector int8 scalar quantization — the storage path a
    * 100 TB embedding corpus actually ships (4× smaller than float32,
    * cosine nearly preserved): scale = max|v|/127, q_i = half-up
    * round(v_i/scale) ∈ [−127, 127]. Zero vectors quantize to zeros with
    * scale 0. Pure expression tree (HOF fold + transform — codegen'd, no
    * UDF), with an exact ANSI SQL mirror so the round trip sits under the
    * hash gate (q119). */
  def quantizeScale(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0

  /** Quantized codes as ints, given the vector and its scale. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x => when(scale === 0.0, lit(0))
      .otherwise(floor(x / scale + 0.5).cast("int")))

  /** Dequantized copy: q·scale. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)
}
