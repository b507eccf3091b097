package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Result of a sigma-clipped statistics pass: survivors' count, mean,
  * median, population standard deviation, and sum. The sum is the
  * boundary-safe certificate quantity: fixture values are dyadic, so the
  * survivors' sum is EXACTLY representable (every partial sum is a
  * multiple of the same 2^-m granularity) and any engine computes the
  * identical double — whereas the divided mean is inexact and can land
  * within 1 ulp of a 6-decimal rounding boundary, flipping ROUND(·,6)
  * between engines (observed: q25 at sf0.1). */
final case class ClipStats(n: Long, mean: Double, median: Double, std: Double,
    sum: Double)

/** Iterative sigma-clipped statistics — the reference's single most-used
  * primitive (`sigma_clipped_stats`, 5 call sites: core.py:70,141,372,438,
  * psf_phot.py:68). Semantics follow astropy's defaults as used there:
  * center = median, bound = center ± sigma·std_pop (values kept when
  * |v − median| ≤ sigma·std), iterate until fixed point or `maxIters`.
  *
  * Distributivity: clipping is not algebraically mergeable, so the buffer
  * holds the group's values exactly (SURVEY.md §7 hard-part 3), with
  * partial buffers merged by concatenation. Most call sites have many
  * small groups (images per pixel ≈ 3 in the median combine, annulus
  * ≈ 1.5 k px), but the public per-image background
  * (`Photometry.backgroundStats`) is one group of 16.7 M values per 4096²
  * image. Memory per task: the buffer at 8 B per value (up to 16 B while it
  * grows by doubling) plus the clip's one sorted copy at 8 B per value, so
  * at most ≈ 400 MB for a 4096² image. The frame kernels of detection,
  * photometry and the epoch do not use this aggregate: each calls [[clip]]
  * on its own frame's values (`Photometry.Frame.background`).
  * Mean/std use Kahan compensated summation so results are reproducible
  * regardless of merge order to well below the 1e-6 output rounding used
  * by the oracle queries.
  */
class SigmaClippedStats(sigma: Double, maxIters: Int)
    extends Aggregator[Double, ArrayBuffer[Double], ClipStats] {

  override def zero: ArrayBuffer[Double] = ArrayBuffer.empty

  override def reduce(b: ArrayBuffer[Double], a: Double): ArrayBuffer[Double] = {
    b += a; b
  }

  override def merge(b1: ArrayBuffer[Double], b2: ArrayBuffer[Double]): ArrayBuffer[Double] = {
    b1 ++= b2; b1
  }

  override def finish(b: ArrayBuffer[Double]): ClipStats =
    SigmaClippedStats.clip(b.toArray, sigma, maxIters)

  override def bufferEncoder: Encoder[ArrayBuffer[Double]] =
    Encoders.kryo[ArrayBuffer[Double]]
  override def outputEncoder: Encoder[ClipStats] = Encoders.product[ClipStats]
}

object SigmaClippedStats {

  /** The iterative clip itself, shared by the Aggregator and the
    * TypedImperativeAggregate fast path so both are bit-identical. */
  def clip(values: Array[Double], sigma: Double, maxIters: Int): ClipStats =
    clip(values, values.length, sigma, maxIters)

  /** The clip over `values(0 until n)`, which it does not modify. Each
    * round's survivors (|v − median| ≤ sigma·std) are one contiguous run of
    * the sorted values, since v − median is monotone in v: so one sorted
    * copy serves every round as a slice `sorted(lo until hi)`, and the sums
    * run over `values` in input order within the slice's range. The result
    * is bit-identical to filtering and re-sorting the survivors each round. */
  def clip(values: Array[Double], n: Int, sigma: Double, maxIters: Int): ClipStats = {
    if (n == 0)
      return ClipStats(0L, Double.NaN, Double.NaN, Double.NaN, 0.0)
    val sorted = java.util.Arrays.copyOf(values, n)
    java.util.Arrays.sort(sorted)
    var lo = 0
    var hi = n
    // until a round removes a value, every value survives, NaN included
    var clipped = false
    val survives = (v: Double) =>
      !clipped || v >= sorted(lo) && v <= sorted(hi - 1)
    def std(): Double = {
      val m = kahanSum(values, n, survives, v => v) / (hi - lo)
      math.sqrt(kahanSum(values, n, survives, v => (v - m) * (v - m)) / (hi - lo))
    }
    var it = 0
    var changed = true
    while (it < maxIters && changed) {
      val med = sortedMedian(sorted, lo, hi)
      val bound = sigma * std()
      def kept(v: Double) = math.abs(v - med) <= bound
      var l = lo
      var h = hi
      while (l < h && !kept(sorted(l))) l += 1
      while (h > l && !kept(sorted(h - 1))) h -= 1
      changed = h - l != hi - lo
      if (h > l) {
        lo = l; hi = h
        clipped ||= changed
      } else changed = false
      it += 1
    }
    val sum = kahanSum(values, n, survives, v => v)
    ClipStats((hi - lo).toLong, sum / (hi - lo), sortedMedian(sorted, lo, hi),
      std(), sum)
  }

  /** Kahan-compensated sum — merge-order independent to ~2·eps. */
  private[functions] def kahanSum(vals: Array[Double]): Double =
    kahanSum(vals, vals.length, _ => true, v => v)

  /** Kahan-compensated sum of `term(v)` over the values `v` of
    * `vals(0 until n)` that pass `keep`, in index order. */
  private def kahanSum(vals: Array[Double], n: Int, keep: Double => Boolean,
      term: Double => Double): Double = {
    var s = 0.0; var c = 0.0
    var i = 0
    while (i < n) {
      val v = vals(i)
      if (keep(v)) {
        val y = term(v) - c
        val t = s + y
        c = (t - s) - y
        s = t
      }
      i += 1
    }
    s
  }

  def mean(vals: Array[Double]): Double = kahanSum(vals) / vals.length

  /** numpy-style median: average of the two middle order statistics.
    * Sorts a primitive copy: `ArrayOps.sorted` has no `Array[Double]` fast
    * path and would box every value. `Arrays.sort(double[])` orders by
    * `java.lang.Double.compare`, the order of the default
    * `Ordering[Double]`, so the result is the same bit for bit. */
  def median(vals: Array[Double]): Double = {
    val sorted = vals.clone()
    java.util.Arrays.sort(sorted)
    sortedMedian(sorted, 0, sorted.length)
  }

  /** The median of the sorted slice `sorted(lo until hi)`, `hi > lo`. */
  private def sortedMedian(sorted: Array[Double], lo: Int, hi: Int): Double = {
    val mid = lo + (hi - lo) / 2
    if ((hi - lo) % 2 == 1) sorted(mid)
    else (sorted(mid - 1) + sorted(mid)) / 2.0
  }

  /** Population standard deviation (ddof=0, numpy default). */
  def stdPop(vals: Array[Double]): Double = {
    val m = mean(vals)
    math.sqrt(kahanSum(vals, vals.length, _ => true, v => (v - m) * (v - m)) /
      vals.length)
  }

  /** Column function: sigma-clipped stats as a struct(n, mean, median, std).
    * Usage: `df.groupBy(...).agg(sigmaClippedStats(2.0, 3)(col("v")))`.
    * Backed by the TypedImperativeAggregate fast path (primitive buffers,
    * flat serialization) — bit-identical to the Aggregator form, which
    * [[sigmaClippedStatsUdaf]] keeps available as the reference. */
  def sigmaClippedStats(sigma: Double, maxIters: Int): Column => Column =
    (c: Column) => org.apache.spark.sql.GraftExpressionBridge.column(
      org.apache.spark.sql.graftexpr.SigmaClipAggExpr(
        org.apache.spark.sql.GraftExpressionBridge.expression(c),
        sigma, maxIters).toAggregateExpression())

  /** The original Aggregator/udaf form (reference implementation). */
  def sigmaClippedStatsUdaf(sigma: Double, maxIters: Int): Column => Column = {
    val fn = udaf(new SigmaClippedStats(sigma, maxIters), Encoders.scalaDouble)
    (c: Column) => fn(c)
  }
}
