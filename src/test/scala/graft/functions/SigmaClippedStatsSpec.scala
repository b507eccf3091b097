package graft.functions

import graft.SparkSpec
import graft.functions.SigmaClippedStats._
import org.apache.spark.sql.functions._

class SigmaClippedStatsSpec extends SparkSpec {

  test("median matches numpy semantics (odd, even, two-element)") {
    assert(SigmaClippedStats.median(Array(3.0, 1.0, 2.0)) === 2.0)
    assert(SigmaClippedStats.median(Array(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(SigmaClippedStats.median(Array(1.0, 2.0)) === 1.5)
    // bit for bit against the boxed `sorted` (the default Ordering[Double])
    def reference(vals: Array[Double]): Double = {
      val sorted = vals.sorted
      val n = sorted.length
      if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    }
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    def sameBits(vals: Array[Double]): Unit = {
      val before = vals.map(bits)
      assert(bits(SigmaClippedStats.median(vals)) === bits(reference(vals)),
        vals.mkString(","))
      assert(vals.map(bits).sameElements(before), "median sorted its input")
    }
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    Seq(Array(0.0, -0.0), Array(-0.0, 0.0), Array(-0.0, 0.0, 1.0),
      Array(0.0, -0.0, -0.0), Array(nan, 1.0, 2.0), Array(nan, 1.0),
      Array(nan, nan, -inf), Array(inf, -inf), Array(inf, -inf, 3.0),
      Array(inf, inf, 1.0, 1.0), Array(2.0, 2.0, 2.0, 1.0),
      Array(-inf, nan, -0.0, 0.0, inf, 5.0, 5.0), Array(7.5))
      .foreach(sameBits)
    val rnd = new scala.util.Random(41)
    (1 to 400).foreach { n =>
      // a coarse grid makes duplicates and exact ties common
      sameBits(Array.fill(n)(
        if (rnd.nextInt(4) == 0) (rnd.nextInt(21) - 10) * 0.5
        else rnd.nextGaussian() * 100.0))
    }
  }

  test("stdPop is population std (ddof=0)") {
    // numpy: np.std([1,2,3,4]) = sqrt(1.25)
    assert(math.abs(stdPop(Array(1.0, 2.0, 3.0, 4.0)) - math.sqrt(1.25)) < 1e-12)
  }

  test("clipping rejects a gross outlier (reference sigma=2.0 behavior)") {
    import spark.implicits._
    val df = (Seq.fill(20)(10.0) ++ Seq(10.5, 9.5, 1000.0))
      .toDF("v").withColumn("g", lit(1))
    val scs = sigmaClippedStats(2.0, 5)
    val row = df.groupBy($"g").agg(scs($"v").as("s")).select("s.*").head()
    // pass 1 clips 1000; pass 2's tightened 2σ band (σ=0.15) also clips
    // 10.5 and 9.5 — iterative clipping converges on the 20-value core
    assert(row.getAs[Long]("n") === 20)
    assert(math.abs(row.getAs[Double]("median") - 10.0) < 1e-9)
    assert(row.getAs[Double]("std") < 1.0)
  }

  test("no clipping when data is tight") {
    import spark.implicits._
    val df = Seq(1.0, 1.1, 0.9, 1.05, 0.95).toDF("v").withColumn("g", lit(1))
    val scs = sigmaClippedStats(2.0, 5)
    val row = df.groupBy($"g").agg(scs($"v").as("s")).select("s.*").head()
    assert(row.getAs[Long]("n") === 5)
  }

  test("empty-group guard returns NaN stats via finish on zero buffer") {
    val agg = new SigmaClippedStats(2.0, 3)
    val out = agg.finish(agg.zero)
    assert(out.n === 0 && out.mean.isNaN)
  }

  test("property: survivors bounded by input, median within input range") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val vs = List.fill(1 + rnd.nextInt(40))(rnd.nextDouble() * 200 - 100)
      val agg = new SigmaClippedStats(2.0, 10)
      val buf = agg.zero
      vs.foreach(v => agg.reduce(buf, v))
      val out = agg.finish(buf)
      assert(out.n <= vs.length && out.n >= 1)
      assert(out.median >= vs.min - 1e-9 && out.median <= vs.max + 1e-9)
    }
  }

  test("clip equals filtering and re-sorting the survivors every round, bit for bit") {
    // the direct formulation: a new survivor array and a fresh sort per round
    def reference(values: Array[Double], sigma: Double, maxIters: Int): ClipStats = {
      import SigmaClippedStats.{mean => mean0, median => median0}
      var vals = values
      var it = 0
      var changed = true
      while (it < maxIters && changed) {
        val med = median0(vals)
        val sd = stdPop(vals)
        val kept = vals.filter(v => math.abs(v - med) <= sigma * sd)
        changed = kept.length != vals.length
        if (kept.nonEmpty) vals = kept else changed = false
        it += 1
      }
      ClipStats(vals.length.toLong, mean0(vals), median0(vals), stdPop(vals),
        kahanSum(vals))
    }
    def bits(s: ClipStats) = Seq(s.mean, s.median, s.std, s.sum)
      .map(java.lang.Double.doubleToRawLongBits) :+ s.n
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val special = Seq(Array(5.0), Array(1.0, 1.0, 1.0), Array(-0.0, 0.0, 0.0, 7.0),
      Array(nan, 1.0, 2.0, 3.0), Array(inf, 1.0, 2.0), Array(-inf, 4.0, 4.0, 1e300),
      Array(1e308, -1e308, 3.0, 3.0), Array(0.0, 0.0, 0.0, 1.0, 1000.0))
    val rnd = new scala.util.Random(7)
    val random = (1 to 300).map { i =>
      Array.fill(1 + rnd.nextInt(if (i % 10 == 0) 3000 else 60)) {
        val g = rnd.nextGaussian()
        if (rnd.nextInt(20) == 0) g * 500.0        // outliers
        else if (rnd.nextInt(3) == 0) math.rint(g * 4) // ties
        else 100.0 + g
      }
    }
    for (vals <- special ++ random; (sigma, iters) <- Seq((2.0, 5), (0.5, 20),
        (3.0, 1), (-1.0, 5))) {
      val before = vals.map(java.lang.Double.doubleToRawLongBits)
      assert(bits(SigmaClippedStats.clip(vals, sigma, iters)) ===
        bits(reference(vals, sigma, iters)), s"sigma $sigma: ${vals.take(8).mkString(",")}")
      assert(vals.map(java.lang.Double.doubleToRawLongBits).sameElements(before))
    }
    // a buffer longer than its fill: only the first n values count
    val padded = Array(3.0, 1.0, 2.0, 1e9, 1e9)
    assert(bits(SigmaClippedStats.clip(padded, 3, 2.0, 5)) ===
      bits(reference(Array(3.0, 1.0, 2.0), 2.0, 5)))
  }

  test("merge order does not change the result") {
    val agg = new SigmaClippedStats(2.0, 5)
    val vs = (1 to 100).map(i => math.sin(i.toDouble) * 10 + (if (i % 37 == 0) 500 else 0))
    val b1 = agg.zero; vs.take(50).foreach(v => agg.reduce(b1, v))
    val b2 = agg.zero; vs.drop(50).foreach(v => agg.reduce(b2, v))
    val m12 = agg.finish(agg.merge(b1.clone(), b2.clone()))
    val b3 = agg.zero; vs.drop(50).foreach(v => agg.reduce(b3, v))
    val b4 = agg.zero; vs.take(50).foreach(v => agg.reduce(b4, v))
    val m21 = agg.finish(agg.merge(b3, b4))
    assert(m12.n === m21.n)
    assert(math.abs(m12.mean - m21.mean) < 1e-9)
    assert(m12.median === m21.median)
  }
}

/** The TypedImperativeAggregate fast path must be indistinguishable from
  * the Aggregator reference — same clip function, same outputs. */
class SigmaClipFastPathSpec extends SparkSpec {
  import spark.implicits._

  test("fast aggregate equals the udaf reference across many groups") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 20000).map { i =>
      (i % 500, rnd.nextGaussian() * 10 + (if (i % 97 == 0) 300.0 else 0.0))
    }.toDF("k", "v")
    val fast = df.groupBy($"k")
      .agg(SigmaClippedStats.sigmaClippedStats(2.0, 5)($"v").as("s"))
      .select($"k", $"s.n", $"s.mean", $"s.median", $"s.std")
      .as[(Int, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val ref = df.groupBy($"k")
      .agg(SigmaClippedStats.sigmaClippedStatsUdaf(2.0, 5)($"v").as("s"))
      .select($"k", $"s.n", $"s.mean", $"s.median", $"s.std")
      .as[(Int, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(fast.keySet === ref.keySet)
    fast.foreach { case (k, (n, mean, med, std)) =>
      val (rn, rmean, rmed, rstd) = ref(k)
      assert(n === rn, s"group $k n")
      assert(math.abs(mean - rmean) < 1e-12, s"group $k mean")
      assert(med === rmed, s"group $k median")
      assert(math.abs(std - rstd) < 1e-12, s"group $k std")
    }
  }

  test("empty-input and null handling match (NaN sentinel stats)") {
    val df = Seq((1, Some(1.0)), (1, None), (2, None))
      .toDF("k", "v")
    val byK = df.groupBy($"k")
      .agg(SigmaClippedStats.sigmaClippedStats(2.0, 5)($"v").as("s"))
      .select($"k", $"s.n", $"s.mean").as[(Int, Long, Double)].collect()
    val m = byK.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1)._1 === 1L && m(1)._2 === 1.0)
    assert(m(2)._1 === 0L && m(2)._2.isNaN)
  }
}
