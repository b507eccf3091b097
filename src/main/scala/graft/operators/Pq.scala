package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for embedding storage and ANN (Jégou/Douze/Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the
  * scheme behind FAISS's PQ/IVFPQ indexes; public knowledge, re-expressed
  * Spark-first).
  *
  * The unit vector is split into `nSub` contiguous subvectors; each
  * subspace gets its own `nCodes`-centroid codebook (Lloyd over
  * subvectors, every round a linear broadcast scan — never a pairwise
  * shuffle). A vector is then stored as `nSub` small integer codes:
  * 64 float64 dims → 8 codes (≈64× smaller than the raw column, 16× vs
  * float32), which is what makes a 100 TB embedding corpus rankable from
  * memory at all.
  *
  * Query-side ranking is ASYMMETRIC DISTANCE (ADC): the probe is NOT
  * quantized — per probe, a (nSub × nCodes) table of exact partial
  * squared distances `‖q_m − c_mj‖²` is computed once (a bounded literal
  * model, broadcast by the plan), and each corpus vector's approximate
  * distance is `Σ_m LUT[m][code_m]` — a zip_with/element_at/aggregate
  * tree over the codes array, fully codegen'd, no UDF, touching only the
  * 8-int codes column. On unit vectors ‖q−v‖² = 2−2·cos, so ascending
  * ADC ranks by (approximate) descending cosine.
  *
  * Everything is deterministic: hash-sampled seed pool, farthest-point
  * seeding, fixed tie-breaks (lower code / lower id) — so the recall
  * certificate (q135) is hash-gateable.
  */
object Pq {

  /** Trained model: codebooks(m)(j) = centroid j of subspace m. */
  final case class PqModel(dims: Int, nSub: Int,
      codebooks: Array[Array[Array[Double]]]) {
    val subDim: Int = dims / nSub
    def nCodes: Int = codebooks.head.length
  }

  private def d2(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Native ‖a − b_lit‖² where `b` is a model literal: the zip_with
    * squared-difference fold used for training assignment, LUT
    * construction, and the reconstruction certificate. */
  private def d2Col(a: Column, b: Seq[Double]): Column =
    aggregate(zip_with(a, lit(b.toArray), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Immutable view of a model's codebooks for the native expressions
    * (structural case-class equality; literal model metadata). */
  private def books(model: PqModel): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    model.codebooks.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq

  private def bridgeCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftExpressionBridge.column(e)
  private def bridgeExpr(c: Column) =
    org.apache.spark.sql.GraftExpressionBridge.expression(c)

  /** The id column feeds arithmetic surrogate keys (`vid * const` sample
    * hashing, `vid * nCells + cell` placement ids); a non-numeric id
    * would silently become NULL there and every downstream id-join would
    * drop all rows — so the PQ entrypoints fail fast instead. */
  private def requireNumericId(df: DataFrame, id: String, op: String): Unit = {
    val dt = df.schema(id).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"Pq.$op requires a numeric id column; '$id' is ${dt.simpleString}. " +
        "Derive a numeric surrogate first (e.g. xxhash64(id) or " +
        "monotonically_increasing_id).")
  }

  /** Train per-subspace codebooks on a BOUNDED deterministic sample —
    * the FAISS-practice shape for quantizer training at corpus scale: a
    * 100 TB corpus trains its (tiny) codebooks on a hash-sampled pool,
    * never with per-iteration full-corpus jobs. ONE distributed scan
    * collects the pool (≤ 64·nCodes vectors, hash-ordered so the sample
    * is deterministic and corpus-spread); seeding (farthest-point per
    * subspace) and `iters` Lloyd rounds then run driver-side over the
    * pool — exact, loop-free-on-the-cluster, and identical in structure
    * to the EPSF-grid bounded-model pattern. The full corpus is touched
    * again only by [[encode]]'s single linear assignment pass. */
  def train(corpus: DataFrame, id: String, vec: String, nSub: Int,
      nCodes: Int, iters: Int = 3, normalize: Boolean = true): PqModel = {
    requireNumericId(corpus, id, "train")
    val spark = corpus.sparkSession
    import spark.implicits._
    val v0 = toDouble(col(vec))
    val c = corpus.select(col(id).as("vid"),
      (if (normalize) normalized(v0) else v0).as("e"))
    // one bounded pool scan seeds and trains every subspace
    // (primitive-array collect — no per-element boxing)
    val pool: Array[Array[Double]] = c
      .withColumn("hk", pmod(col("vid") * lit(2654435761L), lit(1000000007L)))
      .orderBy(col("hk"), col("vid")).limit(64 * nCodes)
      .select(col("e")).as[Array[Double]].collect()
    require(pool.nonEmpty, "PQ training needs a non-empty corpus")
    trainOnPool(pool, nSub, nCodes, iters)
  }

  /** Lloyd per subspace over an in-memory pool — the driver-side core of
    * [[train]], also iterated by [[trainOpq]] under each candidate
    * rotation.
    *
    * Runs the subspaces (and the per-vector assignment scans inside
    * each) on local parallel collections: every parallel step is either
    * an order-preserving pure element-wise map or an independent
    * per-index computation whose inner accumulation stays in pool
    * order, so the result is BIT-IDENTICAL to the sequential code at
    * any thread count — certificates gated on trained models are
    * unaffected. Farthest-point seeding keeps the running min-distance
    * per pool vector (O(nCodes·pool) instead of the naive
    * O(nCodes²·pool) rescan) with the same first-max tie-break. */
  private def trainOnPool(pool: Array[Array[Double]], nSub: Int,
      nCodes: Int, iters: Int): PqModel = {
    import scala.collection.parallel.CollectionConverters._
    val dims = pool.head.length
    require(dims > 0 && dims % nSub == 0,
      s"dims $dims must split evenly into $nSub subspaces")
    val subDim = dims / nSub
    val books: Array[Array[Array[Double]]] =
      (0 until nSub).toArray.par.map { m =>
      val subPool = pool.map(_.slice(m * subDim, (m + 1) * subDim))
      val nSeeds = math.min(nCodes, subPool.length)
      val seeds = scala.collection.mutable.ArrayBuffer(subPool.head)
      // dmin(i) = min distance from subPool(i) to any current seed;
      // argmax(dmin) with first-index tie-break ≡ the naive
      // maxBy(min-over-seeds) rescan, element for element
      val dmin = subPool.map(p => d2(p, seeds.head))
      while (seeds.size < nSeeds) {
        var best = 0; var i = 1
        while (i < dmin.length) {
          if (dmin(i) > dmin(best)) best = i
          i += 1
        }
        val s = subPool(best)
        seeds += s
        i = 0
        while (i < dmin.length) {
          val d = d2(subPool(i), s)
          if (d < dmin(i)) dmin(i) = d
          i += 1
        }
      }
      var cents = seeds.toArray
      var round = 0
      while (round < iters) {
        // assign: nearest centroid, tie toward the lower code id
        val assigned = subPool.par.map { v =>
          var best = 0; var bestD = Double.MaxValue; var j = 0
          while (j < cents.length) {
            val dj = d2(v, cents(j))
            if (dj < bestD) { bestD = dj; best = j }
            j += 1
          }
          best
        }.toArray
        // update: per-code mean; a code that lost every member keeps its
        // previous centroid (it can re-acquire points). Parallel over
        // codes; each code's sum runs in pool order (identical FP).
        val prev = cents
        cents = (0 until prev.length).toArray.par.map { j =>
          val mean = new Array[Double](subDim)
          var n = 0; var i = 0
          while (i < assigned.length) {
            if (assigned(i) == j) {
              var d = 0
              while (d < subDim) { mean(d) += subPool(i)(d); d += 1 }
              n += 1
            }
            i += 1
          }
          if (n == 0) prev(j) else mean.map(_ / n)
        }.toArray
        round += 1
      }
      cents
    }.toArray
    PqModel(dims, nSub, books)
  }

  // ---------------------------------------------------------------- OPQ

  /** Trained OPQ model: an orthogonal pre-rotation + the PQ codebooks
    * trained in the rotated space (Ge/He/Ke/Sun, "Optimized Product
    * Quantization", CVPR 2013 — FAISS's OPQMatrix; public knowledge,
    * re-expressed Spark-first). Rotation re-balances correlated /
    * unevenly-spread dimensions across the independent subspaces, which
    * plain PQ quantizes wastefully. */
  final case class OpqModel(rotation: Array[Array[Double]], pq: PqModel)

  private def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val out = new Array[Double](m.length)
    var i = 0
    while (i < m.length) {
      var s = 0.0; var j = 0
      val row = m(i)
      while (j < row.length) { s += row(j) * v(j); j += 1 }
      out(i) = s; i += 1
    }
    out
  }

  private def matT(m: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(m.head.length, m.length)((i, j) => m(j)(i))

  /** Gauss-Jordan inverse with partial pivoting (d ≤ ~128 model
    * matrices — a bounded driver-side solve, like the photometry LSQ). */
  private def matInv(m: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m.length
    val a = m.map(_.clone())
    val inv = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      require(math.abs(a(piv)(col)) > 1e-12, "singular matrix in polar step")
      val t = a(col); a(col) = a(piv); a(piv) = t
      val ti = inv(col); inv(col) = inv(piv); inv(piv) = ti
      val d = a(col)(col)
      var j = 0
      while (j < n) { a(col)(j) /= d; inv(col)(j) /= d; j += 1 }
      r = 0
      while (r < n) {
        if (r != col && a(r)(col) != 0.0) {
          val f = a(r)(col)
          var k = 0
          while (k < n) { a(r)(k) -= f * a(col)(k); inv(r)(k) -= f * inv(col)(k); k += 1 }
        }
        r += 1
      }
      col += 1
    }
    inv
  }

  /** Orthogonal polar factor of `m` by Newton iteration
    * X ← (X + X⁻ᵀ)/2 — converges to the U·Vᵀ of m's SVD, which is the
    * orthogonal-Procrustes optimum. No external linear algebra: the
    * matrix is a bounded model object (d×d ≤ 128²). */
  private def polarOrthogonal(m: Array[Array[Double]]): Array[Array[Double]] = {
    var x = m.map(_.clone())
    var it = 0
    while (it < 60) {
      val xit = matT(matInv(x))
      val next = Array.tabulate(x.length, x.length)((i, j) =>
        0.5 * (x(i)(j) + xit(i)(j)))
      var diff = 0.0
      var i = 0
      while (i < x.length) {
        var j = 0
        while (j < x.length) { diff = math.max(diff, math.abs(next(i)(j) - x(i)(j))); j += 1 }
        i += 1
      }
      x = next
      if (diff < 1e-13) return x
      it += 1
    }
    x
  }

  /** Driver-side nearest-code reconstruction of one rotated pool vector
    * under the model (decode(encode(v)) — used by the OPQ alternation
    * and nowhere hot). */
  private def reconstruct(model: PqModel, v: Array[Double]): Array[Double] = {
    val out = new Array[Double](model.dims)
    var m = 0
    while (m < model.nSub) {
      val sub = v.slice(m * model.subDim, (m + 1) * model.subDim)
      var best = 0; var bestD = Double.MaxValue; var j = 0
      while (j < model.nCodes) {
        val dj = d2(model.codebooks(m)(j), sub)
        if (dj < bestD) { bestD = dj; best = j }
        j += 1
      }
      System.arraycopy(model.codebooks(m)(best), 0, out, m * model.subDim,
        model.subDim)
      m += 1
    }
    out
  }

  /** Train OPQ: alternate (a) PQ codebooks on the rotated pool and
    * (b) the orthogonal Procrustes update R ← polar(Σ v̂ xᵀ) that best
    * aligns the raw pool with its reconstructions — the CVPR-2013
    * non-parametric alternation, run entirely driver-side over the same
    * bounded hash-sampled pool [[train]] uses (a 100 TB corpus never
    * pays distributed jobs for a d×d model). The corpus is touched only
    * by the caller's single rotate+encode projection pass. */
  def trainOpq(corpus: DataFrame, id: String, vec: String, nSub: Int,
      nCodes: Int, iters: Int = 3, opqIters: Int = 6,
      normalize: Boolean = true): OpqModel = {
    requireNumericId(corpus, id, "trainOpq")
    val spark = corpus.sparkSession
    import spark.implicits._
    val v0 = toDouble(col(vec))
    val c = corpus.select(col(id).as("vid"),
      (if (normalize) normalized(v0) else v0).as("e"))
    // primitive-array collect: the Array[Double] encoder deserializes
    // straight from UnsafeArrayData without boxing each element
    val pool: Array[Array[Double]] = c
      .withColumn("hk", pmod(col("vid") * lit(2654435761L), lit(1000000007L)))
      .orderBy(col("hk"), col("vid")).limit(64 * nCodes)
      .select(col("e")).as[Array[Double]].collect()
    require(pool.nonEmpty, "OPQ training needs a non-empty corpus")
    import scala.collection.parallel.CollectionConverters._
    val dims = pool.head.length
    var r = Array.tabulate(dims, dims)((i, j) => if (i == j) 1.0 else 0.0)
    var model: PqModel = null
    var it = 0
    while (it < math.max(1, opqIters)) {
      val rx = pool.par.map(matVec(r, _)).toArray
      model = trainOnPool(rx, nSub, nCodes, iters)
      // Procrustes target: minimize Σ‖R·x − v̂(R·x)‖² over orthogonal R
      // ⇒ R = polar(Σ v̂ xᵀ). Reconstructions are a pure per-vector
      // map (parallel, order-preserving); each mSum row accumulates
      // over the pool in index order, so the sum — and therefore the
      // learned rotation — is bit-identical at any thread count.
      val ys = {
        val mFinal = model
        rx.par.map(reconstruct(mFinal, _)).toArray
      }
      val mSum = (0 until dims).toArray.par.map { i =>
        val row = new Array[Double](dims)
        var p = 0
        while (p < pool.length) {
          val yi = ys(p)(i); val x = pool(p)
          var j = 0
          while (j < dims) { row(j) += yi * x(j); j += 1 }
          p += 1
        }
        row
      }.toArray
      r = polarOrthogonal(mSum)
      it += 1
    }
    // codebooks must match the FINAL rotation
    val rFinal = r
    OpqModel(r, trainOnPool(pool.par.map(matVec(rFinal, _)).toArray,
      nSub, nCodes, iters))
  }

  /** The rotation as one literal-matrix projection: out[i] = Rᵢ·v — the
    * LSH-hyperplane pattern (d codegen dot products against literal
    * rows), no shuffle, no UDF. Caller contract as [[codesCol]]: pass an
    * attribute. */
  def rotateCol(v: Column, rotation: Array[Array[Double]]): Column =
    array(rotation.map(row => dot(v, lit(row))): _*)

  /** ADC search under an already-trained OPQ model (serving path; also
    * what the q145 certificate reuses for its recall half). */
  def searchWithOpqModel(corpus: DataFrame, id: String, vec: String,
      probes: DataFrame, probeId: String, probeVec: String, k: Int,
      model: OpqModel, refine: Int = 0): DataFrame = {
    requireNumericId(corpus, id, "searchWithOpqModel")
    val rot = rotated(corpus, id, vec, model.rotation)
    val rotP = rotated(probes, probeId, probeVec, model.rotation)
    searchWithModel(rot, "vec_id", "e", rotP, "vec_id", "e", k, model.pq,
      refine)
  }

  /** (vec_id, e): normalized then rotated vectors, each stage its own
    * materialized projection (codesCol/lutCol caller contract). */
  private def rotated(df: DataFrame, id: String, vec: String,
      rotation: Array[Array[Double]]): DataFrame =
    df.select(col(id).as("vec_id"),
        normalized(toDouble(col(vec))).as("e0"))
      .select(col("vec_id"), rotateCol(col("e0"), rotation).as("e"))

  /** Mean squared reconstruction error of the OPQ quantizer over the
    * corpus — computed in the rotated space, which equals the original-
    * space error exactly (R is orthogonal). */
  def opqReconstructionError(corpus: DataFrame, id: String, vec: String,
      model: OpqModel): DataFrame =
    reconstructionError(rotated(corpus, id, vec, model.rotation),
      "vec_id", "e", model.pq)

  /** Encode: (vec_id, codes array<int>) — each subvector's nearest
    * codebook entry under the trained model, assignment exactly as the
    * training rounds saw it (strict argmin, ties to the lower code id).
    *
    * The codebooks are a bounded literal model, so the whole assignment
    * is ONE projection expression per row — the same pattern as the ADC
    * LUT walk on the query side: per subspace m, `array_min` over the
    * literal array of (‖sub_m − c_mj‖², j) structs picks the nearest
    * code (struct ordering = distance first, then lower code — the
    * structural tie-break, no epsilon perturbation of the metric). No
    * explode, no join, no shuffle: at 100 TB this is a map-only scan,
    * where the former explode + broadcast-join form shuffled
    * nSub·nCodes× the corpus row count through two exchanges. */
  def encode(corpus: DataFrame, id: String, vec: String,
      model: PqModel, normalize: Boolean = true): DataFrame = {
    requireNumericId(corpus, id, "encode")
    val v0 = toDouble(col(vec))
    // fan out the unsplittable single-file scan before the per-row argmin
    // work (guide §2.5; plan-level no-op at scale), then assign codes in
    // ONE native generated loop per row (PqCodesExpr — the former
    // 256-branch HOF argmin tree evaluated interpreted lambdas per
    // element; assignments are bit-identical, see PqExprs scaladoc)
    val c = Scale.fanOut(corpus.select(col(id).as("vec_id"),
      (if (normalize) normalized(v0) else v0).as("e")), "vec_id")
    c.select(col("vec_id"), codesCol(col("e"), model).as("codes"))
  }

  /** The encode assignment as ONE Column over the vector expression —
    * a native generated loop (PqCodesExpr); the vector child is evaluated
    * exactly once per row, so callers may pass computed expressions. */
  def codesCol(v: Column, model: PqModel): Column =
    bridgeCol(org.apache.spark.sql.graftexpr.PqCodesExpr(
      bridgeExpr(v), books(model)))

  /** Per-probe ADC lookup table as ONE literal-driven expression:
    * lut[m][j] = ‖q_m − c_mj‖², exact on the probe side. */
  private def lutCol(qe: Column, model: PqModel): Column =
    bridgeCol(org.apache.spark.sql.graftexpr.PqLutExpr(
      bridgeExpr(qe), books(model)))

  /** ADC approximate distance: Σ_m lut[m][codes[m]] — a native generated
    * codes-array walk (PqAdcExpr), no vector payload; identical
    * left-to-right summation as the former element_at fold. */
  private def adcCol(codes: Column, lutC: Column): Column =
    bridgeCol(org.apache.spark.sql.graftexpr.PqAdcExpr(
      bridgeExpr(codes), bridgeExpr(lutC)))

  /** PQ ANN top-k: train → encode → rank every corpus vector per probe by
    * ADC distance over its 8-int codes (ascending = descending approx
    * cosine on unit vectors), deterministic (adc, vec_id) tie-break.
    * Memory-bound scan over codes instead of raw vectors — compose with
    * IVF cells (ivfPqTopK) for the I/O-pruned variant.
    *
    * `refine` > 0 adds the standard exact re-rank stage (FAISS's
    * IndexRefine shape): ADC shortlists `refine·k` candidates per probe
    * from the codes alone, then ONLY those rows fetch their raw vector
    * for an exact cosine top-k. The full-precision column is touched for
    * refine·k·|probes| rows total — the compressed scan does the heavy
    * lifting, exactness returns at the end, and recall on hard
    * (near-uniform) corpora recovers from ADC's quantization floor.
    * Recall vs brute force is certified driver-visibly (q135). */
  def pqTopK(corpus: DataFrame, id: String, vec: String,
      probes: DataFrame, probeId: String, probeVec: String, k: Int,
      nSub: Int, nCodes: Int, iters: Int = 3, refine: Int = 0): DataFrame =
    searchWithModel(corpus, id, vec, probes, probeId, probeVec, k,
      train(corpus, id, vec, nSub, nCodes, iters), refine)

  /** ADC search under an already-trained model — the serving-path
    * entrypoint (models are trained once, searched many times), and what
    * lets the q135 certificate train a single model for both the recall
    * and reconstruction checks. */
  def searchWithModel(corpus: DataFrame, id: String, vec: String,
      probes: DataFrame, probeId: String, probeVec: String, k: Int,
      model: PqModel, refine: Int = 0): DataFrame = {
    val codes = encode(corpus, id, vec, model)
    val p = probes.select(col(probeId).as("q_id"),
      normalized(toDouble(col(probeVec))).as("qe"))
    val pl = p.select(col("q_id"), lutCol(col("qe"), model).as("lut"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    val shortlist = math.max(k, if (refine > 0) refine * k else k)
    val adcTop = codes.join(broadcast(pl), col("q_id") =!= col("vec_id"))
      .withColumn("adc", adcCol(col("codes"), col("lut")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= shortlist)
    if (refine <= 0)
      adcTop.select(col("q_id"), col("vec_id"),
        round(col("adc"), 6).as("adc"), col("rank"))
    else {
      val c = corpus.select(col(id).as("vec_id"),
        normalized(toDouble(col(vec))).as("e"))
      val wx = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_raw").desc, col("vec_id").asc)
      adcTop.select(col("q_id"), col("vec_id"))
        .join(c, Seq("vec_id"))
        .join(broadcast(p), Seq("q_id"))
        .withColumn("cos_raw", dot(col("qe"), col("e")))
        .withColumn("rank", row_number().over(wx).cast("long"))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("vec_id"),
          round(col("cos_raw"), 6).as("cosine"), col("rank"))
    }
  }

  /** IVF-PQ: coarse cells prune the scan to `nprobe` cells per probe
    * (listing-scale pruning), PQ codes make the within-cell ranking a
    * codes walk — FAISS's IVFPQ layout. With `residual = true` (the
    * FAISS default) the codes quantize the RESIDUAL v − c(cell) instead
    * of the raw unit vector: residuals have far smaller spread than the
    * vectors themselves, so the same codebook budget quantizes finer,
    * and since ‖q−v‖² = ‖(q−c) − (v−c)‖² the probe side just builds its
    * ADC LUT from q − c per probed cell (nprobe bounded, still a literal
    * codes walk). PqSpec asserts the residual form recalls at least as
    * well as the raw form on the fixtures. */
  def ivfPqTopK(corpus: DataFrame, id: String, vec: String,
      probes: DataFrame, probeId: String, probeVec: String, k: Int,
      nCells: Int, nprobe: Int, nSub: Int, nCodes: Int,
      iters: Int = 3, residual: Boolean = false,
      refine: Int = 0, spill: Int = 1): DataFrame = {
    requireNumericId(corpus, id, "ivfPqTopK")
    val (cellAssign, cents) = Similarity.trainCellsWithCentroids(
      corpus, id, vec, nCells, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = broadcast(cents.toDF("cell", "centroid"))
    val vecs = corpus.select(col(id).as("vec_id"),
      normalized(toDouble(col(vec))).as("e"))
    // spill > 1: a vector is indexed (and, under residual, encoded)
    // under each of its top-s cells — the same boundary-recall fix the
    // plain IVF paths use; the synthetic (vec_id·nCells + cell) encode
    // key keeps each placement's residual codes distinct
    val placed =
      if (spill <= 1) vecs.join(cellAssign, Seq("vec_id"))
      else Similarity.spillAssign(
        vecs.select(col("vec_id"), lit(0).as("cell"), col("e")),
        cents.toDF("cell", "centroid"), spill)
    // pin the placement subtree: it feeds the training pool collect, the
    // encode scan, and the codes→placement join — unpinned, the
    // spill-assignment lineage executes three times per query. LAZY
    // localCheckpoint (not eager: nothing materializes before the first
    // action; not persist: a returned-DataFrame method has no unpersist
    // point, and CacheManager entries leak for the session's lifetime —
    // checkpoint blocks are released by the ContextCleaner when the
    // RDD is garbage-collected)
    val base = placed.join(centDf, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        (col("vec_id") * nCells + col("cell")).as("place_id"),
        (if (residual)
          zip_with(col("e"), col("centroid"), (a, b) => a - b)
        else col("e")).as("enc"))
      .localCheckpoint(eager = false)
    val model = train(base, "place_id", "enc", nSub, nCodes, iters,
      normalize = false)
    // codes by PROJECTION over the pinned placements — encode is a pure
    // expression, so no id-join back to base is ever needed
    val codes = base.select(col("vec_id"), col("cell"),
      codesCol(col("enc"), model).as("codes"))
    val p = probes.select(col(probeId).as("q_id"),
      normalized(toDouble(col(probeVec))).as("qe"))
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(col("cell_cos").desc, col("cell").asc)
    val probeCells = p.crossJoin(centDf)
      .withColumn("cell_cos", cosine(col("qe"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= nprobe)
      .select(col("q_id"), col("cell"),
        (if (residual)
          zip_with(col("qe"), col("centroid"), (a, b) => a - b)
        else col("qe")).as("rq"))
      .select(col("q_id"), lutCol(col("rq"), model).as("lut"), col("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    val shortlist = math.max(k, if (refine > 0) refine * k else k)
    val scored = codes.join(broadcast(probeCells), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc", adcCol(col("codes"), col("lut")))
    // a spilled vector can be met through several probed placements —
    // keep its best (lowest) ADC before ranking
    val perPair =
      if (spill <= 1) scored
      else scored.groupBy(col("q_id"), col("vec_id"))
        .agg(min(col("adc")).as("adc"))
    val adcTop = perPair
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= shortlist)
    if (refine <= 0)
      adcTop.select(col("q_id"), col("vec_id"),
        round(col("adc"), 6).as("adc"), col("rank"))
    else {
      // exact re-rank of the bounded shortlist — only refine·k·|probes|
      // rows ever touch the raw vector column (IndexRefine on IVFPQ)
      val raw = corpus.select(col(id).as("vec_id"),
        normalized(toDouble(col(vec))).as("e"))
      val wx = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_raw").desc, col("vec_id").asc)
      adcTop.select(col("q_id"), col("vec_id"))
        .join(raw, Seq("vec_id"))
        .join(broadcast(p), Seq("q_id"))
        .withColumn("cos_raw", dot(col("qe"), col("e")))
        .withColumn("rank", row_number().over(wx).cast("long"))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("vec_id"),
          round(col("cos_raw"), 6).as("cosine"), col("rank"))
    }
  }

  /** OPQ + IVF-PQ composed in memory — the twin of the on-disk
    * OPQ-built index ([[writeIvfPqIndex]] with `opqIters` > 0): learn
    * the rotation, project corpus AND probes into model space (one
    * literal-matrix projection each), then the standard residual IVF-PQ
    * path. The exact re-rank inside ranks by rotated-space cosine,
    * which equals raw cosine (R is orthogonal). */
  def opqIvfPqTopK(corpus: DataFrame, id: String, vec: String,
      probes: DataFrame, probeId: String, probeVec: String, k: Int,
      nCells: Int, nprobe: Int, nSub: Int, nCodes: Int, iters: Int = 3,
      opqIters: Int = 6, refine: Int = 8, spill: Int = 1): DataFrame = {
    requireNumericId(corpus, id, "opqIvfPqTopK")
    val opq = trainOpq(corpus, id, vec, nSub, nCodes, iters, opqIters)
    ivfPqTopK(rotated(corpus, id, vec, opq.rotation), "vec_id", "e",
      rotated(probes, probeId, probeVec, opq.rotation), "vec_id", "e",
      k, nCells, nprobe, nSub, nCodes, iters, residual = true,
      refine = refine, spill = spill)
  }

  /** Persist an IVF-PQ index: the corpus stored as (vec_id, codes) rows
    * PARTITIONED BY the trained cell id — the codes tree is ~nSub bytes a
    * vector, so the INDEX of a 100 TB float corpus is itself only a few
    * hundred GB — plus `_centroids` and `_codebooks` model sidecars
    * (underscore-prefixed: invisible to data readers). Residual encoding
    * always on (the FAISS IVFPQ layout); spill places boundary vectors
    * under their top-s cells with per-placement codes. The raw vectors
    * are NOT duplicated into the index: at scale the source table stays
    * where it is, and a refine stage joins back to it by id
    * ([[probeIvfPqIndex]]'s `refineWith`). */
  def writeIvfPqIndex(corpus: DataFrame, id: String, vec: String,
      dir: String, nCells: Int, nSub: Int, nCodes: Int,
      iters: Int = 3, spill: Int = 1, opqIters: Int = 0): Unit = {
    requireNumericId(corpus, id, "writeIvfPqIndex")
    if (opqIters > 0) {
      // OPQ as the index pre-transform (FAISS's OPQMatrix-before-IVFPQ
      // norm): learn the rotation once, place/encode in rotated space,
      // persist the rotation as a third FROZEN model sidecar — appends
      // and probes apply it as the same literal-matrix projection
      val opq = trainOpq(corpus, id, vec, nSub, nCodes, iters, opqIters)
      val rot = rotated(corpus, id, vec, opq.rotation)
      writeIvfPqIndexCore(rot, "vec_id", "e", dir, nCells, nSub, nCodes,
        iters, spill)
      writeRotation(corpus.sparkSession, opq.rotation, dir)
      return
    }
    writeIvfPqIndexCore(corpus, id, vec, dir, nCells, nSub, nCodes, iters,
      spill)
  }

  private def writeIvfPqIndexCore(corpus: DataFrame, id: String,
      vec: String, dir: String, nCells: Int, nSub: Int, nCodes: Int,
      iters: Int, spill: Int): Unit = {
    val (cellAssign, cents) = Similarity.trainCellsWithCentroids(
      corpus, id, vec, nCells, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = broadcast(cents.toDF("cell", "centroid"))
    val vecs = corpus.select(col(id).as("vec_id"),
      normalized(toDouble(col(vec))).as("e"))
    val placed =
      if (spill <= 1) vecs.join(cellAssign, Seq("vec_id"))
      else Similarity.spillAssign(
        vecs.select(col("vec_id"), lit(0).as("cell"), col("e")),
        cents.toDF("cell", "centroid"), spill)
    // pinned for the same three-consumer reason as ivfPqTopK (persist,
    // not eager localCheckpoint — see there)
    val base = placed.join(centDf, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        (col("vec_id") * nCells + col("cell")).as("place_id"),
        zip_with(col("e"), col("centroid"), (a, b) => a - b).as("enc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = train(base, "place_id", "enc", nSub, nCodes, iters,
      normalize = false)
    base.select(col("vec_id"), col("cell"),
        codesCol(col("enc"), model).as("codes"))
      .repartition(nCells, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    cents.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$dir/_centroids")
    (for (m <- 0 until model.nSub; j <- 0 until model.nCodes)
      yield (m, j, model.codebooks(m)(j).toSeq))
      .toDF("m", "code", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_codebooks")
    base.unpersist()
  }

  /** Persist the OPQ rotation as the `_rotation` sidecar (one row per
    * matrix row; underscore-prefixed like the other model sidecars). */
  private def writeRotation(spark: SparkSession, rotation: Array[Array[Double]],
      dir: String): Unit = {
    import spark.implicits._
    rotation.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("i", "row")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_rotation")
  }

  /** Reload the `_rotation` sidecar if this index was built with OPQ. */
  private def readRotation(spark: SparkSession, dir: String): Option[Array[Array[Double]]] = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(s"$dir/_rotation")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else Some(spark.read.parquet(s"$dir/_rotation")
      .select(col("i"), col("row"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
      .map(_._2.toArray))
  }

  /** Reload the `_codebooks` sidecar as a [[PqModel]]. */
  private def readCodebooks(spark: SparkSession, dir: String): PqModel = {
    import spark.implicits._
    val books = spark.read.parquet(s"$dir/_codebooks")
      .select(col("m"), col("code"), col("cent"))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toArray).toArray).toArray
    PqModel(books.length * books.head.head.length, books.length, books)
  }

  /** Append new vectors to an existing on-disk IVF-PQ index WITHOUT
    * retraining: placement by the SAVED centroids (same top-`spill` rule
    * as [[writeIvfPqIndex]]) and residual codes under the FROZEN
    * codebooks — new files land inside the matching `cell=` partitions,
    * history is never rewritten, listing-time pruning keeps working. The
    * growing-corpus normal case for a 100 TB serving index; because the
    * frozen quantizer drifts away from the data it never trained on,
    * recall after appends is re-certified (q142) and a periodic
    * [[compactIvfPqIndex]] (or a full rebuild) folds drift back out. */
  def appendIvfPqIndex(newVecs: DataFrame, id: String, vec: String,
      dir: String, spill: Int = 1): Unit = {
    requireNumericId(newVecs, id, "appendIvfPqIndex")
    val spark = newVecs.sparkSession
    import spark.implicits._
    val cents = spark.read.parquet(s"$dir/_centroids")
      .select(col("cell"), col("centroid"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    val model = readCodebooks(spark, dir)
    val centDf = broadcast(cents.toDF("cell", "centroid"))
    // an OPQ-built index carries its FROZEN rotation; appended vectors
    // enter the same rotated space before placement and encoding. The
    // extra normalized() matches the build path bit-for-bit (the core
    // builder re-normalizes its rotated input), so appends stay
    // byte-identical to a same-model rebuild
    val vecs = readRotation(spark, dir) match {
      case Some(r) => rotated(newVecs, id, vec, r)
        .select(col("vec_id"), normalized(toDouble(col("e"))).as("e"))
      case None => newVecs.select(col(id).as("vec_id"),
        normalized(toDouble(col(vec))).as("e"))
    }
    val placed = Similarity.spillAssign(
      vecs.select(col("vec_id"), lit(0).as("cell"), col("e")),
      cents.toDF("cell", "centroid"), math.max(1, spill))
    placed.join(centDf, Seq("cell"))
      // residual materialized as its own column before the 256-reference
      // argmin tree (see codesCol's caller contract)
      .select(col("vec_id"), col("cell"),
        zip_with(col("e"), col("centroid"), (a, b) => a - b).as("enc"))
      .select(col("vec_id"), col("cell"),
        codesCol(col("enc"), model).as("codes"))
      .repartition(cents.length, col("cell"))
      .write.mode("append").partitionBy("cell").parquet(dir)
  }

  /** Compact an appended IVF-PQ index into `outDir`: fold each cell's
    * accumulated per-batch code files into one writer task per cell and
    * copy both model sidecars UNCHANGED (codes stay valid only under the
    * exact codebooks that produced them — compaction is an I/O
    * operation, never a re-quantization; folding model drift back out
    * means a [[writeIvfPqIndex]] rebuild from the source table). A new
    * directory, not in-place: the dir swap is the catalog's atomic
    * pointer flip, and readers of `dir` never race the rewrite. */
  def compactIvfPqIndex(spark: SparkSession, dir: String,
      outDir: String): Unit = {
    val nCells = spark.read.parquet(s"$dir/_centroids").count().toInt
    spark.read.parquet(dir)
      .withColumn("cell", col("cell").cast("int"))
      .repartition(nCells, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
    // model sidecars copy as FILES (byte-identical, zero jobs — the
    // former per-sidecar read→write round trips were six Spark jobs per
    // compaction; see Similarity.copySidecarDir). An OPQ-built index
    // carries its rotation; codes are valid only under the exact
    // (rotation, centroids, codebooks) triple.
    Similarity.copySidecarDir(spark, s"$dir/_centroids", s"$outDir/_centroids")
    Similarity.copySidecarDir(spark, s"$dir/_codebooks", s"$outDir/_codebooks")
    val rot = new org.apache.hadoop.fs.Path(s"$dir/_rotation")
    if (rot.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(rot))
      Similarity.copySidecarDir(spark, s"$dir/_rotation", s"$outDir/_rotation")
  }

  /** Probe the on-disk IVF-PQ index: reload the model sidecars, rank
    * cells by probe↔centroid cosine, scan ONLY the top `nprobe` cell
    * partitions of the CODES tree (partition-column filter ⇒ listing-time
    * pruning, and the scanned bytes are codes, not vectors), ADC-rank,
    * and — when `refineWith` supplies the source table — exact-re-rank
    * the refine·k shortlist against the raw vectors joined by id. */
  def probeIvfPqIndex(spark: SparkSession, dir: String, probes: DataFrame,
      probeId: String, probeVec: String, k: Int, nprobe: Int,
      refineWith: Option[(DataFrame, String, String)] = None,
      refine: Int = 8): DataFrame = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$dir/_centroids")
      .select(col("cell"), col("centroid"))
    val model = readCodebooks(spark, dir)
    // raw-space probes serve the refine re-rank (cosine is rotation-
    // invariant, so the exact re-rank never needs the rotated form);
    // an OPQ index additionally rotates the probes into model space for
    // cell ranking and ADC LUTs, mirroring the build path's chain
    val p = probes.select(col(probeId).as("q_id"),
      normalized(toDouble(col(probeVec))).as("qe"))
    val pModel = readRotation(spark, dir) match {
      case Some(r) => probes.select(col(probeId).as("vec_id"), col(probeVec))
        .transform(df => rotated(df, "vec_id", probeVec, r))
        .select(col("vec_id").as("q_id"),
          normalized(toDouble(col("e"))).as("qe"))
      case None => p
    }
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(col("cell_cos").desc, col("cell").asc)
    val probeCells = pModel.crossJoin(broadcast(cents))
      .withColumn("cell_cos", cosine(col("qe"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= nprobe)
      .select(col("q_id"), col("cell"),
        zip_with(col("qe"), col("centroid"), (a, b) => a - b).as("rq"))
      .select(col("q_id"), lutCol(col("rq"), model).as("lut"), col("cell"))
    // bounded probed-cell set → LITERAL IN on the partition column, so
    // pruning happens at file listing, before any codes file opens. The
    // cast pins the partition column to the write-side int schema even
    // when partitionColumnTypeInference is disabled (string otherwise);
    // partition pruning evaluates deterministic expressions over
    // partition columns, so the cast does not defeat listing-time pruning
    val wanted = probeCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val codes = spark.read.parquet(dir)
      .withColumn("cell", col("cell").cast("int"))
      .filter(col("cell").isin(wanted.map(_.asInstanceOf[Any]): _*))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    val shortlist =
      math.max(k, if (refineWith.isDefined) refine * k else k)
    val adcTop = codes.join(broadcast(probeCells), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc", adcCol(col("codes"), col("lut")))
      // spilled placements: keep each pair's best ADC before ranking
      .groupBy(col("q_id"), col("vec_id")).agg(min(col("adc")).as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= shortlist)
    refineWith match {
      case None =>
        adcTop.select(col("q_id"), col("vec_id"),
          round(col("adc"), 6).as("adc"), col("rank"))
      case Some((src, srcId, srcVec)) =>
        val raw = src.select(col(srcId).as("vec_id"),
          normalized(toDouble(col(srcVec))).as("e"))
        val wx = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_raw").desc, col("vec_id").asc)
        adcTop.select(col("q_id"), col("vec_id"))
          .join(raw, Seq("vec_id"))
          .join(broadcast(p), Seq("q_id"))
          .withColumn("cos_raw", dot(col("qe"), col("e")))
          .withColumn("rank", row_number().over(wx).cast("long"))
          .filter(col("rank") <= k)
          .select(col("q_id"), col("vec_id"),
            round(col("cos_raw"), 6).as("cosine"), col("rank"))
    }
  }

  /** Mean squared quantization error of a plain-PQ and an OPQ quantizer
    * over the corpus in ONE linear map-only scan (no encode → decode
    * round-trip, no self-joins): because encode assigns each subvector
    * to its argmin-distance code, ‖v_m − decode(code_m)‖² IS the min
    * distance itself, so sq_err = Σ_m min_j ‖v_m − c_mj‖² — exactly
    * equal to [[reconstructionError]]'s per-vector sq_err (ties share
    * the distance value), and the OPQ error in the rotated space equals
    * the original-space error (R orthogonal). The rotated column is
    * re-normalized (a FP no-op on an already-unit vector) so the OPQ
    * half reproduces the former rotate→re-normalize→encode scan
    * bit-for-bit, not merely up to low-order rounding. Subvectors are
    * staged as attributes in their own projection before the argmin tree
    * references them nCodes times each (the [[encode]] staging
    * contract). Returns one row: (err_pq, err_opq). */
  def quantizerErrors(corpus: DataFrame, id: String, vec: String,
      pqm: PqModel, opq: OpqModel): DataFrame = {
    requireNumericId(corpus, id, "quantizerErrors")
    // fan out the unsplittable scan before the per-row min-distance work
    // (guide §2.5; no-op at scale); each model's Σ_m min_j ‖·‖² is ONE
    // native generated loop (PqErrorExpr — same fold order and NaN rule
    // as the former per-subspace array_min trees, so the averaged errors
    // are bit-identical)
    val e0 = Scale.fanOut(corpus.select(col(id).as("vec_id"),
      normalized(toDouble(col(vec))).as("e")), "vec_id")
    val withRot = e0.select(col("e"),
      normalized(rotateCol(col("e"), opq.rotation)).as("er"))
    def err(c: Column, model: PqModel): Column =
      bridgeCol(org.apache.spark.sql.graftexpr.PqErrorExpr(
        bridgeExpr(c), books(model)))
    withRot.select(err(col("e"), pqm).as("se_pq"),
        err(col("er"), opq.pq).as("se_opq"))
      .agg(avg(col("se_pq")).as("err_pq"), avg(col("se_opq")).as("err_opq"))
  }

  /** Reconstruction diagnostics: per-vector squared quantization error
    * ‖v − decode(codes)‖² (the quantity PQ training minimizes), as a
    * native expression over the codes and the literal codebooks. */
  def reconstructionError(corpus: DataFrame, id: String, vec: String,
      model: PqModel): DataFrame = {
    // decoded[m] = codebook_m[code_m] with code_m the argmin-distance
    // assignment, so ‖v_m − decoded_m‖² IS min_j ‖v_m − c_mj‖² — the
    // former encode → join → per-subspace decode fold equals ONE native
    // min-distance scan (PqErrorExpr; identical fold order, ties share
    // the distance value) with no join and no second corpus pass. Fan-out
    // per guide §2.5 (no-op at scale).
    Scale.fanOut(corpus.select(col(id).as("vec_id"),
        normalized(toDouble(col(vec))).as("e")), "vec_id")
      .select(col("vec_id"),
        bridgeCol(org.apache.spark.sql.graftexpr.PqErrorExpr(
          bridgeExpr(col("e")), books(model))).as("sq_err"))
  }
}
