package perfbench

import breeze.linalg.{cholesky, inv, DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.sql.Row

/** Output checks. Each returns None when the output is accepted and a
  * one-line reason when it is rejected. Local replays use Breeze on the
  * driver and share no code with the engine's implementations. */
object Checks {
  /** Absolute tolerance on k-means centers. The engine rounds centers to
    * 6 decimals each iteration; a replay whose sums round differently
    * can differ by one unit in that place. */
  val KMeansTol = 1e-5
  /** Tolerance on GMM parameters, relative to the largest reference
    * magnitude (weights, means and covariances checked separately). */
  val GmmRelTol = 1e-6
  /** Bound on ‖RᵀR − AᵀA‖_F / ‖AᵀA‖_F for a TSQR R factor. */
  val TsqrBound = 1e-9
  /** Bound on max |C − A·Aᵀ| relative to max |A·Aᵀ| for the blocked GEMM. */
  val GemmRelTol = 1e-10
  /** A GMM prediction may differ from the replay only where the replay's
    * two best log-densities are closer than this. */
  val PredictTieGap = 1e-6

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Rows of `data` as an n×p matrix. */
  def matrix(data: Array[Array[Double]]): BDM[Double] = {
    val n = data.length
    val p = data.head.length
    val m = BDM.zeros[Double](n, p)
    val a = m.data // column-major: (i, d) at d·n + i
    var i = 0
    while (i < n) {
      val row = data(i)
      var d = 0
      while (d < p) { a(d * n + i) = row(d); d += 1 }
      i += 1
    }
    m
  }

  /** Lloyd's k-means replay: init = first k rows (already in id order),
    * rounded to 6 decimals; assignment by min ‖x − c‖², ties to the lower
    * index; centers = rounded means, empty clusters keep their center. */
  def kmeansReplay(x: BDM[Double], k: Int, iters: Int): Array[Array[Double]] = {
    val n = x.rows
    val p = x.cols
    val xa = x.data
    var c = Array.tabulate(k)(j => Array.tabulate(p)(d => round6(x(j, d))))
    for (_ <- 0 until iters) {
      val cm = BDM.tabulate(k, p)((j, d) => c(j)(d))
      val g = (x * cm.t).data // n×k column-major
      val half = c.map(v => 0.5 * v.map(z => z * z).sum)
      val sums = Array.fill(k)(new Array[Double](p))
      val cnt = new Array[Long](k)
      var i = 0
      while (i < n) {
        var best = 0
        var bs = Double.PositiveInfinity
        var j = 0
        while (j < k) {
          val s = half(j) - g(j * n + i)
          if (s < bs) { bs = s; best = j }
          j += 1
        }
        cnt(best) += 1
        val acc = sums(best)
        var d = 0
        while (d < p) { acc(d) += xa(d * n + i); d += 1 }
        i += 1
      }
      c = Array.tabulate(k)(j =>
        if (cnt(j) > 0) sums(j).map(s => round6(s / cnt(j))) else c(j))
    }
    c
  }

  def kmeans(got: Array[Array[Double]], want: Array[Array[Double]]): Option[String] = {
    if (got.length != want.length) return Some(s"kmeans: ${got.length} centers, want ${want.length}")
    val err = got.zip(want).map { case (a, b) =>
      a.zip(b).map { case (u, v) => math.abs(u - v) }.max }.max
    if (err <= KMeansTol) None else Some(f"kmeans: center error $err%.3g > $KMeansTol")
  }

  final case class Gmm(weights: Array[Double], means: Array[BDV[Double]], covs: Array[BDM[Double]])

  /** x with every row i scaled by w(i). */
  private def scaleRows(x: BDM[Double], w: Array[Double]): BDM[Double] = {
    val out = x.copy
    val (n, a) = (x.rows, out.data)
    var k = 0
    while (k < a.length) { a(k) *= w(k % n); k += 1 }
    out
  }

  /** Per-row, per-component log(w_j · N(x; m_j, C_j)), n×k. */
  def gmmLogProb(x: BDM[Double], m: Gmm): BDM[Double] = {
    val (n, p) = (x.rows, x.cols)
    val out = BDM.zeros[Double](n, m.weights.length)
    for (j <- m.weights.indices) {
      val l = cholesky(m.covs(j))
      val logDet = 2.0 * (0 until p).map(i => math.log(l(i, i))).sum
      val xc = x.copy
      val a = xc.data
      for (d <- 0 until p) {
        val md = m.means(j)(d)
        var i = 0
        while (i < n) { a(d * n + i) -= md; i += 1 }
      }
      val z = (xc * inv(l).t).data
      val c = math.log(m.weights(j)) - 0.5 * (p * math.log(2 * math.Pi) + logDet)
      val o = out.data
      var i = 0
      while (i < n) {
        var q = 0.0
        var d = 0
        while (d < p) { val v = z(d * n + i); q += v * v; d += 1 }
        o(j * n + i) = c - 0.5 * q
        i += 1
      }
    }
    out
  }

  /** Full-covariance EM replay: init means = first k rows, covariances
    * = diag(population variance + reg), uniform weights; M-step with
    * sklearn's 10·eps guard on component mass. */
  def gmmReplay(x: BDM[Double], k: Int, iters: Int, reg: Double): Gmm = {
    val (n, p) = (x.rows, x.cols)
    val variance = BDV.tabulate(p) { d =>
      val col = x(::, d)
      val mu = breeze.linalg.sum(col) / n
      col.toArray.map(v => (v - mu) * (v - mu)).sum / n
    }
    var model = Gmm(Array.fill(k)(1.0 / k), Array.tabulate(k)(j => x(j, ::).t.copy),
      Array.fill(k)(breeze.linalg.diag(variance + reg)))
    for (_ <- 0 until iters) {
      val lp = gmmLogProb(x, model).data
      val r = new Array[Double](n * k) // n×k column-major
      var i = 0
      while (i < n) {
        var mx = Double.NegativeInfinity
        var j = 0
        while (j < k) { mx = math.max(mx, lp(j * n + i)); j += 1 }
        var s = 0.0
        j = 0
        while (j < k) { val e = math.exp(lp(j * n + i) - mx); r(j * n + i) = e; s += e; j += 1 }
        j = 0
        while (j < k) { r(j * n + i) /= s; j += 1 }
        i += 1
      }
      val rm = new BDM(n, k, r)
      val rs = Array.tabulate(k)(j => (0 until n).map(i => r(j * n + i)).sum + 10 * 2.220446049250313e-16)
      val weights = rs.map(_ / n)
      val rx = x.t * rm // p×k
      val means = Array.tabulate(k)(j => rx(::, j) / rs(j))
      val covs = Array.tabulate(k) { j =>
        val c = (x.t * scaleRows(x, java.util.Arrays.copyOfRange(r, j * n, (j + 1) * n))) /
          rs(j) - means(j) * means(j).t
        for (d <- 0 until p) c(d, d) += reg
        c
      }
      model = Gmm(weights, means, covs)
    }
    model
  }

  def gmm(got: Gmm, want: Gmm): Option[String] = {
    def rel(a: Seq[Double], b: Seq[Double]): Double = {
      val scale = 1.0 + b.map(math.abs).max
      a.zip(b).map { case (u, v) => math.abs(u - v) }.max / scale
    }
    if (got.weights.length != want.weights.length) return Some("gmm: component count differs")
    val errs = Seq(
      "weights" -> rel(got.weights.toSeq, want.weights.toSeq),
      "means" -> rel(got.means.flatMap(_.toArray).toSeq, want.means.flatMap(_.toArray).toSeq),
      "covariances" -> rel(got.covs.flatMap(_.toArray).toSeq, want.covs.flatMap(_.toArray).toSeq))
    errs.collectFirst { case (what, e) if !(e <= GmmRelTol) =>
      f"gmm: $what relative error $e%.3g > $GmmRelTol" }
  }

  /** Labels (row order) against the replay model's argmax; near-ties excused. */
  def gmmPredict(got: Array[Int], lp: BDM[Double]): Option[String] = {
    val (n, k, a) = (lp.rows, lp.cols, lp.data)
    if (got.length != n) return Some(s"gmm predict: ${got.length} labels, want $n")
    val bad = (0 until n).count { i =>
      val best = (0 until k).maxBy(j => a(j * n + i))
      val g = got(i)
      g != best && !(g >= 0 && g < k && a(best * n + i) - a(g * n + i) < PredictTieGap)
    }
    if (bad == 0) None else Some(s"gmm predict: $bad of $n labels differ from the replay")
  }

  def tsqr(r: BDM[Double], ata: BDM[Double]): Option[String] = {
    val upper = (0 until r.rows).forall(i => (0 until i).forall(j => r(i, j) == 0.0))
    val resid = breeze.linalg.norm((r.t * r - ata).toDenseVector) /
      breeze.linalg.norm(ata.toDenseVector)
    if (!upper) Some("tsqr: R is not upper triangular")
    else if (resid < TsqrBound) None
    else Some(f"tsqr: |RtR - AtA|/|AtA| = $resid%.3g >= $TsqrBound")
  }

  def gemm(c: BDM[Double], want: BDM[Double]): Option[String] = {
    if (c.rows != want.rows || c.cols != want.cols)
      return Some(s"gemm: shape ${c.rows}x${c.cols}, want ${want.rows}x${want.cols}")
    val err = breeze.linalg.max((c - want).map(math.abs)) / breeze.linalg.max(want.map(math.abs))
    if (err <= GemmRelTol) None else Some(f"gemm: relative error $err%.3g > $GemmRelTol")
  }

  /** The written ids must be exactly the documents minus the dropped ids. */
  def survivors(got: Array[Long], docIds: Set[Long], dropped: Seq[Long]): Option[String] = {
    val want = docIds -- dropped
    if (got.length == want.size && got.toSet == want) None
    else Some(s"survivors: ${got.length} ids written, want ${want.size}")
  }

  /** Order-free text form of a result: one string per row, sorted. */
  def canonical(rows: Array[Row]): Seq[String] = {
    def v(x: Any): String = x match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
      case f: Float => if (f.isNaN) "NaN" else java.lang.Float.toString(f)
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case o => o.toString
    }
    rows.map(r => r.toSeq.map(v).mkString("|")).sorted.toSeq
  }

  def sameRows(got: Array[Row], want: Seq[String]): Option[String] = {
    val g = canonical(got)
    if (g == want) None
    else if (g.size != want.size) Some(s"rows: ${g.size} rows, first pass had ${want.size}")
    else Some(s"rows: ${g.zip(want).count { case (a, b) => a != b }} rows differ from the first pass")
  }
}
