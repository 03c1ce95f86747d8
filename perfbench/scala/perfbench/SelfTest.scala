package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.linalg.{Decompositions, DsArray}
import graft.ml.{GmmGraft, KMeansGraft}

/** Shows that every JVM-side check accepts the engine's real output on a
  * small input and rejects a perturbed copy of it. Prints one line per
  * case and the per-layer metric names; exits non-zero on any miss.
  *
  * {{{
  * perfbench.SelfTest --work <dir>
  * }}}
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = argv.grouped(2).collect { case Array("--work", v) => v }.toSeq.headOption
      .getOrElse(sys.error("usage: SelfTest --work <dir>"))
    val spark = Main.session(2, work)
    spark.sparkContext.setLogLevel("ERROR")
    var misses = 0
    def expect(name: String, ok: Option[String], bad: Option[String]): Unit = {
      val pass = ok.isEmpty && bad.isDefined
      if (!pass) misses += 1
      println(s"${if (pass) "ok  " else "MISS"} $name: accepts real output" +
        s" (${ok.getOrElse("accepted")}); rejects perturbed (${bad.getOrElse("ACCEPTED")})")
    }
    try run(spark, expect) finally spark.stop()
    println(s"per-layer metrics: ${Main.PerLayerNames.mkString(",")}")
    if (misses > 0) { println(s"$misses check(s) missed"); sys.exit(1) }
  }

  private def run(spark: SparkSession,
      expect: (String, Option[String], Option[String]) => Unit): Unit = {
    import spark.implicits._
    val gen = MlFit.Gen(7, 1)(r => Array.fill(4)(r.nextDouble()))
    val blobs = MlFit.Gen(7, 2) { r =>
      val c = r.nextInt(3)
      Array.tabulate(3)(i => r.nextGaussian() + ((c * (i + 1)) % 3) * 4.0)
    }
    val n = 3000
    val x = gen.local(n)

    val km = KMeansGraft.fit(gen.rdd(spark, n).toDF("id", "v"), "v", "id", 5, 3, blasAssign = true)
    val kmWant = Checks.kmeansReplay(x, 5, 3)
    val kmBad = km.centers.map(_.clone)
    kmBad(2)(1) += 1e-3
    expect("kmeans", Checks.kmeans(km.centers, kmWant), Checks.kmeans(kmBad, kmWant))

    val gRows = blobs.rdd(spark, n)
    val gx = blobs.local(n)
    val gm = GmmGraft.fit(gRows, 3, GmmGraft.Full, maxIter = 3, tol = 0, reg = 1e-6, blasFull = true)
    val gmWant = Checks.gmmReplay(gx, 3, 3, 1e-6)
    val got = Checks.Gmm(gm.weights, gm.means, gm.covs)
    val badMeans = gm.means.map(_.copy)
    badMeans(1)(0) += 1e-3
    expect("gmm", Checks.gmm(got, gmWant), Checks.gmm(got.copy(means = badMeans), gmWant))

    val lp = Checks.gmmLogProb(gx, gmWant)
    val labels = GmmGraft.predict(gm, gRows).collect().sortBy(_._1).map(_._2)
    val badLabels = labels.clone
    val far = (0 until n).maxBy { i =>
      val row = (0 until 3).map(j => lp(i, j)).sorted
      row(2) - row(1)
    }
    badLabels(far) = (labels(far) + 1) % 3
    expect("gmm predict", Checks.gmmPredict(labels, lp), Checks.gmmPredict(badLabels, lp))

    val (_, r) = Decompositions.tsqr(gen.rdd(spark, n), 4)
    val ata = x.t * x
    val rBad = r.copy
    rBad(0, 1) += 1e-3
    expect("tsqr", Checks.tsqr(r, ata), Checks.tsqr(rBad, ata))

    val a = DsArray.random(spark.sparkContext, 60, 60, 20, 20, 7)
    val c = (a %*% a.transpose).collect()
    val al = a.collect()
    val cBad = c.copy
    cBad(5, 7) += 1e-6
    expect("gemm", Checks.gemm(c, al * al.t), Checks.gemm(cBad, al * al.t))

    val docs = (0L until 50L).toSet
    val dropped = Seq(3L, 17L)
    val kept = (docs -- dropped).toArray
    expect("survivors", Checks.survivors(kept, docs, dropped),
      Checks.survivors(kept :+ 17L, docs, dropped))

    val rows = Array(Row(1L, "a", 0.5), Row(2L, "b", Double.NaN))
    val canon = Checks.canonical(rows)
    expect("rows", Checks.sameRows(rows.reverse, canon),
      Checks.sameRows(Array(Row(1L, "a", 0.5), Row(2L, "b", 0.25)), canon))
  }
}
