package perfbench

import breeze.linalg.{DenseMatrix => BDM}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.linalg.{Decompositions, DsArray}
import graft.ml.{GmmGraft, KMeansGraft}
import graft.sources.Sources

/** One timed call into a layer's public function. `run` is timed;
  * `check` runs afterwards, outside the timed region, and returns a
  * reason when the output is wrong; `release` frees what `run` kept. */
final case class Op(name: String, run: () => Any, check: Any => Option[String],
    release: Any => Unit = _ => ())

/** A workload: seeded inputs made during set-up, then a fixed list of
  * operations run once per pass. */
trait Workload {
  def name: String
  /** Generates or loads the inputs and persists them (timed as set-up). */
  def setup(spark: SparkSession): Unit
  /** Drops what [[setup]] persisted (between repeated set-ups). */
  def teardown(): Unit
  /** Builds the reference results the checks compare against. Runs once,
    * after the cold pass (so it warms nothing the cold pass measures),
    * outside every timed region. */
  def prepareChecks(spark: SparkSession): Unit
  def ops(spark: SparkSession): Seq[Op]
  def inputSizes: Seq[(String, Any)]
  /** Operation name → name of its query in SparkEntry.oracleSql. */
  def oracleQueries: Seq[(String, String)] = Nil
  /** Operation name → floating-point operations of one call, computed
    * from the input shapes. */
  def flops: Seq[(String, Double)] = Nil
}

object Workload {
  def apply(name: String, seed: Long, inputDir: String, outDir: String): Workload = name match {
    case "ml_fit" => new MlFit(seed)
    case "graph_dedup" => new GraphDedup(inputDir, outDir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Query operations: run a SparkEntry query and collect its rows. The
  * first pass's rows are written to parquet for the DuckDB oracle (which
  * the runner compares after the JVM exits); later passes must return
  * exactly the same rows. */
final class QueryOps(inputDir: String, outDir: String) {
  private val firstRows = scala.collection.mutable.Map.empty[String, Seq[String]]

  def op(spark: SparkSession, name: String, query: String): Op = Op(name,
    run = () => {
      val df = SparkEntry.queries(query)(spark, inputDir)
      (df.collect(), df.schema)
    },
    check = {
      case (rows: Array[Row] @unchecked, schema: org.apache.spark.sql.types.StructType) =>
        firstRows.get(name) match {
          case Some(want) => Checks.sameRows(rows, want)
          case None =>
            firstRows(name) = Checks.canonical(rows)
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            None
        }
    })
}

/** dislib estimators and distributed linear algebra on in-memory seeded
  * arrays: BLAS- and treeAggregate-bound, almost no shuffle. */
final class MlFit(seed: Long) extends Workload {
  val name = "ml_fit"
  val (kmN, kmDim, kmK) = (150000, 50, 80)
  val (gmN, gmDim, gmK) = (50000, 16, 8)
  val (qrN, qrDim) = (150000, 32)
  val (mmN, mmTile) = (1000, 250)
  val Iters = 3
  val Reg = 1e-6

  private var kmDf: DataFrame = _
  private var gmRows: RDD[(Long, Array[Double])] = _
  private var qrRows: RDD[(Long, Array[Double])] = _
  private var mm: DsArray = _

  // the three seeded row generators; the checks regenerate the same rows locally
  private val (kmGen, gmGen, qrGen) = {
    val (kd, gd, gk, qd) = (kmDim, gmDim, gmK, qrDim) // closures must not capture `this`
    (MlFit.Gen(seed, 1)(r => Array.fill(kd)(r.nextDouble())),
      // blobs: gk centres on a lattice plus unit gaussian noise
      MlFit.Gen(seed, 2) { r =>
        val c = r.nextInt(gk)
        Array.tabulate(gd)(i => r.nextGaussian() + ((c * (i + 1)) % gk) * 3.0)
      },
      MlFit.Gen(seed, 3)(r => Array.fill(qd)(r.nextDouble())))
  }

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    val km = kmGen.rdd(spark, kmN)
    kmDf = km.toDF("id", "v").persist(StorageLevel.MEMORY_AND_DISK)
    kmDf.count()
    km.unpersist(false)
    gmRows = gmGen.rdd(spark, gmN)
    gmRows.count()
    qrRows = qrGen.rdd(spark, qrN)
    qrRows.count()
    mm = DsArray.random(spark.sparkContext, mmN, mmN, mmTile, mmTile, seed).cache()
    mm.bm.blocks.count()
  }

  def teardown(): Unit = {
    kmDf.unpersist(true); gmRows.unpersist(true); qrRows.unpersist(true)
    mm.bm.blocks.unpersist(true)
  }

  private var kmWant: Array[Array[Double]] = _
  private var gmWant: Checks.Gmm = _
  private var gmLp: BDM[Double] = _
  private var qrAta: BDM[Double] = _
  private var mmWant: BDM[Double] = _

  def prepareChecks(spark: SparkSession): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val m = mm.collect()
    val work = Seq(
      Future { kmWant = Checks.kmeansReplay(kmGen.local(kmN), kmK, Iters) },
      Future {
        val x = gmGen.local(gmN)
        gmWant = Checks.gmmReplay(x, gmK, Iters, Reg)
        gmLp = Checks.gmmLogProb(x, gmWant)
      },
      Future { val a = qrGen.local(qrN); qrAta = a.t * a },
      Future { mmWant = m * m.t })
    work.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  def ops(spark: SparkSession): Seq[Op] = {
    var model: GmmGraft.Model = null
    Seq(
      Op("ml.kmeans_fit",
        () => KMeansGraft.fit(kmDf, "v", "id", kmK, Iters, blasAssign = true),
        { case m: KMeansGraft.Model => Checks.kmeans(m.centers, kmWant) }),
      Op("ml.gmm_full_fit",
        () => {
          model = GmmGraft.fit(gmRows, gmK, GmmGraft.Full, maxIter = Iters, tol = 0,
            reg = Reg, blasFull = true)
          model
        },
        { case m: GmmGraft.Model =>
          Checks.gmm(Checks.Gmm(m.weights, m.means, m.covs), gmWant) }),
      Op("ml.gmm_predict",
        () => GmmGraft.predict(model, gmRows).collect(),
        { case p: Array[(Long, Int)] @unchecked =>
          Checks.gmmPredict(p.sortBy(_._1).map(_._2), gmLp) }),
      Op("linalg.tsqr",
        () => {
          val (q, r) = Decompositions.tsqr(qrRows, qrDim)
          q.count() // Q materialized, not only the R tree
          r
        },
        { case r: BDM[Double] @unchecked => Checks.tsqr(r, qrAta) }),
      Op("linalg.gemm",
        () => {
          val c = (mm %*% mm.transpose).cache()
          c.bm.blocks.count()
          c
        },
        { case c: DsArray => Checks.gemm(c.collect(), mmWant) },
        { case c: DsArray => c.bm.blocks.unpersist(true) }))
  }

  override def flops: Seq[(String, Double)] = Seq(
    // assignment dgemm per Lloyd iteration
    "ml.kmeans_fit" -> Iters * 2.0 * kmN * kmK * kmDim,
    // whitening dgemm + second-moment dgemm + first moments per EM iteration
    "ml.gmm_full_fit" -> Iters * (4.0 * gmN * gmK * gmDim * gmDim + 2.0 * gmN * gmK * gmDim),
    "linalg.gemm" -> 2.0 * mmN * mmN * mmN)

  def inputSizes: Seq[(String, Any)] = Seq(
    "kmeans" -> s"${kmN}x$kmDim k=$kmK iters=$Iters",
    "gmm_full" -> s"${gmN}x$gmDim k=$gmK iters=$Iters",
    "tsqr" -> s"${qrN}x$qrDim",
    "gemm" -> s"${mmN}x$mmN tiles=${mmTile}x$mmTile")
}

object MlFit {
  /** Seeded dense rows: row `id` is `f` of its own generator, so the
    * data does not depend on partitioning and the checks can regenerate
    * it on the driver. */
  final case class Gen(seed: Long, salt: Long)(f: java.util.SplittableRandom => Array[Double]) {
    private val base = (seed * 1000003L + salt) * 0x9E3779B97F4A7C15L
    def row(id: Long): Array[Double] = f(new java.util.SplittableRandom(base + id))
    def rdd(spark: SparkSession, n: Int): RDD[(Long, Array[Double])] =
      spark.sparkContext.range(0L, n.toLong).map(id => (id, row(id)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    /** The same n rows as an n×dim matrix. */
    def local(n: Int): BDM[Double] = Checks.matrix(Array.tabulate(n)(i => row(i.toLong)))
  }
}

/** An iterative graph operator on the seeded trade graph (many small
  * stages, driver- and scheduler-bound), then one-pass n-gram dedup over a
  * seeded corpus (shuffle joins over text) and a parquet write of the
  * surviving document ids. Its inputs are parquet tables, so set-up only
  * starts the session. */
final class GraphDedup(inputDir: String, outDir: String) extends Workload {
  val name = "graph_dedup"
  private val queries = new QueryOps(inputDir, outDir)
  private val queryOps = Seq(
    "graph.label_prop" -> "q_label_prop",
    "dedup.ngram_jaccard" -> "q_dedup_ngram_jaccard")
  private var docIds: Set[Long] = _
  private var pairs: Array[Row] = Array.empty

  def setup(spark: SparkSession): Unit = ()
  def teardown(): Unit = ()

  def prepareChecks(spark: SparkSession): Unit =
    docIds = spark.read.parquet(s"$inputDir/documents.parquet").select("doc_id")
      .collect().map(_.getLong(0)).toSet

  def ops(spark: SparkSession): Seq[Op] = {
    val Seq(lpa, ngram) = queryOps.map { case (n, q) => queries.op(spark, n, q) }
    val dedup = ngram.copy(run = () => {
      val out = ngram.run()
      pairs = out.asInstanceOf[(Array[Row], Any)]._1
      out
    })
    // surviving documents: all but the higher id of each near-duplicate pair
    val survivors = s"$outDir/survivors"
    val write = Op("sources.write",
      () => {
        val dup = spark.createDataFrame(
          java.util.Arrays.asList(pairs.map(r => Row(r.getAs[Long]("doc_b"))): _*),
          new org.apache.spark.sql.types.StructType().add("doc_id", "long"))
        Sources.saveParquet(graft.Tables.documents(spark, inputDir).select("doc_id")
          .join(dup, Seq("doc_id"), "left_anti"), survivors)
      },
      _ => Checks.survivors(spark.read.parquet(survivors).collect().map(_.getLong(0)),
        docIds, pairs.map(_.getAs[Long]("doc_b"))))
    Seq(lpa, dedup, write)
  }

  override def oracleQueries: Seq[(String, String)] = queryOps

  def inputSizes: Seq[(String, Any)] = Nil
}
