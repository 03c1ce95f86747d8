package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Host speed probes, recorded with every run to explain spread. */
object Host {
  /** Seconds for a fixed single-thread xorshift loop (best of 3). */
  def calibS(): Double = (0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 100000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Single-thread dgemm GFlop/s at a k-means-like shape (best of 3). */
  def blasGflops(): Double = {
    val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
    val (m, p, b) = (1000, 100, 1024)
    val a = Array.fill(m * p)(1.0)
    val x = Array.fill(p * b)(1.0)
    val g = new Array[Double](m * b)
    blas.dgemm("N", "N", m, b, p, 1.0, a, 0, m, x, 0, p, 0.0, g, 0, m)
    val best = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      blas.dgemm("N", "N", m, b, p, 1.0, a, 0, m, x, 0, p, 0.0, g, 0, m)
      (System.nanoTime() - t0) / 1e9
    }.min
    2.0 * m * p * b / best / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** JVM-wide counters read between passes. */
object Jvm {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      Seq("Old", "Tenured").exists(p.getName.contains))
  private var peakOldB = 0L

  /** The old generation's usage after its last collection, folded into
    * the peak. Called right after a forced full collection, so it reads
    * the live heap, not the garbage a young collection left behind. */
  private def sampleHeap(): Long = {
    val used = oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peakOldB = math.max(peakOldB, used)
    used
  }
  /** Full collection, then a pause in which Spark's ContextCleaner drops
    * the blocks of the RDDs that collection found unreachable, then a
    * second collection that frees them, so the sample does not depend on
    * how far the cleaner got. */
  def gcAndSampleHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    sampleHeap() / 1e6
  }
  def heapPeakMb: Double = peakOldB / 1e6
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

final case class OpRun(name: String, startMs: Double, endMs: Double, error: Option[String],
    ledger: Option[OpLedger]) {
  def wallS: Double = (endMs - startMs) / 1000
  /** Job time: the union of this operation's job spans, clipped to it. */
  def jobMs: Double = ledger.fold(0.0)(l => Ledger.unionMs(
    l.jobs.map(j => (j.startMs, j.endMs)), math.floor(startMs).toLong,
    math.ceil(endMs).toLong).toDouble.min(endMs - startMs))
  def selfMs: Double = (endMs - startMs) - jobMs
}

final case class PassRun(index: Int, traced: Boolean, ops: Seq[OpRun],
    heapMbStart: Double, storageMbStart: Double, gcS: Double) {
  def wallS: Double = ops.map(_.wallS).sum
  def startMs: Double = ops.head.startMs
  def endMs: Double = ops.last.endMs
  private def sumL(f: OpLedger => Double): Double = ops.flatMap(_.ledger).map(f).sum
  def jobs: Double = sumL(_.jobs.size.toDouble)
  def stages: Double = sumL(_.stages.size.toDouble)
  def tasks: Double = sumL(_.tasks.toDouble)
  def driverS: Double = ops.map(_.selfMs).sum / 1000
  def busyCores: Double = sumL(_.runMs.toDouble) / 1000 / wallS
  def mb(f: OpLedger => Long): Double = sumL(l => f(l).toDouble) / 1e6
  def skew: Double = Ledger.taskSkew(ops.flatMap(_.ledger).flatMap(_.stages))
  def plans: PlanCounts = ops.flatMap(_.ledger).map(_.plans).foldLeft(PlanCounts.zero)(_ + _)
}

/** Runs one workload for one seed and writes the run record (and, when
  * traced, the span file) into the work directory. Usage:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --input <dir> --work <dir> [--cpus <n>]
  * perfbench.Main --boot
  * }}}
  *
  * With `--boot` it prints the JVM's uptime on entering `main` and exits:
  * the runner's probe of JVM start-up time.
  */
object Main {
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f] $msg")

  /** Writes the run record and the span lines: Scala maps, sequences and
    * options become JSON objects, arrays and values. Lazy, so that its
    * set-up does not count in the JVM start-up time `main` reads. */
  private lazy val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** `setup_s` is the median of this many set-ups in one run. */
  val SetupReps = 3
  /** Passes after the cold one that run (and are checked) but are not
    * measured: the JIT is still compiling the operators' hot paths
    * through the first warm passes, which run 10-40% slower than the
    * passes after them. */
  val WarmupPasses = 2
  val MinWarmPasses = 4
  val MinTracedPasses = 2

  /** Per-layer metrics of a traced run, in BENCHMARK.json order. */
  val PerLayerNames: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_s", "spark.busy_cores",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.task_skew",
    "spark.result_mb", "spark.gc_s", "spark.storage_mb_start", "sources.scan_mb",
    "sources.write_mb", "plan.exchanges", "plan.broadcasts", "plan.smj", "plan.shj", "plan.bhj",
    "jvm.jit_s", "codegen.classes", "session.drift", "session.start_s", "trace.overhead_s",
    "host.calib_s", "host.calib_after_s", "host.blas_gflops")

  def session(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    // the session config of the engine's Bench and Verify mains
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.graphx.pregel.checkpointInterval", "25")
    .config(graft.EngineConf.tuned())
    .config("spark.ui.enabled", "false")
    // everything Spark writes stays in the work directory
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  private def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / 1e6

  def main(argv: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    if (argv.sameElements(Array("--boot"))) { println(bootS); return } // a boot-time probe
    val startEpochMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(Paths.get(work, "out"))

    val calibBefore = Host.calibS()
    val blas = Host.blasGflops()
    log(f"calib $calibBefore%.3f s, blas $blas%.1f GFlop/s")
    val wl = Workload(workloadName, seed, a("input"), s"$work/out")

    // set-up, repeated: session start + input generation and persist
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      val t1 = System.nanoTime()
      wl.setup(spark)
      val t2 = System.nanoTime()
      if (r < SetupReps) { wl.teardown(); spark.stop() }
      ((t2 - t0) / 1e9, (t1 - t0) / 1e9)
    }
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    log(f"set-up ${setups.map(_._1).mkString(" ")} s")
    val ops = wl.ops(spark)
    val ledger = new Ledger(spark)
    var ledgerOn = false

    /** One pass; with `defer` the output checks are returned, not run. */
    def runPass(index: Int, defer: Boolean = false): (PassRun, Seq[() => Option[String]]) = {
      val heap = Jvm.gcAndSampleHeapMb()
      val storage = storageUsedMb(spark)
      val gc0 = Jvm.gcMs
      val runs = ops.map { op =>
        sc.setJobGroup(s"${op.name}#$index", op.name, interruptOnCancel = false)
        val e0 = System.currentTimeMillis().toDouble
        val t0 = System.nanoTime()
        val out = try Right(op.run()) catch { case e: Throwable => Left(e) }
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        // drained before the check, whose own jobs are not the operation's
        val led = if (ledgerOn) Some(ledger.take()) else None
        val gcDone = Jvm.gcMs
        val check = () => {
          val err = out match {
            case Left(e) => Some(s"${op.name} threw: $e")
            case Right(o) =>
              try op.check(o).map(r => s"${op.name}: $r")
              catch { case e: Throwable => Some(s"${op.name} check threw: $e") }
              finally op.release(o)
          }
          err.foreach(e => log(s"pass $index: $e"))
          err
        }
        val err = if (defer) None else check()
        if (ledgerOn) ledger.take()
        (OpRun(op.name, e0, e0 + (t1 - t0) / 1e6, err, led), gcDone, check)
      }
      (PassRun(index, ledgerOn, runs.map(_._1), heap, storage, (runs.last._2 - gc0) / 1000.0),
        runs.map(_._3))
    }

    val jit0 = Jvm.jitMs
    val cg0 = Jvm.codegenCompiles
    val (coldRun, coldChecks) = runPass(0, defer = true)
    val jitColdS = (Jvm.jitMs - jit0) / 1000.0
    val codegenCold = Jvm.codegenCompiles - cg0
    log(f"cold pass ${coldRun.wallS}%.3f s")
    wl.prepareChecks(spark)
    val cold = coldRun.copy(ops = coldRun.ops.zip(coldChecks).map { case (o, c) =>
      o.copy(error = c()) })
    log("cold pass checked")
    val warmup = (1 to WarmupPasses).map { i =>
      val p = runPass(i)._1
      log(f"warm-up pass $i ${p.wallS}%.3f s")
      p
    }

    // warm passes for the measured window; a traced run alternates
    // untraced and traced passes in U T T U order, so JIT drift over the
    // window weighs on both sides alike
    val warm = scala.collection.mutable.ArrayBuffer.empty[PassRun]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    def count(t: Boolean) = warm.count(_.traced == t)
    def more = if (traced) count(false) < MinTracedPasses || count(true) < MinTracedPasses
      else warm.size < MinWarmPasses
    while (more || elapsed < seconds) {
      ledgerOn = traced && Set(1, 2)(warm.size % 4)
      if (ledgerOn) ledger.register()
      warm += runPass(WarmupPasses + warm.size + 1)._1
      if (ledgerOn) ledger.unregister()
      log(f"${if (ledgerOn) "traced" else "warm"} pass ${warm.last.index} ${warm.last.wallS}%.3f s")
    }
    ledgerOn = false
    val heapEndMb = Jvm.gcAndSampleHeapMb()
    val calibAfter = Host.calibS()

    val untracedWarm = warm.filterNot(_.traced).toSeq
    val tracedWarm = warm.filter(_.traced).toSeq
    val all = (cold +: warmup) ++ warm
    val failures = all.flatMap(_.ops).flatMap(_.error)
    def med(ps: Seq[PassRun])(f: PassRun => Double): Double = Stats.median(ps.map(f))
    val warmS = med(untracedWarm)(_.wallS)
    val opMedians = ops.map(o => o.name -> Stats.median(
      untracedWarm.map(_.ops.find(_.name == o.name).get.wallS)))

    val endToEnd = Seq(
      "boot_s" -> bootS,
      "setup_median_s" -> Stats.median(setups.map(_._1)),
      "cold_pass_s" -> cold.wallS,
      "warm_pass_s" -> warmS,
      "heap_peak_mb" -> Jvm.heapPeakMb)
    val perLayer: Seq[(String, Double)] = if (!traced) Nil else {
      val t = tracedWarm
      val plans = t.map(_.plans)
      Seq(
        "spark.jobs" -> med(t)(_.jobs),
        "spark.stages" -> med(t)(_.stages),
        "spark.tasks" -> med(t)(_.tasks),
        "spark.driver_s" -> med(t)(_.driverS),
        "spark.busy_cores" -> med(t)(_.busyCores),
        "spark.shuffle_write_mb" -> med(t)(_.mb(_.shuffleWriteB)),
        "spark.shuffle_read_mb" -> med(t)(_.mb(_.shuffleReadB)),
        "spark.spill_mb" -> med(t)(_.mb(_.spillB)),
        "spark.task_skew" -> med(t)(_.skew),
        "spark.result_mb" -> med(t)(_.mb(_.resultB)),
        "spark.gc_s" -> med(t)(_.gcS),
        "spark.storage_mb_start" -> med(t)(_.storageMbStart),
        "sources.scan_mb" -> med(t)(_.mb(_.inputB)),
        "sources.write_mb" -> med(t)(_.mb(_.outputB)),
        "plan.exchanges" -> Stats.median(plans.map(_.exchanges.toDouble)),
        "plan.broadcasts" -> Stats.median(plans.map(_.broadcasts.toDouble)),
        "plan.smj" -> Stats.median(plans.map(_.smj.toDouble)),
        "plan.shj" -> Stats.median(plans.map(_.shj.toDouble)),
        "plan.bhj" -> Stats.median(plans.map(_.bhj.toDouble)),
        "jvm.jit_s" -> jitColdS,
        "codegen.classes" -> codegenCold.toDouble,
        "session.drift" -> untracedWarm.last.wallS / untracedWarm.head.wallS,
        "session.start_s" -> Stats.median(setups.map(_._2)),
        "trace.overhead_s" -> (med(t)(_.wallS) - warmS),
        "host.calib_s" -> calibBefore,
        "host.calib_after_s" -> calibAfter,
        "host.blas_gflops" -> blas)
    }
    require(perLayer.isEmpty || perLayer.map(_._1) == PerLayerNames,
      s"per-layer metrics ${perLayer.map(_._1)} differ from $PerLayerNames")

    val record = ListMap(
      "workload" -> workloadName,
      "seed" -> seed,
      "trace" -> traced,
      "seconds" -> seconds,
      "nproc" -> cpus,
      "driver_memory_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "engine_conf" -> ListMap.from(spark.conf.getAll.toSeq.sortBy(_._1)
        .filterNot(_._1 == "spark.kryo.classesToRegister")),
      "input_sizes" -> ListMap.from(wl.inputSizes),
      "attempted" -> all.map(_.ops.size).sum,
      "failures" -> failures,
      "setup_reps_s" -> setups.map(_._1),
      "host" -> ListMap("calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
        "blas_gflops" -> blas),
      "end_to_end" -> ListMap.from(endToEnd),
      "per_layer" -> ListMap.from(perLayer),
      "operations" -> ops.map(_.name),
      "op_warm_median_s" -> ListMap.from(opMedians),
      "op_cold_s" -> ListMap.from(cold.ops.map(o => o.name -> o.wallS)),
      // flops computed from the shapes, not counted
      "op_gflops_computed" -> ListMap.from(wl.flops.map { case (op, f) =>
        op.replaceAll("_fit$", "") + "_gflops" -> f / opMedians.find(_._1 == op).get._2 / 1e9 }),
      "warmup_passes" -> WarmupPasses,
      "passes" -> all.map(p => ListMap("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "heap_mb_start" -> p.heapMbStart,
        "ops" -> ListMap.from(p.ops.map(o => o.name -> o.wallS)))),
      "heap_mb_end" -> heapEndMb,
      "oracle" -> ListMap.from(wl.oracleQueries.map { case (op, q) =>
        op -> ListMap("query" -> q, "sql" -> graft.SparkEntry.oracleSql(q)) }))
    Files.writeString(Paths.get(work, "record.json"), json.writeValueAsString(record))

    if (traced) {
      // workload → pass → operation → Spark job → stage
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      var nextId = 0
      def span(parent: Int, kind: String, name: String, s: Double, e: Double,
          extra: Seq[(String, Any)] = Nil): Int = {
        val id = nextId; nextId += 1
        lines += json.writeValueAsString(ListMap("id" -> id,
          "parent" -> (if (parent < 0) None else Some(parent)), "kind" -> kind, "name" -> name,
          "start_ms" -> s, "end_ms" -> e) ++ extra)
        id
      }
      val root = span(-1, "workload", workloadName, startEpochMs, System.currentTimeMillis().toDouble)
      tracedWarm.foreach { p =>
        val pid = span(root, "pass", s"pass ${p.index}", p.startMs, p.endMs,
          Seq("wall_ms" -> p.wallS * 1000))
        p.ops.foreach { o =>
          val oid = span(pid, "operation", o.name, o.startMs, o.endMs,
            Seq("wall_ms" -> (o.endMs - o.startMs), "job_ms" -> o.jobMs, "self_ms" -> o.selfMs))
          val l = o.ledger.get
          val stageJob = l.jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
          val jobSpan = l.jobs.map(j => j.id -> span(oid, "job", s"job ${j.id}",
            j.startMs.toDouble, j.endMs.toDouble)).toMap
          l.stages.foreach { s =>
            span(stageJob.get(s.id).flatMap(jobSpan.get).getOrElse(oid), "stage",
              s"stage ${s.id}.${s.attempt}", s.startMs.toDouble, s.endMs.toDouble,
              Seq("tasks" -> s.taskMs.size))
          }
        }
      }
      Files.writeString(Paths.get(work, "spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
