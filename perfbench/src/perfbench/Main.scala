package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.sources.IncrementalDocArtifact
import graft.streaming.StreamingAcceptIngest

/** What a workload gives the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    traced: Boolean, trace: Trace) {
  /** In a traced run every other op is traced, so the same run also
    * gives the untraced walls that `trace.overhead_share` compares with.
    */
  def tracedOp(i: Int): Boolean = traced && i % 2 == 0
}

/** Outcome of one workload run. `e2e` and `layers` may carry more
  * metrics than the benchmark declares; the runner keeps the declared
  * ones.
  */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    extra: Map[String, Any] = Map.empty)

trait Workload {
  /** Generates the inputs under `dir`. Runs several times per run; the
    * last call's inputs are the ones measured.
    */
  def setup(dir: Path): Unit

  /** Warms the engine's code paths up on the last setup's inputs. */
  def warmup(): Unit

  /** Runs closed-loop ops for the measure window, checks the outputs
    * and summarises. Runs once, after the last [[setup]].
    */
  def run(): Outcome
}

object Workload {
  /** Per-op Spark counters, averaged over the traced ops given. */
  def sparkLayers(trace: Trace, ops: Seq[Int]): Map[String, Double] = {
    val cs = ops.filter(_ >= 0).map(trace.of)
    val n = math.max(1, cs.size).toDouble
    val t = Counters.sum(cs)
    Map("spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n,
      "spark.tasks" -> t.tasks / n, "spark.driver_gap_s" -> t.driverGapS / n,
      "spark.executor_cpu_s" -> t.cpuS / n, "spark.gc_s" -> t.gcS / n,
      "spark.task_skew" -> t.skew,
      "operators.shuffle_write_mb" -> t.shuffleWriteMb / n,
      "operators.spill_mb" -> t.spillMb / n)
  }

  /** Mean over op classes of traced median wall / untraced median wall,
    * minus one. Each sample is (class, traced, wall seconds).
    */
  def overheadShare(samples: Seq[(String, Boolean, Double)]): Double = {
    val ratios = samples.groupBy(_._1).values.flatMap { s =>
      val on = s.filter(_._2).map(_._3)
      val off = s.filterNot(_._2).map(_._3)
      if (on.nonEmpty && off.nonEmpty) Some(Stats.median(on) / Stats.median(off))
      else None
    }
    if (ratios.isEmpty) 0.0 else Stats.mean(ratios.toSeq) - 1.0
  }

  def parquetFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  def sizeMb(dir: Path): Double =
    if (!Files.exists(dir)) 0.0
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() / 1048576.0
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Brings every timed op to the same starting state, outside its
    * timing: a full GC, then a pause for background compilation and
    * cleanup of the previous op to quiesce.
    */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(100L)
  }

  /** Runs independent tasks concurrently and waits for all of them. */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }
}

/** Benchmark entry point. One run = one workload, one seed:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <k> --root <private dir> --out <result.json>
  *      [--trace-file <trace.json>] [--warmup-only 1]
  * }}}
  *
  * `--warmup-only 1` takes a comma-separated list of workloads and only
  * sets each up once and warms it up: the build runs it to record the
  * classes the workloads load.
  *
  * Everything the run writes goes under `--root`; the engine's artifact
  * root (SPARK_GRAFT_INDEX_DIR) and java.io.tmpdir must point inside it
  * too. The result file holds the attempted/failed op counts, every
  * metric, and the run's provenance.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val root = Paths.get(args("root")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()
    require(cores <= nproc, s"local[$cores] needs $cores processors, this host has $nproc")
    require(sys.env.get("SPARK_GRAFT_INDEX_DIR").exists(d =>
      Paths.get(d).toAbsolutePath.startsWith(root)),
      "SPARK_GRAFT_INDEX_DIR must point inside the run root")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val runId = s"$workload-s$seed-${System.currentTimeMillis()}"
    val trace = new Trace(spark.sparkContext, runId)
    val ctx = Ctx(spark, seed, seconds, traced, trace)
    IncrementalDocArtifact.Maintenance.reset()
    StreamingAcceptIngest.AcceptStats.reset()
    def make(name: String): Workload = name match {
      case "sync_ticks" => new SyncTicks(ctx)
      case "corpus_batch" => new CorpusBatch(ctx)
      case "accept_stream" => new AcceptStream(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (args.get("warmup-only").contains("1")) {
      workload.split(",").foreach { name =>
        val w = make(name)
        w.setup(root.resolve(s"work-$name"))
        w.warmup()
      }
      spark.stop()
      return
    }
    val w = make(workload)
    val reps = (1 to SetupReps).map { r =>
      val dir = root.resolve(s"work-$r")
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = Workload.seconds(t0)
      if (r > 1) Workload.deleteTree(root.resolve(s"work-${r - 1}"))
      s
    }
    val t0 = System.nanoTime()
    w.warmup()
    val warmupS = Workload.seconds(t0)
    val outcome = w.run()
    require(trace.workersStartedInSpans == 0, s"${trace.workersStartedInSpans} maintenance " +
      "workers started inside a traced op, so their jobs cannot be charged to maint")
    // no detached fold may outlive the workload
    val deadline = System.currentTimeMillis() + 60000L
    while (IncrementalDocArtifact.Maintenance.queueDepth > 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50L)

    val heapMb = Runtime.getRuntime.maxMemory / 1048576.0
    val provenance = Map[String, Any]("workload" -> workload, "seed" -> seed,
      "seconds" -> seconds, "traced" -> traced, "nproc" -> nproc,
      "master" -> spark.sparkContext.master, "heap_mb" -> heapMb,
      "spark" -> spark.version, "run" -> runId,
      "session_s" -> sessionS, "setup_reps_s" -> reps, "warmup_s" -> warmupS)
    val e2e = outcome.e2e ++ Map("setup_s" -> (sessionS + Stats.median(reps) + warmupS),
      "peak_rss_mb" -> peakRssMb())
    if (traced) args.get("trace-file").foreach(f =>
      trace.write(f, Map("provenance" -> provenance, "metrics" -> outcome.layers)))
    val doc = Map[String, Any]("attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "end_to_end" -> e2e,
      "per_layer" -> outcome.layers, "provenance" -> provenance) ++ outcome.extra
    Files.writeString(Paths.get(args("out")), Json(doc))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }
  }
}
