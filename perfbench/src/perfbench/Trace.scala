package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer tracing of one benchmark run.
  *
  * Spans wrap the benchmark's own calls into the engine: name, layer,
  * start, end, parent and the run id. While an op is traced a
  * SparkListener is attached, and every job carries the innermost open
  * span's id in a local property, so job, stage and task counters are
  * charged to that span. Spans and counters stay in memory until
  * [[write]].
  *
  * Jobs submitted from the engine's `graft-artifact-maintenance` pool
  * are charged to the `maint` pseudo-layer. A pool thread inherits the
  * local properties of the thread that started it, so a worker started
  * inside a span would carry that span's id: workloads that use the
  * pool start all its workers before the first traced op, and a traced
  * op during which a worker starts fails the run
  * ([[workersStartedInSpans]]). The pool's workers then carry no span,
  * and neither do their jobs.
  */
final class Trace(sc: SparkContext, val runId: String) {
  import Trace._

  final class Span(val id: Int, val layer: String, val name: String,
      val parent: Int, val startMs: Long, val startNs: Long) {
    var endMs = -1L
    var endNs = -1L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private final class JobRec(val id: Int, val token: String, val submitMs: Long,
      val stageIds: Seq[Int]) {
    var endMs = -1L
  }

  private final class StageRec {
    var completed = 0
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inRecords = 0L
    var outRecords = 0L
    var outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var openSpans: List[Span] = Nil
  private var tracing = false
  private var barriers = 0

  // written on the listener-bus thread, read on the driving thread
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val barriersSeen = mutable.HashSet.empty[String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val token = Option(e.properties).map(_.getProperty(Key)).orNull
      jobs(e.jobId) = new JobRec(e.jobId, token, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        if (j.token != null && j.token.startsWith(BarrierPrefix)) {
          barriersSeen += j.token
          lock.notifyAll()
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stage(e.stageInfo.stageId).completed += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      s.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.inRecords += m.inputMetrics.recordsRead
        s.outRecords += m.outputMetrics.recordsWritten
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec)

  /** Id the next [[span]] will get; -1 when not tracing. */
  def nextSpanId: Int = if (tracing) spans.size else -1

  /** Runs `body` in a span of `layer`; a plain call when not tracing. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = new Span(spans.size, layer, name,
        openSpans.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      openSpans = s :: openSpans
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        openSpans = openSpans.tail
        sc.setLocalProperty(Key, openSpans.headOption.map(_.id.toString).orNull)
      }
    }

  /** Runs one op. A traced op attaches the listener for its duration
    * and returns the op's span id; an untraced one returns -1.
    */
  def op[T](traced: Boolean, layer: String, name: String)(body: => T): (T, Int) =
    if (!traced) (body, -1)
    else {
      val workers = maintenanceWorkerIds
      sc.addSparkListener(listener)
      tracing = true
      val id = spans.size
      try (span(layer, name)(body), id)
      finally {
        tracing = false
        drain()
        sc.removeSparkListener(listener)
        workersStartedInSpans += (maintenanceWorkerIds -- workers).size
      }
    }

  /** Maintenance-pool workers that started during a traced op: their
    * jobs carry a span id they did not run under, so a run with any is
    * not attributable.
    */
  var workersStartedInSpans = 0

  /** Waits until the listener has seen every event posted so far: a
    * one-task barrier job is posted last, and the bus delivers in order.
    */
  private def drain(): Unit = {
    barriers += 1
    val token = s"$BarrierPrefix$barriers"
    sc.setLocalProperty(Key, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, null)
    val deadline = System.currentTimeMillis() + 60000L
    lock.synchronized {
      while (!barriersSeen(token) && System.currentTimeMillis() < deadline)
        lock.wait(100L)
    }
  }

  // ------------------------------------------------------------------
  // summaries (driving thread, after the ops ran)

  /** Span a job is charged to, or -1 for the `maint` pseudo-layer. */
  private def owner(j: JobRec): Int =
    if (j.token == null || j.token.startsWith(BarrierPrefix)) -1 else j.token.toInt

  private def isBarrier(j: JobRec) =
    j.token != null && j.token.startsWith(BarrierPrefix)

  private def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root).toSet
  }

  /** Counters of a set of jobs. A stage listed by several of them (a
    * shuffle map stage a later job skips) counts once.
    */
  private def counters(js: Iterable[JobRec]): Counters = {
    val c = new Counters
    c.jobs = js.size.toLong
    js.flatMap(_.stageIds).toSeq.distinct.flatMap(stages.get).foreach { s =>
      c.stages += s.completed
      c.tasks += s.tasks
      c.cpuS += s.cpuNs / 1e9
      c.gcS += s.gcMs / 1e3
      c.shuffleWriteMb += s.shuffleWrite / 1048576.0
      c.spillMb += s.spill / 1048576.0
      c.inRecords += s.inRecords
      c.outRecords += s.outRecords
      c.outMb += s.outBytes / 1048576.0
      if (s.durations.size >= 2) {
        val d = s.durations.sorted
        c.skewMax += d.last
        c.skewMedian += Stats.median(d.map(_.toDouble).toSeq)
      }
    }
    c
  }

  /** Counters of the jobs charged to the span `root` or its children,
    * plus its driver gap: span time with no such job running.
    */
  def of(root: Int): Counters = lock.synchronized {
    val ids = subtree(root)
    val js = jobs.values.filter(j => !isBarrier(j) && ids(owner(j))).toSeq
    val c = counters(js)
    val s = spans(root)
    val busy = Stats.unionLength(js.map(j =>
      (math.max(j.submitMs, s.startMs), if (j.endMs < 0) s.endMs else math.min(j.endMs, s.endMs))))
    c.driverGapS = math.max(0.0, s.seconds - busy / 1e3)
    c
  }

  /** Per-layer summary: span count, total and self time (span time not
    * covered by child spans), and the counters of the jobs charged to
    * the layer's spans directly.
    */
  def layers: Seq[(String, Map[String, Any])] = lock.synchronized {
    val kids = spans.groupBy(_.parent)
    val byOwner = jobs.values.filterNot(isBarrier).groupBy(owner)
    val rows = spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      val self = ss.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).toSeq
          .map(k => (k.startNs, k.endNs))) / 1e9
        s.seconds - covered
      }.sum
      val c = counters(ss.flatMap(s => byOwner.getOrElse(s.id, Nil)))
      layer -> (Map[String, Any]("spans" -> ss.size,
        "total_s" -> ss.map(_.seconds).sum, "self_s" -> self) ++ c.toMap)
    }
    val maint = counters(byOwner.getOrElse(-1, Nil))
    rows :+ ("maint" -> (Map[String, Any]("spans" -> 0) ++ maint.toMap))
  }

  /** Writes spans, jobs and the per-layer summary as one JSON file. */
  def write(path: String, extra: Map[String, Any]): Unit = lock.synchronized {
    val spanRows = spans.toSeq.map(s => Map[String, Any](
      "id" -> s.id, "run" -> runId, "layer" -> s.layer, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "seconds" -> s.seconds))
    val jobRows = jobs.values.filterNot(isBarrier).toSeq.map { j =>
      val c = counters(Seq(j))
      Map[String, Any]("job" -> j.id, "span" -> owner(j),
        "submit_ms" -> j.submitMs, "end_ms" -> j.endMs) ++ c.toMap - "jobs"
    }
    val doc = extra ++ Map("run" -> runId, "layers" -> layers.toMap,
      "spans" -> spanRows, "jobs" -> jobRows)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(doc))
  }
}

object Trace {
  val Key = "perfbench.span"
  private val BarrierPrefix = "barrier-"
  private val MaintenanceThread = "graft-artifact-maintenance"

  private def maintenanceWorkerIds: Set[Long] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .collect { case t if t.getName == MaintenanceThread => t.getId }.toSet
  }

  /** Live workers of the engine's detached-maintenance pool. */
  def maintenanceWorkers: Int = maintenanceWorkerIds.size
}

/** Listener counters of a set of jobs. Task skew is the summed longest
  * task over the summed median task of each stage with two or more
  * tasks: 1 means no straggler.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuS = 0.0
  var gcS = 0.0
  var shuffleWriteMb = 0.0
  var spillMb = 0.0
  var inRecords = 0L
  var outRecords = 0L
  var outMb = 0.0
  var skewMax = 0.0
  var skewMedian = 0.0
  var driverGapS = 0.0

  def skew: Double = if (skewMedian > 0) skewMax / skewMedian else 1.0

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuS += o.cpuS
    gcS += o.gcS; shuffleWriteMb += o.shuffleWriteMb; spillMb += o.spillMb
    inRecords += o.inRecords; outRecords += o.outRecords; outMb += o.outMb
    skewMax += o.skewMax; skewMedian += o.skewMedian; driverGapS += o.driverGapS
  }

  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "executor_cpu_s" -> cpuS, "gc_s" -> gcS,
    "shuffle_write_mb" -> shuffleWriteMb, "spill_mb" -> spillMb,
    "input_records" -> inRecords, "output_records" -> outRecords,
    "output_mb" -> outMb, "task_skew" -> skew)
}

object Counters {
  def sum(cs: Iterable[Counters]): Counters = {
    val t = new Counters
    cs.foreach(t += _)
    t
  }
}
