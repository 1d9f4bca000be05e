package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.IncrementalDocArtifact
import graft.streaming.StreamingAcceptIngest

/** `accept_stream`: the self-referential exact-dedup ingest loop.
  *
  * Each op is one closed-loop `StreamingAcceptIngest.applyBatch` (exact
  * mode) of [[AcceptStream.BatchDocs]] seeded documents, up to
  * [[AcceptStream.MaxBatches]] batches, as a
  * `foreachBatch` body would call it. The texts have the shape of the
  * `documents` table of [[Tables]], near-duplicates included. About a
  * quarter of each batch re-offers texts from earlier batches and a few
  * documents repeat a text of their own batch, so the accepted corpus
  * and its screen artifact grow while detached folds fire in the
  * background.
  *
  * The screen artifact folds every [[AcceptStream.FoldEvery]]
  * generations (the engine's `graft.accept.compactEvery`, 8 by
  * default), so several detached folds land inside one short run.
  *
  * The expected accepted set is the first occurrence of each distinct
  * text: the smallest id within a batch, the earliest batch across
  * batches. Texts are lower-case words joined by single spaces, so text
  * normalisation cannot merge two distinct texts.
  *
  * The warm-up starts the engine's maintenance workers while no trace
  * span is open, so no worker inherits a span's local property.
  */
final class AcceptStream(ctx: Ctx) extends Workload {
  import AcceptStream._

  private val spark = ctx.spark
  private val trace = ctx.trace
  private val cores = spark.sparkContext.defaultParallelism
  sys.props("graft.accept.compactEvery") = FoldEvery.toString
  private var dir: Path = _
  private var inputs: IndexedSeq[Seq[Row]] = IndexedSeq.empty

  private def outDir = dir.resolve("sink").toString

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(dir)
    val rng = new SplittableRandom(ctx.seed)
    val offered = mutable.ArrayBuffer.empty[String]
    inputs = (1 to MaxBatches).map { b =>
      val rows = batch(rng, offered, b)
      offered ++= rows.map(_.getString(1))
      rows
    }
  }

  /** Small batches into a throwaway sink, folding after every one,
    * until every worker of the engine's maintenance pool has started;
    * each batch from the second on runs the screen against the ones
    * before it.
    */
  def warmup(): Unit = {
    val warm = dir.resolve("warmup").toString
    val r = new SplittableRandom(ctx.seed ^ 0x5eedL)
    sys.props("graft.accept.compactEvery") = "1"
    try {
      var b = 0L
      while (b < 2 || (Trace.maintenanceWorkers < MaintenanceThreads && b < 8)) {
        val docs = Tables.texts(r, WarmDocs).zipWithIndex
          .map { case (t, i) => Row(b * IdStride + i, t) }
        StreamingAcceptIngest.applyBatch(frame(docs), b, "doc_id", "text", warm)
        StreamingAcceptIngest.awaitScreenMaintenance(warm, "doc_id", "text")
        b += 1
      }
    } finally sys.props("graft.accept.compactEvery") = FoldEvery.toString
    require(Trace.maintenanceWorkers >= MaintenanceThreads,
      s"warm-up started ${Trace.maintenanceWorkers} of $MaintenanceThreads maintenance workers")
  }

  /** Batch `b`: re-offers of earlier batches' texts, in-batch repeats
    * and fresh texts, with ids shuffled so a repeat may carry the
    * smaller id.
    */
  private def batch(rng: SplittableRandom, offered: mutable.ArrayBuffer[String], b: Int): Seq[Row] = {
    val fresh = Tables.texts(rng, BatchDocs).iterator
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until BatchDocs).foreach { _ =>
      val p = rng.nextInt(100)
      texts += (
        if (p < ReofferPct && offered.nonEmpty) offered(rng.nextInt(offered.size))
        else if (p < ReofferPct + RepeatPct && texts.nonEmpty) texts(rng.nextInt(texts.size))
        else fresh.next())
    }
    val ids = new scala.util.Random(rng.nextLong()).shuffle((0 until BatchDocs).toIndexedSeq)
    texts.zip(ids).map { case (t, i) => Row(b.toLong * IdStride + i, t) }.toSeq
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), Schema)

  private final case class Batch(b: Int, wall: Double, traced: Boolean, op: Int)

  def run(): Outcome = {
    IncrementalDocArtifact.Maintenance.reset()
    StreamingAcceptIngest.AcceptStats.reset()
    val seen = mutable.HashSet.empty[String]
    val expected = mutable.HashMap.empty[Long, Set[(Long, String)]]
    val batches = mutable.ArrayBuffer.empty[Batch]
    val t0 = System.nanoTime()
    var b = 1
    while (b <= MaxBatches && (b <= MinBatches || Workload.seconds(t0) < ctx.seconds)) {
      val rows = inputs(b - 1)
      val firsts = rows.groupBy(_.getString(1)).collect {
        case (t, rs) if !seen(t) => (rs.map(_.getLong(0)).min, t)
      }.toSet
      expected(b.toLong) = firsts
      seen ++= firsts.map(_._2)
      val df = frame(rows)
      Workload.settle()
      val traced = ctx.tracedOp(b)
      val (wall, op) = trace.op(traced, "op", s"batch-$b") {
        val s = System.nanoTime()
        trace.span("streaming", "applyBatch") {
          StreamingAcceptIngest.applyBatch(df, b.toLong, "doc_id", "text", outDir)
        }
        Workload.seconds(s)
      }
      batches += Batch(b, wall, traced, op)
      b += 1
    }
    StreamingAcceptIngest.awaitScreenMaintenance(outDir, "doc_id", "text")
    val maint = IncrementalDocArtifact.Maintenance.snapshot
    val stats = StreamingAcceptIngest.AcceptStats.snapshot.values

    val corpus = dir.resolve("sink").resolve("corpus")
    val landed = spark.read.parquet(corpus.toString)
      .select("_ib", "doc_id", "text").collect()
      .groupBy(_.getLong(0))
      .map { case (ib, rs) => ib -> rs.map(r => (r.getLong(1), r.getString(2))).toSet }
    val badBatches = batches.count(x => landed.getOrElse(x.b.toLong, Set.empty) !=
      expected(x.b.toLong))
    val unexpected = landed.keySet.count(ib => !expected.contains(ib))

    val walls = batches.map(_.wall).toSeq
    val third = math.max(1, walls.size / 3)
    val offeredDocs = batches.size.toDouble * BatchDocs
    val layers = Workload.sparkLayers(trace, batches.filter(_.traced).map(_.op).toSeq) ++ Map(
      "streaming.accepted_share" -> expected.values.map(_.size).sum / offeredDocs,
      "streaming.late_over_early" ->
        Stats.median(walls.takeRight(third)) / Stats.median(walls.take(third)),
      "streaming.batch_tail_s" -> Stats.tail(walls),
      "sources.maint_folds" -> maint("folds_completed").toDouble,
      "sources.maint_failed" -> maint("folds_failed").toDouble,
      "sources.maint_fold_max_s" -> maint("fold_max_ms") / 1e3,
      "sources.maint_queue_peak" -> maint("queue_peak").toDouble,
      "sources.corpus_files" -> Workload.parquetFiles(corpus).toDouble,
      "dedup.residue_fallbacks" ->
        stats.map(_.getOrElse("sum_residue_fallbacks", 0L)).sum.toDouble,
      // batch 1 screens against an empty corpus: a class of its own
      "trace.overhead_share" -> Workload.overheadShare(
        batches.map(x => (if (x.b == 1) "first" else "batch", x.traced, x.wall)).toSeq))
    Outcome(batches.size.toLong, (badBatches + unexpected).toLong,
      Map("op_median_s" -> Stats.median(walls), "rate_per_s" -> offeredDocs / walls.sum),
      layers,
      Map("op_walls_s" -> Map("batch" -> walls)))
  }
}

object AcceptStream {
  val BatchDocs = 5000
  val WarmDocs = 500
  val MinBatches = 6
  val MaxBatches = 30
  val FoldEvery = 2
  val ReofferPct = 25
  val RepeatPct = 2
  val IdStride = 1000000L

  /** Workers of the engine's detached-maintenance pool: its
    * `graft.maintenance.threads`, 2 by default.
    */
  val MaintenanceThreads: Int =
    sys.props.get("graft.maintenance.threads").flatMap(_.toIntOption).getOrElse(2)

  val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
}
