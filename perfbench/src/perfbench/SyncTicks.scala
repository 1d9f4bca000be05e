package perfbench

import java.nio.file.{Files, Path}
import java.util.{SplittableRandom, UUID}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types._

import graft.Daemon
import graft.core.{SyncConfig, Watermark}
import graft.sources.{ParquetTableIO, SnapshotSourceIO, TableIO}

/** `sync_ticks`: the paper's incremental sync daemon.
  *
  * Two sync specs share one config: `ce_main` (undated stores, read and
  * written through the DSv2 snapshot connector) and `ce_daily`
  * (day-partitioned stores). Both sides of both specs start from the
  * same seeded rows. Each op is one `Daemon.tick` on a synthetic clock
  * that advances one period per tick. Before each tick, and outside its
  * timing, the generator upserts a seeded delta into every store: the
  * delta size cycles through 0.1 %, 10 % and 1 % of the store, and the
  * delta mixes one-sided updates and inserts, cross-side conflicts on
  * the same ids, exact (id, version) ties, and echoes (rows tagged with
  * the other side's source). From tick [[NoteFrom]] on, the right-hand
  * side's rows carry an additive `note` column.
  *
  * The benchmark keeps its own last-writer-wins model of all four
  * stores and checks them after the run; each tick's leg row counts
  * must also match the model's windows.
  */
final class SyncTicks(ctx: Ctx) extends Workload {
  import SyncTicks._

  private val spark = ctx.spark
  private val trace = ctx.trace
  private val cores = spark.sparkContext.defaultParallelism

  private final class Spec(val name: String, val daily: Boolean) {
    val left = mutable.HashMap.empty[String, Rec]
    val right = mutable.HashMap.empty[String, Rec]
    val ids = mutable.ArrayBuffer.empty[String]
    def table(side: String) = s"${name}_$side"
  }

  private var dir: Path = _
  private var cfg: SyncConfig.Config = _
  private var specs: Seq[Spec] = Nil
  private var rng: SplittableRandom = _

  private def wmPath = dir.resolve("watermark").toString

  private def io(spec: Spec, side: String): TableIO = {
    val p = dir.resolve(spec.table(side)).toString
    if (spec.daily) ParquetTableIO.dayPartitioned(p, "version", DayCol)
    else new SnapshotSourceIO(p)
  }

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(dir)
    rng = new SplittableRandom(ctx.seed)
    val base = (0 until StoreRows).map { _ =>
      newId() -> Rec(T0 - PeriodMs - 1 - rng.nextLong(SeedSpanMs), text(),
        if (rng.nextBoolean()) LeftSource else RightSource, null)
    }
    specs = Seq(new Spec("ce_main", daily = false), new Spec("ce_daily", daily = true))
    val df = frame(base)
    specs.foreach { s =>
      s.left ++= base
      s.right ++= base
      s.ids ++= base.map(_._1)
      Seq("c", "e").foreach { side =>
        io(s, side) match {
          case v: SnapshotSourceIO => v.bootstrap(df)
          case v => v.overwrite(df)
        }
      }
    }
    val conf = dir.resolve("config.json")
    Files.writeString(conf, ConfigJson)
    cfg = SyncConfig.load(spark, conf.toString)
    Watermark.write(wmPath, T0 - PeriodMs)
  }

  /** Tick 0, untimed: a smallest-class delta over (T0 - period, T0]. */
  def warmup(): Unit = {
    Workload.inParallel(specs.flatMap(upsertDeltas(_, 0, Shares.head)))
    val reports = Daemon.tick(spark, cfg, wmPath, dir.toString, T0)
    val expected = specs.map(s => s.name -> applyTick(s, 0)).toMap
    if (!reports.forall(r => !r.failed && r.legs.map(_.rows) == expected(r.spec)))
      throw new IllegalStateException(s"warm-up tick failed: $reports")
  }

  private final case class Tick(k: Int, cls: Int, wall: Double, windowRows: Long,
      specS: Map[String, Double], traced: Boolean, op: Int, ok: Boolean)

  def run(): Outcome = {
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val t0 = System.nanoTime()
    var k = 1
    while (k <= MaxTicks && (k <= MinTicks || Workload.seconds(t0) < ctx.seconds)) {
      val cls = (k - 1) % Shares.size
      Workload.inParallel(specs.flatMap(upsertDeltas(_, k, Shares(cls))))
      Workload.settle()
      val now = T0 + k * PeriodMs
      val traced = ctx.tracedOp(k)
      val ((reports, wall), op) = trace.op(traced, "op", s"tick-$k") {
        val s = System.nanoTime()
        val r = trace.span("core", "Daemon.tick") {
          Daemon.tick(spark, cfg, wmPath, dir.toString, now)
        }
        (r, Workload.seconds(s))
      }
      val expected = specs.map(s => s.name -> applyTick(s, k)).toMap
      val ok = reports.size == specs.size && reports.forall { r =>
        !r.failed && r.legs.map(_.rows) == expected(r.spec)
      }
      ticks += Tick(k, cls, wall, reports.flatMap(_.legs.map(_.rows)).sum,
        reports.map(r => r.spec -> r.legs.headOption.map(_.elapsedMs / 1e3).getOrElse(0.0)).toMap,
        traced, op, ok)
      k += 1
    }
    val stateOk = specs.forall(s => matches(s, "c", s.left) && matches(s, "e", s.right))
    val failed = if (stateOk) ticks.count(!_.ok).toLong else ticks.size.toLong

    val trickle = ticks.filter(_.cls == 0)
    val bulk = ticks.filter(_.cls == 1)
    val tracedTicks = ticks.filter(_.traced)
    val tracedCounters = tracedTicks.map(t => trace.of(t.op))
    val tracedRows = math.max(1L, tracedTicks.map(_.windowRows).sum).toDouble
    val layers = Workload.sparkLayers(trace, tracedTicks.map(_.op).toSeq) ++ Map(
      "core.window_rows" -> Stats.mean(ticks.map(_.windowRows.toDouble).toSeq),
      "sources.input_rows_per_window_row" -> tracedCounters.map(_.inRecords).sum / tracedRows,
      "sources.output_rows_per_window_row" -> tracedCounters.map(_.outRecords).sum / tracedRows,
      "sources.output_mb" -> Stats.mean(tracedCounters.map(_.outMb).toSeq),
      "sources.store_files" -> specs.flatMap(s => Seq("c", "e").map(x =>
        Workload.parquetFiles(dir.resolve(s.table(x))))).sum.toDouble,
      "sync.tick_tail_s" -> Stats.tail(ticks.map(_.wall).toSeq),
      "sync.spec_main_s" -> Stats.median(ticks.map(_.specS.getOrElse("ce_main", 0.0)).toSeq),
      "sync.spec_daily_s" -> Stats.median(ticks.map(_.specS.getOrElse("ce_daily", 0.0)).toSeq),
      "trace.overhead_share" -> Workload.overheadShare(
        ticks.map(t => (t.cls.toString, t.traced, t.wall)).toSeq))
    Outcome(ticks.size.toLong, failed,
      Map("op_median_s" -> Stats.median(trickle.map(_.wall).toSeq),
        "rate_per_s" -> Stats.median(bulk.map(t => t.windowRows / t.wall).toSeq)),
      layers,
      Map("op_walls_s" -> ticks.groupBy(t => s"delta_${Shares(t.cls)}")
        .map { case (c, ts) => c -> ts.map(_.wall).toSeq }))
  }

  // ------------------------------------------------------------------
  // generator

  private def newId(): String = new UUID(rng.nextLong(), rng.nextLong()).toString

  private def text(): String = {
    val b = new StringBuilder
    (0 until 10).foreach(_ => b += Alnum.charAt(rng.nextInt(Alnum.length)))
    b.toString
  }

  /** Draws tick `k`'s seeded delta for both stores of `s` and applies
    * it to the model; returns the two store upserts, to run in parallel.
    */
  private def upsertDeltas(s: Spec, k: Int, share: Double): Seq[() => Unit] = {
    val n = math.max(1, math.round(share * StoreRows).toInt)
    val lo = T0 + (k - 1) * PeriodMs
    def version() = lo + 1 + rng.nextLong(PeriodMs)
    val used = mutable.HashSet.empty[String]
    def existing(): String = {
      var id = s.ids(rng.nextInt(s.ids.size))
      while (used(id)) id = s.ids(rng.nextInt(s.ids.size))
      used += id
      id
    }
    val note = if (k >= NoteFrom) s"note-$k" else null
    val l = mutable.ArrayBuffer.empty[(String, Rec)]
    val r = mutable.ArrayBuffer.empty[(String, Rec)]
    val conflicts = math.max(1, n * 15 / 100)
    (0 until conflicts).foreach { i =>
      val id = existing()
      val v = version()
      l += id -> Rec(v, text(), LeftSource, null)
      r += id -> Rec(if (i < Ties) v else version(), text(), RightSource, note)
    }
    val echoes = math.max(1, n * 2 / 100)
    (0 until echoes).foreach { _ =>
      l += existing() -> Rec(version(), text(), RightSource, null)
      r += existing() -> Rec(version(), text(), LeftSource, note)
    }
    val inserts = n * 20 / 100
    (0 until inserts).foreach { _ =>
      val (a, b) = (newId(), newId())
      s.ids += a; s.ids += b
      used += a; used += b
      l += a -> Rec(version(), text(), LeftSource, null)
      r += b -> Rec(version(), text(), RightSource, note)
    }
    (0 until math.max(0, n - conflicts - echoes - inserts)).foreach { _ =>
      l += existing() -> Rec(version(), text(), LeftSource, null)
      r += existing() -> Rec(version(), text(), RightSource, note)
    }
    s.left ++= l
    s.right ++= r
    Seq(() => upsert(io(s, "c"), l.toSeq, withNote = false),
      () => upsert(io(s, "e"), r.toSeq, withNote = note != null))
  }

  private def upsert(t: TableIO, rows: Seq[(String, Rec)], withNote: Boolean): Unit = {
    val delta = frame(rows, withNote)
    val cur = t.read(spark)
    val kept = cur.join(broadcast(delta.select("id")), Seq("id"), "left_anti")
    t.overwrite(kept.unionByName(delta, allowMissingColumns = true))
  }

  private def frame(rows: Seq[(String, Rec)], withNote: Boolean = false): DataFrame = {
    val schema = if (withNote) Schema.add("note", StringType) else Schema
    val data = rows.map { case (id, x) =>
      if (withNote) Row(id, x.version, x.text, x.source, x.note)
      else Row(id, x.version, x.text, x.source)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, cores), schema)
  }

  // ------------------------------------------------------------------
  // last-writer-wins model

  /** Applies tick `k` to the model of `s`; returns the expected
    * (L->R, R->L) leg row counts. A leg moves the window's rows that
    * did not originate at its destination; an incoming row replaces
    * the destination's row only with a strictly higher version, so on
    * an exact tie the incumbent stays.
    */
  private def applyTick(s: Spec, k: Int): Seq[Long] = {
    val lo = T0 + (k - 1) * PeriodMs
    val hi = T0 + k * PeriodMs
    def incoming(m: mutable.HashMap[String, Rec], destSource: String) =
      m.iterator.filter { case (_, x) =>
        x.version > lo && x.version <= hi && x.source != destSource
      }.toSeq
    val toRight = incoming(s.left, RightSource)
    val toLeft = incoming(s.right, LeftSource)
    def merge(dest: mutable.HashMap[String, Rec], in: Seq[(String, Rec)]): Unit =
      in.foreach { case (id, x) =>
        if (dest.get(id).forall(_.version < x.version)) dest(id) = x
      }
    merge(s.right, toRight)
    merge(s.left, toLeft)
    Seq(toRight.size.toLong, toLeft.size.toLong)
  }

  private def matches(s: Spec, side: String, model: mutable.HashMap[String, Rec]): Boolean = {
    val df = io(s, side).read(spark)
    val cols = Seq("id", "version", "text", "source") ++
      (if (df.columns.contains("note")) Seq("note") else Nil)
    val extra = df.columns.toSet -- cols - DayCol
    val rows = df.select(cols.map(df.col): _*).collect()
    val got = rows.map { r =>
      r.getString(0) -> Rec(r.getLong(1), r.getString(2), r.getString(3),
        if (r.size > 4) r.getString(4) else null)
    }
    extra.isEmpty && got.length == model.size && got.map(_._1).distinct.length == got.length &&
      got.forall { case (id, x) =>
      model.get(id).contains(x)
    }
  }
}

object SyncTicks {
  final case class Rec(version: Long, text: String, source: String, note: String)

  val StoreRows = 20000
  val Shares = Seq(0.001, 0.1, 0.01)
  val MinTicks = 5
  val MaxTicks = 60
  val Ties = 3
  val NoteFrom = 3
  val PeriodMs = 60000L
  val T0 = 1709251200000L // 2024-03-01T00:00Z
  val SeedSpanMs = 7L * 86400000L
  val DayCol = "_day"
  val LeftSource = "CASSANDRA"
  val RightSource = "Elastic"
  private val Alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  val Schema = StructType(Seq(
    StructField("id", StringType), StructField("version", LongType),
    StructField("text", StringType), StructField("source", StringType)))

  private val ConfigJson: String = {
    def spec(name: String, daily: Boolean) =
      s"""{"name": "$name", "id_col": "id", "version_col": "version",
         | "filter_date": true, "ignore_same_source": true,
         | ${if (daily) s""""day_col": "$DayCol",""" else ""}
         | "cassandra": {"table": "${name}_c", "source_id": "$LeftSource"},
         | "elasticsearch": {"index": "${name}_e", "source_id": "$RightSource"}}""".stripMargin
    s"""{"period": 1, "syncs": [${spec("ce_main", false)}, ${spec("ce_daily", true)}]}"""
  }
}
