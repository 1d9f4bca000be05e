package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{LegReport, SyncSpec, Watermark}
import graft.sources.TableIO

/** One run-tick of a bidirectional sync — the reference's
  * `PyCassElastic.run()` (pyCassElastic.py:54-115) re-expressed as a
  * deterministic dataflow:
  *
  *   1. schema-evolve both sides to the union schema (sync_schemas,
  *      pyCassElastic.py:412-446 — additive only);
  *   2. per leg, select the half-open window `(last, this]` on the
  *      version column when `filterDate` (S2, :205-212), drop rows
  *      that originated at the destination (anti-echo S4, :386-399);
  *   3. LWW-merge each leg's incoming rows into the destination
  *      snapshot; ties keep the incumbent (ES external-version rule,
  *      :340-341). Conflict losers simply don't appear in the next
  *      snapshot — the declarative form of the reference's 409-parse +
  *      DELETE (:508-582);
  *   4. stage BOTH outputs concurrently, then commit both
  *      concurrently, then commit the watermark — and only on success,
  *      fixing the reference's write-even-on-error gap (:138). Each
  *      output is computed from both stores' OLD snapshots, so neither
  *      leg waits on the other; if either stage fails, every stage
  *      that succeeded is aborted and no store is touched.
  *
  * `runAll` runs the specs of a config that share no store at the
  * same time: specs that share a store, directly or through other
  * specs, form one group that runs one after another in config order,
  * so a hub store (A↔H, H↔B) never loses an update.
  *
  * Scale: each leg is one shuffle on the id columns (the LWW hash
  * aggregate with map-side combine); the window filter is a pushed
  * predicate; with a date-partitioned TableIO layout it becomes
  * partition pruning. Nothing is collected to the driver. A tick's
  * jobs are small (AQE folds each leg to a task or two), so running
  * independent legs and specs side by side is what fills the cores.
  */
object SyncRunner {

  final case class Sides(left: TableIO, right: TableIO)

  final case class RunReport(
      spec: String,
      legs: Seq[LegReport],
      error: Option[String] = None) {
    def failed: Boolean = error.isDefined
  }

  /** One tick for one spec. Both stores converge to the LWW-merged
    * state over the incremental window.
    */
  def runOnce(
      spark: SparkSession,
      spec: SyncSpec,
      sides: Sides,
      span: Option[Watermark.Span],
      collectStats: Boolean = true): RunReport = {
    val t0 = System.nanoTime()
    val (l0, r0) = (sides.left.read(spark), sides.right.read(spark))
    // 1. additive schema evolution, both directions
    val (l, r, _) = SchemaTools.alignBoth(l0, r0)
    val ids = Seq(spec.idCol)

    def incoming(src: DataFrame, destSourceId: Option[String]): DataFrame = {
      val windowed = span match {
        case Some(s) if spec.filterDate =>
          IncrementalScan(src, spec.versionCol, s, dayCol = spec.dayCol)
        case _ => src
      }
      destSourceId.filter(_ => spec.ignoreSameSource) match {
        case Some(sid) => AntiEcho(windowed, spec.sourceCol, sid)
        case None => windowed
      }
    }

    // 2+3. legs: L→R and R→L, each one LWW hash-aggregate. Leg row
    // counts ride the write pass as CollectMetrics observations
    // (A2 counters, reference pyCassElastic.py:262-314) — no extra
    // count() jobs re-executing the lineage.
    val (obsL, obsR) =
      (org.apache.spark.sql.Observation(s"${spec.name}-inL"),
        org.apache.spark.sql.Observation(s"${spec.name}-inR"))
    val inL = incoming(l, spec.right.sourceId) // rows moving left → right
      .observe(obsL, count(lit(1)).as("rows"))
    val inR = incoming(r, spec.left.sourceId) // rows moving right → left
      .observe(obsR, count(lit(1)).as("rows"))
    val newR = LwwMerge.merge(dest = r, incoming = inL, ids, spec.versionCol)
    val newL = LwwMerge.merge(dest = l, incoming = inR, ids, spec.versionCol)

    // 4. stage both before committing either: each output is computed
    // from both stores' OLD snapshots, so the two stages run together.
    val staged = concurrently(spark,
      Seq(() => sides.right.prepare(newR), () => sides.left.prepare(newL)))
    staged.collectFirst { case Failure(e) => e }.foreach { e =>
      staged.foreach(_.foreach(_.abort()))
      throw e
    }
    concurrently(spark, staged.map(p => () => p.get.commit())).foreach(_.get)

    // the staging writes were the observed actions; metrics are ready
    val stats =
      if (collectStats)
        Seq(obsL.get("rows").asInstanceOf[Long], obsR.get("rows").asInstanceOf[Long])
      else Seq(-1L, -1L)

    val ms = (System.nanoTime() - t0) / 1000000
    RunReport(spec.name, Seq(
      LegReport(s"${spec.name}:L->R", stats.head, -1L, ms),
      LegReport(s"${spec.name}:R->L", stats(1), -1L, ms)))
  }

  /** Per-spec watermark file: `<wmPath>.<spec name>` (sanitized). */
  def specWmPath(wmPath: String, specName: String): String =
    wmPath + "." + specName.replaceAll("[^A-Za-z0-9._-]", "_")

  /** All specs of a config; one spec failing must not abort its
    * siblings (the reference's deliberately-broken third sync,
    * tests/testConfig.json "this will fail!!"). Reports come back in
    * config order.
    *
    * Specs that share no store run concurrently ([[storeGroups]]);
    * specs that do share one run one after another in config order, so
    * each reads the other's committed output.
    *
    * Each spec owns its own watermark (`specWmPath`), committed when
    * THAT spec succeeds. A single shared watermark gated on every spec
    * would let one persistently failing sibling freeze the window for
    * all — healthy specs would re-scan an unboundedly growing
    * (last, now] range every tick (correct under idempotent LWW, but
    * with tick cost growing without bound). A pre-existing shared file
    * at `wmPath` seeds specs that have no per-spec file yet. Window
    * computation sits inside the per-spec error path, so a corrupt
    * watermark file fails one spec's report instead of escaping to the
    * caller's loop.
    */
  def runAll(
      spark: SparkSession,
      specs: Seq[(SyncSpec, Sides)],
      wmPath: String,
      nowMillis: Long): Seq[RunReport] = {
    def run(spec: SyncSpec, sides: Sides): RunReport = {
      val wm = specWmPath(wmPath, spec.name)
      try {
        val span = Watermark.nextSpan(wm, nowMillis)
          .orElse(Watermark.nextSpan(wmPath, nowMillis))
        val report = runOnce(spark, spec, sides, span)
        Watermark.write(wm,
          span.map(_.thisMs).getOrElse(Watermark.truncToMinute(nowMillis)))
        report
      } catch { case NonFatal(e) =>
        RunReport(spec.name, Nil, Some(e.toString))
      }
    }
    val groups = storeGroups(specs.map(_._2))
    concurrently(spark, groups.map(g => () => g.map { i =>
      val (spec, sides) = specs(i)
      i -> run(spec, sides)
    })).flatMap(_.get).sortBy(_._1).map(_._2)
  }

  /** Indices of `sides` grouped so that two specs sharing a store,
    * directly or through other specs, land in the same group. Stores
    * are keyed on their normalized location ([[TableIO.key]]), so two
    * spellings of one directory are one store. Each group lists its
    * specs in input order; groups are ordered by their first spec.
    */
  private def storeGroups(sides: Seq[Sides]): Seq[Seq[Int]] =
    sides.zipWithIndex.foldLeft(Vector.empty[(Set[String], Vector[Int])]) {
      case (groups, (s, i)) =>
        val keys = Set(TableIO.key(s.left.path), TableIO.key(s.right.path))
        val (joined, rest) = groups.partition(_._1.exists(keys))
        rest :+ (joined.flatMap(_._1).toSet ++ keys -> (joined.flatMap(_._2).sorted :+ i))
    }.map(_._2).sortBy(_.head)

  /** Runs `thunks` on threads created for this call, at most
    * `defaultParallelism` at once, and returns every outcome in input
    * order (fatal errors included, as `Failure`s). A new thread
    * inherits the caller's Spark local properties (job group,
    * scheduler pool, description) through Spark's inheritable
    * thread-local, so `cancelJobGroup` and listener attribution keep
    * covering the work; it also runs with the caller's session active.
    */
  private[graft] def concurrently[T](spark: SparkSession,
      thunks: Seq[() => T]): Seq[Try[T]] = {
    val out = new Array[Try[T]](thunks.size)
    val next = new AtomicInteger()
    val workers =
      Seq.fill(math.min(thunks.size, spark.sparkContext.defaultParallelism)) {
        val t = new Thread(() => {
          SparkSession.setActiveSession(spark)
          var i = next.getAndIncrement()
          while (i < thunks.size) {
            out(i) = try Success(thunks(i)()) catch { case e: Throwable => Failure(e) }
            i = next.getAndIncrement()
          }
        }, "graft-sync")
        t.setDaemon(true)
        t.start()
        t
      }
    workers.foreach(_.join())
    out.toSeq
  }
}
