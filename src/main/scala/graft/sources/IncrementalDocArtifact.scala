package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

import graft.operators.Pin
import graft.sources.ParquetTableIO.deleteTree

/** Generic incremental maintenance for derived artifacts — the
  * base+delta ledger discipline `TextIndexStore` proved, extracted so
  * derived artifacts get O(new)-cost increments instead of full
  * rebuilds. The engine owns the layout, staleness reconciliation,
  * replay safety and compaction; callers supply the per-piece builders.
  *
  * Three piece kinds cover the three classes of derived artifact:
  *
  *  - [[Piece]] (ADDITIVE): rows derive per-document (postings,
  *    quality scores, signatures, codes) — an increment builds rows
  *    over only the new files and the artifact is the plain union of
  *    base and deltas. Additivity contract: build(subset) unioned
  *    across subsets ≡ build(whole), with additive partials folded at
  *    read where needed (the stats trick).
  *  - [[Piece]] with `pinned = true` (TRAINED): a whole-corpus
  *    artifact that increments deliberately do NOT touch — codebooks,
  *    subquantizers, any trained model. Built at full (re)build only;
  *    appends reuse it unchanged (the fixed-codebook production
  *    contract: encode new data with the versioned books, retrain
  *    offline into a fresh artifact when drift warrants).
  *  - [[MergePiece]] (KEYED UPSERT): a GLOBAL result a new document
  *    can change for old rows too (duplicate-cluster labels, any
  *    fixpoint over the corpus graph) — an increment computes only the
  *    CHANGED keyed rows against the pre-increment views and reads
  *    resolve last-writer-wins by generation sequence. Upsert
  *    contract: within one generation each key appears at most once,
  *    and (pre-increment views + changed rows) ≡ a full rebuild.
  *
  * Builders receive an [[AdvanceCtx]] and may read OTHER pieces
  * through it: at full rebuild, pieces build in declaration order
  * (additive/pinned first, then merges) and see the pieces rebuilt
  * before them; at an increment, every view excludes the generations
  * being caught up (crash replay reads identical inputs). That is how
  * a codes piece encodes with the pinned books, and how cluster labels
  * probe the stored signature table.
  *
  * LAZY MERGE MODE (`lazyMerges = true`): a corpus append advances
  * only the additive pieces — the screen-only front door stays
  * O(new-additive) — and the merge pieces (pairs, labels, any global
  * result) catch up ON FIRST READ after the append, as ONE combined
  * increment over every entry they have not yet reflected. Soundness
  * rests on two engine invariants: (a) merge advances are
  * generation-chunking invariant (one advance over k appended file
  * sets ≡ k chained advances — the documented [[MergePiece]] contract,
  * asserted for every registered store in
  * `IncrementalChunkingParitySpec`), and (b) the catch-up's
  * pre-increment views exclude exactly the committed generations the
  * piece has not covered (tracked per piece in a `covered` ledger; the
  * per-generation entry lists live in `_gens/`). Compaction first
  * catches merges up, then folds — so gen-level exclusion never meets
  * a folded-away generation. COST NOTE: because bounded generations
  * require that ordering, every `compactEvery`-th append triggers the
  * deferred merge catch-up even in a screen-only deployment — the
  * catch-up work is not avoided, it is (a) paid once per
  * `compactEvery` appends instead of per append and (b) DETACHED from
  * the tick (maintenance pool), so the ingest path's latency stays
  * O(new-additive) throughout; set `compactEvery = 0` to opt out
  * entirely and fold/catch up only via the explicit offline hooks.
  *
  * Layout, per (corpus path, artifact key):
  *
  *   root/<pathKey>_<key>/state          corpus DATA-file ledger +
  *                                       `#v2` footer: committed gen
  *                                       ids and per-piece base
  *                                       snapshot versions
  *   root/<pathKey>_<key>/_gens/<g>      entry list of generation <g>
  *   root/<pathKey>_<key>/<piece>/base   versioned-pointer snapshot
  *   root/<pathKey>_<key>/<piece>/delta/_gen=<g>/  one immutable
  *                                       partition per corpus increment
  *                                       (merge pieces also carry a
  *                                       monotone `_seq` column; base
  *                                       rows rank as seq −1)
  *   root/<piece>/covered                merge-piece coverage ledger
  *                                       (lazy mode)
  *
  * Reconciliation per read: ledger == listing and base versions match
  * the footer → serve (after dropping UNCOMMITTED delta generations —
  * a crashed advance whose corpus files were then reverted must not
  * serve its orphan rows, and a crashed rebuild whose corpus was
  * reverted keys a rebuild via the base-version mismatch); pure file
  * append → advance each piece into a deterministic `_gen` partition
  * (replay overwrites itself — every advance reads views that EXCLUDE
  * the generation being written, so a crashed half-write can never
  * leak into its own recomputation), advance the ledger by atomic
  * rename LAST; pure file REMOVAL retracting exactly whole live
  * generations — and only a contiguous SUFFIX of them in creation
  * order (kept data computed after a dropped append can encode the
  * dropped rows' influence; see [[Handle.rollback]]) → BATCH
  * ROLLBACK, O(dropped): the generations drop,
  * additive rows die with them, merge rows' LWW resolves back to the
  * pre-increment values they were computed from, pinned pieces keep
  * their trained artifacts by contract (the bad-batch retract — see
  * [[Handle.rollback]]); anything else → full rebuild, deltas
  * cleared — an in-place regrown corpus can never serve stale rows.
  * Compaction
  * folds deltas into the base via the pointer commit on the
  * `compactEvery` cadence or on demand — CRASH-ATOMICALLY: the
  * folded-gen list publishes inside the base version in the same
  * pointer flip as the folded data, so absorbed partitions are dead
  * by marker even if their physical deletion (mere GC) never ran.
  *
  * TIME TRAVEL (round 13 — mirrors `PartitionedLayout.readVersion`):
  * every ledger commit carries a monotone `#ver:` and lands an
  * immutable copy under `_history/v<n>`; [[Handle.serveVersion]]
  * serves any piece exactly as that version committed it — the
  * reproducible-training-data hook ("which corpus view built the
  * artifacts that trained model X"). The LIVE serve contract is
  * unchanged (a serve equals a full rebuild over the current corpus);
  * history is addressed only through the explicit door. Reach:
  * appends are travelable for free (they only add generation dirs);
  * folds / rollbacks / rebuilds reclaim data with the mutation at the
  * default `graft.store.retainVersions=1` (modulo the absorbed dirs'
  * standing one-fold grace window) — a raised knob RETIRES outgoing
  * generation dirs to `_retired/` (invisible to live reads) and keeps
  * superseded base snapshots until they age out of the newest-N
  * window or [[Handle.vacuumVersions]] reclaims them, so retention
  * never fights compaction: the fold itself stays the same, only the
  * GC of what it absorbed is deferred, bounded by N.
  *
  * Concurrency contract (per JVM): mutation is serialized by a
  * JVM-wide lock per artifact ROOT (handles are created per call, so
  * instance monitors could never serialize two handles of the same
  * artifact), and maintenance (the fold + lazy catch-up) holds a
  * separate per-root lock, staging its expensive jobs OFF the mutation
  * lock — ingest ticks and serves proceed concurrently with a running
  * fold and block only for the short commit windows. The one
  * exception: a lazy-merge serve with GENUINELY pending catch-up work
  * must wait for a running fold to finish (its gen-level exclusion
  * cannot race the fold absorbing those same generations); the
  * no-pending check itself needs only a short mutation-lock window,
  * so an up-to-date merge serve never waits on a fold. Reads serve
  * COMMITTED generations only (the ledger names them), so a
  * half-written generation — crashed advance, or a detached catch-up
  * mid-stage — is invisible to every reader. Auto-compaction on the
  * `compactEvery` cadence is DETACHED (single-flight per root, daemon
  * maintenance pool): a tick's latency never includes a fold;
  * `awaitMaintenance()` joins it when determinism matters. ACROSS
  * processes the artifact is single-writer per (corpus, artifact) —
  * the standard ingest-pipeline shape — and, unlike a mere doc
  * contract, this is ENFORCED: every mutation path (advance, rebuild,
  * catch-up, fold) holds the root's [[WriterLease]] (`O_EXCL` lease
  * file + heartbeat), so a second process attempting to mutate the
  * same artifact gets a clean
  * [[WriterLease.ConcurrentWriterException]] instead of silently
  * interleaving files inside a deterministic `_gen` partition. A
  * crashed writer's lease goes stale after `graft.lease.staleMs`
  * (default 30 s) and is taken over atomically. Reads never touch
  * the lease.
  */
object IncrementalDocArtifact {

  // ------------------------------------------------------------------
  // JVM-wide coordination. Handles are created PER CALL (stores build
  // a fresh Handle on every serve), so instance monitors cannot
  // serialize two handles of the same artifact — every lock below is
  // keyed by the artifact ROOT, shared across handle instances.
  // ------------------------------------------------------------------

  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(key: String): Object =
    rootLocks.computeIfAbsent(key, _ => new Object)

  /** Per-root MUTATION COUNTER — the serve-path cache's invalidation
    * signal. Every mutation path bumps it BEFORE its first disk write
    * (invalidate-then-mutate): a reader that observes the pre-bump
    * value reads pre-mutation disk state (correct — nothing committed
    * yet), and a reader that could observe any mutated state observes
    * the bump first and takes the uncached path. A mutation that
    * CRASHES mid-way leaves the counter ahead of every stamp, so the
    * next reconcile is a full (sweeping) one.
    */
  private val mutCounters =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
  private def counterFor(key: String): java.util.concurrent.atomic.AtomicLong =
    mutCounters.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicLong())

  /** Reconciled-clean stamp per root: proof that at mutation-count
    * `mutCount` the corpus listing hashed to `entriesHash`, the ledger
    * file had stat `(ledgerMtime, ledgerSize)`, the base versions
    * matched the footer, and the committed live generations were
    * `liveGens`. A serve re-validates all three cheap facts (counter
    * read, corpus walk it needs anyway, one ledger stat) and skips the
    * ledger parse, the orphan-sweep listings and the base-marker
    * listings entirely. The ledger stat guards the cross-process READ
    * case (another process may legitimately mutate while this one only
    * serves — its commits rewrite the ledger); in-JVM commits bump the
    * counter. Stamps are written only at the END of a fully-clean (or
    * just-mutated) reconcile, with the counter re-read under the lock.
    */
  /** `lazyPending`: whether any lazy merge piece's coverage lagged the
    * committed entries when the stamp was built — lets an up-to-date
    * lazy serve skip the per-serve pending check (its ledger parse +
    * listings) entirely. Coverage only changes inside mutation-lock
    * windows that also bump the counter, so counter-validity implies
    * this bit is current.
    */
  private final case class ReconcileStamp(mutCount: Long,
      entriesHash: String, ledgerMtime: Long, ledgerSize: Long,
      liveGens: Map[String, Seq[String]], lazyPending: Boolean)
  private val reconcileStamps =
    new java.util.concurrent.ConcurrentHashMap[String, ReconcileStamp]()

  /** Serve-path filesystem reads (ledger parses + directory listings)
    * per artifact root — observability for the cache probe/spec, not a
    * public metric.
    */
  private val fsReadCounters =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
  private[sources] def fsReadsOf(rootKey: String): Long = {
    val c = fsReadCounters.get(rootKey)
    if (c == null) 0L else c.get()
  }
  private def fsRead(rootKey: String): Unit =
    fsReadCounters.computeIfAbsent(rootKey,
      _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()

  /** Detached maintenance: auto-compactions run here so an ingest
    * tick's latency never includes a fold — the advance returns after
    * its ledger rename and the fold publishes later behind the
    * versioned pointers. Pool size defaults to 2 daemon threads and is
    * configurable via `graft.maintenance.threads` (read at class-load):
    * folds of DIFFERENT artifacts overlap up to the pool size — a
    * deployment with a dozen stores whose `compactEvery` crossings
    * burst together should size the pool so the backlog ([[Maintenance]]
    * `queueDepth`) drains between bursts. A second fold of the SAME
    * artifact dedupes via [[pendingCompact]] (single-flight per root).
    */
  private val maintenancePool =
    java.util.concurrent.Executors.newFixedThreadPool(
      // guarded parse: a malformed property degrades to the default —
      // throwing here is an ExceptionInInitializerError that kills the
      // whole artifact plane
      math.max(1, sys.props.get("graft.maintenance.threads")
        .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(2)),
      (r: Runnable) => {
        val t = new Thread(r, "graft-artifact-maintenance")
        t.setDaemon(true)
        t
      })

  /** Observability of the detached-maintenance plane — the backlog a
    * burst of simultaneous `compactEvery` crossings builds is invisible
    * in tick latency by design (that is the point of detaching), so it
    * must be visible HERE: queue depth, completion/failure counters and
    * fold durations, surfaced by the bench next to the tick latencies
    * (`maint_*` fields) and assertable in specs/probes.
    */
  object Maintenance {
    private[IncrementalDocArtifact] val completed =
      new java.util.concurrent.atomic.AtomicLong()
    private[IncrementalDocArtifact] val failed =
      new java.util.concurrent.atomic.AtomicLong()
    private[IncrementalDocArtifact] val aborted =
      new java.util.concurrent.atomic.AtomicLong()
    private[IncrementalDocArtifact] val lastMillis =
      new java.util.concurrent.atomic.AtomicLong()
    private[IncrementalDocArtifact] val maxMillis =
      new java.util.concurrent.atomic.AtomicLong()
    private[IncrementalDocArtifact] val totalMillis =
      new java.util.concurrent.atomic.AtomicLong()
    private[IncrementalDocArtifact] val peakQueueDepth =
      new java.util.concurrent.atomic.AtomicLong()

    /** Detached maintenance tasks scheduled and not yet finished
      * (running + queued behind the pool).
      */
    def queueDepth: Int = pendingCompact.size

    def snapshot: Map[String, Long] = Map(
      "folds_completed" -> completed.get(),
      "folds_failed" -> failed.get(),
      "folds_aborted" -> aborted.get(),
      "fold_last_ms" -> lastMillis.get(),
      "fold_max_ms" -> maxMillis.get(),
      "fold_total_ms" -> totalMillis.get(),
      "queue_depth" -> queueDepth.toLong,
      "queue_peak" -> peakQueueDepth.get())

    /** Zero the counters (bench/probe setup). */
    def reset(): Unit = {
      Seq(completed, failed, aborted, lastMillis, maxMillis, totalMillis,
        peakQueueDepth).foreach(_.set(0L))
    }
  }

  private val pendingCompact =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Future[_]]()

  /** Last detached-maintenance failure per artifact root — STICKY
    * until a subsequent maintenance of the same root succeeds. The
    * fire-and-forget tick path stays log-only (state is correct on
    * any failure: pointer flips are all-or-nothing, the miss just
    * means the fold did not happen and generations keep accruing),
    * but [[Handle.awaitMaintenance]] — the declared determinism hook
    * for tests, probes and shutdown — RETHROWS it, so a persistent
    * failure (e.g. disk full) surfaces programmatically instead of
    * as silent unbounded generation growth.
    */
  private val lastMaintenanceFailure =
    new java.util.concurrent.ConcurrentHashMap[String, Throwable]()

  private def scheduleCompact(key: String, body: () => Boolean): Unit = {
    pendingCompact.computeIfAbsent(key, _ =>
      maintenancePool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            if (body()) {
              lastMaintenanceFailure.remove(key) // success clears the record
              Maintenance.completed.incrementAndGet()
            } else
              // ABORTED: a rebuild/racing fold moved the bases — nothing
              // folded, nothing failed; the next trigger retries. Counts
              // neither completed (the store is still unfolded) nor
              // failed (sticky failure would mis-signal awaitMaintenance)
              Maintenance.aborted.incrementAndGet()
          } catch {
            case e: Throwable =>
              // state stays correct on any failure (pointer flips are
              // all-or-nothing); record + surface the miss and let the
              // next trigger retry
              Maintenance.failed.incrementAndGet()
              lastMaintenanceFailure.put(key, e)
              System.err.println(
                s"graft detached compaction failed for $key: $e")
          } finally {
            val ms = (System.nanoTime() - t0) / 1000000L
            Maintenance.lastMillis.set(ms)
            Maintenance.maxMillis.accumulateAndGet(ms, Math.max(_, _))
            Maintenance.totalMillis.addAndGet(ms)
            pendingCompact.remove(key)
          }
        }
      }))
    Maintenance.peakQueueDepth.accumulateAndGet(
      pendingCompact.size.toLong, Math.max(_, _))
  }

  private def awaitPending(key: String): Unit = {
    val f = pendingCompact.get(key)
    if (f != null)
      try f.get()
      catch { case _: Throwable => () } // recorded below, rethrown there
    val e = lastMaintenanceFailure.get(key)
    if (e != null)
      throw new IllegalStateException(
        s"detached maintenance failed for $key (sticky until a " +
          "subsequent maintenance of this artifact succeeds)", e)
  }

  /** Generations currently being STAGED off-lock (a detached catch-up
    * writing its delta before the ledger commit): the orphan sweep
    * must not mistake them for crash debris.
    */
  private val inFlightGens =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()

  private def registerInFlight(key: String, gen: String): Unit =
    inFlightGens.computeIfAbsent(key,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]()).add(gen)

  private def unregisterInFlight(key: String, gen: String): Unit = {
    val s = inFlightGens.get(key)
    if (s != null) s.remove(gen)
  }

  private def inFlightOf(key: String): Set[String] = {
    val s = inFlightGens.get(key)
    if (s == null) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      s.asScala.toSet
    }
  }

  /** One ADDITIVE (or, with `pinned`, TRAINED) stored piece.
    *
    * @param build  (docs-subset, ctx) → piece rows. Additive pieces
    *               must be per-doc/additive; pinned pieces always
    *               receive the WHOLE corpus (they only build at full
    *               rebuild). `ctx.stored` may read pieces declared
    *               earlier.
    * @param fold   applied to base ∪ delta at compaction (e.g. re-sort
    *               by a filter column, or collapse additive partials);
    *               identity when None
    * @param pinned built at full rebuild only; increments write no
    *               delta — the fixed-trained-artifact contract
    */
  final case class Piece(name: String,
      build: (DataFrame, AdvanceCtx) => DataFrame,
      fold: Option[DataFrame => DataFrame] = None,
      pinned: Boolean = false)

  /** One KEYED-UPSERT stored piece — a global result maintained by
    * writing only the rows an increment changed; reads resolve
    * last-writer-wins per `keyCols` by generation sequence.
    *
    * @param buildFull whole-corpus build (first build + any non-append
    *                  corpus change)
    * @param advance   increment step: returns ONLY the new/changed
    *                  keyed rows (each key at most once), computed from
    *                  [[AdvanceCtx]]'s pre-increment views. MUST be
    *                  generation-chunking invariant (one advance over a
    *                  union of appends ≡ chained per-append advances) —
    *                  lazy catch-up relies on it.
    */
  final case class MergePiece(name: String,
      keyCols: Seq[String],
      buildFull: (DataFrame, AdvanceCtx) => DataFrame,
      advance: AdvanceCtx => DataFrame)

  /** What a builder may read: the documents it must process (`newDocs`
    * is the increment's new files, or the whole corpus at full
    * rebuild) and a view of the stored pieces — pre-increment during
    * an advance (the generations being written/caught-up are excluded,
    * so a crash replay reads identical inputs), rebuilt-so-far during
    * a rebuild. It also owns the advance's scratch: frames pinned
    * through [[pin]] and values built through [[memo]] live for this
    * one advance — the engine releases them when it ends, whether
    * every piece was written or one threw.
    */
  final class AdvanceCtx private[IncrementalDocArtifact] (
      val spark: SparkSession,
      val newDocs: DataFrame,
      view: String => DataFrame,
      /** true when `newDocs` IS the whole corpus (full rebuild) —
        * lets an additive piece whose partials derive from OTHER
        * pieces' pre-increment views (e.g. delta counts vs the stored
        * rows) distinguish "everything is new" from "these files are
        * new", which the shape of `newDocs` alone cannot tell it.
        */
      val isRebuild: Boolean = false,
      baseOnlyCheck: String => Boolean = _ => false) {
    def stored(name: String): DataFrame = view(name)

    /** Whether `stored(name)` resolves to the BASE snapshot alone
      * (zero live delta generations in this ctx's pre-increment cut)
      * — the advance-side sibling of [[Handle.serveWithFoldState]]:
      * a builder whose piece is key-unique post-fold can replace its
      * re-aggregation of the stored view with scan-only merges.
      * Always true during a rebuild (deltas are cleared before the
      * builders run).
      */
    def storedBaseOnly(name: String): Boolean =
      isRebuild || baseOnlyCheck(name)

    private val pins = scala.collection.mutable.ArrayBuffer[DataFrame]()
    private val memos = scala.collection.mutable.Map[String, Any]()

    /** Eager [[graft.operators.Pin]] of a scratch frame the advance's
      * pieces share. Its blocks are the only copy of the data (the
      * lineage is cut), so nothing may touch the frame after the
      * advance ends.
      */
    def pin(df: DataFrame): DataFrame = {
      val p = Pin(df)
      synchronized(pins += p)
      p
    }

    /** `build` once per advance: every piece that asks for `key` gets
      * the first build's value (pin inside `build` to share the
      * physical work, not just the plan).
      */
    def memo[T](key: String)(build: => T): T =
      synchronized(memos.getOrElseUpdate(key, build).asInstanceOf[T])

    /** Unpersist the blocks behind every [[pin]] (non-blocking) and
      * drop the memos.
      */
    private[IncrementalDocArtifact] def release(): Unit = {
      val ps = synchronized {
        memos.clear()
        val all = pins.toList
        pins.clear()
        all
      }
      ps.foreach(_.queryExecution.analyzed.foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ => ()
      })
    }
  }

  /** `compactEvery = 8` is the measured default (SURVEY §9.20: serve
    * amplification stays ≤ ~30% for a scan-bound query through 7 live
    * generations and within noise for screen queries; the fold at the
    * 8th returns latency below the fresh build). Raise it for
    * append-heavy/read-light artifacts, 0 disables auto-compaction.
    */
  final class Handle(corpusPath: String, key: String, pieces: Seq[Piece],
      merges: Seq[MergePiece], compactEvery: Int, lazyMerges: Boolean) {

    private val allNames: Seq[String] = pieces.map(_.name) ++ merges.map(_.name)
    require(allNames.nonEmpty, "artifact needs at least one piece")
    require(allNames.distinct == allNames, "piece names must be unique")
    require(!lazyMerges || merges.nonEmpty,
      "lazyMerges without merge pieces is meaningless")

    private def root: Path =
      Paths.get(ArtifactStore.root, ArtifactStore.pathKey(corpusPath) + "_" + key)
    private lazy val rootKey: String = root.toString
    // MUTATION lock (reconcile / rebuild / every commit window) and
    // MAINTENANCE lock (catch-up + fold staging) are separate so an
    // ingest tick or additive serve never waits on a running fold:
    // maintenance holds `mlock` for its whole (possibly long) staging
    // and takes `lock` only for its short commit windows. Ordering is
    // always mlock -> lock, never the reverse — no deadlock.
    private def lock: Object = IncrementalDocArtifact.lockFor(rootKey)
    private def mlock: Object = IncrementalDocArtifact.lockFor(rootKey + "#maint")
    private def counter: java.util.concurrent.atomic.AtomicLong =
      IncrementalDocArtifact.counterFor(rootKey)
    private def statePath: Path = root.resolve("state")
    private def baseIO(piece: String): ParquetTableIO = {
      // retention: base snapshots a retained history ledger still
      // names survive the pointer cleanup (computed lazily — the
      // predicate only runs during a commit's cleanup listing)
      lazy val protectedMarkers: Set[String] =
        if (retainVersions <= 1) Set.empty
        else retainedHistory().flatMap(_.baseVersions.get(piece)).toSet
      new ParquetTableIO(root.resolve(piece).resolve("base").toString,
        keepVersionDir = n => protectedMarkers(n))
    }
    private def deltaDir(piece: String): Path =
      root.resolve(piece).resolve("delta")

    // -----------------------------------------------------------------
    // State ledger (v2): corpus DATA-file entries + `#v2` marker +
    // `#gen:<id>` committed generations + `#base:<piece>:<version>`
    // base snapshot versions. Legacy (pre-footer) states have no
    // footer: committed gens are unknowable, so every live gen is
    // treated as committed and the base check is skipped — the first
    // write under the new code converts the ledger.
    // -----------------------------------------------------------------

    private final case class LedgerState(entries: Seq[String],
        gens: Set[String], baseVersions: Map[String, String], v2: Boolean,
        ver: Long)

    /** Ledger entries track DATA files only: writers rewrite `_SUCCESS`
      * / `.crc` markers on every append, which would make a pure file
      * append look like a rewrite. Readers ignore those files.
      */
    private def isDataEntry(e: String): Boolean = {
      val rel = e.substring(0, e.indexOf('|'))
      val name = rel.substring(rel.lastIndexOf('/') + 1)
      !(name.startsWith("_") || name.startsWith("."))
    }

    private def readLedger(): LedgerState =
      if (!Files.exists(statePath))
        LedgerState(Nil, Set.empty, Map.empty, v2 = true, ver = 0L)
      else {
        IncrementalDocArtifact.fsRead(rootKey)
        parseLedger(statePath)
      }

    /** Parse one ledger file (the live `state` or an immutable
      * `_history/v<n>` copy) — the shared reader of the serve path
      * and the time-travel path.
      */
    private def parseLedger(p: Path): LedgerState = {
      val lines = Files.readAllLines(p).toArray.toSeq.map(_.toString)
        .filter(_.nonEmpty)
      val (meta, entries) = lines.partition(_.startsWith("#"))
      val gens = meta.filter(_.startsWith("#gen:"))
        .map(_.stripPrefix("#gen:")).toSet
      val bases = meta.filter(_.startsWith("#base:")).map { l =>
        val body = l.stripPrefix("#base:")
        val i = body.indexOf(':')
        body.substring(0, i) -> body.substring(i + 1)
      }.toMap
      val ver = meta.find(_.startsWith("#ver:"))
        .flatMap(l => scala.util.Try(l.stripPrefix("#ver:").toLong).toOption)
        .getOrElse(0L)
      LedgerState(entries, gens, bases, v2 = meta.contains("#v2"), ver)
    }

    /** Current base snapshot version marker per piece ("-" when the
      * piece has no published base).
      */
    private def baseMarkers(): Map[String, String] =
      allNames.map { n =>
        IncrementalDocArtifact.fsRead(rootKey)
        n -> baseIO(n).currentDir
          .map(d => Paths.get(d).getFileName.toString).getOrElse("-")
      }.toMap

    /** Atomic-rename ledger commit — THE commit point of every
      * mutation. Base versions are read from the live pointers at
      * write time. Bumps the mutation counter (and drops the
      * reconcile stamp) BEFORE the rename — the serve-cache belt on
      * top of the per-path invalidate-at-mutation-start bumps.
      *
      * Every commit gets a monotone `#ver:` number and an immutable
      * copy under `_history/v<n>` — the time-travel surface (see
      * [[Handle.serveVersion]]). The history copy lands AFTER the
      * rename: the rename is the commit point, and a crash in between
      * only costs that version its history entry (the live ledger
      * still serves it until the next commit).
      */
    private def writeLedger(entries: Seq[String], gens: Set[String]): Unit = {
      counter.incrementAndGet()
      IncrementalDocArtifact.reconcileStamps.remove(rootKey)
      val ver =
        (if (Files.exists(statePath)) parseLedger(statePath).ver else 0L) + 1L
      val footer = Seq("#v2", s"#ver:$ver") ++
        gens.toSeq.sorted.map("#gen:" + _) ++
        baseMarkers().toSeq.sortBy(_._1).map { case (p, v) => s"#base:$p:$v" }
      val tmp = statePath.resolveSibling("state.tmp")
      val content = (entries ++ footer).mkString("\n")
      Files.writeString(tmp, content)
      Files.move(tmp, statePath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      // the history copy is atomic too: a crash mid-write must not
      // leave a TRUNCATED v<n> that still parses as a smaller ledger
      // (retention would under-protect and serveVersion under-serve)
      Files.createDirectories(historyDir)
      val htmp = historyDir.resolve(s"v$ver.tmp")
      Files.writeString(htmp, content)
      Files.move(htmp, historyDir.resolve(s"v$ver"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // optional ops bound on history metadata (default: keep all,
      // mirroring PartitionedLayout — append-only artifacts stay
      // travelable to v1; vacuumVersions is the explicit reclaim):
      // graft.store.historyKeep=N prunes copies older than the newest
      // N at commit time, for long-running ingest loops where
      // O(commits x entries) ledger copies would accumulate unbounded
      sys.props.get("graft.store.historyKeep")
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
        .filter(_ >= 1).foreach { keep =>
          val floor = ver - (math.max(keep, retainVersions.toLong) - 1)
          historyVersionNums().filter(_ < floor).foreach(v =>
            Files.deleteIfExists(historyDir.resolve(s"v$v")))
        }
    }

    private def historyDir: Path = root.resolve("_history")

    private def historyVersionNums(): Seq[Long] =
      if (!Files.exists(historyDir)) Nil
      else {
        val s = Files.list(historyDir)
        try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
          .filter(_.matches("v\\d+")) // stray/tmp files are not versions
          .map(_.stripPrefix("v").toLong)
        finally s.close()
      }

    /** Time-travel DATA retention: 1 (default) = only the live
      * version's data is protected — appends stay travelable for free
      * (nothing deletes their generations until a fold) but folds,
      * rollbacks and rebuilds reclaim immediately (absorbed dirs keep
      * their one-fold grace window). N>1 protects the data of the
      * newest N versions: generation dirs a mutation would delete
      * move to `_retired/` (invisible to live reads — only `delta/`
      * is listed) and superseded base snapshots survive the pointer
      * cleanup, until they age out of the window or
      * [[vacuumVersions]] reclaims them.
      */
    private def retainVersions: Int =
      sys.props.get("graft.store.retainVersions")
        .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
        .filter(_ >= 1).getOrElse(1)

    /** Ledgers the retention knob protects at a mutation: the newest
      * retainVersions−1 EXISTING versions (the newest history copy is
      * normally the live version itself — after the mutation commits
      * version V+1, the retained window is exactly these plus the new
      * live, so anything they reference must survive the mutation's
      * GC).
      */
    private def retainedHistory(): Seq[LedgerState] = {
      val n = retainVersions - 1
      if (n <= 0) Nil
      else historyVersionNums().sorted(Ordering[Long].reverse).take(n)
        .map(v => parseLedger(historyDir.resolve(s"v$v")))
    }

    private def retiredDir(piece: String): Path =
      root.resolve(piece).resolve("_retired")

    /** Retire-or-delete a generation dir of `piece` that is leaving
      * the live set: a gen referenced by a retained history ledger
      * moves to `_retired/` (atomic rename — O(1), still invisible to
      * every live read), anything else deletes. A same-id dir already
      * retired means a deterministic replay re-produced identical
      * data — the fresh copy is redundant and deletes.
      */
    private def retireGen(piece: String, genDir: String,
        protectedGens: Set[String]): Unit = {
      val g = genDir.stripPrefix("_gen=")
      val src = deltaDir(piece).resolve("_gen=" + g)
      if (!Files.exists(src)) return
      if (protectedGens(g)) {
        Files.createDirectories(retiredDir(piece))
        val dst = retiredDir(piece).resolve("_gen=" + g)
        if (Files.exists(dst)) deleteTree(src)
        else {
          Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
          ImmutableParquet.evictUnder(src)
        }
      } else deleteTree(src)
    }

    /** GC retired generation dirs of `piece` that no retained history
      * ledger references anymore.
      */
    private def gcRetired(piece: String, protectedGens: Set[String]): Unit =
      if (Files.exists(retiredDir(piece))) {
        val s = Files.list(retiredDir(piece))
        try s.toArray.toSeq.map(_.asInstanceOf[Path])
          .filter(d => d.getFileName.toString.startsWith("_gen=") &&
            !protectedGens(d.getFileName.toString.stripPrefix("_gen=")))
          .foreach(deleteTree)
        finally s.close()
      }

    // per-generation entry lists (root/_gens/<id>) — written before the
    // ledger commit; an orphan file from a crashed advance is harmless.
    // A `#seq:<n>` header records CREATION ORDER (the pre-advance
    // covered-entry count, strictly increasing per advance): ledger
    // entries sort lexicographically by random part-file names, so
    // entry position cannot order generations — the suffix-only
    // rollback check needs this header. A `#pieces:` header names the
    // pieces the generation wrote delta dirs for (lazy appends write
    // only additive pieces; catch-ups only merge pieces) — the
    // time-travel reader needs it to distinguish "this piece never
    // had this gen" from "this piece's gen dir was GC'd".
    private def genEntriesPath(g: String): Path = root.resolve("_gens").resolve(g)

    private def writeGenEntries(g: String, entries: Seq[String],
        seq: Long, piecesWritten: Seq[String]): Unit = {
      Files.createDirectories(root.resolve("_gens"))
      Files.writeString(genEntriesPath(g),
        (Seq(s"#seq:$seq", s"#pieces:${piecesWritten.mkString(",")}") ++
          entries).mkString("\n"))
    }

    /** Pieces a generation wrote delta dirs for (the `#pieces:`
      * header); None for a pre-header generation.
      */
    private def genPieces(g: String): Option[Seq[String]] = {
      val p = genEntriesPath(g)
      if (!Files.exists(p)) None
      else Files.readAllLines(p).toArray.toSeq.map(_.toString)
        .find(_.startsWith("#pieces:"))
        .map(_.stripPrefix("#pieces:").split(',').toSeq
          .map(_.trim).filter(_.nonEmpty))
    }

    private def genEntries(g: String): Option[Seq[String]] = {
      val p = genEntriesPath(g)
      if (!Files.exists(p)) None
      else Some(Files.readAllLines(p).toArray.toSeq.map(_.toString)
        .filter(l => l.nonEmpty && !l.startsWith("#")))
    }

    /** Creation-order rank of a generation (the `#seq:` header); None
      * for a pre-header generation — its order is unknowable, so the
      * suffix check bails to the full rebuild.
      */
    private def genSeq(g: String): Option[Long] = {
      val p = genEntriesPath(g)
      if (!Files.exists(p)) None
      else Files.readAllLines(p).toArray.toSeq.map(_.toString)
        .find(_.startsWith("#seq:"))
        .flatMap(l => scala.util.Try(l.stripPrefix("#seq:").toLong).toOption)
    }

    // merge-piece coverage ledger (lazy mode): the corpus entries the
    // piece's stored result reflects. Missing file = "covered through
    // the state ledger" (eager/legacy artifacts).
    private def coveredPath(piece: String): Path =
      root.resolve(piece).resolve("covered")

    private def coveredEntries(piece: String): Option[Seq[String]] = {
      val p = coveredPath(piece)
      if (!Files.exists(p)) None
      else Some(Files.readAllLines(p).toArray.toSeq.map(_.toString)
        .filter(_.nonEmpty))
    }

    private def writeCovered(piece: String, entries: Seq[String]): Unit = {
      Files.createDirectories(root.resolve(piece))
      val tmp = coveredPath(piece).resolveSibling("covered.tmp")
      Files.writeString(tmp, entries.mkString("\n"))
      Files.move(tmp, coveredPath(piece), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    private def genId(newEntries: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      newEntries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
      md.digest().take(8).map(b => f"$b%02x").mkString
    }

    /** Gen names the CURRENT base snapshot already folded in — written
      * inside the base version dir, so the list commits atomically
      * with the base pointer flip. A gen listed here is dead even if
      * its directory still exists (its deletion is mere GC): a crash
      * between the compaction commit and the physical delete can
      * never double-count rows.
      */
    private def foldedGens(piece: String): Set[String] =
      baseIO(piece).currentDir
        .map(d => Paths.get(d).resolve("_folded_gens"))
        .filter(Files.exists(_)) match {
        case Some(m) =>
          Files.readAllLines(m).toArray.toSeq.map(_.toString)
            .filter(_.nonEmpty).toSet
        case None => Set.empty
      }

    private def gensOf(piece: String): Seq[String] = {
      val d = deltaDir(piece)
      if (!Files.exists(d)) Nil
      else {
        IncrementalDocArtifact.fsRead(rootKey)
        val folded = foldedGens(piece)
        val s = Files.list(d)
        try s.filter(_.getFileName.toString.startsWith("_gen="))
          .toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
          .filterNot(folded)
        finally s.close()
      }
    }

    private[sources] def deltaGens(): Seq[String] =
      allNames.flatMap(gensOf).distinct

    /** Drop live delta generations the ledger never committed — the
      * debris of an advance that crashed before its ledger rename. If
      * the corpus then reverted to the pre-append listing, reconcile
      * short-circuits, and without this sweep the orphan generation's
      * rows (for additive pieces extra rows; for merge pieces WRONG
      * last-writer-wins overwrites referencing docs no longer in the
      * corpus) would serve as live. v2 ledgers only — a legacy ledger
      * cannot name its committed gens.
      *
      * Dropping a merge piece's generation also rolls the piece's
      * `covered` ledger back by that generation's entry list —
      * otherwise coverage would claim entries whose rows just died and
      * the lazy catch-up would never re-advance them (every live delta
      * has its `_gens` entry list: it is written before the first delta
      * row and deleted only after fold/rebuild).
      *
      * Skipped while a LIVE foreign process holds the root's writer
      * lease: its mid-stage generation looks exactly like crash debris
      * from here (the in-flight registry is per-JVM), and deleting it
      * under the writer would corrupt its commit. Safe to skip — reads
      * serve committed generations only, so unswept debris is
      * invisible; the sweep happens on the next reconcile after the
      * foreign lease clears.
      */
    private def dropUncommittedGens(st: LedgerState): Unit =
      if (st.v2 && !WriterLease.heldByOtherProcess(root))
        allNames.foreach { n =>
        val isMerge = merges.exists(_.name == n)
        val staging = IncrementalDocArtifact.inFlightOf(rootKey)
        gensOf(n).map(_.stripPrefix("_gen="))
          .filterNot(st.gens)
          .filterNot(staging) // a detached catch-up mid-stage, not debris
          .foreach { g =>
            deleteTree(deltaDir(n).resolve("_gen=" + g))
            if (isMerge) (coveredEntries(n), genEntries(g)) match {
              case (Some(cov), Some(dead)) =>
                writeCovered(n, cov.filterNot(dead.toSet))
              case _ => ()
            }
          }
      }

    /** Committed generation ids of a v2 ledger; None on a legacy
      * ledger (its gens are unknowable — every live gen counts as
      * committed, the old code's contract).
      */
    private def committedOf(st: LedgerState): Option[Set[String]] =
      if (st.v2) Some(st.gens) else None

    /** Live gen DIRECTORIES of `piece` a read may serve: folded gens
      * are dead by marker, `exclude`d gens are the caller's
      * pre-increment cut, and — the torn-read guard — only gens the
      * COMMITTED ledger names are visible at all (`allowed`): a
      * half-written generation (crashed advance, or a detached
      * catch-up still staging) never reaches any reader's scan.
      */
    private def liveGens(piece: String, exclude: Set[String],
        allowed: Option[Set[String]]): Seq[String] =
      gensOf(piece)
        .filter(g => allowed.forall(_.contains(g.stripPrefix("_gen="))))
        .filterNot(g => exclude.contains(g.stripPrefix("_gen=")))

    /** Union scan of exactly `gens` (path-level: absorbed directories
      * are never even listed; the schemas [[writeDelta]] recorded mean
      * no footer-inference job).
      */
    private def deltaOfGens(spark: SparkSession, piece: String,
        gens: Seq[String]): Option[DataFrame] =
      if (gens.isEmpty) None
      else Some(ImmutableParquet.read(spark,
        gens.map(g => deltaDir(piece).resolve(g).toString),
        basePath = Some(deltaDir(piece).toString)).drop("_gen"))

    /** Additive piece view: base ∪ the given delta gens. */
    private def readPieceGens(spark: SparkSession, piece: String,
        gens: Seq[String]): DataFrame = {
      val base = baseIO(piece)
      val parts = Seq(
        if (base.exists) Some(base.read(spark)) else None,
        deltaOfGens(spark, piece, gens)).flatten
      parts.reduceOption(_.unionByName(_)).getOrElse(
        throw new IllegalStateException(s"no $piece artifact for $corpusPath"))
    }

    /** Merge piece view: LWW per key over base (seq −1) ∪ the given
      * delta gens. Steady state (no deltas — fresh build or
      * post-compaction) is a plain base scan: the LWW window and its
      * shuffle only exist while unfolded generations do.
      */
    private def readMergeGens(spark: SparkSession, mp: MergePiece,
        gens: Seq[String]): DataFrame = {
      val base = baseIO(mp.name)
      deltaOfGens(spark, mp.name, gens) match {
        case None =>
          if (!base.exists) throw new IllegalStateException(
            s"no ${mp.name} artifact for $corpusPath")
          base.read(spark)
        case Some(deltas) =>
          val all =
            if (base.exists)
              base.read(spark).withColumn("_seq", lit(-1L)).unionByName(deltas)
            else deltas
          lww(all, mp)
      }
    }

    /** Last-writer-wins per key by `_seq` — the merge-piece resolve,
      * shared by the live serve and the time-travel reader.
      */
    private def lww(all: DataFrame, mp: MergePiece): DataFrame = {
      val w = Window.partitionBy(mp.keyCols.map(col): _*)
        .orderBy(col("_seq").desc)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn", "_seq")
    }

    /** Reader factory: the committed-gen set is read ONCE from the
      * ledger here, so every view served through the returned function
      * sees one consistent committed cut.
      */
    private def view(spark: SparkSession,
        exclude: Set[String]): String => DataFrame =
      viewWith(spark, exclude, committedOf(readLedger()))

    /** [[view]] with the committed cut PINNED by the caller — the
      * off-lock catch-up must read views against its SNAPSHOT's
      * committed set: a generation committed by a concurrent append
      * mid-catch-up must not leak into what is contractually the
      * piece's PRE-increment view (the builders evaluate these lazily,
      * possibly long after the snapshot was taken).
      */
    private def viewWith(spark: SparkSession, exclude: Set[String],
        allowed: Option[Set[String]]): String => DataFrame = {
      name =>
        merges.find(_.name == name) match {
          case Some(mp) =>
            readMergeGens(spark, mp, liveGens(mp.name, exclude, allowed))
          case None =>
            readPieceGens(spark, name, liveGens(name, exclude, allowed))
        }
    }

    private def writeDelta(df: DataFrame, piece: String, gen: String): Unit = {
      val out = df.withColumn("_gen", lit(gen))
      out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_gen")
        .parquet(deltaDir(piece).toString)
      ImmutableParquet.record(deltaDir(piece).resolve("_gen=" + gen).toString,
        out.drop("_gen").schema)
    }

    // -----------------------------------------------------------------
    // Serve-path reconcile cache: a hot artifact (the composed screen
    // front door touches five stores per batch) must not pay a ledger
    // parse + 3N directory listings per serve when NOTHING moved. The
    // stamp proves the last reconcile was clean; re-validation costs
    // the corpus walk (needed anyway — it IS the external-staleness
    // check), one counter read and one ledger stat. Invalidation is
    // the mutation counter (bumped before any in-JVM mutation's first
    // visible write) plus the ledger stat (a foreign process's commits
    // rewrite the ledger file). See [[ReconcileStamp]].
    // -----------------------------------------------------------------

    private def ledgerStat(): (Long, Long) =
      if (!Files.exists(statePath)) (-1L, -1L)
      else (Files.getLastModifiedTime(statePath).toMillis,
        Files.size(statePath))

    private def stampValid(s: IncrementalDocArtifact.ReconcileStamp,
        curHash: String): Boolean =
      s.mutCount == counter.get() && s.entriesHash == curHash &&
        (s.ledgerMtime, s.ledgerSize) == ledgerStat()

    /** Build + install the stamp for a state just verified (or just
      * made) clean; caller holds `lock` and passes the FINAL ledger
      * state (no re-parse of the file reconcileLocked just read or
      * wrote).
      */
    private def recordStamp(curHash: String, st: LedgerState)
        : IncrementalDocArtifact.ReconcileStamp = {
      val allowed = committedOf(st)
      val lg = allNames.map(n => n -> liveGens(n, Set.empty, allowed)).toMap
      val (m, sz) = ledgerStat()
      val lazyPending = lazyMerges && merges.exists { mp =>
        val covered = coveredEntries(mp.name).getOrElse(st.entries).toSet
        st.entries.exists(e => !covered(e))
      }
      val s = IncrementalDocArtifact.ReconcileStamp(
        counter.get(), curHash, m, sz, lg, lazyPending)
      IncrementalDocArtifact.reconcileStamps.put(rootKey, s)
      s
    }

    private def reconcile(spark: SparkSession)
        : IncrementalDocArtifact.ReconcileStamp = {
      val stamp = lock.synchronized {
        val current = ArtifactStore.entries(corpusPath).filter(isDataEntry)
        val curHash = genId(current)
        val cached = IncrementalDocArtifact.reconcileStamps.get(rootKey)
        if (cached != null && stampValid(cached, curHash)) cached
        else recordStamp(curHash, reconcileLocked(spark, current))
      }
      // auto-compaction is DETACHED: the tick returns after its ledger
      // commit; the fold (and, in lazy mode, the deferred merge
      // catch-up it must run first) happens on the maintenance pool
      // behind the versioned pointers — a tick's latency never
      // includes a fold. The trigger check reads the stamp's committed
      // live gens — no extra listings on the fast path.
      if (compactEvery > 0 && stamp.liveGens.valuesIterator.flatten
          .toSet.size >= compactEvery)
        IncrementalDocArtifact.scheduleCompact(rootKey, () => compactReturning(spark))
      stamp
    }

    /** The full reconcile body (sweep, compare, mutate); caller holds
      * `lock`. Returns the FINAL ledger state — post-mutation when one
      * ran — so the stamp needn't re-parse the file it just wrote.
      *
      * The divergence check runs TWICE: once lease-free (the serve
      * path must not touch the lease when nothing diverged), and again
      * UNDER the writer lease before mutating — the pre-lease read is
      * a stale decision if a foreign process committed between the
      * check and the lease acquisition (its commits rewrote the ledger
      * this decision was made from). A re-check that comes back clean
      * means exactly that — the foreign writer already did the work.
      */
    private def reconcileLocked(spark: SparkSession,
        current: Seq[String]): LedgerState = {
      def check(): (LedgerState, Boolean) = {
        val st = readLedger()
        dropUncommittedGens(st)
        // base-version check: a rebuild that crashed before its ledger
        // rename (then the corpus reverted) left poisoned bases behind
        // a matching ledger — the recorded versions disagree, rebuild
        (st, st.entries == current &&
          (!st.v2 || st.baseVersions == baseMarkers()))
      }
      val (st0, clean0) = check()
      if (clean0) st0
      else WriterLease.withLease(root, "artifact advance") {
        // invalidate BEFORE the first write: a crashed mutation must
        // leave the counter ahead of every stamp
        counter.incrementAndGet()
        IncrementalDocArtifact.reconcileStamps.remove(rootKey)
        val (st, clean) = check() // re-decide under the lease
        if (clean) st
        else {
          val currentSet = current.toSet
          val newEntries = current.filterNot(st.entries.toSet)
          val appendOnly = st.entries.nonEmpty && st.entries.forall(currentSet) &&
            newEntries.nonEmpty
          val removalOnly = current.nonEmpty && newEntries.isEmpty &&
            st.entries.exists(e => !currentSet(e))
          // committed gens carried into the next ledger write; a legacy
          // ledger commits every live gen (they were all committed by
          // the old code's contract)
          val carriedGens =
            if (st.v2) st.gens
            else deltaGens().map(_.stripPrefix("_gen=")).toSet

          if (st.entries == current) {
            // only the base-version check failed → heal by full rebuild
            rebuildAll(spark, current)
            LedgerState(current, Set.empty, Map.empty, v2 = true, ver = 0L)
          } else if (appendOnly) {
            val corpusRoot = Paths.get(corpusPath)
            val newFiles = newEntries.map(e =>
              corpusRoot.resolve(e.split('|').head).toString)
            val newDocs = ImmutableParquet.read(spark, newFiles)
            val gen = genId(newEntries)
            // seq = covered-file count before this increment: strictly
            // increasing across appends, deterministic under replay
            val seq = st.entries.size.toLong
            val allowed0 = committedOf(st)
            val ctx = new AdvanceCtx(spark, newDocs, view(spark, Set(gen)),
              isRebuild = false,
              baseOnlyCheck =
                n => liveGens(n, Set(gen), allowed0).isEmpty)
            val written =
              (if (lazyMerges) Nil else merges.map(_.name)) ++
                pieces.filterNot(_.pinned).map(_.name)
            writeGenEntries(gen, newEntries, seq, written)
            try {
              if (lazyMerges)
                // merge pieces stay behind; pin their coverage at the
                // pre-append ledger if this is their first lazy skip
                merges.foreach(mp => if (coveredEntries(mp.name).isEmpty)
                  writeCovered(mp.name, st.entries))
              else
                merges.foreach(mp => writeDelta(
                  mp.advance(ctx).withColumn("_seq", lit(seq)), mp.name, gen))
              // additive pieces read only newDocs and the pre-increment
              // views, never each other's new gen: their writes overlap
              // (a per-batch advance is latency-bound small jobs)
              graft.operators.SyncRunner.concurrently(spark, pieces.filterNot(_.pinned)
                .map(p => () => writeDelta(p.build(newDocs, ctx), p.name, gen))).foreach(_.get)
            } finally ctx.release()
            // refresh #pieces to what actually materialized: an EMPTY
            // delta writes no partition dir (partitionBy writes
            // nothing for zero rows), and the time-travel reader must
            // not mistake "never had rows" for "GC'd past retention"
            writeGenEntries(gen, newEntries, seq,
              written.filter(n =>
                Files.exists(deltaDir(n).resolve("_gen=" + gen))))
            // ledger advance is the commit point — atomic rename, last
            writeLedger(current, carriedGens + gen)
            if (!lazyMerges)
              merges.foreach(mp => writeCovered(mp.name, current))
            LedgerState(current, carriedGens + gen, Map.empty, v2 = true, ver = 0L)
          } else {
            val rolled =
              if (removalOnly) rollback(st, current) else None
            rolled match {
              case Some(dropped) =>
                LedgerState(current, st.gens -- dropped, Map.empty, v2 = true, ver = 0L)
              case None =>
                rebuildAll(spark, current)
                LedgerState(current, Set.empty, Map.empty, v2 = true, ver = 0L)
            }
          }
        }
      }
    }

    /** BATCH ROLLBACK — the O(dropped) path for a removal-only corpus
      * change that retracts exactly the files ingested since the last
      * fold point. The base+delta design makes this free: everything
      * appended after a fold lives ONLY in live delta generations, so
      * if the removed files are exactly the union of the generations a
      * piece holds live, dropping those generations restores the
      * piece bit-identically to its pre-append state — additive rows
      * die with their generations, merge rows' LWW resolves back to
      * the pre-increment values the dropped advances were computed
      * FROM, and pinned pieces (built at rebuild, not at append) are
      * untouched by contract. The ops story is the bad-batch retract:
      * a poisoned ingest discovered within the `compactEvery` window
      * rolls back in O(1) instead of an O(corpus) rebuild
      * (`compactEvery = 0` keeps the whole append history
      * retractable).
      *
      * Sound ONLY when, for every piece, the removed entries that the
      * piece's data reflects are exactly covered by whole live
      * generations (per piece — lazy merges may hold them chunked
      * differently, or not at all if never caught up): a removed
      * entry folded into any base, or interleaved inside a kept
      * generation, fails the check and the caller falls back to the
      * full rebuild. AND only when the dropped generations form a
      * contiguous SUFFIX of the piece's live generations in creation
      * order (no kept live generation may be NEWER than a dropped
      * one): generation data can derive from the pre-increment stored
      * state — a delta-partial piece encodes `post − pre` against
      * base + ALL earlier generations, and a merge advance computes
      * its changed rows FROM the earlier generations' view — so a
      * kept generation created after a dropped one still encodes the
      * dropped rows' influence (e.g. base {x}, gen1 adds y, gen2 adds
      * z: gen2's pair delta contains (y,z); retracting gen1 alone
      * would keep serving a (y,z) edge that no longer exists).
      * Dropping only suffixes restores bit-exactly the state before
      * the dropped appends, for EVERY builder shape, because no kept
      * data was ever computed in their presence. Returns whether the
      * rollback applied. Caller
      * holds `lock` + the writer lease; commit order drop-deltas →
      * coverage → ledger rename mirrors the orphan-sweep rollback
      * (crash mid-way leaves a ledger that still mismatches, so the
      * next reconcile rebuilds). Returns the dropped generation ids,
      * or None when the rollback doesn't apply (caller rebuilds).
      * PINNED pieces are exempt from the check: they are built at
      * rebuild only and keep their trained artifact across appends by
      * contract — a retract leaves them exactly as stale as the
      * appends did, measured by their drift gates.
      */
    private def rollback(st: LedgerState,
        current: Seq[String]): Option[Set[String]] = {
      if (!st.v2) return None // legacy ledger: gen provenance unknowable
      val removed = st.entries.toSet -- current.toSet
      val committed = st.gens
      val checkNames =
        pieces.filterNot(_.pinned).map(_.name) ++ merges.map(_.name)
      // per piece: the live committed gens whose entry lists are fully
      // inside the removed set (droppable), and whether they account
      // for EVERY removed entry the piece's data reflects
      val plan = checkNames.map { n =>
        val dataBearing: Set[String] =
          if (merges.exists(_.name == n))
            coveredEntries(n).getOrElse(st.entries).toSet
          else st.entries.toSet
        val live = gensOf(n).map(_.stripPrefix("_gen="))
          .filter(committed)
        val withEntries = live.map(g => g -> genEntries(g))
        // a live gen with no recorded entry list cannot prove its
        // provenance — bail
        if (withEntries.exists(_._2.isEmpty)) return None
        val droppable = withEntries
          .map { case (g, es) => g -> es.get.toSet }
          .filter { case (_, es) => es.nonEmpty && es.subsetOf(removed) }
        val accounted = droppable.iterator.flatMap(_._2).toSet
        // kept live gens must not touch the removed set (no partial
        // generation can be rolled back), and every removed entry the
        // piece reflects must be accounted for by dropped generations
        val keptTouchRemoved = withEntries.exists { case (g, es) =>
          !droppable.exists(_._1 == g) && es.get.exists(removed)
        }
        if (keptTouchRemoved || (removed & dataBearing) != accounted)
          return None
        // SUFFIX rule: no kept live gen may be newer (by the `#seq:`
        // creation-order header) than a dropped one — kept data
        // computed AFTER a dropped append can encode the dropped
        // rows' influence (delta partials against stored state, merge
        // advances against pre-increment views); only a clean suffix
        // retract restores the exact prior state. An intermediate-
        // generation retract — and any gen whose creation order is
        // unknowable (pre-header) — falls back to full rebuild.
        val dropIds = droppable.map(_._1).toSet
        val liveSeqs = live.map(g => g -> genSeq(g))
        if (liveSeqs.exists(_._2.isEmpty)) return None
        val newestKept = liveSeqs
          .collect { case (g, Some(s)) if !dropIds(g) => s }
          .maxOption.getOrElse(Long.MinValue)
        val oldestDropped = liveSeqs
          .collect { case (g, Some(s)) if dropIds(g) => s }
          .minOption.getOrElse(Long.MaxValue)
        if (newestKept > oldestDropped) return None
        n -> droppable.map(_._1)
      }
      // apply: drop the generations (retiring what retained history
      // still serves — the pre-rollback version is the newest
      // retained ledger, so under retention the bad batch stays
      // travelable until it ages out), roll coverage back, commit
      val protectedG = retainedHistory().flatMap(_.gens).toSet
      plan.foreach { case (n, gens) =>
        gens.foreach(g => retireGen(n, g, protectedG))
        if (merges.exists(_.name == n)) coveredEntries(n).foreach(cov =>
          writeCovered(n, cov.filterNot(removed)))
      }
      val droppedAll = plan.iterator.flatMap(_._2).toSet
      droppedAll.filterNot(protectedG).foreach(g =>
        Files.deleteIfExists(genEntriesPath(g)))
      writeLedger(current, st.gens -- droppedAll)
      Some(droppedAll)
    }

    /** Schedule a detached compaction when the live-generation count
      * crossed `compactEvery`. Single-flight per artifact root; the
      * explicit [[compact]] stays synchronous for offline use.
      */
    private def maybeCompactDetached(spark: SparkSession): Unit =
      if (compactEvery > 0 && deltaGens().size >= compactEvery)
        IncrementalDocArtifact.scheduleCompact(rootKey, () => compactReturning(spark))

    /** Block until any in-flight detached compaction of THIS artifact
      * finishes — the determinism hook for tests, probes and
      * latency-sensitive shutdown paths.
      */
    def awaitMaintenance(): Unit =
      IncrementalDocArtifact.awaitPending(rootKey)

    /** Queue a detached fold NOW, regardless of the cadence
      * threshold — the reaction hook for a consumer whose own gauge
      * sees unfolded state drifting past its budget (the accept
      * loop's distributed-tail path): same single-flight discipline
      * and maintenance pool as the cadence trigger, so a repeated
      * call while one fold is in flight is a no-op. Honors
      * `compactEvery = 0` (folding explicitly disabled — e.g. a
      * probe simulating a stalled maintenance plane) by doing
      * nothing.
      */
    def compactDetached(spark: SparkSession): Unit =
      if (compactEvery > 0)
        IncrementalDocArtifact.scheduleCompact(rootKey,
          () => compactReturning(spark))

    private def rebuildAll(spark: SparkSession, current: Seq[String]): Unit = lock.synchronized {
      WriterLease.withLease(root, "artifact rebuild") {
      counter.incrementAndGet() // invalidate before the first delete
      IncrementalDocArtifact.reconcileStamps.remove(rootKey)
      // stale deltas go FIRST so rebuild-order reads (a later piece
      // reading an earlier one through ctx) see only rebuilt bases.
      // Under retention, gens a retained history version serves retire
      // instead of dying (their metadata survives with them).
      val protectedG = retainedHistory().flatMap(_.gens).toSet
      allNames.foreach { n =>
        if (Files.exists(deltaDir(n))) {
          val s = Files.list(deltaDir(n))
          try s.toArray.toSeq.map(_.asInstanceOf[Path])
            .map(_.getFileName.toString).filter(_.startsWith("_gen="))
            .foreach(g => retireGen(n, g, protectedG))
          finally s.close()
        }
        deleteTree(deltaDir(n))
      }
      if (protectedG.isEmpty) deleteTree(root.resolve("_gens"))
      else if (Files.exists(root.resolve("_gens"))) {
        val s = Files.list(root.resolve("_gens"))
        try s.toArray.toSeq.map(_.asInstanceOf[Path])
          .filterNot(f => protectedG(f.getFileName.toString))
          .foreach(f => Files.deleteIfExists(f))
        finally s.close()
      }
      val docs = spark.read.parquet(corpusPath)
      val ctx = new AdvanceCtx(spark, docs, view(spark, Set.empty),
        isRebuild = true)
      try {
        pieces.foreach(p => baseIO(p.name).overwrite(p.build(docs, ctx)))
        merges.foreach(mp => baseIO(mp.name).overwrite(mp.buildFull(docs, ctx)))
      } finally ctx.release()
      // coverage BEFORE the ledger commit: a crash in between leaves a
      // ledger that still mismatches (entries or base versions), so
      // the next reconcile rebuilds again — never a silently-ahead
      // coverage behind a committed ledger
      merges.foreach(mp => writeCovered(mp.name, current))
      writeLedger(current, Set.empty)
      }
    }

    /** Advance every lazy merge piece through the committed entries it
      * has not yet reflected, as ONE combined increment (sound by the
      * generation-chunking invariance of [[MergePiece.advance]]).
      * Pre-increment views exclude the committed generations the piece
      * has not covered plus the catch-up generation being written —
      * one uniform exclusion set: pending additive gens exist only in
      * additive pieces, the catch-up gen only in merge pieces.
      * Deterministic under replay (gen id and seq derive from the
      * pending entry list alone); commit order delta → ledger →
      * coverage makes every crash window either a droppable orphan or
      * an idempotent re-advance.
      *
      * The expensive part (the advance jobs + delta writes) stages
      * OFF the mutation lock: ingest ticks and additive serves proceed
      * concurrently (the half-written generation is invisible to them
      * — reads serve committed gens only — and the in-flight
      * registration keeps a concurrent tick's orphan sweep off it).
      * The ledger commit re-reads current state under the lock and
      * ABORTS (dropping the staged generation) if a rebuild or fold
      * moved the bases out from under the advance's views.
      */
    /** Pending-catch-up snapshot, taken under the MUTATION lock only:
      * the ledger, plus merge pieces grouped by the committed entries
      * they have not yet reflected (normally all equal). None when
      * nothing is pending.
      */
    private def pendingMergeWork()
        : Option[(LedgerState, Seq[(Seq[String], Seq[MergePiece])])] =
      lock.synchronized {
        val st = readLedger()
        dropUncommittedGens(st)
        if (st.entries.isEmpty) None
        else {
          // group pieces by their pending entries (normally all equal)
          val groups = merges.groupBy { mp =>
            val covered = coveredEntries(mp.name).getOrElse(st.entries).toSet
            st.entries.filterNot(covered)
          }.filter(_._1.nonEmpty).toSeq
          if (groups.isEmpty) None else Some((st, groups))
        }
      }

    private def catchUpMerges(spark: SparkSession,
        stamp: Option[IncrementalDocArtifact.ReconcileStamp]): Unit = {
      if (merges.isEmpty) return
      // Stamped fast path: a counter-valid stamp that recorded no
      // lagging coverage proves there is nothing to catch up — zero
      // reads (coverage only changes in counter-bumping lock windows).
      stamp match {
        case Some(s) if !s.lazyPending && s.mutCount == counter.get() =>
          return
        case _ => ()
      }
      // No-pending fast path OFF the maintenance lock: a running
      // detached fold holds `mlock` across its long unlocked staging
      // phase, but the pending check needs only the mutation lock's
      // short window — so a serve of an up-to-date merge piece never
      // waits on a fold (the documented serve-concurrency contract).
      // A serve with GENUINELY pending catch-up work must still wait
      // for the fold: the catch-up's gen-level exclusion cannot run
      // concurrently with a fold absorbing those same generations.
      if (pendingMergeWork().isEmpty) return
      mlock.synchronized { catchUpMergesLocked(spark) }
    }

    /** The catch-up body; caller holds `mlock`. The snapshot is
      * (re)taken HERE, under the maintenance lock — the fast path's
      * pre-check result is discarded because a fold that ran between
      * the check and the lock acquisition may have changed what is
      * pending.
      */
    private def catchUpMergesLocked(spark: SparkSession): Unit = {
      val snap = pendingMergeWork()
      snap.foreach { case (st, groups) =>
        WriterLease.withLease(root, "lazy merge catch-up") {
        val entrySet = st.entries.toSet
        var gens = st.gens
        groups.foreach { case (pending, mps) =>
          val gen = genId(pending)
          val pendingSet = pending.toSet
          val coveredSet = entrySet -- pendingSet
          // exclude: committed gens not fully covered by this group
          // (additive gens of the pending appends, and — in crash-skew
          // replays — an already-committed catch-up gen of a piece that
          // got ahead) + the gen being written
          val exclude = gens.filter(g => genEntries(g) match {
            case Some(es) => !es.forall(coveredSet)
            case None => false // legacy gen: predates lazy mode, covered
          }) + gen
          val corpusRoot = Paths.get(corpusPath)
          val newFiles = pending.map(e =>
            corpusRoot.resolve(e.split('|').head).toString)
          val newDocs = ImmutableParquet.read(spark, newFiles)
          val seq = coveredSet.size.toLong
          // views pinned to the SNAPSHOT's committed cut (st), not the
          // live ledger: gens committed concurrently with this staging
          // stay invisible to the pre-increment views
          val ctx = new AdvanceCtx(spark, newDocs,
            viewWith(spark, exclude, committedOf(st)),
            isRebuild = false,
            baseOnlyCheck =
              n => liveGens(n, exclude, committedOf(st)).isEmpty)
          IncrementalDocArtifact.registerInFlight(rootKey, gen)
          try {
            writeGenEntries(gen, pending, seq, mps.map(_.name))
            try mps.foreach(mp => writeDelta(
              mp.advance(ctx).withColumn("_seq", lit(seq)), mp.name, gen))
            finally ctx.release()
            // refresh #pieces to what actually materialized (an empty
            // advance writes no dir — see the append-path note)
            writeGenEntries(gen, pending, seq,
              mps.map(_.name).filter(n =>
                Files.exists(deltaDir(n).resolve("_gen=" + gen))))
            val committed = lock.synchronized {
              val cur = readLedger()
              val ok = cur.baseVersions == st.baseVersions &&
                st.entries.forall(cur.entries.toSet)
              if (ok) {
                gens = cur.gens + gen
                writeLedger(cur.entries, gens)
                mps.foreach(mp => writeCovered(mp.name, st.entries))
              }
              ok
            }
            if (!committed) {
              // a rebuild (or a fold racing an explicit compact) moved
              // the state this advance read — its rows describe a world
              // that no longer exists; drop them and let the next read
              // catch up against the new state
              mps.foreach(mp =>
                deleteTree(deltaDir(mp.name).resolve("_gen=" + gen)))
              Files.deleteIfExists(genEntriesPath(gen))
              return
            }
          } finally IncrementalDocArtifact.unregisterInFlight(rootKey, gen)
        }
        }
      }
    }

    /** Fold every COMMITTED delta generation into the base snapshots.
      * CRASH ATOMIC: the list of folded gens is written INSIDE the
      * staged base version, so it publishes in the same atomic pointer
      * flip as the folded data — a crash at any point leaves either
      * the old state (pointer unflipped, deltas live) or the new state
      * (pointer flipped, absorbed gens dead by marker even if their
      * directories survive). Physical deletion of absorbed gens is
      * garbage collection, re-attempted at the start of every
      * compaction. Lazy merges catch up FIRST: folding an additive
      * generation a merge piece has not reflected would break the
      * gen-level exclusion its catch-up views need.
      *
      * The fold jobs (the expensive part) stage OFF the mutation lock
      * against a SNAPSHOT of the committed generations: concurrent
      * ticks and serves proceed against base + live gens throughout.
      * The commit window re-takes the lock, verifies no rebuild (or
      * racing fold) moved the base pointers since the snapshot —
      * aborting the staged versions if one did — then flips every
      * pointer and re-commits the ledger footer. Generations committed
      * DURING the fold simply stay live: they are not in any
      * `_folded_gens` marker, so the post-commit reads serve
      * newBase ∪ remaining-gens, exactly a fold that never saw them.
      */
    def compact(spark: SparkSession): Unit = { compactReturning(spark); () }

    /** [[compact]] returning whether the pass left nothing pending by
      * its own doing: true = folded-and-committed or nothing to fold;
      * false = ABORTED in phase 3 (a rebuild or racing fold moved the
      * bases) — nothing was folded, the next trigger must retry. Only
      * a true pass may clear the sticky detached-failure record or
      * count as a completed fold: an aborted pass that cleared it
      * would make `awaitMaintenance` report success over a store that
      * is still unfolded.
      */
    private[sources] def compactReturning(spark: SparkSession): Boolean = mlock.synchronized {
      WriterLease.withLease(root, "artifact fold") {
      var committedOk = true
      if (lazyMerges) catchUpMergesLocked(spark)
      // phase 1 (locked, short): sweep crash debris, GC absorbed
      // directories a previous compaction failed to delete (they are
      // dead by marker; remove before the marker is superseded, or
      // they would resurface as live gens), snapshot what to fold
      val snap = lock.synchronized {
        val st0 = readLedger()
        dropUncommittedGens(st0)
        val protectedG = retainedHistory().flatMap(_.gens).toSet
        allNames.foreach { n =>
          // absorbed dirs past their grace window: retire the ones a
          // retained history version still serves, delete the rest;
          // previously-retired dirs that aged out of the window GC too
          foldedGens(n).foreach(g => retireGen(n, g, protectedG))
          gcRetired(n, protectedG)
        }
        val allowed = committedOf(st0)
        val byPiece = allNames.map(n =>
          n -> liveGens(n, Set.empty, allowed)).toMap
        if (byPiece.valuesIterator.forall(_.isEmpty)) None
        else Some((byPiece, baseMarkers()))
      }
      snap.foreach { case (byPiece, markers0) =>
        // phase 2 (unlocked): stage the folded snapshots — reads pin
        // to exactly the snapshot gens, so concurrent commits cannot
        // leak into the fold
        def stageFold(io: ParquetTableIO, df: DataFrame,
            folded: Seq[String]): (() => Unit, () => Unit) = {
          val staged = io.stage()
          df.write.mode("overwrite").parquet(staged.vDir.toString)
          ImmutableParquet.record(staged.vDir.toString, df.schema)
          Files.writeString(staged.vDir.resolve("_folded_gens"),
            folded.mkString("\n"))
          (() => io.commitStaged(staged), () => io.abortStaged(staged))
        }
        val stagedPieces = pieces.map { p =>
          val gens = byPiece(p.name)
          val merged = readPieceGens(spark, p.name, gens)
          stageFold(baseIO(p.name),
            p.fold.map(_(merged)).getOrElse(merged), gens)
        } ++ merges.map { mp =>
          stageFold(baseIO(mp.name),
            readMergeGens(spark, mp, byPiece(mp.name)), byPiece(mp.name))
        }
        // phase 3 (locked, short): verify, flip, GC, re-commit footer
        lock.synchronized {
          if (baseMarkers() != markers0) {
            // a rebuild (or a racing fold) republished some base since
            // the snapshot — the staged versions describe a dead state
            committedOk = false
            stagedPieces.foreach { case (_, abort) => abort() }
          } else {
            // invalidate before the first pointer flip: a stamped view
            // must never pair a fresh (folded) base with stale gen
            // listings
            counter.incrementAndGet()
            IncrementalDocArtifact.reconcileStamps.remove(rootKey)
            stagedPieces.foreach { case (commit, _) => commit() }
            // absorbed gen directories are NOT deleted here: they are
            // dead by marker for every NEW listing, but an in-flight
            // reader (a plan built just before the flip, possibly on
            // another thread — the fold is detached) may still scan
            // them against the pre-flip base it resolved. They survive
            // as a one-fold grace window — the same discipline as the
            // base pointer's previous-version retention — and the
            // NEXT compaction's phase-1 sweep garbage-collects them.
            // base versions changed under the committed ledger —
            // re-commit the footer, pruning gens no longer live
            // anywhere (their data is folded; their directories are
            // dead by marker and the next sweep GCs them). A crash
            // before this rename heals by full rebuild on the next
            // reconcile.
            val st = readLedger()
            if (st.entries.nonEmpty) {
              val live = deltaGens().map(_.stripPrefix("_gen=")).toSet
              writeLedger(st.entries, st.gens.intersect(live))
              // gen metadata of absorbed gens: keep what a retained
              // history version (or a retired dir) still describes
              val keep = retainedHistory().flatMap(_.gens).toSet
              st.gens.diff(live).filterNot(keep).foreach(g =>
                Files.deleteIfExists(genEntriesPath(g)))
            }
          }
        }
      }
      // an explicit (synchronous) compact that COMMITS (or had nothing
      // to fold) clears the sticky detached-failure record too — ops
      // fixed the cause and folded by hand; an ABORTED pass folded
      // nothing and must leave the record standing
      if (committedOk)
        IncrementalDocArtifact.lastMaintenanceFailure.remove(rootKey)
      committedOk
      }
    }

    /** Force a full rebuild under the current corpus (drops every
      * delta generation) — the offline refresh hook of pinned /
      * generation-pinned artifacts (codebooks, pinned-idf features).
      */
    def rebuild(spark: SparkSession): Unit = {
      val current = ArtifactStore.entries(corpusPath).filter(isDataEntry)
      rebuildAll(spark, current)
    }

    /** Every version addressable by [[serveVersion]], ascending —
      * history copies plus the live ledger (their data may or may not
      * still exist; serveVersion checks at serve time).
      */
    def versions(): Seq[Long] = {
      val live =
        if (Files.exists(statePath)) Some(parseLedger(statePath).ver)
        else None
      (historyVersionNums() ++ live).distinct.sorted.filter(_ > 0)
    }

    /** TIME TRAVEL: serve `piece` exactly as ledger version `version`
      * committed it — the reproducible-training-data hook ("which
      * corpus view built the artifacts that trained model X"). Lock-
      * and lease-free like [[serve]]'s read path: history ledgers are
      * immutable and the dirs they reference are either live,
      * retired, or gone (refused with the actual cause).
      *
      * Reach mirrors `PartitionedLayout.readVersion`: across APPENDS
      * travel is free until a fold absorbs the generations (appends
      * only add generation dirs and never move a base pointer);
      * across folds / rollbacks / rebuilds the reach is
      * `graft.store.retainVersions` (default 1 — data leaves with the
      * mutation, modulo the absorbed dirs' standing one-fold grace
      * window), reclaimed early by [[vacuumVersions]]. A version
      * whose base snapshot or generation dirs were garbage-collected
      * refuses with the cause rather than failing the scan. Pinned
      * pieces serve the base snapshot that version's ledger recorded
      * — the trained-artifact version the corpus view was paired
      * with.
      */
    def serveVersion(spark: SparkSession, piece: String,
        version: Long): DataFrame = {
      require(allNames.contains(piece), s"unknown piece $piece")
      val histPath = historyDir.resolve(s"v$version")
      val st =
        if (Files.exists(histPath)) parseLedger(histPath)
        else if (Files.exists(statePath) &&
            parseLedger(statePath).ver == version)
          parseLedger(statePath)
        else throw new IllegalArgumentException(
          s"artifact $rootKey has no version $version " +
            s"(available: ${versions().mkString(", ")})")
      def gone(what: String): Nothing = throw new IllegalStateException(
        s"artifact version $version of $rootKey/$piece is no longer " +
          s"servable: $what was garbage-collected past retention " +
          "(raise -Dgraft.store.retainVersions before the " +
          "fold/rollback/rebuild that dropped it, or vacuum less " +
          "aggressively)")
      val marker = st.baseVersions.getOrElse(piece, "-")
      val baseDir =
        if (marker == "-") None
        else {
          val d = root.resolve(piece).resolve("base").resolve(marker)
          if (!Files.exists(d)) gone(s"base snapshot $marker")
          Some(d)
        }
      val folded: Set[String] = baseDir
        .map(_.resolve("_folded_gens")).filter(Files.exists(_))
        .map(m => Files.readAllLines(m).toArray.toSeq.map(_.toString)
          .filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
      // the version's live gens that carried THIS piece: the #pieces
      // header knows; a gen whose header is gone cannot distinguish
      // never-written from GC'd — if a dir exists it serves, and if
      // NEITHER metadata nor dir survives the gen REFUSES rather than
      // silently dropping out (serving v_n minus a generation labeled
      // as v_n would be partial data presented as a committed version
      // — conservative refusal even when the gen might never have
      // carried this piece)
      val gens = st.gens.toSeq.sorted.filterNot(folded).filter { g =>
        genPieces(g) match {
          case Some(ps) => ps.contains(piece)
          case None =>
            val present =
              Files.exists(deltaDir(piece).resolve("_gen=" + g)) ||
                Files.exists(retiredDir(piece).resolve("_gen=" + g))
            if (!present) gone(s"generation $g (its metadata and data)")
            present
        }
      }
      val genDirs = gens.map { g =>
        val liveD = deltaDir(piece).resolve("_gen=" + g)
        val retD = retiredDir(piece).resolve("_gen=" + g)
        if (Files.exists(liveD)) liveD
        else if (Files.exists(retD)) retD
        else gone(s"generation $g")
      }
      val baseDf = baseDir.map(d => ImmutableParquet.read(spark, Seq(d.toString)))
      val deltaDf =
        if (genDirs.isEmpty) None
        else Some(genDirs.map(d => ImmutableParquet.read(spark, Seq(d.toString)))
          .reduce(_.unionByName(_)).drop("_gen"))
      merges.find(_.name == piece) match {
        case Some(mp) =>
          deltaDf match {
            case None => baseDf.getOrElse(
              throw new IllegalStateException(
                s"version $version of $piece has no data"))
            case Some(ds) =>
              lww(baseDf.map(_.withColumn("_seq", lit(-1L))
                .unionByName(ds)).getOrElse(ds), mp)
          }
        case None =>
          Seq(baseDf, deltaDf).flatten.reduceOption(_.unionByName(_))
            .getOrElse(throw new IllegalStateException(
              s"version $version of $piece has no data"))
      }
    }

    /** Reclaim the space a raised retention deferred: drop history
      * ledgers older than the newest `keepLast` versions (the live
      * one always survives), then GC every retired generation dir,
      * gen metadata file and superseded base snapshot no remaining
      * ledger references. An OPERATOR action like the layout's
      * vacuum: a time-travel read mid-scan of a version being
      * vacuumed may fail — live serves and still-retained versions
      * stay untouched. Returns the number of data files deleted.
      */
    def vacuumVersions(keepLast: Int): Int = lock.synchronized {
      require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
      if (!Files.exists(statePath)) 0
      else WriterLease.withLease(root, "artifact version vacuum") {
        counter.incrementAndGet()
        IncrementalDocArtifact.reconcileStamps.remove(rootKey)
        val live = parseLedger(statePath)
        val floor = live.ver - (keepLast - 1)
        historyVersionNums().filter(_ < floor)
          .foreach(v => Files.deleteIfExists(historyDir.resolve(s"v$v")))
        val kept = historyVersionNums()
          .map(v => parseLedger(historyDir.resolve(s"v$v"))) :+ live
        val keptGens = kept.flatMap(_.gens).toSet
        var deleted = 0
        def countFiles(d: Path): Int = {
          val s = Files.walk(d)
          try s.filter(Files.isRegularFile(_)).count().toInt
          finally s.close()
        }
        allNames.foreach { n =>
          if (Files.exists(retiredDir(n))) {
            val s = Files.list(retiredDir(n))
            val victims =
              try s.toArray.toSeq.map(_.asInstanceOf[Path])
                .filter(d => d.getFileName.toString.startsWith("_gen=") &&
                  !keptGens(d.getFileName.toString.stripPrefix("_gen=")))
              finally s.close()
            victims.foreach { d => deleted += countFiles(d); deleteTree(d) }
          }
          // superseded base snapshots: keep the live pointer target,
          // every marker a kept ledger names, AND the one-commit
          // grace window (an in-flight LIVE reader that resolved the
          // pointer just before the last flip may still be scanning
          // the previous version — only time-travel reads may fail
          // under vacuum, never live serves)
          val keptMarkers = kept.flatMap(_.baseVersions.get(n)).toSet
          val io = baseIO(n)
          val curName = io.currentDir
            .map(d => Paths.get(d).getFileName.toString)
          val curVer = io.currentVersion
          def verOf(nm: String): Long = ParquetTableIO.versionOfDir(nm)
          val baseRoot = root.resolve(n).resolve("base")
          if (Files.exists(baseRoot)) {
            val s = Files.list(baseRoot)
            val victims =
              try s.toArray.toSeq.map(_.asInstanceOf[Path])
                .filter { d =>
                  val nm = d.getFileName.toString
                  // digit-less v- names are foreign (every writer of
                  // this contract stamps a number) — never vacuum
                  // them, and say so (same skip+log contract as the
                  // TableIO commit cleanup, §8.15)
                  val foreign = nm.startsWith("v-") &&
                    !ParquetTableIO.hasVersionDigits(nm)
                  if (foreign)
                    System.err.println("graft artifact vacuum: " +
                      s"skipping foreign version-less entry $d " +
                      "(not a v-<n> snapshot)")
                  nm.startsWith("v-") && Files.isDirectory(d) &&
                    !foreign &&
                    !curName.contains(nm) && !keptMarkers(nm) &&
                    verOf(nm) < curVer - 1 // grace window survives
                }
              finally s.close()
            victims.foreach { d => deleted += countFiles(d); deleteTree(d) }
          }
        }
        // gen metadata no kept ledger references and no live dir needs
        val liveGenIds = deltaGens().map(_.stripPrefix("_gen=")).toSet
        if (Files.exists(root.resolve("_gens"))) {
          val s = Files.list(root.resolve("_gens"))
          try s.toArray.toSeq.map(_.asInstanceOf[Path])
            .filter { f =>
              val g = f.getFileName.toString
              !keptGens(g) && !liveGenIds(g)
            }
            .foreach(f => Files.deleteIfExists(f))
          finally s.close()
        }
        deleted
      }
    }

    /** Reconcile, then serve `piece` (additive: base ∪ delta; merge:
      * the LWW-resolved view, caught up first in lazy mode — a
      * catch-up can push the live-gen count past the fold threshold,
      * so it re-checks the detached trigger).
      */
    def serve(spark: SparkSession, piece: String): DataFrame =
      serveWithFoldState(spark, piece)._1

    /** Reconcile only: advance over new corpus entries (and queue the
      * detached fold when due) without building any piece's read plan
      * — the door for a caller that only needs the artifact current.
      */
    def advance(spark: SparkSession): Unit = { reconcile(spark); () }

    /** This artifact's storage directory under the global store root
      * — the address an operator (or a bench teardown) needs to
      * inspect or drop the artifact without reconstructing the
      * root/pathKey/key composition by hand.
      */
    def artifactDir: String = rootKey

    /** Reconcile, then serve an ADDITIVE piece split into its base
      * snapshot and its live delta, with the base's published
      * snapshot dir as a stable identity. This is the driver-side-
      * cache hook: a consumer that derives an expensive driver
      * structure from the base half (the accept loop's merged
      * per-slice Bloom filters) re-derives it only when a fold or
      * rebuild publishes a new snapshot, and re-reads only the
      * (small) delta half per tick. base ∪ delta ≡ [[serve]]'s view;
      * the snapshot dir is resolved ONCE and the base frame reads
      * that dir directly, so the identity and the data cannot
      * disagree (the same commit-vs-read grace windows as [[serve]]
      * cover a concurrent fold). Merge pieces are refused — their
      * halves only mean anything LWW-resolved together.
      */
    def serveBaseDelta(spark: SparkSession, piece: String)
        : (Option[(String, DataFrame)], Option[DataFrame]) = {
      require(pieces.exists(_.name == piece),
        s"serveBaseDelta serves additive pieces only; $piece is not one")
      val stamp = reconcile(spark)
      // the stamped live-gen view when nothing moved since the stamp
      // (the same fast path serveWithFoldState takes) — this entry
      // point sits on the accept loop's per-batch path, which must
      // not pay a ledger parse + delta-dir listings per tick when
      // NOTHING moved
      val gens =
        if (stamp.mutCount == counter.get()) stamp.liveGens(piece)
        else liveGens(piece, Set.empty, committedOf(readLedger()))
      val base = baseIO(piece)
      val baseHalf = base.currentDir.map(d => (d, ImmutableParquet.cached(spark, d)))
      if (baseHalf.isEmpty && gens.isEmpty)
        throw new IllegalStateException(s"no $piece artifact for $corpusPath")
      (baseHalf, deltaOfGens(spark, piece, gens))
    }

    /** [[serve]] plus whether the served view is BASE-ONLY (zero live
      * delta generations behind it). Bases are key-unique for any
      * piece whose rebuild and fold both collapse partials (the
      * rebuild writes one exact partial, the fold re-aggregates), so
      * an additive consumer can SKIP its fold-at-read aggregation on
      * a fully-folded artifact — at 100 TB that is one avoided
      * full-artifact exchange per warm serve (the CoOccurStore case:
      * the graph family re-serves the same edge list per query).
      */
    def serveWithFoldState(spark: SparkSession,
        piece: String): (DataFrame, Boolean) = {
      val stamp = reconcile(spark)
      def fresh(): (DataFrame, Boolean) = {
        // one ledger read for both the committed cut and the fold state
        val gens = liveGens(piece, Set.empty, committedOf(readLedger()))
        (merges.find(_.name == piece) match {
          case Some(mp) => readMergeGens(spark, mp, gens)
          case None => readPieceGens(spark, piece, gens)
        }, gens.isEmpty)
      }
      if (lazyMerges && merges.exists(_.name == piece)) {
        catchUpMerges(spark, Some(stamp))
        if (stamp.mutCount == counter.get()) {
          // the catch-up found nothing pending and no mutation landed
          // since the stamp (a committing catch-up bumps the counter):
          // the stamped view is the fresh view, and the fold trigger
          // already ran in reconcile over these same generations
          val gens = stamp.liveGens(piece)
          (readMergeGens(spark, merges.find(_.name == piece).get, gens),
            gens.isEmpty)
        } else {
          // a catch-up committed a new generation — serve fresh, and
          // re-check the fold trigger (the catch-up may have pushed
          // the live-gen count past compactEvery)
          maybeCompactDetached(spark)
          fresh()
        }
      } else if (stamp.mutCount == counter.get()) {
        // stamped view: committed cut + live gens from the validated
        // stamp — zero ledger/listing reads. The counter re-check
        // narrows the stamp's age to the same commit-vs-read race the
        // fresh path has between its listing and its base-pointer
        // resolution (grace windows cover in-flight readers either way)
        val gens = stamp.liveGens(piece)
        (merges.find(_.name == piece) match {
          case Some(mp) => readMergeGens(spark, mp, gens)
          case None => readPieceGens(spark, piece, gens)
        }, gens.isEmpty)
      } else fresh()
    }
  }

  def apply(corpusPath: String, key: String, pieces: Seq[Piece],
      merges: Seq[MergePiece] = Nil, compactEvery: Int = 8,
      lazyMerges: Boolean = false): Handle =
    new Handle(corpusPath, key, pieces, merges, compactEvery, lazyMerges)
}
