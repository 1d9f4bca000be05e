package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}

/** Cross-process writer lease for the two on-disk committers
  * ([[IncrementalDocArtifact]], `PartitionedLayout`). Both serialize
  * writers per-JVM with root-keyed locks and DOCUMENT single-writer
  * across processes — but a documented contract a second committer
  * cannot detect is a contract that fails silently: two processes
  * appending the same increment would interleave files inside one
  * deterministic generation. Table formats (Delta, Iceberg) DETECT
  * the second committer; this lease gives the engine the same
  * property with the one primitive the filesystem guarantees —
  * `O_EXCL` file creation.
  *
  * Protocol, per artifact/table root:
  *
  *  - every MUTATION path acquires `_writer_lease` inside the root
  *    via atomic create-if-absent; read/serve paths never touch it;
  *  - the file carries pid + a JVM token (ops diagnostics); liveness
  *    is the file's MTIME, refreshed by a daemon heartbeat every
  *    [[heartbeatMs]] while held — a crashed holder stops refreshing
  *    and its lease goes STALE after [[staleMs]];
  *  - a second process that finds a LIVE foreign lease gets a clean
  *    [[ConcurrentWriterException]] naming the holder — a refusal,
  *    not an interleave;
  *  - a STALE lease is taken over atomically: the contender RENAMES
  *    the stale file away (only one rename of a given file can
  *    succeed) and then re-runs create-if-absent — two contenders
  *    racing a takeover resolve to exactly one holder;
  *  - within one JVM the lease is REENTRANT per root across threads:
  *    the ingest tick (mutation lock) and a detached fold
  *    (maintenance lock) of the same artifact may legitimately
  *    overlap — they are one writer to the outside world.
  *
  * The stale timeout bounds the takeover hazard: a holder paused
  * longer than [[staleMs]] (GC pause, SIGSTOP) can lose its lease
  * mid-mutation, the standard lease trade-off — the default 30 s is
  * ~40 missed heartbeats. Tune via `graft.lease.staleMs`; keep it
  * well above worst-case pause in production. The floor is COUPLED
  * to the heartbeat: acquisition refuses a horizon under 4 heartbeats
  * (a live holder would look stale between refreshes — a silent
  * two-writer config turned into a loud error).
  */
object WriterLease {

  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  val LeaseName = "_writer_lease"

  /** Liveness horizon: a lease whose mtime is older than this is a
    * crashed holder's debris and may be taken over. A malformed
    * property degrades to the default — config misreads must not kill
    * the mutation plane.
    */
  def staleMs: Long =
    sys.props.get("graft.lease.staleMs")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(30000L)

  private val heartbeatMs = 750L

  /** The horizon must clear several heartbeats, or a LIVE holder's
    * lease can look stale between refreshes and be stolen — a silent
    * two-writer configuration. Enforced at every acquire (not at
    * property read: [[staleMs]] also serves read-side staleness checks
    * that must degrade, not throw): a mis-configured horizon refuses
    * the mutation loudly instead of enabling the takeover of a live
    * writer.
    */
  private def requireSafeHorizon(): Unit = {
    val floor = 4 * heartbeatMs
    require(staleMs >= floor,
      s"graft.lease.staleMs=$staleMs is below $floor ms (4 heartbeats " +
        s"of $heartbeatMs ms): a live holder's lease could look stale " +
        "between refreshes and be stolen mid-mutation — raise the " +
        "horizon; the engine refuses a config that permits two writers")
  }

  private val jvmToken: String =
    s"${ProcessHandle.current().pid()}-" +
      java.util.UUID.randomUUID().toString.take(8)

  private final class Held(val file: Path) { var count: Int = 1 }
  private val held = new java.util.concurrent.ConcurrentHashMap[String, Held]()
  // per-root acquire/release monitors: acquisition does file IO, which
  // must not serialize mutations of UNRELATED artifacts behind one
  // global lock
  private val guards = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def guardFor(key: String): Object =
    guards.computeIfAbsent(key, _ => new Object)

  /** Does the lease file at `file` carry OUR token? After a stale
    * takeover the path is occupied by the NEW holder's file — the old
    * holder's heartbeat and release must leave it alone (refreshing or
    * deleting a foreign live lease would destroy the new holder's
    * exclusion). An unreadable/briefly-empty file reads as not-ours.
    */
  private def ownsFile(file: Path): Boolean =
    try Files.readString(file).trim == jvmToken
    catch { case _: java.io.IOException => false }

  // heartbeat: refresh every held lease's mtime so a LIVE holder never
  // goes stale; runs regardless of what staleMs tests configure (750 ms
  // beats any takeover horizon a spec would reasonably set on US).
  // Only files still carrying OUR token are touched — after a stale
  // takeover the path belongs to someone else.
  locally {
    val t = Executors.newSingleThreadScheduledExecutor((r: Runnable) => {
      val th = new Thread(r, "graft-writer-lease-heartbeat")
      th.setDaemon(true)
      th
    })
    t.scheduleWithFixedDelay(() => {
      val now = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis())
      held.values.forEach { h =>
        try {
          if (ownsFile(h.file)) Files.setLastModifiedTime(h.file, now)
          else if (!Files.exists(h.file)) {
            // our lease file vanished while we believe we hold it (a
            // racing contender's mistaken steal, or external tampering)
            // — re-assert it; if someone else created one meanwhile the
            // O_EXCL create fails and we leave theirs alone
            try { Files.createFile(h.file); Files.writeString(h.file, jvmToken) }
            catch { case _: java.io.IOException => () }
          }
        } catch { case _: Throwable => () }
      }
    }, heartbeatMs, heartbeatMs, TimeUnit.MILLISECONDS)
  }

  /** Acquire the mutation lease of `root` (creating the directory if
    * needed), throwing [[ConcurrentWriterException]] if another LIVE
    * process holds it. Reentrant within this JVM.
    */
  def acquire(root: Path, what: String): Unit = {
    requireSafeHorizon()
    val key = root.toString
    guardFor(key).synchronized { acquireLocked(root, key, what) }
  }

  private def acquireLocked(root: Path, key: String, what: String): Unit = {
    val h = held.get(key)
    if (h != null) { h.count += 1; return }
    Files.createDirectories(root)
    val lease = root.resolve(LeaseName)
    var takeovers = 0
    while (true) {
      try {
        Files.createFile(lease) // O_EXCL: the one atomic claim
        Files.writeString(lease, jvmToken)
        held.put(key, new Held(lease))
        // GC tomb debris only when this acquisition actually took over
        // (tombs can only come from takeovers — the common path pays
        // no extra listing)
        if (takeovers > 0) sweepTombs(root)
        return
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // ours would be in `held` — this is a foreign holder
          val ageMs =
            try Some(System.currentTimeMillis() -
              Files.getLastModifiedTime(lease).toMillis)
            catch { case _: java.io.IOException => None } // vanished: retry
          ageMs match {
            case Some(age) if age <= staleMs =>
              // covers FUTURE mtimes too (age < 0 — clock skew / NTP
              // step): a lease we cannot prove stale is live; refusing
              // matches heldByOtherProcess and avoids a busy takeover
              // spin until the clock catches up
              val owner =
                try Files.readString(lease).trim
                catch { case _: java.io.IOException => "?" }
              throw new ConcurrentWriterException(
                s"another process (lease owner $owner, heartbeat ${age} ms " +
                  s"ago) is mutating $key — $what refused; the engine is " +
                  "single-writer per artifact root across processes")
            case Some(_) =>
              // stale: take over by ATOMIC rename — of two contenders
              // racing this, exactly one move succeeds, and the loser's
              // next create-if-absent sees the winner's fresh lease
              takeovers += 1
              if (takeovers > 5) throw new ConcurrentWriterException(
                s"could not take over repeatedly-stale lease of $key")
              val tomb = root.resolve(
                s"$LeaseName.stale.${java.util.UUID.randomUUID().toString.take(8)}")
              try {
                Files.move(lease, tomb, StandardCopyOption.ATOMIC_MOVE)
                // RE-CHECK what we actually moved: a racing contender
                // may have completed ITS takeover and created a FRESH
                // lease between our stat and our move — stealing it
                // would yield two live writers. A fresh tomb is
                // restored (move back; the victim's heartbeat also
                // re-asserts a vanished held lease as a second net);
                // only a genuinely-stale tomb is deleted.
                val tombAge = System.currentTimeMillis() -
                  Files.getLastModifiedTime(tomb).toMillis
                if (tombAge <= staleMs) {
                  try Files.move(tomb, lease, StandardCopyOption.ATOMIC_MOVE)
                  catch { case _: java.io.IOException => () } // victim re-asserted
                } else Files.deleteIfExists(tomb)
              } catch { case _: java.io.IOException => () } // lost the race
            case None => () // file vanished between create and stat — retry
          }
      }
    }
  }

  /** GC takeover tombstones (`_writer_lease.stale.<uuid>`) a crashed
    * contender left behind — its atomic move landed but the delete
    * never ran. Tiny files, but they would accumulate forever; swept
    * under a freshly-held lease, when no takeover can be mid-flight.
    */
  private def sweepTombs(root: Path): Unit =
    // broad catch: a listing error (IOException or its unchecked
    // wrapper) must not escape — it would leak a held,
    // heartbeat-refreshed lease (acquire throws after held.put)
    try Fs.list(root).filter { f =>
        val n = f.getFileName.toString
        n.startsWith(LeaseName + ".stale.") &&
          // only genuinely-stale tombs: a fresh one is a stolen live
          // lease awaiting its victim's heartbeat re-assert
          (try System.currentTimeMillis() -
            Files.getLastModifiedTime(f).toMillis > staleMs
          catch { case _: java.io.IOException => false })
      }.foreach(f => try Files.deleteIfExists(f)
        catch { case _: java.io.IOException => () })
    catch { case scala.util.control.NonFatal(_) => () }

  /** Release one hold; the file is deleted when the outermost hold of
    * this JVM releases.
    */
  def release(root: Path): Unit = {
    val key = root.toString
    guardFor(key).synchronized { releaseLocked(key) }
  }

  private def releaseLocked(key: String): Unit = {
    val h = held.get(key)
    require(h != null, s"release without acquire for $key")
    h.count -= 1
    if (h.count == 0) {
      held.remove(key)
      // delete ONLY if the file still carries our token: after a stale
      // takeover (we were paused past the horizon) the path holds the
      // NEW holder's live lease — deleting it would hand a third
      // process concurrent access mid-commit. Losing the lease mid-
      // mutation is the documented lease trade-off; at least the
      // release must not compound it.
      try { if (ownsFile(h.file)) Files.deleteIfExists(h.file) }
      catch { case _: java.io.IOException => () }
    }
  }

  /** True when a LIVE lease of `root` is held by some OTHER process —
    * the read-path guard: serve-side garbage collection (orphan-gen /
    * staging sweeps) must not delete what a foreign writer is
    * mid-staging. Never true for our own holds; a stale foreign lease
    * reads false (its debris is sweepable).
    */
  def heldByOtherProcess(root: Path): Boolean = {
    if (held.containsKey(root.toString)) false
    else try {
      val age = System.currentTimeMillis() -
        Files.getLastModifiedTime(root.resolve(LeaseName)).toMillis
      age <= staleMs
    } catch { case _: java.io.IOException => false }
  }

  def withLease[T](root: Path, what: String)(body: => T): T = {
    acquire(root, what)
    try body finally release(root)
  }
}
