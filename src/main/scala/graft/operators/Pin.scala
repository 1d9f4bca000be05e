package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's one lineage cut. Every frame pinned so a plan stays
  * flat goes through here: `Pin(df)` (eager), `Pin.lazily(df)`
  * (materialized by the frame's next full scan), and [[Pin.loop]]
  * for iterative state (PageRank, ShortestPath, KCore,
  * LabelPropagation, DupClusters), whose every round's state is
  * pinned — an unpinned loop's plan doubles per round (the q34
  * UnionLoop lesson). Frames that live for one artifact advance pin
  * through `IncrementalDocArtifact.AdvanceCtx.pin`, which releases
  * them when the advance ends.
  *
  * Default pin = `localCheckpoint`, the right local-mode choice (no
  * reliable-storage round trip). But localCheckpoint blocks live in
  * EXECUTOR storage with lineage truncated and no copy in reliable
  * storage: on a real cluster a lost executor mid-loop loses blocks
  * that can no longer be recomputed, killing the whole job — the
  * standard iterative-Spark hazard. The knob
  * `graft.graph.reliableCheckpointEvery=N` switches every N-th pin of
  * each loop to a RELIABLE `checkpoint()` (requires
  * `SparkContext.setCheckpointDir` on fault-tolerant storage; refused
  * loudly when unset — a "reliable" checkpoint that silently could
  * not be taken is worse than none). The pins BETWEEN reliable cuts
  * deliberately do NOT truncate lineage — they `persist`
  * (MEMORY_AND_DISK) instead of localCheckpoint, because a truncated
  * executor-local block is unrecoverable and would void the reliable
  * cut's protection: with persist, a lost executor's partitions
  * recompute through at most N rounds of retained lineage back to
  * the last reliable checkpoint. The trade is bounded plan depth
  * (≤ N rounds) between cuts; N=1 pins every round reliably with
  * flat lineage; unset (the default) keeps today's local behavior.
  *
  * PER-STREAM CADENCE: a loop may evolve more than one logical state
  * stream (ShortestPath.weighted pins the improved set AND the dist
  * table each round). The cut cadence is keyed per stream — each
  * stream's pin index advances independently, so every stream lands a
  * reliable cut every N of ITS OWN pins. A single shared index would
  * let one stream's pins alias the cut slots (with an even N the dist
  * stream would land on odd indices forever, its persisted plan
  * growing one union+aggregate per round past the documented ≤ N
  * bound). Callers name streams explicitly: `pin(df, "dist")`;
  * frames pinned once (the edge list, and every `Pin(df)` /
  * `Pin.lazily(df)`) get their own stream so their single pin IS a
  * reliable cut.
  *
  * CACHE DISCIPLINE (knob-on mode): persist registers the frame in
  * Spark's CacheManager, which holds it until an explicit unpersist —
  * unlike localCheckpoint blocks, it is NOT freed when the DataFrame
  * is garbage-collected. The pin sequence therefore keeps only the
  * latest two persisted frames live PER STREAM (the round being built
  * reads the stream's previous frame; older rounds are recovery-only
  * and lineage covers them) and the loop MUST end with
  * [[Pin.seal]]: seal reliably checkpoints the final state,
  * unpersists every tracked frame of every stream, and returns the
  * sealed result — a long-lived session leaks nothing. Knob-off, seal
  * is the identity.
  */
final class Pin private[operators] () {
  private val idx = scala.collection.mutable.Map[String, Int]()
  private val cached =
    scala.collection.mutable.Map[String, scala.collection.mutable.Queue[DataFrame]]()

  def apply(df: DataFrame): DataFrame = apply(df, "")

  def apply(df: DataFrame, stream: String): DataFrame = {
    val i = idx.getOrElse(stream, -1) + 1
    idx(stream) = i
    val pinned = Pin.pinAt(df, i, stream)
    if (Pin.reliableMode) {
      // track persisted (between-cut) frames; reliable cuts need no
      // release. Keep the latest two per stream: the in-flight round
      // still reads the stream's predecessor; anything older is
      // recoverable via lineage.
      val q = cached.getOrElseUpdate(stream,
        scala.collection.mutable.Queue[DataFrame]())
      if (pinned.storageLevel != StorageLevel.NONE) q.enqueue(pinned)
      while (q.size > 2) q.dequeue().unpersist(blocking = false)
    }
    pinned
  }

  /** LAZY pin (r17): same stream bookkeeping, but local mode marks the
    * frame for localCheckpoint WITHOUT the eager materialization job —
    * the checkpoint materializes inside the frame's next FULL-SCAN
    * consumer (one scheduled job instead of two). ONLY safe when the
    * first action over the pinned frame touches every partition
    * (count, a shuffle, an aggregate): a partial action (limit/isEmpty)
    * could truncate lineage with partitions uncached. The loop callers
    * here guarantee that — each lazily-pinned state is next consumed
    * by a full join/aggregate scan or by [[pinCount]]. Reliable mode
    * (cluster knob) keeps the eager cadence unchanged.
    */
  def pinLazy(df: DataFrame, stream: String): DataFrame =
    if (Pin.reliableMode) apply(df, stream)
    else {
      val i = idx.getOrElse(stream, -1) + 1
      idx(stream) = i
      val t = Pin.trace
      if (t != null) t(stream, i, false)
      df.localCheckpoint(eager = false)
    }

  /** Pin + full materialization + row count in ONE scheduled job (the
    * iterative loops' emptiness probe used to be a second job on top
    * of the eager pin): lazily mark, then count — count touches every
    * partition, so the truncation-safety condition of [[pinLazy]]
    * holds by construction.
    */
  def pinCount(df: DataFrame, stream: String): (DataFrame, Long) = {
    val pinned = pinLazy(df, stream)
    (pinned, pinned.count())
  }

  /** End-of-loop cleanup for knob-on mode: reliably checkpoint the
    * result (so unpersisting its cached ancestors cannot leave an
    * unprotected tail), release every tracked frame of every stream,
    * return the sealed result. Identity when the knob is off.
    */
  def seal(result: DataFrame): DataFrame =
    if (!Pin.reliableMode) result
    else {
      val out = result.checkpoint()
      cached.valuesIterator.foreach(
        _.dequeueAll(_ => true).foreach(_.unpersist(blocking = false)))
      out
    }
}

object Pin {

  /** Eager one-shot pin: `localCheckpoint()` knob-off; pin index 0 of
    * its own stream (a reliable `checkpoint()`) knob-on.
    */
  def apply(df: DataFrame): DataFrame = pinAt(df, 0, "")

  /** Lazy one-shot pin (`localCheckpoint(eager = false)` knob-off) —
    * the same full-scan-first safety condition as [[Pin.pinLazy]];
    * eager reliable cut knob-on.
    */
  def lazily(df: DataFrame): DataFrame = loop().pinLazy(df, "")

  /** One pin sequence per operator invocation: per stream, pin index
    * 0 is the stream's first frame (edge list / initial state), then
    * one per round.
    */
  def loop(): Pin = new Pin

  /** 0 = disabled (localCheckpoint only). A malformed property
    * degrades to disabled — config misreads must not kill the graph
    * family.
    */
  private def every: Int =
    sys.props.get("graft.graph.reliableCheckpointEvery")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(0)

  private[operators] def reliableMode: Boolean = every > 0

  /** Spec-only observation of pin decisions: (stream, in-stream idx,
    * reliable cut?) per pin while non-null. Never set in production.
    */
  @volatile private[operators]
  var trace: (String, Int, Boolean) => Unit = null

  private[operators] def pinAt(df: DataFrame, idx: Int,
      stream: String): DataFrame = {
    val n = every
    val t = trace
    if (n > 0) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "graft.graph.reliableCheckpointEvery is set but no Spark " +
          "checkpoint directory is configured — call " +
          "SparkContext.setCheckpointDir on reliable storage, or unset " +
          "the knob; a silently-skipped reliable checkpoint would " +
          "defeat the lost-executor protection it exists to provide")
      val reliable = idx % n == 0
      if (t != null) t(stream, idx, reliable)
      if (reliable) df.checkpoint()
      // between cuts: cache WITHOUT truncating lineage — a lost block
      // recomputes from the last reliable checkpoint (≤ N rounds)
      else df.persist(StorageLevel.MEMORY_AND_DISK)
    } else {
      if (t != null) t(stream, idx, false)
      df.localCheckpoint()
    }
  }
}
