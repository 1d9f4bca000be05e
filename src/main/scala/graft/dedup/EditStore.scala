package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.{AdvanceCtx, MergePiece, Piece}

/** Persisted edit-distance ingest screen — the short-string rung of
  * the stored-screen family ([[DigestStore]] exact full-text,
  * [[BandStore]] probabilistic near, [[PrefixStore]] exact set-Jaccard
  * + containment): an incoming batch of names/titles/URLs is checked
  * against the stored corpus and every corpus string within
  * Levenshtein `k` is reported, exactly.
  *
  * The index side of [[EditJoin]]'s pigeonhole is PER-STRING — each
  * string contributes its segments and probe substrings
  * independently — so unlike the prefix index there is no frozen
  * global order to maintain: all three pieces are purely additive
  * and a corpus file append advances O(new) with no staleness
  * subtlety at all.
  *
  * The stored dictionary is ONE-orientation: `segs` (sid, l_a, i,
  * seg) — just the k+1 positioned segments per corpus string — plus
  * `strs` (sid, s, l), the verify side. Coverage of corpus partners
  * LONGER than the batch string comes from the PROBE side instead:
  * [[EditJoin.probesAround]] enumerates the batch string's candidate
  * substrings for target lengths [l−k, l+k] (soundness is symmetric —
  * see there), so the screen never needs the corpus's own probe
  * substrings persisted. That keeps the stored index at (k+1) rows
  * per string instead of the ≤ (k+1)²(2k+1) probe fan-out the store
  * used to persist both ways — the fan-out is paid at screen time,
  * on the BATCH side only (round-9 verdict: the stored probe piece
  * was a ~45× index-size multiplier at short-string corpora).
  *
  * Per-screen work is O(batch × fan-out) join probes against the
  * seg-clustered stored piece — never O(corpus).
  *
  * GLOBAL results persist as keyed-upsert [[MergePiece]]s, exactly
  * [[PrefixStore]]'s pairs/labels discipline applied to the edit
  * graph: `reps` (min sid per distinct string — the string IS its own
  * canonical fingerprint, so no order-sensitivity subtlety at all),
  * `pairs` (every member pair within distance k; an increment writes
  * (new × stored-reps, screened through both stored dictionaries) +
  * (new × new), disjoint from earlier generations because a pair's
  * later member is in exactly one increment), `labels` (exact CC,
  * increments relabel only new strings ∪ members of touched old
  * clusters — a dist ≤ k pair between two different old clusters
  * cannot exist). The per-increment screen is computed once per
  * reconcile and shared by the three advances via an
  * AdvanceCtx-keyed memo.
  */
object EditStore {

  private def withLen(strs: DataFrame, idCol: String, strCol: Column) =
    strs.select(col(idCol).as("sid"), strCol.as("s"))
      .select(col("sid"), col("s"), length(col("s")).cast("int").as("l"))

  private def bySeg(df: DataFrame): DataFrame =
    df.repartition(col("seg")).sortWithinPartitions("seg")

  // ---------------------------------------------------------------
  // Per-increment screen, computed once per advance (ctx memo of
  // ctx-pinned frames, the PrefixStore pattern) — shared by the
  // reps/pairs/labels advances.
  // ---------------------------------------------------------------

  private final case class IncCore(
      newStrs: DataFrame, // (sid, s, l) of the increment
      newReps: DataFrame, // (sid, s, l) one per new distinct string
      crossRep: DataFrame, // (rid_n, rid_o, dist) new-rep × old-rep
      withinRep: DataFrame) // (id_a, id_b, dist) among new reps

  private def incCore(ctx: AdvanceCtx, idCol: String, strCol: Column,
      k: Int): IncCore = ctx.memo("inc") {
    val newStrs = ctx.pin(withLen(ctx.newDocs, idCol, strCol))
    val newReps = ctx.pin(newStrs.groupBy("s").agg(min("sid").as("sid"),
        first("l").as("l"))
      .select("sid", "s", "l"))
    // stored side restricted to representatives
    val storedReps = ctx.stored("reps")
    val repIds = storedReps.select(col("rid").as("sid"))
    val oldSegs = ctx.stored("segs").join(repIds, "sid")
      .select(col("sid").as("dup_id"), col("l_a"), col("i"), col("seg"))
    val oldStrs = ctx.stored("strs").join(repIds, "sid")
      .select(col("sid").as("dup_id"), col("s").as("s_d"))
    // both-direction probes against the stored segment dictionary —
    // one orientation covers shorter AND longer stored partners
    val nProbes = EditJoin.probesAround(newReps, k)
      .select(col("sid").as("new_id"), col("l_a"), col("i"), col("seg"))
    val cand = nProbes.join(oldSegs, Seq("l_a", "i", "seg"))
      .select(col("new_id"), col("dup_id"))
      .distinct()
    val crossRep = cand
      .join(newReps.select(col("sid").as("new_id"), col("s").as("s_n")),
        "new_id")
      .join(oldStrs, "dup_id")
      .withColumn("dist", levenshtein(col("s_n"), col("s_d")).cast("long"))
      .where(col("dist") <= k)
      .select(col("new_id").as("rid_n"), col("dup_id").as("rid_o"),
        col("dist"))
    IncCore(newStrs, newReps, ctx.pin(crossRep),
      ctx.pin(EditJoin.similarPairs(newReps, "sid", col("s"), k)))
  }

  // ---------------------------------------------------------------
  // Merge-piece builders (see PrefixStore for the soundness notes;
  // the string itself is the contraction fingerprint here)
  // ---------------------------------------------------------------

  private def advanceReps(ctx: AdvanceCtx, idCol: String, strCol: Column,
      k: Int): DataFrame = {
    val c = incCore(ctx, idCol, strCol, k)
    c.newStrs.groupBy("s").agg(min("sid").as("_new"))
      .join(ctx.stored("reps").withColumnRenamed("rid", "_old"),
        Seq("s"), "left")
      .select(col("s"),
        least(col("_new"), coalesce(col("_old"), col("_new"))).as("rid"))
  }

  private def buildFullPairs(ctx: AdvanceCtx, k: Int): DataFrame =
    EditJoin.similarPairs(
      ctx.stored("strs").select("sid", "s"), "sid", col("s"), k)

  private def advancePairs(ctx: AdvanceCtx, idCol: String, strCol: Column,
      k: Int): DataFrame = {
    val c = incCore(ctx, idCol, strCol, k)
    val oldMembers = ctx.stored("strs").select(col("sid").as("mo"),
      col("s").as("s_o"))
    val newMembers = c.newStrs.select(col("sid").as("mn"), col("s").as("s_n"))
    val oldRidS = ctx.stored("reps")
      .select(col("rid").as("rid_o"), col("s").as("s_o"))
    val newRidS = c.newReps.select(col("sid").as("rid_n"), col("s").as("s_n"))
    val cross = c.crossRep
      .join(newRidS, "rid_n").join(oldRidS, "rid_o")
      .join(newMembers, "s_n").join(oldMembers, "s_o")
      .select(least(col("mn"), col("mo")).as("id_a"),
        greatest(col("mn"), col("mo")).as("id_b"), col("dist"))
    val withinX = c.withinRep
      .join(newRidS.select(col("rid_n").as("id_a"), col("s_n").as("s_a")),
        "id_a")
      .join(newRidS.select(col("rid_n").as("id_b"), col("s_n").as("s_b")),
        "id_b")
      .join(newMembers.select(col("s_n").as("s_a"), col("mn").as("ma")), "s_a")
      .join(newMembers.select(col("s_n").as("s_b"), col("mn").as("mb")), "s_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("dist"))
    val withinS = PairGen.pairsWithin(
      newMembers.select(col("mn").as("mid"), col("s_n").as("s")),
      Seq("s"), col("mid"))
      .select(col("a").as("id_a"), col("b").as("id_b"), lit(0L).as("dist"))
    cross.unionByName(withinX).unionByName(withinS)
  }

  private def buildFullLabels(ctx: AdvanceCtx): DataFrame = {
    val strs = ctx.stored("strs")
    val reps = ctx.pin(ctx.stored("reps"))
    val m = strs.select(col("sid"), col("s"))
    val repEdges = ctx.stored("pairs")
      .join(m.select(col("sid").as("id_a"), col("s").as("s_a")), "id_a")
      .join(m.select(col("sid").as("id_b"), col("s").as("s_b")), "id_b")
      .join(reps.select(col("s").as("s_a"), col("rid").as("rid_a")), "s_a")
      .join(reps.select(col("s").as("s_b"), col("rid").as("rid_b")), "s_b")
      .select(col("rid_a"), col("rid_b")).distinct()
    val labels = DupClusters.componentsAlternating(
      reps.select(col("rid")), "rid", repEdges, "rid_a", "rid_b")
    m.join(reps.select(col("s"), col("rid")), "s")
      .join(labels, "rid")
      .select(col("sid"), col("cluster_id"))
  }

  private def advanceLabels(ctx: AdvanceCtx, idCol: String, strCol: Column,
      k: Int): DataFrame = {
    val c = incCore(ctx, idCol, strCol, k)
    val docRep = c.newStrs
      .join(c.newReps.select(col("s"), col("sid").as("_rep")), "s")
      .select(col("sid").as("id_a"), col("_rep").as("id_b"))
    val cross = c.crossRep.select(col("rid_n").as("id_a"),
      col("rid_o").as("id_b"))
    val within = c.withinRep.select(col("id_a"), col("id_b"))
    // fast path: no edge at all (an increment string equal to a
    // stored one is dist 0 = a cross edge, so "no edges" really
    // means no old cluster is touched)
    if (c.crossRep.isEmpty && c.withinRep.isEmpty)
      return docRep.select(col("id_a").as("sid"), col("id_b").as("cluster_id"))
    val oldLabels = ctx.stored("labels")
    val touched = cross.select(col("id_b").as("sid")).distinct()
      .join(oldLabels, "sid").select("cluster_id").distinct()
    val affected = ctx.pin(oldLabels.join(touched, "cluster_id")
      .select(col("sid"), col("cluster_id")))
    val nodes = c.newStrs.select(col("sid"))
      .union(affected.select("sid"))
    val edges = cross.union(within).union(docRep)
      .union(affected.select(col("sid").as("id_a"),
        col("cluster_id").as("id_b")))
    DupClusters.componentsAlternating(nodes, "sid", edges, "id_a", "id_b")
  }

  /** `variant` keys the artifact: the same corpus table can carry
    * several screened string columns (one artifact each).
    */
  private def handle(corpusPath: String, variant: String, idCol: String,
      strCol: Column, k: Int) =
    IncrementalDocArtifact(corpusPath, s"edit${k}c_$variant",
      pieces = Seq(
        Piece("strs", (docs, _) => withLen(docs, idCol, strCol)),
        Piece("segs",
          (docs, _) => bySeg(EditJoin.segmentsOf(
            withLen(docs, idCol, strCol), k)),
          fold = Some(bySeg))),
      merges = Seq(
        MergePiece("reps", Seq("s"),
          buildFull = (_, ctx) => ctx.stored("strs")
            .groupBy("s").agg(min("sid").as("rid")),
          advance = ctx => advanceReps(ctx, idCol, strCol, k)),
        MergePiece("pairs", Seq("id_a", "id_b"),
          buildFull = (_, ctx) => buildFullPairs(ctx, k),
          advance = ctx => advancePairs(ctx, idCol, strCol, k)),
        MergePiece("labels", Seq("sid"),
          buildFull = (_, ctx) => buildFullLabels(ctx),
          advance = ctx => advanceLabels(ctx, idCol, strCol, k))),
      compactEvery = 8,
      // a screen-only ingest front door appends O(new-additive); the
      // pairs/labels surfaces catch up on first read (the engine's
      // lazy-merge contract — sound because the advances are
      // generation-chunking invariant)
      lazyMerges = true)

  /** Stored (id_a, id_b, dist) pairs over the whole corpus — a scan
    * of the persisted `pairs` merge piece.
    */
  def similarPairs(spark: SparkSession, corpusPath: String, variant: String,
      idCol: String, corpusStrCol: Column, k: Int): DataFrame =
    handle(corpusPath, variant, idCol, corpusStrCol, k)
      .serve(spark, "pairs")

  /** Stored exact clusters (sid, cluster_id = min reachable id) — a
    * scan of the persisted `labels` merge piece.
    */
  def clusters(spark: SparkSession, corpusPath: String, variant: String,
      idCol: String, corpusStrCol: Column, k: Int): DataFrame =
    handle(corpusPath, variant, idCol, corpusStrCol, k)
      .serve(spark, "labels")

  /** All (new_id, dup_id, dist) pairs between `batch` strings and
    * stored corpus strings with levenshtein <= k — exact, no false
    * negatives (the pigeonhole can only ADD candidates; verify is
    * the real distance). The corpus side derives `s` from
    * `corpusStrCol` over the raw table at `corpusPath` (built into
    * the artifact once, advanced O(new)); the batch side derives
    * from `batchStrCol`. `corpusFilter` restricts the stored side
    * and sees the artifact's columns (`sid`, ...).
    */
  def screen(spark: SparkSession, corpusPath: String, variant: String,
      idCol: String, corpusStrCol: Column,
      batch: DataFrame, batchIdCol: String, batchStrCol: Column, k: Int,
      corpusFilter: Column = lit(true)): DataFrame = {
    val h = handle(corpusPath, variant, idCol, corpusStrCol, k)
    val segs = h.serve(spark, "segs").filter(corpusFilter)
      .select(col("sid").as("dup_id"), col("l_a"), col("i"), col("seg"))
    val strs = h.serve(spark, "strs").filter(corpusFilter)
      .select(col("sid").as("dup_id"), col("s").as("s_d"))
    val b = withLen(batch, batchIdCol, batchStrCol)
    // both-direction probes (target lengths [l-k, l+k]) against the
    // stored segment dictionary — one orientation covers stored
    // partners shorter AND longer than the batch string
    val probes = EditJoin.probesAround(b, k)
      .select(col("sid").as("new_id"), col("l_a"), col("i"), col("seg"))
    val cand = probes.join(segs, Seq("l_a", "i", "seg"))
      .select(col("new_id"), col("dup_id")).distinct()
    cand
      .join(b.select(col("sid").as("new_id"), col("s").as("s_n")), "new_id")
      .join(strs, "dup_id")
      .withColumn("dist", levenshtein(col("s_n"), col("s_d")).cast("long"))
      .where(col("dist") <= k)
      .select(col("new_id"), col("dup_id"), col("dist"))
  }

  /** Offline compaction hook. */
  def compact(spark: SparkSession, corpusPath: String, variant: String,
      idCol: String, corpusStrCol: Column, k: Int): Unit =
    handle(corpusPath, variant, idCol, corpusStrCol, k).compact(spark)
}
