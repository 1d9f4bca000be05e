package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.{AdvanceCtx, MergePiece, Piece}

/** Persisted prefix index for EXACT-Jaccard dedup — the
  * guaranteed-no-false-negative counterpart of [[BandStore]]
  * (probabilistic near) and [[DigestStore]] (exact full-text). Serves
  * four production surfaces from ONE incrementally-maintained
  * artifact: batch ingest screening (d24), containment screening
  * (d26, its own artifact below), the whole-corpus exact pair list
  * (d23) and the exact near-dup cluster labels (d25).
  *
  * The subtlety an incremental prefix index must solve: the prefix
  * theorem needs ONE total token order shared by index and probe,
  * but the rarest-first order drifts as the corpus grows. The store's
  * answer is the engine's pinned-piece contract: the (token, df)
  * table is FROZEN at full build ("order", pinned) and both the
  * stored prefix entries and every probe derive their sort keys from
  * it — tokens unseen at build time get df 0 (sort first, maximally
  * conservative prefixes). Any FIXED total order preserves the
  * theorem, so exactness never depends on freshness; staleness costs
  * only candidate-volume efficiency, and a rebuild (any non-append
  * corpus change, or offline compaction cadence) re-freezes the
  * order at current frequencies.
  *
  * Additive pieces: `order` (pinned), `sets` (interned 64-bit token
  * hashes, SORTED, + the canonical set fingerprint `fp` = md5 over
  * the sorted token list — set-equal docs get the same fp regardless
  * of token order, the contraction key), `prefix` ((doc_id, sz, pos,
  * k) entries under the pinned order, clustered by key).
  *
  * GLOBAL results are keyed-upsert [[MergePiece]]s, so the exact
  * pair list and the cluster labels advance O(new + affected) per
  * corpus append instead of re-running candidate generation + CC at
  * serve time (the round-8 verdict's top item):
  *
  *  - `reps` (key fp): min doc id per distinct token set —
  *    maintained by min-merge, the contraction table.
  *  - `pairs` (key id_a,id_b): every member-level pair with J >= tau.
  *    Sound as an upsert because a pair's later-arriving member
  *    belongs to exactly ONE increment: an increment writes (new ×
  *    stored) + (new × new) pairs, which are disjoint from every
  *    earlier generation's keys. Full build runs the PPJoin once
  *    over the stored pieces.
  *  - `labels` (key doc_id): exact CC labels (min reachable id).
  *    An increment relabels only new docs ∪ members of old clusters
  *    touched by a cross edge ([[ClusterStore]]'s affected-subgraph
  *    discipline, here on the EXACT tau-graph): connectivity among
  *    untouched old docs is exactly what their stored labels encode,
  *    and a J >= tau pair between two DIFFERENT old clusters cannot
  *    exist (they would already be one cluster). Full build contracts
  *    the stored member pairs to rep edges (a projection — the
  *    verify work is never redone) and runs star-contraction CC.
  *
  * The per-increment screen (new reps probed against stored rep
  * prefixes + new-new rep self-join) is computed ONCE per reconcile
  * and shared by the `pairs` and `labels` advances via an
  * AdvanceCtx-keyed memo of eagerly-checkpointed frames.
  *
  * SURFACE-SCOPED INCREMENTS (round-9 verdict #2): the artifact runs
  * the engine's LAZY-MERGE mode — a corpus append advances only the
  * screen surfaces (`order`/`sets`/`prefix`, the d21/d24 front door,
  * O(new-additive)); the global result surfaces (`reps`/`pairs`/
  * `labels`) catch up ON FIRST READ after the append, as one combined
  * increment over everything appended since their last read (sound by
  * the generation-chunking invariance the advances already guarantee
  * — `IncrementalChunkingParitySpec`). A screen-only deployment never
  * pays for result surfaces it never reads; a d23/d25 reader pays the
  * deferred advance exactly once, then serves base scans again. The
  * FULL build still pays the PPJoin + CC once for every surface
  * (deliberate — the d21-style ingest pipeline uses the surfaces
  * together; measured build costs are in §9.18, 737 s at 500 k docs).
  * Measured at 1 M docs (§9.20): screen-only 1% append 8.6 s (47.0 s
  * when every advance maintained pairs/labels eagerly); the first
  * pairs read after pays the one combined catch-up (45.5 s), then
  * pairs/labels serve in ~1.5 s again.
  */
object PrefixStore {

  private def toks(text: Column): Column =
    array_distinct(split(TextFunctions.normalize(text), " "))

  /** Sort key under a frozen (df asc, token asc) order; unseen
    * tokens coalesce to df 0.
    */
  private[dedup] def prefixEntries(docs: DataFrame, idCol: String,
      text: Column, order: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val id = col(idCol)
    val exploded = docs.select(id, toks(text).as("toks"))
      .select(id, explode(col("toks")).as("tok"))
    val keyed = exploded.join(order, Seq("tok"), "left")
      .select(id, concat(lpad(coalesce(col("df"), lit(0L)).cast("string"),
        10, "0"), lit("|"), col("tok")).as("k"))
    // pin the per-doc regroup's partition count (spreadByKey): the
    // whole candidate + verify pipeline hangs off THIS exchange
    // (every later join broadcasts its other side), and its output is
    // byte-tiny but CPU-dense — AQE's byte-based coalescer was
    // collapsing prefix-expand → candidate-join → distinct → verify
    // into one single-task stage (guide §2.5/§7.2; isolated A/B:
    // d24 3.05 → 2.02 s, d26 3.08 → 1.42 s). Clustered by doc id, so the
    // groupBy below and the downstream candidate distinct reuse it.
    val ordered = graft.operators.SkewTools.spreadByKey(keyed, id)
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("k"))).as("ks"))
      .select(id, col("ks"), size(col("ks")).as("sz"))
    val prefLen = (col("sz") - floor((col("sz") * tauNum + (tauDen - 1))
      / tauDen) + 1).cast("int")
    ordered
      .select(id, col("sz"),
        posexplode(slice(col("ks"), lit(1), prefLen)).as(Seq("p0", "k")))
      .select(id, col("sz"), (col("p0") + 1).as("pos"), col("k"))
  }

  /** (doc_id, fp, ht, n): canonical set fingerprint + SORTED interned
    * token hashes. fp is order-insensitive (md5 over the sorted token
    * list), so set-equal docs contract to one group however their
    * tokens were ordered in text. The interning bet is ONE-SIDED
    * (see [[PrefixJoin]]): a cross-token collision can only inflate
    * an intersection, never lose a pair.
    */
  private def interned(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(col("tk")))).as("fp"),
        sort_array(transform(col("tk"), t => xxhash64(t))).as("ht"))
      .select(col("doc_id"), col("fp"), col("ht"), size(col("ht")).as("n"))

  private def byKey(df: DataFrame): DataFrame =
    df.repartition(col("k")).sortWithinPartitions("k")

  // ---------------------------------------------------------------
  // Rep-pair machinery shared by full build and increment: the
  // candidate join reads (rid, sz, pos, k) prefix entries on both
  // sides, applies the exact-integer length + positional filters,
  // and verifies on the interned sets — PPJoin restricted to the
  // contracted representatives ([[PrefixJoin]] has the theory).
  // ---------------------------------------------------------------

  /** Candidates from two prefix-entry tables (a self-join when
    * aPref eq bPref with `ordered = true` to halve the pairs).
    */
  private def candPairs(aPref: DataFrame, bPref: DataFrame,
      tauNum: Int, tauDen: Int, ordered: Boolean): DataFrame = {
    val a = aPref.select(col("doc_id").as("rid_a"), col("sz").as("sz_a"),
      col("pos").as("pos_a"), col("k"))
    val b = bPref.select(col("doc_id").as("rid_b"), col("sz").as("sz_b"),
      col("pos").as("pos_b"), col("k"))
    val joined = a.join(b, "k")
    val base = if (ordered) joined.where(col("rid_a") < col("rid_b"))
      else joined.where(col("rid_a") =!= col("rid_b"))
    base
      .where(least(col("sz_a"), col("sz_b")) * tauDen >=
        greatest(col("sz_a"), col("sz_b")) * tauNum)
      .where((lit(1) + least(col("sz_a") - col("pos_a"),
        col("sz_b") - col("pos_b"))) * (tauNum + tauDen) >=
        (col("sz_a") + col("sz_b")) * tauNum)
      .select(col("rid_a"), col("rid_b")).distinct()
  }

  /** Verify candidate (rid_a, rid_b) on interned sets from the two
    * side tables (doc_id, ht, n) → (rid_a, rid_b, jaccard).
    */
  private def verifyPairs(cand: DataFrame, aSets: DataFrame,
      bSets: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val inter = size(array_intersect(col("ha"), col("hb")))
    val union = col("na") + col("nb") - inter
    cand
      .join(aSets.select(col("doc_id").as("rid_a"), col("ht").as("ha"),
        col("n").as("na")), "rid_a")
      .join(bSets.select(col("doc_id").as("rid_b"), col("ht").as("hb"),
        col("n").as("nb")), "rid_b")
      .where(inter * tauDen >= union * tauNum)
      .select(col("rid_a"), col("rid_b"),
        round(inter.cast("double") / union, 4).as("jaccard"))
  }

  // ---------------------------------------------------------------
  // Per-increment screen, computed once per advance (ctx memo; every
  // frame is ctx-pinned so the three merge advances share the
  // physical work).
  // ---------------------------------------------------------------

  private final case class IncCore(
      newSets: DataFrame, // (doc_id, fp, ht, n) of the increment
      newReps: DataFrame, // (fp, rid, ht, n) one per new distinct set
      crossRep: DataFrame, // (rid_n, rid_o, jaccard) new-rep × old-rep
      withinRep: DataFrame) // (rid_a, rid_b, jaccard) among new reps

  private def incCore(ctx: AdvanceCtx, tauNum: Int,
      tauDen: Int): IncCore = ctx.memo("inc") {
    val newSets = ctx.pin(interned(ctx.newDocs))
    val newReps = ctx.pin(
      newSets.groupBy("fp").agg(min("doc_id").as("rid"))
        .join(newSets.select(col("doc_id").as("rid"), col("ht"), col("n")),
          "rid"))
    // probe prefixes for the new reps under the STORED frozen order
    val order = ctx.stored("order")
    val repDocs = ctx.newDocs
      .join(newReps.select(col("rid").as("doc_id")), "doc_id")
    val probePref = ctx.pin(prefixEntries(repDocs, "doc_id", col("text"),
      order, tauNum, tauDen))
    // stored side restricted to representatives — contraction on both
    // sides keeps candidate volume following distinct-set structure
    val storedReps = ctx.stored("reps")
    val oldRepSets = ctx.pin(ctx.stored("sets")
      .join(storedReps.select(col("rid").as("doc_id")), "doc_id"))
    val oldRepPref = ctx.stored("prefix")
      .join(storedReps.select(col("rid").as("doc_id")), "doc_id")
    val crossRep = ctx.pin(verifyPairs(
      candPairs(probePref, oldRepPref, tauNum, tauDen, ordered = false),
      newSets, oldRepSets, tauNum, tauDen)
      .select(col("rid_a").as("rid_n"), col("rid_b").as("rid_o"),
        col("jaccard")))
    val withinRep = ctx.pin(verifyPairs(
      candPairs(probePref, probePref, tauNum, tauDen, ordered = true),
      newSets, newSets, tauNum, tauDen))
    IncCore(newSets, newReps, crossRep, withinRep)
  }

  // ---------------------------------------------------------------
  // Merge-piece builders
  // ---------------------------------------------------------------

  private def buildFullReps(ctx: AdvanceCtx): DataFrame =
    ctx.stored("sets").groupBy("fp").agg(min("doc_id").as("rid"))

  private def advanceReps(ctx: AdvanceCtx, tauNum: Int, tauDen: Int)
      : DataFrame = {
    val c = incCore(ctx, tauNum, tauDen)
    c.newSets.groupBy("fp").agg(min("doc_id").as("_new"))
      .join(ctx.stored("reps").withColumnRenamed("rid", "_old"),
        Seq("fp"), "left")
      .select(col("fp"),
        least(col("_new"), coalesce(col("_old"), col("_new"))).as("rid"))
  }

  /** Full pair list over the stored pieces: PPJoin on the reps,
    * expanded to members relationally (cross-group pairs inherit the
    * rep jaccard — set-equal members ARE the rep's set; within-group
    * pairs are identical sets, J = 1 by construction).
    */
  private def buildFullPairs(ctx: AdvanceCtx,
      tauNum: Int, tauDen: Int): DataFrame = {
    val sets = ctx.pin(ctx.stored("sets"))
    val reps = ctx.pin(ctx.stored("reps"))
    val repSets = sets
      .join(reps.select(col("rid").as("doc_id"), col("fp").as("_f")), "doc_id")
      .drop("_f")
    val repPref = ctx.pin(ctx.stored("prefix")
      .join(reps.select(col("rid").as("doc_id")), "doc_id"))
    val rp = verifyPairs(
      candPairs(repPref, repPref, tauNum, tauDen, ordered = true),
      repSets, repSets, tauNum, tauDen)
    val members = sets.select(col("doc_id").as("mid"), col("fp"))
    val ridFp = reps.select(col("rid"), col("fp"))
    val cross = rp
      .join(ridFp.select(col("rid").as("rid_a"), col("fp").as("fp_a")), "rid_a")
      .join(ridFp.select(col("rid").as("rid_b"), col("fp").as("fp_b")), "rid_b")
      .join(members.select(col("fp").as("fp_a"), col("mid").as("ma")), "fp_a")
      .join(members.select(col("fp").as("fp_b"), col("mid").as("mb")), "fp_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    val within = PairGen.pairsWithin(members, Seq("fp"), col("mid"))
      .select(col("a").as("id_a"), col("b").as("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** Increment pairs: (new × stored) + (new × new) member pairs —
    * disjoint from every earlier generation's keys because each
    * pair's later-arriving member is in exactly one increment.
    */
  private def advancePairs(ctx: AdvanceCtx,
      tauNum: Int, tauDen: Int): DataFrame = {
    val c = incCore(ctx, tauNum, tauDen)
    val oldMembers = ctx.stored("sets").select(col("doc_id").as("mo"),
      col("fp").as("fp_o"))
    val newMembers = c.newSets.select(col("doc_id").as("mn"),
      col("fp").as("fp_n"))
    val oldRidFp = ctx.stored("reps")
      .select(col("rid").as("rid_o"), col("fp").as("fp_o"))
    val newRidFp = c.newReps.select(col("rid").as("rid_n"),
      col("fp").as("fp_n"))
    val cross = c.crossRep
      .join(newRidFp, "rid_n").join(oldRidFp, "rid_o")
      .join(newMembers, "fp_n").join(oldMembers, "fp_o")
      .select(least(col("mn"), col("mo")).as("id_a"),
        greatest(col("mn"), col("mo")).as("id_b"), col("jaccard"))
    val withinX = c.withinRep
      .join(newRidFp.select(col("rid_n").as("rid_a"),
        col("fp_n").as("fp_a")), "rid_a")
      .join(newRidFp.select(col("rid_n").as("rid_b"),
        col("fp_n").as("fp_b")), "rid_b")
      .join(newMembers.select(col("fp_n").as("fp_a"),
        col("mn").as("ma")), "fp_a")
      .join(newMembers.select(col("fp_n").as("fp_b"),
        col("mn").as("mb")), "fp_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    val withinFp = PairGen.pairsWithin(
      newMembers.select(col("mn").as("mid"), col("fp_n").as("fp")),
      Seq("fp"), col("mid"))
      .select(col("a").as("id_a"), col("b").as("id_b"), lit(1.0).as("jaccard"))
    cross.unionByName(withinX).unionByName(withinFp)
  }

  /** Full labels: contract the STORED member pairs to rep edges (a
    * projection — verify work from the pairs build is never redone),
    * star-contraction CC on the rep graph, members inherit the rep
    * label (which is the cluster min: reps are group minima).
    */
  private def buildFullLabels(ctx: AdvanceCtx): DataFrame = {
    val sets = ctx.stored("sets")
    val reps = ctx.pin(ctx.stored("reps"))
    val m = sets.select(col("doc_id"), col("fp"))
    val repEdges = ctx.stored("pairs")
      .join(m.select(col("doc_id").as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(m.select(col("doc_id").as("id_b"), col("fp").as("fp_b")), "id_b")
      .join(reps.select(col("fp").as("fp_a"), col("rid").as("rid_a")), "fp_a")
      .join(reps.select(col("fp").as("fp_b"), col("rid").as("rid_b")), "fp_b")
      .select(col("rid_a"), col("rid_b")).distinct()
    val labels = DupClusters.componentsAlternating(
      reps.select(col("rid")), "rid", repEdges, "rid_a", "rid_b")
    m.join(reps.select(col("fp"), col("rid")), "fp")
      .join(labels, "rid")
      .select(col("doc_id"), col("cluster_id"))
  }

  /** Increment labels: relabel only new docs ∪ members of old
    * clusters a cross edge touches ([[ClusterStore]]'s discipline on
    * the exact tau-graph — see the class doc for why untouched old
    * clusters cannot change).
    */
  private def advanceLabels(ctx: AdvanceCtx,
      tauNum: Int, tauDen: Int): DataFrame = {
    val c = incCore(ctx, tauNum, tauDen)
    val docRep = c.newSets
      .join(c.newReps.select(col("fp"), col("rid")), "fp")
      .select(col("doc_id").as("id_a"), col("rid").as("id_b"))
    val cross = c.crossRep.select(col("rid_n").as("id_a"),
      col("rid_o").as("id_b"))
    val within = c.withinRep.select(col("rid_a").as("id_a"),
      col("rid_b").as("id_b"))
    // fast path — a fresh-content increment (no tau-edge at all, the
    // common case for novel data): every new doc labels with its
    // set-group's representative; nothing old is affected. Note an
    // increment fp matching a STORED fp implies J = 1, i.e. a cross
    // edge — so "no edges" really does mean "no old cluster touched".
    if (c.crossRep.isEmpty && c.withinRep.isEmpty)
      return docRep.select(col("id_a").as("doc_id"),
        col("id_b").as("cluster_id"))
    val oldLabels = ctx.stored("labels")
    val touched = cross.select(col("id_b").as("doc_id")).distinct()
      .join(oldLabels, "doc_id").select("cluster_id").distinct()
    val affected = ctx.pin(oldLabels.join(touched, "cluster_id")
      .select(col("doc_id"), col("cluster_id")))
    val nodes = ctx.newDocs.select(col("doc_id"))
      .union(affected.select("doc_id"))
    val edges = cross
      .union(within)
      .union(docRep)
      .union(affected.select(col("doc_id").as("id_a"),
        col("cluster_id").as("id_b")))
    DupClusters.componentsAlternating(nodes, "doc_id", edges, "id_a", "id_b")
  }

  private def handle(corpusPath: String, tauNum: Int, tauDen: Int) =
    IncrementalDocArtifact(corpusPath, s"prefix2_${tauNum}_$tauDen",
      pieces = Seq(
        Piece("order",
          (docs, _) => docs.select(explode(toks(col("text"))).as("tok"))
            .groupBy("tok").agg(count(lit(1)).as("df")),
          pinned = true),
        Piece("sets", (docs, _) => interned(docs)),
        Piece("prefix",
          (docs, ctx) => byKey(prefixEntries(docs, "doc_id", col("text"),
            ctx.stored("order"), tauNum, tauDen)),
          fold = Some(byKey))),
      merges = Seq(
        MergePiece("reps", Seq("fp"),
          buildFull = (_, ctx) => buildFullReps(ctx),
          advance = ctx => advanceReps(ctx, tauNum, tauDen)),
        MergePiece("pairs", Seq("id_a", "id_b"),
          buildFull = (_, ctx) => buildFullPairs(ctx, tauNum, tauDen),
          advance = ctx => advancePairs(ctx, tauNum, tauDen)),
        MergePiece("labels", Seq("doc_id"),
          buildFull = (_, ctx) => buildFullLabels(ctx),
          advance = ctx => advanceLabels(ctx, tauNum, tauDen))),
      compactEvery = 8,
      // surface scoping: appends advance only the screen pieces; the
      // reps/pairs/labels result surfaces catch up on first read
      lazyMerges = true)

  /** All (new_id, dup_id, jaccard) pairs between `batch` docs and
    * stored corpus docs with word-set Jaccard >= tauNum/tauDen —
    * exact, no false negatives. The batch derives its prefixes under
    * the STORED frozen order; candidates are a batch-prefix ⋈
    * stored-prefix equi-join (+ length and positional filters in
    * exact integers); verify intersects the stored interned sets.
    * `corpusFilter` restricts the stored side (test harness hook).
    */
  def screen(spark: SparkSession, sfDir: String, table: String,
      batch: DataFrame, idCol: String, tauNum: Int, tauDen: Int,
      corpusFilter: Column = lit(true)): DataFrame = {
    val h = handle(s"$sfDir/$table.parquet", tauNum, tauDen)
    // the batch side's tokenize+hash work is CPU-dense and its source
    // is often a single small file (one scan task); fanOut spreads it
    // to session parallelism and disarms itself on well-split inputs
    val b = graft.operators.SkewTools.fanOut(batch)
    val order = h.serve(spark, "order")
    val storedPref = h.serve(spark, "prefix").filter(corpusFilter)
      .select(col("doc_id").as("dup_id"), col("sz").as("sz_d"),
        col("pos").as("pos_d"), col("k"))
    val storedSets = h.serve(spark, "sets").filter(corpusFilter)
      .select(col("doc_id").as("dup_id"), col("ht").as("hd"), col("n").as("nd"))
    val bp = prefixEntries(b, idCol, col("text"), order, tauNum, tauDen)
      .select(col(idCol).as("new_id"), col("sz").as("sz_n"),
        col("pos").as("pos_n"), col("k"))
    val cand = bp.join(storedPref, "k")
      .where(least(col("sz_n"), col("sz_d")) * tauDen >=
        greatest(col("sz_n"), col("sz_d")) * tauNum)
      .where((lit(1) + least(col("sz_n") - col("pos_n"),
        col("sz_d") - col("pos_d"))) * (tauNum + tauDen) >=
        (col("sz_n") + col("sz_d")) * tauNum)
      .select(col("new_id"), col("dup_id")).distinct()
    val batchSets = b.select(col(idCol).as("new_id"),
      transform(toks(col("text")), t => xxhash64(t)).as("hn"))
      .select(col("new_id"), col("hn"), size(col("hn")).as("nn"))
    val inter = size(array_intersect(col("hn"), col("hd")))
    val union = col("nn") + col("nd") - inter
    cand
      .join(batchSets, "new_id")
      .join(storedSets, "dup_id")
      .where(inter * tauDen >= union * tauNum)
      .select(col("new_id"), col("dup_id"),
        round(inter.cast("double") / union, 4).as("jaccard"))
  }

  /** Offline compaction hook (also re-freezes nothing — the order is
    * pinned until the next full rebuild).
    */
  def compact(spark: SparkSession, corpusPath: String,
      tauNum: Int, tauDen: Int): Unit =
    handle(corpusPath, tauNum, tauDen).compact(spark)

  /** d23's output served from the store: all (id_a < id_b) pairs
    * with word-set Jaccard >= tau over the WHOLE stored corpus —
    * a scan of the `pairs` merge piece; candidate generation and
    * verify ran at build/advance time, never per query.
    */
  def similarPairs(spark: SparkSession, sfDir: String, table: String,
      tauNum: Int, tauDen: Int): DataFrame =
    handle(s"$sfDir/$table.parquet", tauNum, tauDen)
      .serve(spark, "pairs")

  /** d25's output served from the store: exact near-dup clusters
    * (min-reachable-id labels) — a scan of the `labels` merge piece;
    * the CC iteration ran at build/advance time, never per query.
    */
  def clusters(spark: SparkSession, sfDir: String, table: String,
      tauNum: Int, tauDen: Int): DataFrame =
    handle(s"$sfDir/$table.parquet", tauNum, tauDen)
      .serve(spark, "labels")

  // ---------------------------------------------------------------
  // Containment screening: |batch ∩ stored| / |batch| >= tau — the
  // asymmetric form that catches a new document mostly CONTAINED in
  // a stored one (boilerplate-wrapped copies, quote-heavy rewrites)
  // which symmetric Jaccard misses when the stored doc is much
  // larger. The prefix theorem needs no order on the INDEX side
  // here: if |a∩b| >= ceil(tau·|a|), then a's prefix (|a| −
  // ceil(tau·|a|) + 1 rarest tokens) cannot avoid b — tokens of a
  // outside b number at most |a| − ceil(tau·|a|). So the store keeps
  // a FULL postings piece (the honest index cost of containment) and
  // only the probe derives frozen-order prefixes.
  // ---------------------------------------------------------------

  private def containHandle(corpusPath: String, tauNum: Int, tauDen: Int) =
    IncrementalDocArtifact(corpusPath, s"contain2_${tauNum}_$tauDen", Seq(
      Piece("order",
        (docs, _) => docs.select(explode(toks(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df")),
        pinned = true),
      Piece("sets", (docs, _) => interned(docs)),
      Piece("postings",
        (docs, _) => docs.select(col("doc_id"), toks(col("text")).as("toks"))
          .select(col("doc_id"), size(col("toks")).as("sz"),
            explode(col("toks")).as("tok"))
          .repartition(col("tok")).sortWithinPartitions("tok"),
        fold = Some(df => df.repartition(col("tok"))
          .sortWithinPartitions("tok")))))

  /** All (new_id, dup_id, containment) with
    * |batch-set ∩ stored-set| / |batch-set| >= tauNum/tauDen — exact,
    * no false negatives. Candidates: the probe's frozen-order prefix
    * tokens against the stored FULL postings (|b| >= ceil(tau·|a|)
    * length filter in exact integers); verify on interned sets.
    */
  def screenContainment(spark: SparkSession, sfDir: String, table: String,
      batch: DataFrame, idCol: String, tauNum: Int, tauDen: Int,
      corpusFilter: Column = lit(true)): DataFrame = {
    val h = containHandle(s"$sfDir/$table.parquet", tauNum, tauDen)
    val b = graft.operators.SkewTools.fanOut(batch)  // see screen()
    val order = h.serve(spark, "order")
    val postings = h.serve(spark, "postings").filter(corpusFilter)
      .select(col("doc_id").as("dup_id"), col("sz").as("sz_d"), col("tok"))
    val storedSets = h.serve(spark, "sets").filter(corpusFilter)
      .select(col("doc_id").as("dup_id"), col("ht").as("hd"))
    // probe prefixes under the frozen order; raw token rides along as
    // the postings join key
    // k = lpad(df,10)|token → the raw token starts at char 12 (tokens
    // may themselves contain '|', so no delimiter split)
    val bp = prefixEntries(b, idCol, col("text"), order, tauNum, tauDen)
      .select(col(idCol).as("new_id"), col("sz").as("sz_n"),
        col("k").substr(lit(12), length(col("k"))).as("tok"))
    val cand = bp.join(postings, "tok")
      .where(col("sz_d") * tauDen >= col("sz_n") * tauNum)
      .select(col("new_id"), col("dup_id")).distinct()
    val batchSets = b.select(col(idCol).as("new_id"),
      transform(toks(col("text")), t => xxhash64(t)).as("hn"))
      .select(col("new_id"), col("hn"), size(col("hn")).as("nn"))
    val inter = size(array_intersect(col("hn"), col("hd")))
    cand
      .join(batchSets, "new_id")
      .join(storedSets, "dup_id")
      .where(inter * tauDen >= col("nn") * tauNum)
      .select(col("new_id"), col("dup_id"),
        round(inter.cast("double") / col("nn"), 4).as("containment"))
  }
}
