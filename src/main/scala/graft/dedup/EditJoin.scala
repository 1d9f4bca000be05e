package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Pin

/** Exact edit-distance (Levenshtein ≤ k) similarity self-join — the
  * short-string dedup rung (titles, names, URLs) the set-similarity
  * family cannot cover: token-set Jaccard is blind to within-token
  * typos, and [[PrefixJoin]]'s prefix theorem needs sets, not
  * sequences. Candidate generation is PIGEONHOLE SEGMENT BLOCKING,
  * the PassJoin/EDJoin shape (Li, Deng & Feng, ICDE 2011; Xiao et
  * al., VLDB 2008): split every string into k+1 contiguous segments
  * — two strings within k edits MUST share one segment verbatim
  * (k edits can destroy at most k segments) — and probe each string
  * against the segment dictionary of every candidate length.
  *
  * Soundness of the probe windows: if ed(r, s) ≤ k with |r| ≤ |s|,
  * some segment r_i survives untouched and aligns inside s shifted
  * by at most the edits before it, i.e. its match starts within
  * ±k of its own start — so enumerating, per probe string s, the
  * substrings of length len_i(l_r) starting in
  * [start_i(l_r) − k, start_i(l_r) + k] for every indexable length
  * l_r ∈ [|s| − k, |s|] and every segment index i cannot miss a true
  * pair. Probe fan-out is ≤ (k+1)²·(2k+1) substrings per string — a
  * constant (45 at k = 2), never corpus-dependent. (PassJoin's
  * tighter multi-match windows are an optimization, not a soundness
  * requirement; this uses the simple ±k window.)
  *
  * Three stacked defenses keep candidate volume near output volume
  * (the [[PrefixJoin]] discipline, reapplied):
  *
  *  1. CONTRACTION: identical strings collapse to one representative
  *     before any segment work — candidate and verify volume follow
  *     DISTINCT strings, not duplication width; members expand back
  *     relationally (within-group pairs are distance 0 by
  *     construction).
  *  2. SEGMENT + LENGTH BLOCKING: the candidate join keys on
  *     (length, segment index, segment text) — only strings whose
  *     lengths can be within k and which share a positioned segment
  *     ever meet; the join is AQE-skew-split, so a hot segment
  *     (shared literal prefixes — the Customer#000… pathology) never
  *     has to fit one task.
  *  3. VERIFY on representatives: Spark's codegen'd `levenshtein`
  *     confirms every candidate; the blocking can only ADD
  *     candidates, never lose a true pair, so the registered oracle
  *     is the naive all-pairs join and any lost pair hash-mismatches.
  *
  * `maxBucket` optionally caps a segment bucket (deterministic
  * smallest-id-kept, [[PairGen]] semantics) for degenerate corpora
  * where exactness is traded for a bound — default unbounded: exact.
  * The trade is NOT silent: a capped run pairs with
  * [[truncationAudit]], which names every truncated bucket/group and
  * how many entries the cap dropped.
  *
  * 100 TB: corpus-sized work is the segment/probe explode (constant
  * fan-out per string) and the distinct over candidates; per-string
  * segment math is pure codegen'd expressions. No global order, no
  * driver state. Reference analogue: none — PyCassElastic has no
  * similarity machinery; this extends the dedup ladder the build
  * mandate adds.
  */
object EditJoin {

  /** Segment start (1-based) and length under the deterministic even
    * partition: the first `l mod (k+1)` segments get the extra char.
    */
  // NB Column./ is DOUBLE division — integer segment math must floor
  private def segLen(l: Column, i: Int, k: Int): Column = {
    val base = floor(l / (k + 1)).cast("int")
    val rem = (l % (k + 1)).cast("int")
    base + when(lit(i) < rem, 1).otherwise(0)
  }

  private def segStart(l: Column, i: Int, k: Int): Column = {
    val base = floor(l / (k + 1)).cast("int")
    val rem = (l % (k + 1)).cast("int")
    lit(i) * base + least(lit(i), rem) + 1
  }

  /** Index side: the k+1 positioned segments of every string of a
    * `(sid, s, l)` frame → (sid, l_a, i, seg). ONE pass: the k+1
    * segments ride as an array-of-structs exploded per row — the
    * pre-r17 k+1-branch union re-scanned `strs` per branch and paid
    * k+1 copies of its subtree in every downstream plan (analysis/
    * optimization time grows with plan size; the d28 screen measured
    * ~0.5 s of pure plan-construction driver time on the 15-branch
    * probe sibling below). Row multiset identical, order immaterial
    * (consumers join/aggregate on the blocking key).
    */
  private[dedup] def segmentsOf(strs: DataFrame, k: Int): DataFrame =
    strs.select(col("sid"), col("l").as("l_a"),
        explode(array((0 to k).map(i => struct(lit(i).as("i"),
          col("s").substr(segStart(col("l"), i, k), segLen(col("l"), i, k))
            .as("seg"))): _*)).as("_g"))
      .select(col("sid"), col("l_a"), col("_g.i").as("i"),
        col("_g.seg").as("seg"))

  /** Probe side: candidate substrings of every string of a
    * `(sid, s, l)` frame for every indexable length lr in [l-k, l],
    * segment index, and ±k start window → (sid, l_b, l_a, i, seg).
    * Fan-out is a constant <= (k+1)^2 (2k+1) per string.
    */
  private[dedup] def probesOf(strs: DataFrame, k: Int): DataFrame =
    probesFor(strs, k, -k to 0)

  /** BOTH-direction probe side: candidate substrings for every target
    * length lr in [l-k, l+k] → a probe-only screen against a stored
    * SEGMENT dictionary covers partners longer than the probe too
    * (soundness is symmetric: if ed(n, c) ≤ k with |n| < |c|, some
    * segment of c survives inside n, shifted by at most the edits
    * before it — so the substrings of n of c's segment lengths within
    * the ±k start window cannot miss it; lengths where a segment
    * cannot fit produce an empty start window). Fan-out ≤
    * (k+1)(2k+1)² per string — still a constant; this is what lets
    * [[EditStore]] persist only the (k+1)-per-string segment piece
    * instead of both dictionary orientations.
    */
  private[dedup] def probesAround(strs: DataFrame, k: Int): DataFrame =
    probesFor(strs, k, -k to k)

  // ONE pass over `strs` (see segmentsOf): every (delta, i) combo is a
  // struct in a per-row array — the pre-r17 form unioned one branch
  // per combo ((2k+1)(k+1) = 15 at k = 2), each re-scanning the input
  // and each adding a copy of its subtree to the plan. Same guards,
  // encoded per element: a branch's `where(lr >= 0)` and the
  // descending-range guard both collapse to an empty start array,
  // which the inner explode drops. Row multiset identical.
  private def probesFor(strs: DataFrame, k: Int, deltas: Range): DataFrame = {
    val combos = deltas.flatMap(d => (0 to k).map(i => (d, i)))
    val probeArr = array(combos.map { case (d, i) =>
      val lr = col("l") + d
      val ln = segLen(lr, i, k)
      val st0 = segStart(lr, i, k)
      // valid starts: [st0-k, st0+k] ∩ [1, l-ln+1] — always
      // non-empty when lr is indexable (st0 itself is in range), but
      // the guard keeps sequence() from generating a DESCENDING range
      // if the bounds were ever inverted
      val stLo = greatest(st0 - k, lit(1))
      val stHi = least(st0 + k, col("l") - ln + 1)
      val sts = when(lr >= 0 && stHi >= stLo, sequence(stLo, stHi))
        .otherwise(array().cast("array<int>"))
      struct(lr.as("l_a"), lit(i).as("i"), ln.as("ln"), sts.as("sts"))
    }: _*)
    strs
      .select(col("sid"), col("l").as("l_b"), col("s"),
        explode(probeArr).as("_p"))
      .select(col("sid"), col("l_b"), col("_p.l_a").as("l_a"),
        col("_p.i").as("i"), col("_p.ln").as("_ln"), col("s"),
        explode(col("_p.sts")).as("_st"))
      .select(col("sid"), col("l_b"), col("l_a"), col("i"),
        col("s").substr(col("_st"), col("_ln")).as("seg"))
  }

  /** All pairs (id_a < id_b, dist) with levenshtein ≤ k. Exact —
    * verified against brute force in `EditJoinSpec`; the d27 oracle
    * is the naive all-pairs join.
    */
  def similarPairs(strs: DataFrame, idCol: String, strCol: Column,
      k: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k >= 0, "need k >= 0")
    val id = col(idCol)
    // --- contraction: one representative per distinct string
    val withS = strs.select(id, strCol.as("s"))
    val members = Pin(withS.select(id.as("mid"), col("s")))
    val reps = Pin(withS.groupBy("s").agg(min(id).as("rid"))
      .select(col("rid").as("sid"), col("s"),
        length(col("s")).cast("int").as("l")))
    // --- index side, optionally capped per segment bucket
    val segs = segmentsOf(reps, k)
      .withColumnRenamed("sid", "rid_a")
    val segsCapped =
      if (maxBucket == Int.MaxValue) segs
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_a", "i", "seg").orderBy("rid_a")
        segs.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= maxBucket).drop("_rn")
      }
    val probes = probesOf(reps, k).withColumnRenamed("sid", "rid_b")
    // --- candidates: segment-dictionary join; the probe only looks
    // DOWN in length, so cross-length pairs appear once; equal-length
    // pairs canonicalize via least/greatest before the distinct
    val cand = segsCapped.join(probes, Seq("l_a", "i", "seg"))
      .where(col("rid_a") =!= col("rid_b"))
      .select(least(col("rid_a"), col("rid_b")).as("rid_a"),
        greatest(col("rid_a"), col("rid_b")).as("rid_b"))
      .distinct()
    // --- verify on representatives (codegen'd levenshtein)
    val repPairs = cand
      .join(reps.select(col("sid").as("rid_a"), col("s").as("s_a")), "rid_a")
      .join(reps.select(col("sid").as("rid_b"), col("s").as("s_b")), "rid_b")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .where(col("dist") <= k)
      .select(col("rid_a"), col("rid_b"), col("s_a"), col("s_b"), col("dist"))
    // --- expansion: cross-group pairs carry the rep distance
    // (members ARE their rep's string); within-group pairs are
    // identical strings, distance 0 by construction
    val cross = repPairs
      .join(members.select(col("s").as("s_a"), col("mid").as("ma")), "s_a")
      .join(members.select(col("s").as("s_b"), col("mid").as("mb")), "s_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("dist"))
    val within = PairGen.pairsWithin(members, Seq("s"), col("mid"), maxBucket)
      .select(col("a").as("id_a"), col("b").as("id_b"), lit(0L).as("dist"))
    cross.unionByName(within)
  }

  /** Recall-loss audit for a capped [[similarPairs]] run — the
    * "no silent caps" discipline: `maxBucket` silently drops index
    * entries past the cap, so a capped deployment runs this alongside
    * the join to see WHERE exactness was traded. One row per
    * truncated blocking unit: `kind` = "segment" (an (l_a, i, seg)
    * index bucket larger than the cap — pairs against its dropped
    * members may be lost) or "group" (an identical-string group whose
    * within-pairs were capped), with the unit's size and the dropped
    * count. Empty ⇒ the capped run was exact after all.
    */
  def truncationAudit(strs: DataFrame, idCol: String, strCol: Column,
      k: Int, maxBucket: Int): DataFrame = {
    require(maxBucket != Int.MaxValue, "audit is for capped runs")
    val id = col(idCol)
    val withS = strs.select(id, strCol.as("s"))
    val reps = withS.groupBy("s").agg(min(id).as("rid"))
      .select(col("rid").as("sid"), col("s"),
        length(col("s")).cast("int").as("l"))
    val segBuckets = segmentsOf(reps, k)
      .groupBy("l_a", "i", "seg").agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket)
      .select(lit("segment").as("kind"),
        concat_ws("|", col("l_a"), col("i"), col("seg")).as("unit"),
        col("n").as("size"), (col("n") - maxBucket).as("dropped"))
    val groups = withS.groupBy("s").agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket)
      .select(lit("group").as("kind"), col("s").as("unit"),
        col("n").as("size"), (col("n") - maxBucket).as("dropped"))
    segBuckets.unionByName(groups)
  }
}
