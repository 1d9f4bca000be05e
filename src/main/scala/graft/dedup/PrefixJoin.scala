package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Pin

/** Exact set-similarity self-join via prefix filtering — the
  * AllPairs / PPJoin family (Bayardo et al., WWW 2007; Vernica et
  * al., SIGMOD 2010 give the standard distributed formulation).
  *
  * MinHash LSH (d3/d4) answers "probably similar": false negatives
  * at a rate set by the band/row trade. This operator is the EXACT
  * rung of the dedup ladder: every pair with Jaccard >= tau is
  * returned, guaranteed, without the O(n²) cross product.
  *
  * Three stacked defenses keep candidate volume near output volume:
  *
  *  1. CONTRACTION (the §9.12 signature discipline): documents with
  *     identical token SETS collapse to one representative before
  *     any pair work — candidate and verify volume follow the
  *     distinct-set structure, not duplication width. Verified rep
  *     pairs expand back relationally (cross-group join + bucket-
  *     local within-group pairs at J = 1), so the output is
  *     identical to the uncontracted join. On the duplicate-heavy
  *     sf0.1 corpus this cuts verify work 33× (964,854 doc pairs
  *     from 28,865 rep pairs).
  *  2. PREFIX FILTER: under ANY global token order, two sets with
  *     J(a,b) >= tau share a token inside each one's PREFIX — the
  *     first |x| - ceil(tau·|x|) + 1 tokens of the ordered set.
  *     Ordering rarest-first (composite df|token sort key — no
  *     global rank, so the vocabulary never serializes through one
  *     partition) keys the candidate join on rare tokens.
  *  3. POSITIONAL FILTER (PPJoin proper): a collision at ordered
  *     positions (pa, pb) bounds the achievable overlap by
  *     1 + min(|a|−pa, |b|−pb); pairs whose every collision bounds
  *     below the required overlap ceil(num·(|a|+|b|)/(num+den)) are
  *     dropped before the distinct. Sound because a true pair's
  *     globally-smallest shared token is in both prefixes and
  *     yields a passing bound.
  *
  * All threshold comparisons are EXACT integer arithmetic (tau is a
  * rational num/den and never touches floating point), so no
  * boundary pair can flip; the registered oracle is the naive
  * all-pairs join — any lost pair hash-mismatches.
  *
  * 100 TB: corpus-sized exchanges are the (id, token) explode into
  * the df aggregate and the prefix explode into candidate buckets —
  * both linear in token count; per-document sorts are array_sort,
  * never a global sort; [[PairGen]]'s `maxBucket` remains the guard
  * for degenerate universes (a vocabulary so small no token is rare
  * — measured on the 31-token synthetic corpus, §9.16 — caps
  * blocking's discriminating power for ANY token-blocking scheme).
  *
  * Reference analogue: none — PyCassElastic has no similarity
  * machinery; this is the exact counterpart of d3/d4's LSH path in
  * the training-data dedup surface the build mandate adds.
  */
object PrefixJoin {

  /** (members, reps, verified rep pairs) — the contracted core both
    * public forms expand from.
    */
  private def core(docs: DataFrame, idCol: String, text: Column,
      tauNum: Int, tauDen: Int, maxBucket: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(tauNum > 0 && tauNum <= tauDen, "need 0 < tau <= 1")
    val id = col(idCol)
    val sets = docs.select(id,
      array_distinct(split(TextFunctions.normalize(text), " ")).as("toks"))
    // --- contraction: one representative per distinct token set.
    // Both tables are consumed by several downstream joins;
    // pinning them makes the scan+normalize+md5 lineage
    // runs once, not once per consumer (the §9.15 discipline).
    val withFp = sets.select(id, col("toks"),
      md5(concat_ws(" ", sort_array(col("toks")))).as("fp"))
    val members = Pin(withFp.select(id.as("mid"), col("fp")))
    // the representative token array is SORTED: group members share a
    // token SET but not an order, and everything downstream (df
    // counts, prefix keys, interned intersects) is set-semantics —
    // sort_array makes that invariant structural, so a future
    // consumer reading token order off `reps` can't silently depend
    // on which member happened to come first
    val reps = Pin(withFp.groupBy("fp")
      .agg(min(id).as("rid"), sort_array(first(col("toks"))).as("toks")))
    val exploded = reps.select(col("rid"), explode(col("toks")).as("tok"))
    val dfreq = exploded.groupBy("tok").agg(count(lit(1)).as("df"))
    // (df asc, token asc) composite sort key; df < 10^10 by lpad width
    val keyed = exploded.join(dfreq, "tok")
      .select(col("rid"), concat(lpad(col("df").cast("string"), 10, "0"),
        lit("|"), col("tok")).as("k"))
    val ordered = keyed.groupBy("rid")
      .agg(sort_array(collect_list(col("k"))).as("ks"))
      .select(col("rid"), col("ks"), size(col("ks")).as("sz"))
    // prefix length = sz - ceil(tau*sz) + 1, exact integer ceiling
    val prefLen = (col("sz") - floor((col("sz") * tauNum + (tauDen - 1))
      / tauDen) + 1).cast("int")
    val pref0 = ordered
      .select(col("rid"), col("sz"),
        posexplode(slice(col("ks"), lit(1), prefLen)).as(Seq("p0", "k")))
      .select(col("rid"), col("sz"), (col("p0") + 1).as("pos"), col("k"))
    // optional hot-bucket cap (deterministic smallest-rid-kept, the
    // PairGen semantics) — default unbounded: exact join
    val prefCapped =
      if (maxBucket == Int.MaxValue) pref0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("rid")
        pref0.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= maxBucket).drop("_rn")
      }
    // candidate generation is a SELF-JOIN of the (checkpointed)
    // prefix entries, NOT a bucket-collect expansion: a hot prefix
    // token (degenerate small vocabularies — §9.16 measured a
    // 3,816-member bucket on the 31-token corpus) would expand its
    // C(m,2) pairs inside ONE task under the collect form; as a join
    // the hot key is AQE skew-split across tasks and no bucket ever
    // has to fit in task memory. The checkpoint means the join's two
    // sides read one materialized RDD — no double lineage. Payload
    // is purely numeric (the fps re-attach after the distinct;
    // carrying the 32-char strings through the pair volume measured
    // 2-3x the whole join's wall).
    val pref = Pin(prefCapped)
    val aSide = pref.select(col("rid").as("rid_a"), col("sz").as("sz_a"),
      col("pos").as("pos_a"), col("k"))
    val bSide = pref.select(col("rid").as("rid_b"), col("sz").as("sz_b"),
      col("pos").as("pos_b"), col("k"))
    // length filter (J <= min/max) + positional overlap upper bound
    // vs required overlap, both in exact integers
    val cand = aSide.join(bSide, "k")
      .where(col("rid_a") < col("rid_b"))
      .where(least(col("sz_a"), col("sz_b")) * tauDen >=
        greatest(col("sz_a"), col("sz_b")) * tauNum)
      .where((lit(1) + least(col("sz_a") - col("pos_a"),
        col("sz_b") - col("pos_b"))) * (tauNum + tauDen) >=
        (col("sz_a") + col("sz_b")) * tauNum)
      .select(col("rid_a"), col("rid_b")).distinct()
    // --- verify on representatives only. Tokens are INTERNED to
    // 64-bit hashes for the intersect: the filter + output recompute
    // array_intersect 2-3x per row (projection collapse), and doing
    // that over STRING arrays measured 15 s where long arrays take
    // ~1 s — same cardinalities. The interning bet is ONE-SIDED:
    // within-set tokens are distinct, so a cross-token xxhash64
    // collision can only INFLATE an intersection — i.e. admit an
    // occasional false-positive pair near the boundary; it can never
    // shrink one, so the no-false-negative guarantee is unconditional
    // on the hash. At multi-billion-token-vocabulary scale, where the
    // birthday bound makes a collision plausible, re-verify the
    // boundary-tight pairs (inter within 1 of the threshold) on raw
    // strings — output-sized work. (The md5 contraction fingerprint
    // makes the same negligible-odds bet.)
    val repsH = reps.select(col("rid"), col("fp"),
      transform(col("toks"), t => xxhash64(t)).as("ht"), size(col("toks")).as("n"))
    val inter = size(array_intersect(col("ha"), col("hb")))
    val union = col("na") + col("nb") - inter
    val repPairs = cand
      .join(repsH.select(col("rid").as("rid_a"), col("fp").as("fp_a"),
        col("ht").as("ha"), col("n").as("na")), "rid_a")
      .join(repsH.select(col("rid").as("rid_b"), col("fp").as("fp_b"),
        col("ht").as("hb"), col("n").as("nb")), "rid_b")
      .where(inter * tauDen >= union * tauNum)
      .select(col("rid_a"), col("rid_b"), col("fp_a"), col("fp_b"),
        round(inter.cast("double") / union, 4).as("jaccard"))
    (members, reps, repPairs)
  }

  /** All pairs (id_a < id_b) with word-set Jaccard >= tauNum/tauDen,
    * plus the exact similarity rounded to 4 decimals. Exact: no
    * false negatives, verified against a brute-force oracle.
    */
  def similarPairs(docs: DataFrame, idCol: String, text: Column,
      tauNum: Int, tauDen: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    val (members, _, repPairs) =
      core(docs, idCol, text, tauNum, tauDen, maxBucket)
    // --- expansion: cross-group pairs carry the rep similarity...
    val cross = repPairs
      .join(members.select(col("fp").as("fp_a"), col("mid").as("ma")), "fp_a")
      .join(members.select(col("fp").as("fp_b"), col("mid").as("mb")), "fp_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    // ...within-group pairs are identical sets: J = 1 by construction
    val within = PairGen.pairsWithin(members, Seq("fp"), col("mid"), maxBucket)
      .select(col("a").as("id_a"), col("b").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** EXACT near-dup clusters: connected components over the
    * tau-similarity graph, every document labelled with the smallest
    * doc id reachable through any chain of J >= tau pairs. The CC
    * iteration runs on the CONTRACTED rep graph (|distinct sets|
    * nodes, verified rep pairs as edges — on the duplicate-heavy
    * sf0.1 corpus that is 28,865 edges standing in for 964,854);
    * members inherit their group rep's label, which IS the cluster
    * min because each rep is already its group's min id.
    */
  def clusters(docs: DataFrame, idCol: String, text: Column,
      tauNum: Int, tauDen: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    val (members, reps, repPairs) =
      core(docs, idCol, text, tauNum, tauDen, maxBucket)
    // large-star/small-star (O(log n) rounds) — near-dup chains can
    // be long, and each propagation round is a fixed-overhead job
    val labels = DupClusters.componentsAlternating(
      reps.select(col("rid")), "rid",
      repPairs.select(col("rid_a"), col("rid_b")), "rid_a", "rid_b")
    members
      .join(reps.select(col("fp"), col("rid")), "fp")
      .join(labels, "rid")
      .select(col("mid").as(idCol), col("cluster_id"))
  }
}
