package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Pin

/** Connected components over a near-duplicate pair list — the cluster
  * resolution step of a dedup pipeline: candidate pairs (MinHash LSH,
  * SimHash blocks, …) are edges; each document's cluster id is the
  * minimum doc id reachable through any chain of pairs; keeping one
  * row per cluster id is then a trivial filter (`id === cluster_id`).
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labelled with itself; each round every node takes the min of its
  * own label and its neighbours' labels; fixpoint when no label
  * changes. Rounds needed = graph diameter — near-dup clusters are
  * shallow (pairs of a cluster mostly share one canonical member), so
  * 2-4 rounds in practice. For adversarial long-chain graphs switch
  * to the large-star/small-star contraction (O(log n) rounds); the
  * per-round plan here is the same building block.
  *
  * Scale properties of one round:
  *  - `labels` is one row per node (id, lbl) — tiny next to the corpus;
  *  - the join with the (pre-symmetrized, pre-partitioned) edge list
  *    shuffles on the node id, the natural key;
  *  - each round's labels are pinned through [[Pin]] (its scaladoc
  *    states the lineage and lost-executor rules);
  *  - convergence is checked with one small aggregate per round.
  *
  * Deterministic: min is order-insensitive; replays converge to the
  * identical labelling regardless of partitioning.
  */
object DupClusters {

  /** (id, cluster_id) for every node of `nodes`, where cluster_id is
    * the minimum node id in the pair-connected component. Nodes absent
    * from `edges` keep themselves as cluster_id (singleton clusters).
    *
    * @param nodes one row per node (deduplicated internally)
    * @param edges undirected pair list; both endpoint columns must be
    *              the same type as `nodes`' id column
    */
  def components(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 20): DataFrame = {
    val e = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
    // symmetrize once; this small table is reused every round. LAZY
    // pins throughout this loop (r17): the aggregate that follows each
    // pin full-scans it, which materializes the cache in the SAME
    // scheduled job (an eager pin is a second serial job per round;
    // the truncation-safety condition is the full scan — see
    // Pin.pinLazy).
    val pin = Pin.loop()
    val sym = pin.pinLazy(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct(),
      "edges")

    var labels = pin.pinLazy(nodes.select(col(idCol).as("id")).distinct()
      .withColumn("lbl", col("id")), "labels")

    // a label only ever decreases, so "changed" == "sum decreased":
    // one tiny aggregate per round instead of a join against the old
    // labelling (decimal sum so billions of wide ids cannot overflow;
    // an empty node set sums to SQL NULL => nothing to propagate)
    def lblSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0))

    // one propagation round (neighbour labels flow along edges; union
    // keeps own label) — aliased so rounds can CHAIN inside one plan
    def prop(cur: DataFrame): DataFrame =
      cur.as("_L").join(sym.as("_S"), col("_L.id") === col("_S.src"))
        .select(col("_S.dst").as("id"), col("_L.lbl").as("lbl"))
        .union(cur.select(col("id"), col("lbl")))
        .groupBy("id").agg(min("lbl").as("lbl"))

    var prevSum = lblSum(labels)
    var round = 0
    var converged = prevSum.isEmpty
    // one round per checkpoint + sum check. MEASURED WRONG in r17 and
    // reverted: batching two rounds per checkpoint (the round's state
    // feeds the next round's plan twice — join side and union side) —
    // isolated d9 2.3 -> 2.7 s; the duplicated inner-round subtree
    // costs more than the saved checkpoint/aggregate fixed cost.
    while (round < maxRounds && !converged) {
      // lazy pin: lblSum's full-scan aggregate materializes it
      val next = pin.pinLazy(prop(labels), "labels")
      val nextSum = lblSum(next)
      // compareTo, not equals: BigDecimal.equals is scale-sensitive
      converged = (nextSum, prevSum) match {
        case (Some(a), Some(b)) => a.compareTo(b) == 0
        case (a, b) => a == b
      }
      prevSum = nextSum
      labels = next
      round += 1
    }
    // an unconverged labelling is silently WRONG (nodes beyond
    // maxRounds hops from their component's minimum still carry
    // intermediate labels) — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxRounds rounds — " +
        "the pair graph has a longer chain than expected; raise maxRounds " +
        "or switch to large-star/small-star contraction")
    pin.seal(labels).select(col("id").as(idCol), col("lbl").as("cluster_id"))
  }

  /** Connected components by ALTERNATING large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the O(log n)-round path for graphs whose diameter
    * makes per-hop label propagation (`components`) too slow:
    * adversarial duplication chains, transcript-like corpora where
    * near-dup edges form long paths.
    *
    * Each round rewrites the edge set itself (nodes hook onto local
    * minima, stars flatten), so chains contract geometrically instead
    * of shrinking one hop per round. Per round: one groupBy + one
    * join per star operation over the current edge list — the same
    * shuffle volume as one propagation round, but ~log n of them
    * total. No per-node adjacency lists are ever materialized
    * (`collect_list` on a million-member star center would be the
    * classic OOM), and each round is pinned through [[Pin]].
    *
    * Same contract as `components`: cluster_id = min reachable id,
    * singletons label themselves, deterministic under replay.
    */
  def componentsAlternating(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 30): DataFrame = {
    val pin = Pin.loop()
    // canonical larger→smaller edges; self-loops vanish. Lazy:
    // sig(e)'s aggregate below full-scans and materializes it
    var e = pin.pinLazy(edges
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), "edges")

    // edge-set signature: (count, order-insensitive hash sum) — one
    // tiny aggregate per round. A signature MATCH is then confirmed
    // exactly (one exceptAll, only on the matching round), so a
    // 2^-64 hash-sum collision can cost one extra round but can never
    // declare a non-fixpoint converged.
    def sig(df: DataFrame): (Long, Option[java.math.BigDecimal]) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head
      (r.getLong(0), Option(r.getDecimal(1)))
    }

    var prev = sig(e)
    var round = 0
    var converged = prev._1 == 0L
    while (round < maxRounds && !converged) {
      // LARGE-STAR: every node u links its strictly-larger neighbors
      // to min(N(u) ∪ {u}); edges stay larger→smaller since m ≤ x < y
      val adj = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mins = adj.groupBy("x").agg(min("y").as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      // no intermediate distinct (r17): large-star duplicates ((y, m)
      // reached through several x-neighbors) are harmless SET-wise —
      // the small-star min aggregate is duplicate-insensitive and the
      // round's final distinct dedups the explode — and the dedup
      // exchange it replaced was a full edge-set shuffle per round;
      // the extra explode volume is bounded by 2|e| rows into that
      // existing final exchange.
      val large = adj.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
      // SMALL-STAR: u and all its smaller neighbors hook onto the min
      val sMin = large.groupBy("u").agg(min("v").as("m"))
      // lazy: sig(small) full-scans and materializes it
      val small = pin.pinLazy(large.join(sMin, "u")
        .select(explode(array(
          struct(col("u").as("a"), col("m").as("b")),
          struct(col("v").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("u"), col("p.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), "edges")
      val next = sig(small)
      val sigMatch = next._1 == prev._1 && ((next._2, prev._2) match {
        case (Some(a), Some(b)) => a.compareTo(b) == 0
        case (a, b) => a == b
      })
      // signatures equal => confirm exactly: counts match, so one
      // empty multiset difference proves set equality
      converged = sigMatch && small.exceptAll(e).limit(1).count() == 0L
      prev = next
      e = small
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"star contraction did not converge in $maxRounds rounds")
    nodes.select(col(idCol).as("id")).distinct()
      .join(pin.seal(e).groupBy("u").agg(min("v").as("m")),
        col("id") === col("u"), "left")
      .select(col("id").as(idCol), coalesce(col("m"), col("id")).as("cluster_id"))
  }

  /** Connected components with IDENTICAL-SIGNATURE CONTRACTION — the
    * scale path for duplication-heavy corpora (crawl data, the §9.11
    * wide-duplication probe): docs sharing an exact signature are
    * trivially one cluster, so pair generation and the iterative
    * contraction run over one REPRESENTATIVE per distinct signature
    * (the group's min id) and every doc then inherits its signature's
    * label. Pair volume becomes a function of DISTINCT signatures, not
    * documents — a 100×-duplicated corpus pays 100× fewer nodes and
    * ~10⁴× fewer bucket pairs, where the uncontracted form is
    * quadratic in duplication width per bucket.
    *
    * EXACT-equivalence contract (holds for any signature-pure pair
    * predicate whose blocking keys derive from the signature, e.g.
    * SimHash near-pairs): identical signatures share every block and
    * sit at distance 0, so a signature group is connected in the
    * uncontracted graph; a doc-level edge (x, y) exists iff the
    * rep-level edge (rep(sig x), rep(sig y)) exists (same signatures,
    * same predicate). Components therefore correspond 1:1, and the
    * component minimum is preserved because each representative is
    * already its group's minimum. Caveat: a binding `maxBucket` cap
    * counts members differently on the two graphs (docs vs distinct
    * signatures) — with the cap unbound (the oracle-checked form) the
    * labelling is bit-identical, and under a cap the contracted form
    * is strictly MORE complete (a bucket holds more distinct
    * signatures before truncating).
    *
    * @param nodes   one row per doc (absent-from-`sims` docs label
    *                themselves, same as the other two forms)
    * @param sims    (idCol, sigCol) one signature per doc
    * @param pairsOf representative table (idCol, sigCol) → pair list
    *                with columns `id_a`, `id_b` (e.g.
    *                `SimHash.nearPairs(_, idCol, maxDist)`)
    */
  def componentsContracted(
      nodes: DataFrame, idCol: String,
      sims: DataFrame, sigCol: String,
      pairsOf: DataFrame => DataFrame,
      maxRounds: Int = 30): DataFrame = {
    // the signature table feeds three consumers (reps, pair gen, the
    // expand join) — materialize the narrow (id, sig) rows ONCE so the
    // signature computation's lineage (a full corpus text scan) never
    // re-executes per consumer
    // lazy pins: building reps full-scans simsM; the contraction's
    // first edge-set signature aggregate full-scans reps
    val simsM = Pin.lazily(sims.select(col(idCol), col(sigCol)))
    val reps = Pin.lazily(
      simsM.groupBy(col(sigCol)).agg(min(col(idCol)).as(idCol)))
    val repPairs = pairsOf(reps.select(col(idCol), col(sigCol)))
    val repLabels = componentsAlternating(
      reps.select(col(idCol)), idCol, repPairs, "id_a", "id_b", maxRounds)
    val expanded = simsM
      .join(reps.select(col(sigCol), col(idCol).as("_rep")), sigCol)
      .join(repLabels.select(col(idCol).as("_rep"), col("cluster_id")), "_rep")
      .select(col(idCol), col("cluster_id"))
    nodes.select(col(idCol)).distinct()
      .join(expanded, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Cluster summary: one row per cluster with its size and member
    * count — the table a dedup job reports and the keep-one filter
    * reads.
    */
  def clusterSizes(components: DataFrame): DataFrame =
    components.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))

  /** Quality-aware survivor selection: per cluster, keep the row with
    * the HIGHEST score (ties to the lowest id) — the keep rule
    * production pipelines actually use (the best-written copy
    * survives, not the first-crawled one). Output
    * (cluster_id, keep_id, <scoreCol>, n_members), one row per
    * cluster; singletons keep themselves.
    *
    * Scale shape: the scores join shuffles on the id, then BOTH
    * window passes (membership count + score rank) share ONE
    * cluster_id exchange — cost is the clusters table, never the
    * corpus text.
    *
    * The join is inner: a row of `components` with no score is
    * excluded from its cluster's candidacy AND its membership count —
    * score every row you want considered.
    */
  def keepBest(components: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
    components.join(scores, idCol)
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("_rn", row_number().over(
        w.orderBy(col(scoreCol).desc, col(idCol))))
      .filter(col("_rn") === 1)
      .select(col("cluster_id"), col(idCol).as("keep_id"),
        col(scoreCol), col("n_members"))
  }

  /** Generalized survivor selection under an EXPLICIT preference
    * ordering — the provenance-aware keep rule: a curated/licensed
    * source beats a crawl dump regardless of per-document quality,
    * quality breaks ties within a priority tier, the lowest id breaks
    * exact ties. [[keepBest]] is the (score desc, id asc) special
    * case. `attrs` carries whatever columns the ordering references;
    * same inner-join contract and single cluster_id exchange as
    * keepBest (both windows share one partitioning — cost is the
    * clusters table, never corpus text).
    *
    * @param preference window ordering, most-significant first; make
    *   it total (end with the id) or survivors are nondeterministic
    * @param outCols    attr columns to carry onto the survivor row
    */
  def keepPreferred(components: DataFrame, attrs: DataFrame, idCol: String,
      preference: Seq[Column], outCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
    components.join(attrs, idCol)
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("_rn", row_number().over(w.orderBy(preference: _*)))
      .filter(col("_rn") === 1)
      .select(col("cluster_id") +: col(idCol).as("keep_id") +:
        outCols.map(col) :+ col("n_members"): _*)
  }
}
