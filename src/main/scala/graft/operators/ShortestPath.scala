package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first shortest path (hop distance) as a
  * frontier-iterated DataFrame loop — the reachability/distance member
  * of the engine's graph family next to connected components, PageRank
  * and triangle counting. Reference analogue: none (the reference has
  * no graph operators).
  *
  * Frontier discipline (the property that makes BFS viable at scale):
  * iteration h touches only the NEW nodes discovered at distance h-1,
  * never the settled set — so total work is O(Σ_h |frontier_h| ·
  * avg-degree) = O(|E|) across the whole run, not O(|E|) PER
  * iteration. The naive alternative (expand every (node, dist) pair
  * each round and min-aggregate at the end — which is exactly what a
  * recursive-CTE engine does, and what the q74 oracle does) re-visits
  * every settled node every round; on a graph whose BFS tree is deep
  * that is the difference between O(E) and O(E·diameter).
  *
  * Per iteration: ONE edge join keyed on src (the frontier is the
  * small side — broadcastable early on, AQE's call), one distinct on
  * the discovered set, one anti join against settled (both keyed on
  * node). Rounds are pinned through [[Pin]] (its scaladoc states the
  * lineage and lost-executor rules). The loop exits early when a frontier is
  * empty, which never changes the result — it only skips provably
  * empty rounds.
  *
  * Determinism contract with the oracle: hop distances are integers,
  * so unlike PageRank there is no floating-point unroll discipline —
  * any engine that computes min hop distance agrees exactly.
  */
object ShortestPath {

  /** Bounded Bellman-Ford: min total WEIGHT from any seed along
    * DIRECTED `edges(src, dst, w)` over paths of at most `rounds`
    * edges — the weighted member next to [[hops]]. Fixed rounds is
    * the contract (like [[graft.operators.LabelPropagation]]):
    * "shortest path using at most k edges" is exact and
    * engine-agnostic for any k, converging to the true shortest path
    * once k reaches the longest shortest-path edge count. Integer
    * weights make results bit-equal with the unrolled oracle.
    *
    * IMPROVED-FRONTIER discipline (exact, not a heuristic): round k's
    * E-sized edge join consumes ONLY the rows whose dist strictly
    * improved in round k-1 — any relaxation through a non-improved
    * node was already offered in an earlier round and lost to the
    * running min, so dropping it cannot change dist_k. (This holds
    * for any weights, zero and negative included: the argument is
    * structural — a best ≤k-edge path whose last edge leaves a
    * non-improved node has the same cost it had a round earlier.)
    * Unlike [[hops]]' settled-set frontier a node can re-enter the
    * improved set (a long cheap path beating a short expensive one —
    * the reason weighted search cannot use the settled-set form), but
    * on real graphs the improved set collapses after a few rounds: at
    * 100 TB that is ~2-3 full edge joins + near-empty ones instead of
    * `rounds` full joins. The node-sized min-fold keeps the full
    * table (that is the cheap, keyed part); an empty improved set is
    * the fixpoint and exits early — every later round is a provable
    * no-op.
    */
  def weighted(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    weightedImpl(edges, seeds, rounds, collectSizes = false)._1

  /** [[weighted]] exposing the per-round improved-set sizes — the
    * spec hook pinning that round k's edge-join input IS the improved
    * set (and that it collapses). Not part of the public surface; the
    * production path ([[weighted]]) runs ONE action per round (the
    * emptiness check on the fresh improvements) — the size counts are
    * spec-only.
    */
  private[graft] def weightedInstrumented(edges: DataFrame, seeds: DataFrame,
      rounds: Int): (DataFrame, Seq[Long]) =
    weightedImpl(edges, seeds, rounds, collectSizes = true)

  private def weightedImpl(edges: DataFrame, seeds: DataFrame,
      rounds: Int, collectSizes: Boolean): (DataFrame, Seq[Long]) = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val pin = Pin.loop()
    // per-stream cadence: imp and dist are SEPARATE state streams —
    // each must land a reliable cut every N of its own pins (a shared
    // index would let dist alias the between-cut slots forever).
    // Pins are LAZY + counted (r17): the pre-r17 loop scheduled 3-4
    // serial jobs per round (eager imp pin, its isEmpty probe, the
    // eager dist pin) — pinCount fuses pin + materialization +
    // emptiness into one job, and the lazily-pinned edge/dist tables
    // materialize inside their first full-scan consumer (the round's
    // joins), which satisfies pinLazy's safety condition.
    val e = pin.pinLazy(
      edges.select(col("src"), col("dst"), col("w")).distinct(), "edges")
    val (dist0, nSeeds) = pin.pinCount(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)), "dist")
    var dist = dist0
    // round 0: every seed just "improved" (from unreachable to 0)
    var improved = dist
    val sizes = Seq.newBuilder[Long]
    var r = 1
    var exhausted = nSeeds == 0
    while (r <= rounds && !exhausted) {
      if (collectSizes) sizes += improved.count()
      // candidates reachable through an improved node, one min per dst
      val cand = e.join(improved.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("cand"))
      // strict improvements over the current table (or first sightings)
      val (imp, nImp) = pin.pinCount(cand.join(dist, Seq("node"), "left")
        .where(col("dist").isNull || col("cand") < col("dist"))
        .select(col("node"), col("cand").as("dist")), "imp")
      if (nImp == 0) exhausted = true
      else {
        dist = pin.pinLazy(dist.unionByName(imp)
          .groupBy("node").agg(min("dist").as("dist")), "dist")
        improved = imp
      }
      r += 1
    }
    (pin.seal(dist), sizes.result())
  }

  /** Min hop distance from any node in `seeds(node)` along DIRECTED
    * `edges(src, dst)`, bounded by `maxHops`. Undirected graphs pass
    * both orientations. Output: (node, dist) — seeds at 0 (isolated
    * seeds included; they are reachable at distance 0 by definition),
    * every node first discovered at hop h ≤ maxHops at h.
    */
  def hops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val pin = Pin.loop()
    // lazy + counted pins: one scheduled job per round instead of
    // 3-4 (see weightedImpl's r17 note); every lazily-pinned frame's
    // first action is a full scan (the next round's joins)
    val e = pin.pinLazy(edges.select(col("src"), col("dst")).distinct(),
      "edges")
    val (settled0, nSeeds) = pin.pinCount(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0)), "settled")
    var settled = settled0
    var frontier = settled.select("node")
    var h = 1
    var exhausted = nSeeds == 0
    while (h <= maxHops && !exhausted) {
      val (discovered, nD) = pin.pinCount(
        e.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node")).distinct()
          .join(settled, Seq("node"), "left_anti")
          .withColumn("dist", lit(h)), "frontier")
      if (nD == 0) exhausted = true
      else {
        settled = pin.pinLazy(settled.unionAll(discovered), "settled")
        frontier = discovered.select("node")
      }
      h += 1
    }
    pin.seal(settled)
  }
}
