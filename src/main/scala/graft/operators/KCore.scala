package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman 1983; the
  * distributed peel is Montresor et al.'s batch variant): repeatedly
  * delete every node whose degree in the SURVIVING subgraph is < k —
  * the fixpoint is the k-core, the standard dense-subgraph screen
  * (spam/bot rings in a link graph, co-citation cores, the "keep only
  * well-connected duplicates" step before a clustering pass).
  *
  * Plan shape per round: one degree aggregate (two map-side projected
  * unions of the edge list, keyed on node) and two semi joins filtering
  * the edge list by the surviving node set — all keyed exchanges, no
  * cartesians, no driver-side graph state; each round is pinned
  * through [[Pin]] (its scaladoc states the lineage and lost-executor
  * rules). Rounds cost O(|surviving E|) and
  * the edge list only shrinks, so total work is bounded by
  * rounds × |E| with the usual few-round convergence in practice.
  *
  * Determinism: integer degrees, so fixed-round results match any
  * engine exactly (the q75 oracle unrolls the same peel as CTE
  * stages); `core()` runs to the fixpoint with a per-round
  * emptiness check — same driver-action discipline as
  * [[ShortestPath]]'s frontier-exhaustion exit.
  *
  * Reference analogue: none (the reference has no graph operators).
  */
object KCore {

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** One peel round: drop every edge with an endpoint of degree < k.
    * Nodes disappear implicitly — a node exists only through its
    * edges (an isolated node is in no k-core for k >= 1).
    */
  private def peelOnce(e: DataFrame, k: Int, pin: Pin): DataFrame = {
    val keep = degrees(e).where(col("deg") >= k).select("node")
    pin(e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
      .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi"), "e")
  }

  /** `rounds` fixed peel rounds over CANONICAL undirected edges
    * (one row per edge, a < b — the caller owns dedup, same contract
    * as [[Triangles.count]]). Output: (node, deg) of the surviving
    * subgraph. Fixed-round form so an oracle can unroll the identical
    * chain; [[core]] is the production fixpoint.
    */
  def peelRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pin = Pin.loop()
    var e = pin(edges.select(col("a"), col("b")).distinct(), "e")
    var n = e.count()
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      val next = peelOnce(e, k, pin)
      val m = next.count()
      // a round that deletes nothing is the fixpoint — every later
      // round is a no-op, so skipping them never changes the result
      if (m == n) stable = true
      e = next
      n = m
      r += 1
    }
    pin.seal(degrees(e))
  }

  /** The k-core itself: peel to the fixpoint — bounded, because
    * peeling converges in O(diameter)-ish rounds on real graphs but
    * O(n) on adversarial ones (a path graph peels ONE layer per
    * round), and each round is a driver-synchronized O(E) job. Past
    * `maxRounds` this fails loudly instead of silently burning a
    * cluster — the [[PageRank.converged]] maxIters discipline; raise
    * the bound deliberately or use [[peelRounds]] for a truncated
    * result.
    */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val pin = Pin.loop()
    var e = pin(edges.select(col("a"), col("b")).distinct(), "e")
    var n = e.count()
    var r = 0
    while (r < maxRounds) {
      val next = peelOnce(e, k, pin)
      val m = next.count()
      if (m == n) return pin.seal(degrees(next))
      e = next
      n = m
      r += 1
    }
    if (n == 0) pin.seal(degrees(e)) // empty is trivially the fixpoint
    else throw new IllegalStateException(
      s"k-core peel did not reach a fixpoint in $maxRounds rounds " +
        s"($n edges still live) — raise maxRounds or use peelRounds " +
        "for an explicitly truncated result")
  }
}
