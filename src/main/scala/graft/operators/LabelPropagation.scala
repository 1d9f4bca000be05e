package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007, the LPA
  * community-detection baseline) as a fixed-round DataFrame loop —
  * the community member of the graph family next to components,
  * PageRank, triangles, BFS and k-core. Reference analogue: none
  * (the reference has no graph operators).
  *
  * Each round, every node adopts the label carried by the PLURALITY
  * of its neighbors, ties broken by the smallest label — the
  * deterministic synchronous variant: asynchronous LPA's
  * visit-order dependence is exactly what a distributed engine
  * cannot reproduce, while synchronous updates with a total
  * tie-break make fixed-round results bit-equal on any engine (the
  * q76 oracle unrolls the identical rounds). Synchronous LPA can
  * oscillate on bipartite structures instead of converging — hence
  * fixed rounds is the contract, not a fixpoint.
  *
  * Plan shape per round: one edge⋈labels join keyed on dst (label
  * lookup), one (src, lbl) count aggregate, one row_number window
  * PARTITIONED by src (bounded per-group sort — never a global
  * sort); each round is pinned through [[Pin]] (its scaladoc states
  * the lineage and lost-executor rules). Per-round cost is O(E) with all
  * exchanges keyed — no cartesians, no driver-side graph state.
  */
object LabelPropagation {

  /** `rounds` synchronous label updates over DIRECTED `edges(src,
    * dst)` — undirected graphs pass both orientations (a node's
    * neighbors are the dst's of its out-edges). Initial label =
    * the node's own id. Output: (node, lbl) for every node with at
    * least one out-edge — including, on general DIRECTED input, a
    * node whose out-neighbors carry no labels that round (all pure
    * sinks): it KEEPS its previous label instead of silently
    * dropping out of the labeling (only labeled nodes — nodes with
    * out-edges — propagate labels, so a sink contributes nothing to
    * the plurality). On both-orientations input every neighbor is
    * labeled and the coalesce is a no-op.
    */
  def labels(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val pin = Pin.loop()
    val e = pin(edges.select(col("src"), col("dst")).distinct(), "edges")
    var lbls = pin(e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")), "lbls")
    val w = Window.partitionBy("src")
      .orderBy(col("c").desc, col("lbl").asc)
    for (_ <- 1 to rounds) {
      val upd = e.join(lbls.select(col("node").as("dst"), col("lbl")), "dst")
        .groupBy("src", "lbl").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("src").as("node"), col("lbl").as("new_lbl"))
      // left-join back onto the full node set: a node with no labeled
      // out-neighbor this round persists its label (node-keyed join,
      // node-sized — no new exchange class)
      lbls = pin(lbls.join(upd, Seq("node"), "left")
        .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl")),
        "lbls")
    }
    pin.seal(lbls)
  }
}
