package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page 1998) as a fixed-iteration DataFrame loop —
  * the iterative-join graph workload beyond connected components:
  * each iteration is ONE edge-keyed join (rank mass flows along
  * edges, divided by out-degree), one destination-keyed aggregate,
  * and one broadcast scalar for the dangling mass (nodes with no
  * out-edges redistribute uniformly — without this term a bipartite
  * graph drains to the teleport floor). No driver-side collection:
  * the dangling mass rides as a crossJoin(broadcast(1-row agg)),
  * the same discipline as the engine's other scalar aggregates.
  *
  * Determinism contract (the oracle unrolls the same chain as CTE
  * stages): fixed iteration count, the damping/teleport constants
  * appear as the SAME literals in both engines, every per-node
  * formula is written with identical parenthesization, and only the
  * FINAL ranks round (iteration values stay full-precision; the
  * per-aggregate double-summation jitter is ~1e-16 per step and the
  * final round(6) absorbs it).
  *
  * Scale: per iteration the only corpus-sized exchanges are the
  * edge join (keyed on src) and the contribution aggregate (keyed on
  * dst, map-side combined); rank state is |nodes| rows. The loop is
  * the cost — each iteration is pinned through [[Pin]] (its scaladoc
  * states the lineage and lost-executor rules).
  */
object PageRank {

  /** Loop-invariant graph tables: distinct edges, and the initial
    * rank STATE BASE `(node, deg)` — out-degree rides ON the state
    * (null = dangling) so the per-iteration plan joins NOTHING
    * loop-invariant: r16 pinned outDeg/dangling/nodes as separate
    * tables, but each iteration still re-joined (and re-BROADCAST)
    * all three — ~17 tiny jobs per iteration at bench scale, almost
    * all scheduling overhead. With deg on the state: the dangling
    * mass is a flag filter on the pinned state, the contribution
    * join divides by the carried deg, and the next-state join is
    * state⋈contrib (the state IS the node set). Two pins total
    * (guide §2.4: one exchange per fact, then reuse it).
    */
  private def graphTables(edges: DataFrame, pin: Pin)
      : (DataFrame, DataFrame, Double) = {
    val e = pin(edges.select(col("src"), col("dst")).distinct(), "edges")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val base = pin(nodes.join(outDeg,
        nodes("node") === outDeg("src"), "left")
      .select(col("node"), col("deg")), "base")
    // node count as a driver scalar: one count job over the pinned
    // base table; identical value to a 1-row count(*) aggregate
    val n = base.count().toDouble
    (e, base, n)
  }

  /** One damped iteration over the `(node, pr, deg)` state (see
    * [[graphTables]] for why deg rides on the state).
    *
    * The loop-invariant node count rides as a LITERAL (computed once,
    * not re-aggregated + broadcast per iteration); the dangling mass
    * stays a broadcast crossJoin — an r16 experiment replaced it with
    * a driver `head` literal and measured WORSE (5.5 s vs 4.8 s
    * isolated q43: the BroadcastExchange build overlaps with the pin
    * job's other stages, a strictly-serial head() cannot).
    *
    * Equivalences to the pre-r17 form (oracle-checked on q43):
    * dangling mass sums pr over `deg IS NULL` — exactly the nodes the
    * old left-anti dangling table held; the contribution join keeps
    * every e⋈pr row (an edge's src has out-edges by construction, so
    * its state row always carries a non-null deg — the old inner
    * outDeg join dropped nothing either); the next state joins pr
    * itself instead of a nodes table (the state holds every node,
    * every round).
    */
  private def step(pr: DataFrame, e: DataFrame, n: Double, d: Double,
      pin: Pin): DataFrame = {
    val dm = pr.filter(col("deg").isNull)
      .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
    val contrib = e
      .join(pr.select(col("node").as("src"), col("pr"), col("deg")), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("pr") / col("deg")).as("c"))
    pin(pr.select(col("node"), col("deg"))
      .join(contrib, Seq("node"), "left")
      .crossJoin(broadcast(dm))
      .select(col("node"),
        ((lit(1.0) - d) / lit(n) +
          lit(d) * (coalesce(col("c"), lit(0.0)) + col("dm") / lit(n)))
          .as("pr"),
        col("deg")), "pr")
  }

  /** Ranks after `iters` iterations with damping `d` over directed
    * `edges(src, dst)`; nodes = every id appearing on either side.
    * Output: (node, pr) with pr rounded to 6 decimals. The uniform
    * start is built directly as 1/n per node (NOT through the
    * warm-start normalizer — q43's oracle unrolls this exact chain
    * bit-for-bit, and normalizing a uniform vector by its double-sum
    * would perturb the start by one ulp).
    */
  def ranks(spark: SparkSession, edges: DataFrame,
      iters: Int = 5, d: Double = 0.85): DataFrame = {
    val pin = Pin.loop()
    val (e, base, n) = graphTables(edges, pin)
    // the uniform start is a pure projection of the pinned base — no
    // pin of its own (one localCheckpoint job saved; round 1's plan
    // reads the base RDD through one select)
    var pr = base.select(col("node"), (lit(1.0) / lit(n)).as("pr"),
      col("deg"))
    for (_ <- 1 to iters)
      pr = step(pr, e, n, d, pin)
    pin.seal(pr.select(col("node"), round(col("pr"), 6).as("pr")))
  }

  /** Iterate to CONVERGENCE (L1 delta ≤ `tol`), optionally
    * WARM-STARTED from a previous rank vector — the graph-append
    * production path: on a grown graph the previous ranks are close
    * to the new fixpoint, so far fewer iterations reach the same
    * tolerance than the uniform cold start (spec-measured). `init`
    * rows are matched to the CURRENT node set: new nodes start at
    * 1/n, then the vector renormalizes to unit mass (PageRank's
    * invariant — the fixpoint is unique, so any normalized start
    * converges to the SAME ranks; warm starting changes the path,
    * never the destination). Returns (unrounded ranks, iterations
    * run). Fails loudly if `maxIters` rounds don't reach `tol` — an
    * unconverged vector served as "the ranks" would be silently
    * wrong, the DupClusters discipline.
    */
  def converged(spark: SparkSession, edges: DataFrame,
      init: Option[DataFrame] = None, tol: Double = 1e-9,
      maxIters: Int = 60, d: Double = 0.85): (DataFrame, Int) = {
    val pin = Pin.loop()
    val (e, base, n) = graphTables(edges, pin)
    var pr = init match {
      case None =>
        base.select(col("node"), (lit(1.0) / lit(n)).as("pr"), col("deg"))
      case Some(prev) =>
        val joined = pin(base
          .join(prev.select(col("node"), col("pr").as("_prev")), Seq("node"),
            "left")
          .select(col("node"),
            coalesce(col("_prev"), lit(1.0) / lit(n)).as("pr"),
            col("deg")), "pr")
        // coalesce: sum over zero rows is null — an empty graph with a
        // warm-start init must degrade to an empty frame, not NPE here
        val mass = joined.agg(coalesce(sum("pr"), lit(1.0)).as("m"))
          .head.getDouble(0)
        pin(joined
          .select(col("node"), (col("pr") / lit(mass)).as("pr"),
            col("deg")), "pr")
    }
    var iters = 0
    var delta = Double.MaxValue
    while (delta > tol) {
      if (iters >= maxIters) throw new IllegalStateException(
        s"PageRank did not reach tol=$tol in $maxIters iterations " +
          s"(last L1 delta $delta) — raise maxIters or loosen tol")
      val next = step(pr, e, n, d, pin)
      delta = next.select(col("node"), col("pr"))
        .join(pr.select(col("node"), col("pr").as("_old")), "node")
        .agg(coalesce(sum(abs(col("pr") - col("_old"))), lit(0.0)))
        .head.getDouble(0)
      pr = next
      iters += 1
    }
    (pin.seal(pr.select(col("node"), col("pr"))), iters)
  }
}
