package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.{AdvanceCtx, MergePiece, Piece}

/** Stored, incrementally-maintained co-occurrence graph: canonical
  * (a < b) edge counts over (group, item) rows — items adjacent when
  * they appear in the same group, weighted by how many groups share
  * them. This is the edge list the graph family (BFS / weighted SSSP
  * / k-core / label propagation) and any market-basket screen
  * consumes; without the store every query re-pays the full
  * pair-generation exchange over the whole corpus, which at 100 TB is
  * the dominant cost of ANY graph question.
  *
  * The cross-generation group problem: a group's rows may arrive
  * across MANY corpus increments (an order's lineitems split over
  * files), so pairs computed per generation in isolation would miss
  * every pair whose two members arrived in different generations.
  * The advance therefore recomputes the pair counts of only the
  * AFFECTED groups (groups named by the increment) against the
  * pre-increment stored rows.
  *
  * Counts are ADDITIVE, so the pair piece stores per-generation
  * DELTA PARTIALS (`post − pre` per touched edge) summed at read and
  * collapsed by the compaction fold — NOT a keyed upsert of absolute
  * counts. The first cut of this store was the upsert: measured at a
  * 10 M-row corpus (45 M stored pairs at cut 1), its advance dragged
  * THREE full passes over the all-pairs artifact (the pre-increment
  * LWW view for the upsert join, then the LWW window again at serve)
  * — 18.5 s for a 10 k-row append, SLOWER than the 7.3 s from-scratch
  * rebuild it exists to avoid. The partial design needs no read of
  * the stored pairs at all during an advance: O(increment + affected
  * groups' rows) genuinely, and the serve is one scan + one
  * map-side-combinable sum (post-fold the base is one row per key, so
  * the exchange carries ~unique rows — and a FULLY-FOLDED serve skips
  * the sum entirely, see [[weightedEdges]]).
  *
  * Pieces:
  *  - `gi` (ADDITIVE): the raw 2-column (g, i) projection per corpus
  *    file — the advance's source for pre-increment rows of affected
  *    groups (folded clustered by g, so the affected-groups filter
  *    prunes row groups). Deliberately NOT distinct: per-file
  *    distinct is not additive when duplicates span files; distinct
  *    is applied where pairs are computed.
  *  - `pairparts` (ADDITIVE partials): at full rebuild one exact
  *    partial over the whole corpus (`ctx.isRebuild` distinguishes —
  *    the delta-vs-stored form would self-subtract there); per
  *    advance the affected-groups delta. Fold = sum, re-clustered by
  *    `a` so the incremental graph maintenance's touched-key /
  *    incident-edge lookups prune row groups.
  *  - `core_mc2_k3` / `lpa_mc2_r4` (LAZY MERGE — round 13): the
  *    GRAPH-STATE family the verdict asked for. (node, deg) of the
  *    k-core FIXPOINT and (node, lbl) of fixed-round synchronous
  *    label propagation over the edge graph at the engine's
  *    registered parameters ([[GraphMinCount]], [[CoreK]],
  *    [[LpaRounds]] — coreness and community labels are functions of
  *    a specific cut, so the stored family is parameterized where
  *    the edge artifact itself keeps the cut serve-side). Lazy:
  *    corpus appends stay O(increment); the graph state catches up
  *    on first graph serve. Advance is the AFFECTED-SUBGRAPH
  *    recomputation (exact, see the piece builders below) bounded by
  *    the delta's neighborhood, with the store's standard fallback
  *    to a full distributed recompute past the caps.
  *
  * The all-pairs artifact is inherently ~(basket−1)/2 × corpus rows
  * at cut 1; the threshold stays a SERVE-side filter so one artifact
  * serves every cut, and bounded basket sizes keep the blowup linear.
  */
object CoOccurStore {

  /** Advance-side observability: the row count of the LAST pinned
    * cut-edge frame ([[handle]]'s `weightedAll` localCheckpoint) and
    * a monotone count of advances that pinned one. The pin is
    * O(cut edges) of EXECUTOR STORAGE for the advance's duration —
    * the measured right trade locally (it replaced ~10 unclustered
    * artifact scans, §9.34), but at a 100 TB edge list the advance
    * should instead stream its expansion queries against the
    * a-clustered folded base; this gauge is what tells an operator
    * which regime they are in (probe_graph_state_inc records it).
    */
  object AdvanceStats {
    // keyed per artifact IDENTITY (corpus path + column pair):
    // interleaved advances of two stores — even two pairings over the
    // SAME corpus — must not overwrite each other's reading, or the
    // regime decision the gauge exists for is made on the wrong
    // store's number
    private[CoOccurStore] val byArtifact =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    def snapshot: Map[String, Map[String, Long]] = {
      import scala.jdk.CollectionConverters._
      byArtifact.asScala.toMap.map { case (k, (last, pins)) =>
        k -> Map("advance_pinned_edges_last" -> last,
          "advance_pins" -> pins)
      }
    }
    def reset(): Unit = byArtifact.clear()
  }

  private def recordPin(statsKey: String, df: DataFrame): DataFrame = {
    // count on a just-checkpointed frame scans its cached blocks —
    // advances are per-corpus-append rare, so the extra action is
    // observability-priced, not serve-path-priced
    val n = df.count()
    AdvanceStats.byArtifact.compute(statsKey,
      (_, prev) => (n, (if (prev == null) 0L else prev._2) + 1L))
    df
  }

  /** Registered graph-state parameters: the edge cut, core degree and
    * LPA round count the stored coreness/community pieces are built
    * at (q75/q76's contract). Piece names carry them, so a future
    * parameter change is a new piece family, not a silent redefine.
    */
  private[graft] val GraphMinCount = 2L
  private[graft] val CoreK = 3
  private[graft] val LpaRounds = 4
  private[graft] val CoreName = s"core_mc${GraphMinCount}_k$CoreK"
  private[graft] val LpaName = s"lpa_mc${GraphMinCount}_r$LpaRounds"

  /** Incremental-maintenance caps: past any of them the advance falls
    * back to the full distributed recompute (the capped-gate
    * discipline of `HashedTfIdf`). Overridable for specs via
    * `graft.cooccur.graphIncCap` (nodes) — the edge cap scales with
    * it.
    */
  private def nodeCap: Int =
    sys.props.get("graft.cooccur.graphIncCap")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(4000)
  private def edgeCap: Int = nodeCap * 5

  /** Canonical (a < b) pair counts of a (g, i) frame — shared with
    * the streaming ingest ([[graft.streaming.StreamingCoOccur]]).
    */
  private[graft] def pairCounts(gi: DataFrame): DataFrame =
    graft.dedup.PairGen.pairsWithinDistinct(gi, Seq("g"), col("i"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))

  /** THE cross-generation co-occurrence delta algebra: the
    * `post − pre over affected groups` DELTA PARTIAL of increment
    * `inc` against the prior rows `prior` (both (g, i) frames). One
    * copy shared by the batch store's advance and the streaming
    * sink — a future fix to the algebra or the cap discipline
    * reaches both. For a bounded affected set the filter goes in as
    * an In predicate (PushedFilters → row-group skipping on a
    * g-clustered layout); an oversized set degrades to the
    * distributed semi join — the capped-gate discipline of
    * `HashedTfIdf`.
    */
  private[graft] def pairDeltaOf(inc: DataFrame,
      prior: DataFrame): DataFrame = {
    val incC = Pin(inc)
    val affected = incC.select("g").distinct()
    val cap = 10000
    val gs = affected.limit(cap + 1).collect().map(_.get(0))
    // both pair passes read it; scan once
    val pre = Pin(if (gs.length <= cap)
        prior.where(col("g").isInCollection(gs.toSeq))
      else prior.join(affected, Seq("g"), "left_semi"))
    val preN = pairCounts(pre).withColumnRenamed("n", "pre_n")
    // appends only grow distinct (g,i): post covers pre's keys
    pairCounts(pre.unionByName(incC))
      .join(preN, Seq("a", "b"), "left")
      .where(col("pre_n").isNull || col("n") > col("pre_n"))
      .select(col("a"), col("b"),
        (col("n") - coalesce(col("pre_n"), lit(0L))).as("n"))
  }

  private def sumPairs(parts: DataFrame): DataFrame =
    parts.groupBy("a", "b").agg(sum("n").as("n"))

  private def bothOrient(e: DataFrame): DataFrame =
    e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))

  /** "Smallest label" for the LPA tie-break, matching Spark's
    * ascending ordering for the engine's label types. Strings compare
    * as UNSIGNED UTF-8 BYTES — Spark's UTF8String binary order —
    * not Java's UTF-16 `compareTo`, which disagrees on
    * supplementary-plane characters (surrogate units sort below
    * U+E000..U+FFFF); a divergence here would make the incremental
    * advance and the distributed fallback land different tie-broken
    * labels, breaking the exact-post-graph-values invariant the lazy
    * catch-up relies on.
    */
  private def lblLt(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Long, b: Long) => a < b
    case (a: Int, b: Int) => a < b
    case (a: String, b: String) => utf8Lt(a, b)
    case (a: Comparable[_], _) =>
      a.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    case _ => utf8Lt(x.toString, y.toString)
  }

  private def utf8Lt(a: String, b: String): Boolean = {
    val xa = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val xb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(xa.length, xb.length)
    while (i < n) {
      val ca = xa(i) & 0xff
      val cb = xb(i) & 0xff
      if (ca != cb) return ca < cb
      i += 1
    }
    xa.length < xb.length
  }

  private def handle(corpusPath: String, groupCol: String, itemCol: String) = {
    // gauge key = the artifact identity (corpus AND column pair): two
    // stores over the same corpus must not overwrite each other
    val statsKey = s"${corpusPath}#cooc_${groupCol}_$itemCol"
    def gi(docs: DataFrame): DataFrame =
      docs.select(col(groupCol).as("g"), col(itemCol).as("i"))

    // ---------------------------------------------------------------
    // Per-advance shared computations (ctx memos): the additive build
    // and both graph merges of ONE advance / catch-up share the delta
    // instead of recomputing it three times.
    // ---------------------------------------------------------------

    /** The increment's pair DELTA PARTIAL (`post − pre` per touched
      * canonical edge) — [[pairDeltaOf]] against the pre-increment
      * stored rows, memoized per advance (the additive build and both
      * graph merges consume it).
      */
    def pairDelta(ctx: AdvanceCtx): DataFrame = ctx.memo("delta")(
      ctx.pin(pairDeltaOf(gi(ctx.newDocs), ctx.stored("gi"))))

    /** Post-increment WEIGHTED cut edges, materialized ONCE per
      * advance (ctx-pinned) and shared by both graph advances:
      * one map-side-combinable aggregate over the partials with a
      * graph-sized result — the same edge list every warm q74/q77
      * serve scans. A per-query capped-In scan of the raw partials
      * would be O(affected) only on the fold-clustered layout; a
      * freshly-rebuilt base is not clustered, and the first probe of
      * this family measured ~10 unclustered artifact scans per
      * advance (11.5 s at 12 M rows) — one pinned aggregate beats
      * them all. COST: the pin holds O(cut edges) in executor
      * storage for the advance's duration ([[AdvanceStats]] gauges
      * it); at a 100 TB edge list, stream the expansion queries
      * against the a-clustered folded base instead once the fold has
      * landed — the clustered layout already exists.
      */
    def weightedAll(ctx: AdvanceCtx): DataFrame = ctx.memo("edges") {
      val stored = ctx.stored("pairparts")
      def cut(df: DataFrame): DataFrame = recordPin(statsKey,
        ctx.pin(df.where(col("n") >= GraphMinCount)))
      if (ctx.isRebuild)
        // the freshly-rebuilt base is key-unique (pairCounts
        // aggregates) — a plain cut, no re-aggregation
        cut(stored)
      else if (ctx.storedBaseOnly("pairparts")) {
        // post-fold steady state: the base is key-unique, so the
        // delta merges in with SCAN-ONLY broadcast joins — no
        // full exchange of the pair artifact per advance (the
        // advance-side sibling of the serve's fold-skip). Cap
        // discipline: an oversized delta falls back to the
        // aggregate.
        val dp = pairDelta(ctx)
        val collected = dp.limit(edgeCap + 1).collect()
        if (collected.length > edgeCap)
          cut(sumPairs(stored.unionByName(dp)))
        else {
          // dp keys already present in the base merge via a
          // broadcast left join; brand-new keys append. The
          // membership lookup prunes by In(a) on the a-clustered
          // fold layout when the touched-a set is bounded —
          // row-group skipping instead of a second full scan.
          val dpAs = collected.map(_.get(0)).distinct.toSeq
          val probe =
            if (dpAs.length <= nodeCap)
              stored.where(col("a").isInCollection(dpAs))
            else stored
          val matched = probe
            .join(broadcast(dp.select("a", "b")), Seq("a", "b"),
              "left_semi")
            .collect().map(r => (r.get(0), r.get(1))).toSet
          val dpOnly = collected.filterNot(r =>
            matched((r.get(0), r.get(1))))
          val dpOnlyDF = ctx.spark.createDataFrame(
            dpOnly.toSeq.asJava, dp.schema)
          cut(stored
            .join(broadcast(dp.withColumnRenamed("n", "dn")),
              Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("n") + coalesce(col("dn"), lit(0L))).as("n"))
            .unionByName(dpOnlyDF))
        }
      } else
        cut(sumPairs(stored.unionByName(pairDelta(ctx))))
    }

    /** All post-increment edges at the cut (the fallback / rebuild
      * input).
      */
    def allEdges(ctx: AdvanceCtx): DataFrame =
      weightedAll(ctx).select("a", "b")

    /** Edges newly crossing [[GraphMinCount]] in this advance —
      * collected to the driver under [[edgeCap]] (None = over cap,
      * caller falls back to the full recompute). An edge is new iff
      * its post count clears the cut and `post − delta` does not —
      * both read from the pinned [[weightedAll]] joined with the
      * delta partial, no extra artifact pass.
      */
    def collectNewEdges(ctx: AdvanceCtx): Option[Seq[(Any, Any)]] =
      ctx.memo("newEdges") {
        val dp = pairDelta(ctx)
        val rows = weightedAll(ctx)
          .join(dp.withColumnRenamed("n", "dn"), Seq("a", "b"))
          .where(col("n") - col("dn") < GraphMinCount)
          .select("a", "b")
          .limit(edgeCap + 1).collect()
        if (rows.length > edgeCap) None
        else Some(rows.toSeq.map(r => (r.get(0), r.get(1))))
      }

    /** Post-increment cut edges incident to `nodes` — an in-memory
      * filter over the pinned [[weightedAll]] blocks.
      */
    def incidentEdges(ctx: AdvanceCtx,
        nodes: Seq[Any]): Option[Seq[(Any, Any)]] = {
      if (nodes.isEmpty) return Some(Nil)
      val cond = col("a").isInCollection(nodes) ||
        col("b").isInCollection(nodes)
      val rows = weightedAll(ctx).where(cond).select("a", "b")
        .limit(edgeCap + 1).collect()
      if (rows.length > edgeCap) None
      else Some(rows.toSeq.map(r => (r.get(0), r.get(1))))
    }

    /** Stored rows of a keyed (node, value) piece for the given node
      * set — a broadcast-join membership lookup (no giant In
      * literals), collected; the node set is already capped.
      */
    def lookup(ctx: AdvanceCtx, piece: String, nodes: Seq[Any],
        spark: SparkSession): Map[Any, Any] = {
      if (nodes.isEmpty) return Map.empty
      val nodeType = ctx.stored(piece).schema("node").dataType
      val probe = spark.createDataFrame(
        nodes.map(Row(_)).asJava,
        StructType(Seq(StructField("node", nodeType))))
      ctx.stored(piece).join(broadcast(probe), Seq("node"), "left_semi")
        .collect().map(r => r.get(0) -> r.get(1)).toMap
    }

    def rowsDF(spark: SparkSession, ctx: AdvanceCtx,
        data: Seq[(Any, Any)], valueName: String,
        valueFromCore: Boolean): DataFrame = {
      val itemType = ctx.stored("pairparts").schema("a").dataType
      val valueType =
        if (valueFromCore) LongType else itemType
      spark.createDataFrame(
        data.map { case (n, v) => Row(n, v) }.asJava,
        StructType(Seq(StructField("node", itemType),
          StructField(valueName, valueType))))
    }

    // ---------------------------------------------------------------
    // k-core (fixpoint) incremental maintenance. Appends only ADD
    // edges, so the stored core C only grows. Exactness argument:
    //  (1) any node of C'∖C must be reachable from a new edge's
    //      endpoint through non-core nodes of post-degree ≥ k (if a
    //      candidate set D had no new edge touching it, C ∪ D would
    //      have min-degree ≥ k already in the PRE graph, so D ⊆ C);
    //  (2) peeling the candidate closure with C held fixed (edges
    //      into C count as permanent support) yields exactly C'∖C:
    //      the peel's fixpoint is a k-min-degree subgraph containing
    //      C, and C' is contained in C ∪ closure by (1);
    //  (3) degrees: deg'(c) = deg(c) + #postEdges(c, D) +
    //      #newEdges(c, C) for old members (old edges into D were
    //      not counted before; old edges inside C are unchanged),
    //      and survivors' degrees fall out of the peel.
    // Everything runs on the COLLECTED affected subgraph under the
    // caps; anything bigger falls back to the full recompute, which
    // is trivially exact. Both paths return exact post-graph values
    // for every key they emit, so the advance is generation-chunking
    // invariant (the lazy-merge soundness requirement).
    // ---------------------------------------------------------------
    def coreAdvance(ctx: AdvanceCtx, spark: SparkSession): DataFrame = {
      def fallback(): DataFrame =
        KCore.core(allEdges(ctx), CoreK, maxRounds = 64)
          .select(col("node"), col("deg"))
      collectNewEdges(ctx) match {
        case None => fallback()
        case Some(Nil) =>
          rowsDF(spark, ctx, Nil, "deg", valueFromCore = true)
        case Some(newE) =>
          // adjacency accumulator over every collected edge
          val adj = scala.collection.mutable.Map[Any,
            scala.collection.mutable.Set[Any]]()
          def addEdge(a: Any, b: Any): Unit = {
            adj.getOrElseUpdate(a,
              scala.collection.mutable.Set[Any]()) += b
            adj.getOrElseUpdate(b,
              scala.collection.mutable.Set[Any]()) += a
          }
          newE.foreach { case (a, b) => addEdge(a, b) }
          val touched = newE.flatMap(e => Seq(e._1, e._2)).distinct
          val coreOf = scala.collection.mutable.Map[Any, Long]()
          coreOf ++= lookup(ctx, CoreName, touched, spark)
            .map { case (n, d) => n -> d.asInstanceOf[Long] }
          // expansion: non-core nodes of post-degree >= k reachable
          // from new-edge endpoints through such nodes
          var frontier = touched.filterNot(coreOf.contains)
          val cand = scala.collection.mutable.Set[Any]()
          val degKnown = scala.collection.mutable.Set[Any]()
          var rounds = 0
          var over = false
          while (frontier.nonEmpty && !over) {
            rounds += 1
            if (rounds > 64 || cand.size > nodeCap) over = true
            else incidentEdges(ctx, frontier.filterNot(degKnown.contains)) match {
              case None => over = true
              case Some(es) =>
                es.foreach { case (a, b) => addEdge(a, b) }
                degKnown ++= frontier
                // frontier nodes now have complete adjacency: keep
                // the potential ones (deg >= k), then walk to their
                // unseen non-core neighbors
                val potential = frontier.filter(v =>
                  adj.get(v).exists(_.size >= CoreK))
                cand ++= potential
                val nbrs = potential.flatMap(v => adj(v).toSeq).distinct
                  .filterNot(cand.contains)
                coreOf ++= lookup(ctx, CoreName,
                  nbrs.filterNot(coreOf.contains), spark)
                  .map { case (n, d) => n -> d.asInstanceOf[Long] }
                frontier = nbrs.filterNot(coreOf.contains)
            }
          }
          if (over) fallback()
          else {
            // membership of every neighbor we will count against
            val allNodes = adj.keys.toSeq
            coreOf ++= lookup(ctx, CoreName,
              allNodes.filterNot(coreOf.contains), spark)
              .map { case (n, d) => n -> d.asInstanceOf[Long] }
            // protected peel: C is fixed support, candidates drop
            // while their degree within C ∪ survivors is < k
            val surv = scala.collection.mutable.Set[Any](cand.toSeq: _*)
            var stable = false
            while (!stable) {
              val drop = surv.toSeq.filter { v =>
                adj(v).count(u => coreOf.contains(u) || surv(u)) < CoreK
              }
              if (drop.isEmpty) stable = true else surv --= drop
            }
            val d = surv.toSeq
            val degOfD = d.map(v =>
              v -> adj(v).count(u => coreOf.contains(u) || surv(u)).toLong)
            // old members' degree increments: new edges inside C' and
            // old edges into the joiners
            val inc = scala.collection.mutable.Map[Any, Long]()
            // #newEdges(c, C): both endpoints resolved against OLD core
            newE.foreach { case (a, b) =>
              if (coreOf.contains(a) && coreOf.contains(b)) {
                inc(a) = inc.getOrElse(a, 0L) + 1L
                inc(b) = inc.getOrElse(b, 0L) + 1L
              }
            }
            // #postEdges(c, D): every collected edge with one end a
            // joiner and the other an old member — D's adjacency is
            // complete (its incidents were collected in expansion)
            d.foreach { v =>
              adj(v).foreach { u =>
                if (coreOf.contains(u)) inc(u) = inc.getOrElse(u, 0L) + 1L
              }
            }
            val changedC = inc.toSeq.map { case (c, k2) =>
              c -> (coreOf(c) + k2) }
            rowsDF(spark, ctx, degOfD ++ changedC, "deg",
              valueFromCore = true)
          }
      }
    }

    // ---------------------------------------------------------------
    // Fixed-round synchronous LPA incremental maintenance. lbl_r(v)
    // depends only on v's r-hop neighborhood (+ node ids), so after
    // an edge-delta only nodes within `rounds` hops of a new edge's
    // endpoint can change. The advance recomputes EXACT final labels
    // on that ball by running the rounds over shrinking balls:
    // lbl_r is computed on B_{R-(r-1)} (R = 2·rounds − 1), whose
    // neighbors live in the previous round's computed set — round 1
    // needs only node ids. Collected under the caps; over-cap falls
    // back to the distributed full recompute. Both paths emit exact
    // post-graph labels → generation-chunking invariant.
    // ---------------------------------------------------------------
    def lpaAdvance(ctx: AdvanceCtx, spark: SparkSession): DataFrame = {
      def fallback(): DataFrame =
        LabelPropagation.labels(
            bothOrient(allEdges(ctx)).select(col("src"), col("dst")),
            LpaRounds)
          .select(col("node"), col("lbl"))
      collectNewEdges(ctx) match {
        case None => fallback()
        case Some(Nil) =>
          rowsDF(spark, ctx, Nil, "lbl", valueFromCore = false)
        case Some(newE) =>
          val radius = 2 * LpaRounds - 1
          val adj = scala.collection.mutable.Map[Any,
            scala.collection.mutable.Set[Any]]()
          def addEdge(a: Any, b: Any): Unit = {
            adj.getOrElseUpdate(a,
              scala.collection.mutable.Set[Any]()) += b
            adj.getOrElseUpdate(b,
              scala.collection.mutable.Set[Any]()) += a
          }
          newE.foreach { case (a, b) => addEdge(a, b) }
          val seeds = newE.flatMap(e => Seq(e._1, e._2)).distinct
          // balls B_0..B_radius; collect incidents of each frontier so
          // every ball node's adjacency is complete by the end
          val balls = scala.collection.mutable.ArrayBuffer[Set[Any]]()
          balls += seeds.toSet
          val seen = scala.collection.mutable.Set[Any](seeds: _*)
          val queried = scala.collection.mutable.Set[Any]()
          var frontier = seeds
          var over = false
          var j = 0
          while (j <= radius && !over) {
            incidentEdges(ctx, frontier.filterNot(queried.contains)) match {
              case None => over = true
              case Some(es) =>
                es.foreach { case (a, b) => addEdge(a, b) }
                queried ++= frontier
                val nbrs = frontier.flatMap(v =>
                  adj.get(v).map(_.toSeq).getOrElse(Nil)).distinct
                  .filterNot(seen.contains)
                seen ++= nbrs
                balls += balls.last ++ nbrs
                if (seen.size > nodeCap) over = true
                frontier = nbrs
            }
            j += 1
          }
          if (over) fallback()
          else {
            // labels over shrinking balls; only nodes with >= 1
            // out-edge (= any endpoint, both orientations) carry one
            var lbl: Map[Any, Any] = Map.empty[Any, Any]
            for (r <- 1 to LpaRounds) {
              val target = balls(math.min(radius - (r - 1), balls.size - 1))
              val next = target.iterator.filter(adj.contains).map { v =>
                val counts = scala.collection.mutable.Map[Any, Long]()
                adj(v).foreach { u =>
                  // neighbor labels: computed last round if inside the
                  // previous ball, else round-(r-1) label = own id
                  // (identity holds for any node untouched r-1 rounds
                  // from the delta — exactly the nodes outside the
                  // computed set)
                  val ul =
                    if (r == 1) u
                    else lbl.getOrElse(u, sys.error(
                      s"LPA ball invariant violated: neighbor $u of $v " +
                        s"missing from round ${r - 1} labels"))
                  counts(ul) = counts.getOrElse(ul, 0L) + 1L
                }
                // plurality, ties to the smallest label
                val best = counts.toSeq
                  .sortWith { case ((l1, c1), (l2, c2)) =>
                    c1 > c2 || (c1 == c2 && lblLt(l1, l2)) }
                  .head._1
                v -> best
              }.toMap
              lbl = next
            }
            val changed = balls(math.min(LpaRounds, balls.size - 1))
              .iterator.filter(adj.contains)
              .map(v => v -> lbl.getOrElse(v, v)).toSeq
            rowsDF(spark, ctx, changed, "lbl", valueFromCore = false)
          }
      }
    }

    IncrementalDocArtifact(corpusPath, s"cooc_${groupCol}_$itemCol", Seq(
      Piece("gi", (docs, _) => gi(docs),
        fold = Some(_.repartition(col("g")).sortWithinPartitions("g", "i"))),
      Piece("pairparts",
        build = { (docs, ctx) =>
          if (ctx.isRebuild) pairCounts(gi(docs))
          else pairDelta(ctx)
        },
        fold = Some(df => sumPairs(df)
          .repartition(col("a")).sortWithinPartitions("a", "b")))),
      Seq(
        MergePiece(CoreName, Seq("node"),
          buildFull = (_, ctx) =>
            KCore.core(allEdges(ctx), CoreK, maxRounds = 64)
              .select(col("node"), col("deg")),
          advance = ctx => coreAdvance(ctx, ctx.spark)),
        MergePiece(LpaName, Seq("node"),
          buildFull = (_, ctx) =>
            LabelPropagation.labels(
                bothOrient(allEdges(ctx)).select(col("src"), col("dst")),
                LpaRounds)
              .select(col("node"), col("lbl")),
          advance = ctx => lpaAdvance(ctx, ctx.spark))),
      compactEvery = 8, lazyMerges = true)
  }

  /** Stored canonical (a, b) edges of `table`'s (groupCol, itemCol)
    * co-occurrence graph with count >= minCount — built on first use,
    * advanced O(new + affected groups) when the corpus grows. The
    * threshold is a serve-side filter, so one stored artifact serves
    * every consumer regardless of its cut.
    */
  def edges(spark: SparkSession, sfDir: String, table: String,
      groupCol: String, itemCol: String, minCount: Long): DataFrame =
    weightedEdges(spark, sfDir, table, groupCol, itemCol, minCount)
      .select("a", "b")

  /** As [[edges]] but keeping the co-occurrence count `n` — the edge
    * weight for the weighted-distance family. Live delta partials sum
    * at read (map-side combinable); a FULLY-FOLDED artifact skips the
    * sum entirely — the base is one row per key both at rebuild
    * (`pairCounts` aggregates) and at fold (the sum collapse), so
    * re-aggregating a folded base is a pure exchange with no effect.
    * At 100 TB that skip is one avoided full-edge-list shuffle per
    * warm graph query (q74/q76/q77 each re-serve these edges).
    */
  def weightedEdges(spark: SparkSession, sfDir: String, table: String,
      groupCol: String, itemCol: String, minCount: Long): DataFrame =
    weightedEdgesAt(spark, s"$sfDir/$table.parquet", groupCol, itemCol,
      minCount)

  /** [[weightedEdges]] addressed by corpus PATH — the entry the
    * streaming ingest serves through (its corpus is a directory of
    * landed micro-batch files, not an sfDir table).
    */
  def weightedEdgesAt(spark: SparkSession, corpusPath: String,
      groupCol: String, itemCol: String, minCount: Long): DataFrame = {
    val (parts, baseOnly) = handle(corpusPath, groupCol, itemCol)
      .serveWithFoldState(spark, "pairparts")
    val counts =
      if (baseOnly) parts
      else sumPairs(parts)
    counts.where(col("n") >= minCount)
  }

  /** The stored k-core FIXPOINT — (node, deg) of the maximal
    * subgraph of min degree ≥ [[CoreK]] over the [[GraphMinCount]]
    * edge cut, incrementally advanced on corpus appends (affected-
    * subgraph expansion + protected peel; full-recompute fallback
    * past the caps). Serving contract vs the fixed-unroll oracle:
    * a truncated peel that reaches its fixpoint within the unroll
    * equals the fixpoint, so the stored result matches any unroll ≥
    * the data's fixpoint round ([[KCore.core]] fails loudly past 64).
    */
  def coreness(spark: SparkSession, sfDir: String, table: String,
      groupCol: String, itemCol: String): DataFrame =
    corenessAt(spark, s"$sfDir/$table.parquet", groupCol, itemCol)

  /** [[coreness]] addressed by corpus path (streamed corpora). */
  def corenessAt(spark: SparkSession, corpusPath: String,
      groupCol: String, itemCol: String): DataFrame =
    handle(corpusPath, groupCol, itemCol).serve(spark, CoreName)

  /** The stored community labels — (node, lbl) of [[LpaRounds]]-round
    * synchronous label propagation over both orientations of the
    * [[GraphMinCount]] edge cut, incrementally advanced on appends
    * (exact ball recomputation of radius 2·rounds−1 around the edge
    * delta; full-recompute fallback past the caps).
    */
  def communities(spark: SparkSession, sfDir: String, table: String,
      groupCol: String, itemCol: String): DataFrame =
    communitiesAt(spark, s"$sfDir/$table.parquet", groupCol, itemCol)

  /** [[communities]] addressed by corpus path (streamed corpora). */
  def communitiesAt(spark: SparkSession, corpusPath: String,
      groupCol: String, itemCol: String): DataFrame =
    handle(corpusPath, groupCol, itemCol).serve(spark, LpaName)

  /** Ingest tick: reconcile the stored artifact against the corpus
    * NOW — advance the additive pieces (gi, pair delta partials) over
    * any new corpus files and schedule the detached fold when the
    * live-generation count crosses the cadence. The streaming sink
    * calls this once per landed micro-batch so per-batch cost is paid
    * at ingest (O(batch + affected groups), the advance's contract)
    * instead of surprising the first serve. Graph-state pieces stay
    * lazy (they catch up on first graph serve or at the fold).
    */
  def ingestTick(spark: SparkSession, corpusPath: String,
      groupCol: String, itemCol: String): Unit = {
    handle(corpusPath, groupCol, itemCol).serve(spark, "gi")
    ()
  }

  /** Block until any in-flight detached fold of this artifact
    * finishes — determinism hook for specs/probes.
    */
  def awaitMaintenance(corpusPath: String,
      groupCol: String, itemCol: String): Unit =
    handle(corpusPath, groupCol, itemCol).awaitMaintenance()

  /** Offline compaction hook. */
  def compact(spark: SparkSession, corpusPath: String,
      groupCol: String, itemCol: String): Unit =
    handle(corpusPath, groupCol, itemCol).compact(spark)
}
