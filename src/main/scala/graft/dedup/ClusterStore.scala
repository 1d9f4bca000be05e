package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.{AdvanceCtx, MergePiece, Piece}

/** Persisted duplicate-cluster labelling, INCREMENTALLY maintained —
  * the SimHash → near-pairs → connected-components chain is a pure
  * deterministic function of the corpus, and every downstream pass
  * (keep-one filter, quality-aware keep, cluster stats) reads the SAME
  * (doc_id, cluster_id) table instead of re-running the contraction
  * per query.
  *
  * Cluster labels are the engine's first KEYED-UPSERT artifact
  * ([[graft.sources.IncrementalDocArtifact.MergePiece]]): unlike
  * postings or quality scores they are NOT per-document additive — one
  * new document can merge two existing clusters — so a corpus file
  * append advances them by reclustering only the AFFECTED SUBGRAPH:
  *
  *  1. signatures for the new docs only (the `sigs` piece is additive);
  *  2. rep-level near-pair edges touching the increment: new
  *     representatives probed against the stored representative table
  *     (same top-16-block + Hamming predicate as the batch build, so
  *     the edge sets agree), plus pairs within the new reps;
  *  3. old clusters touched by any cross edge contribute their members
  *     as (member → cluster_id) star edges — connectivity among old
  *     docs is exactly what the old labelling already encodes, and a
  *     near-pair between docs of two DIFFERENT old clusters cannot
  *     exist (they would have been one cluster);
  *  4. one star contraction over new docs ∪ affected members relabels
  *     just that subgraph; unaffected docs keep their stored label via
  *     the engine's LWW read.
  *
  * Increment cost is O(new + affected-cluster membership), never
  * O(corpus); the labelling is provably identical to a full rebuild
  * (`ClusterStoreSpec` asserts it across generation chunkings).
  * Both the full build and the per-increment contraction run
  * SIGNATURE-CONTRACTED (`DupClusters.componentsContracted`): cost
  * follows distinct signatures, not duplication width — the §9.11
  * wide-duplication fix.
  *
  * Any non-append corpus change keys a full rebuild through the
  * engine's ledger, so in-place regrowth can never serve stale labels.
  * Keys fold in the Hamming radius: a different `maxDist` is a
  * different artifact.
  */
object ClusterStore {

  private def norm = TextFunctions.normalize(col("text"))

  /** Recluster the affected subgraph: see class doc. Returns labels
    * for new docs ∪ members of touched old clusters — the changed
    * rows the engine upserts. The OLD representative table is the
    * stored `reps` piece (maintained by min-merge, O(new) per
    * increment), never a re-aggregation of the whole signature table.
    */
  private def advanceLabels(ctx: AdvanceCtx, maxDist: Int): DataFrame = {
    val newSigs = ctx.pin(SimHash.compute(ctx.newDocs, "doc_id", norm))
    val oldLabels = ctx.stored("labels")
    val newReps = newSigs.groupBy(col("simhash")).agg(min("doc_id").as("doc_id"))
    val oldReps = ctx.stored("reps")
    val crossEdges = ctx.pin(SimHash.probePairs(oldReps, newReps, "doc_id",
      maxDist).select("id_a", "id_b"))
    val newEdges = ctx.pin(SimHash.nearPairs(newReps, "doc_id", maxDist)
      .select("id_a", "id_b"))
    // same-signature new docs hook onto their representative
    val docRep = newSigs
      .join(newReps.withColumnRenamed("doc_id", "_rep"), "simhash")
      .select(col("doc_id").as("id_a"), col("_rep").as("id_b"))
    // fast path — a fresh-content increment (no near-pair edge at all,
    // the common case for novel data): every new doc's cluster is its
    // signature group's representative; nothing old is affected and
    // the contraction is skipped entirely
    if (crossEdges.isEmpty && newEdges.isEmpty)
      return docRep.select(col("id_a").as("doc_id"),
        col("id_b").as("cluster_id"))
    // members of every old cluster a cross edge touches, as
    // (member → cluster_id) star edges; the cluster_id is itself a
    // member, so the star center is in the node set
    val touched = crossEdges.select(col("id_a").as("doc_id")).distinct()
      .join(oldLabels, "doc_id").select("cluster_id").distinct()
    val affected = ctx.pin(oldLabels.join(touched, "cluster_id")
      .select(col("doc_id"), col("cluster_id")))
    val nodes = ctx.newDocs.select(col("doc_id"))
      .union(affected.select("doc_id"))
    val edges = crossEdges
      .union(newEdges)
      .union(docRep)
      .union(affected.select(col("doc_id").as("id_a"),
        col("cluster_id").as("id_b")))
    DupClusters.componentsAlternating(nodes, "doc_id", edges, "id_a", "id_b")
  }

  /** Changed representative rows: one row per signature seen in the
    * increment, rep = min(existing rep, increment's min id).
    */
  private def advanceReps(ctx: AdvanceCtx): DataFrame = {
    val newMins = SimHash.compute(ctx.newDocs, "doc_id", norm)
      .groupBy(col("simhash")).agg(min("doc_id").as("_new"))
    newMins
      .join(ctx.stored("reps").withColumnRenamed("doc_id", "_old"),
        Seq("simhash"), "left")
      .select(col("simhash"),
        least(col("_new"), coalesce(col("_old"), col("_new"))).as("doc_id"))
  }

  private def handle(corpusPath: String, maxDist: Int) =
    IncrementalDocArtifact(corpusPath, s"clusters2_h$maxDist",
      pieces = Seq(Piece("sigs",
        (docs, _) => SimHash.compute(docs, "doc_id", norm))),
      merges = Seq(
        MergePiece("reps", Seq("simhash"),
          buildFull = (_, ctx) => ctx.stored("sigs")
            .groupBy(col("simhash")).agg(min("doc_id").as("doc_id")),
          advance = advanceReps),
        MergePiece("labels", Seq("doc_id"),
          // the full build reuses the just-built sigs piece — the
          // corpus text is hashed exactly once per rebuild
          buildFull = (docs, ctx) => DupClusters.componentsContracted(
            docs, "doc_id", ctx.stored("sigs"), "simhash",
            reps => SimHash.nearPairs(reps, "doc_id", maxDist)),
          advance = ctx => advanceLabels(ctx, maxDist))),
      compactEvery = 8)

  /** Stored (doc_id, cluster_id) over `table`'s text at `sfDir`,
    * SimHash near-pairs at Hamming ≤ `maxDist`; built on first use,
    * advanced incrementally when the corpus grows.
    */
  def clusters(spark: SparkSession, sfDir: String, table: String,
      maxDist: Int): DataFrame =
    handle(s"$sfDir/$table.parquet", maxDist).serve(spark, "labels")

  /** Offline compaction hook. */
  def compact(spark: SparkSession, corpusPath: String, maxDist: Int): Unit =
    handle(corpusPath, maxDist).compact(spark)
}
