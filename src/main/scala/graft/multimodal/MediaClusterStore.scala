package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.DupClusters
import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.{AdvanceCtx, MergePiece, Piece}

/** Persisted media near-dup cluster labels — [[graft.dedup.ClusterStore]]'s
  * affected-subgraph discipline applied to the perceptual-hash graph
  * (what the stored prefix/edit cluster artifacts are for text, for
  * re-uploaded media): decode + hash + pair + CC run once per corpus
  * change, every audit after reads one (media_id, cluster_id) scan.
  *
  * Pieces: `phash` (media_id, phash) is per-item deterministic and
  * additive (an append decodes only the new items); `reps` (min
  * media_id per distinct hash) and `labels` are keyed upserts — a new
  * item can merge two stored clusters, so an increment reclusters
  * ONLY the affected subgraph: new reps probed against the STORED rep
  * table (`Media.phashProbePairs`, the same 2-block pigeonhole as the
  * full build — edge sets agree by construction), touched old
  * clusters contribute their members as star edges, and one
  * alternating contraction relabels new ∪ affected. Identical-hash
  * groups collapse before any pair work (signature contraction), so
  * cost follows DISTINCT hashes — the §9.11 wide-duplication law,
  * which for media is the dominant case (most re-uploads are
  * byte-identical or Hamming 0).
  *
  * A Hamming-≤tau pair between two DIFFERENT old clusters cannot
  * exist (they would already be one cluster), so the affected
  * subgraph is complete — the labelling equals a full rebuild
  * (spec-asserted). Any non-append corpus change keys a full rebuild
  * through the ledger. Key folds in dim/maxDist: a different hash
  * width or radius is a different artifact.
  *
  * 100 TB: the stored side of every advance is rep-keyed (distinct
  * hashes), the probe is the blocked equi-join, and serving is a
  * parquet scan — no decode, no pair generation, no CC at read time.
  */
object MediaClusterStore {

  /** (media_id, phash) for the stub media convention (bytes = utf8 of
    * `text`, the m1-m9 catalog contract).
    */
  private def hashedOf(docs: DataFrame, dim: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val rows = docs.select(col("doc_id").as("media_id"),
        lit("image").as("modality"), col("text").cast("binary").as("bytes"),
        lit("x").as("format"), lit(0).as("width"), lit(0).as("height"),
        lit(0).as("sample_rate"), lit(0L).as("duration_ms"))
      .as[Media.MediaRow]
    Media.perceptualHash(Media.extractFeatures(rows, dim).toDF(), dim)
  }

  private def advanceReps(ctx: AdvanceCtx, dim: Int): DataFrame = {
    val newMins = hashedOf(ctx.newDocs, dim)
      .groupBy("phash").agg(min("media_id").as("_new"))
    newMins
      .join(ctx.stored("reps").withColumnRenamed("media_id", "_old"),
        Seq("phash"), "left")
      .select(col("phash"),
        least(col("_new"), coalesce(col("_old"), col("_new"))).as("media_id"))
  }

  private def advanceLabels(ctx: AdvanceCtx, dim: Int,
      maxDist: Int): DataFrame = {
    val newSigs = ctx.pin(hashedOf(ctx.newDocs, dim))
    val oldLabels = ctx.stored("labels")
    val newReps = newSigs.groupBy("phash").agg(min("media_id").as("media_id"))
    val crossEdges = ctx.pin(Media.phashProbePairs(ctx.stored("reps"), newReps,
      maxDist).select(col("id_a"), col("id_b")))
    val newEdges = ctx.pin(Media.phashNearDups(newReps, maxDist)
      .select("id_a", "id_b"))
    val itemRep = newSigs
      .join(newReps.withColumnRenamed("media_id", "_rep"), "phash")
      .select(col("media_id").as("id_a"), col("_rep").as("id_b"))
    // fresh-content fast path: no edge into or within the increment —
    // every new item labels as its hash group's representative
    if (crossEdges.isEmpty && newEdges.isEmpty)
      return itemRep.select(col("id_a").as("media_id"),
        col("id_b").as("cluster_id"))
    val touched = crossEdges.select(col("id_a").as("media_id")).distinct()
      .join(oldLabels, "media_id").select("cluster_id").distinct()
    val affected = ctx.pin(oldLabels.join(touched, "cluster_id")
      .select(col("media_id"), col("cluster_id")))
    val nodes = ctx.newDocs.select(col("doc_id").as("media_id"))
      .union(affected.select("media_id"))
    val edges = crossEdges
      .union(newEdges)
      .union(itemRep)
      .union(affected.select(col("media_id").as("id_a"),
        col("cluster_id").as("id_b")))
    DupClusters.componentsAlternating(nodes, "media_id", edges, "id_a", "id_b")
      .select(col("media_id"), col("cluster_id"))
  }

  private def handle(corpusPath: String, dim: Int, maxDist: Int) =
    IncrementalDocArtifact(corpusPath, s"mclust${dim}_h$maxDist",
      pieces = Seq(Piece("phash", (docs, _) => hashedOf(docs, dim))),
      merges = Seq(
        MergePiece("reps", Seq("phash"),
          buildFull = (_, ctx) => ctx.stored("phash")
            .groupBy("phash").agg(min("media_id").as("media_id")),
          advance = ctx => advanceReps(ctx, dim)),
        MergePiece("labels", Seq("media_id"),
          // signature-contracted full build over the just-hashed piece
          buildFull = (docs, ctx) => DupClusters.componentsContracted(
              docs.select(col("doc_id").as("media_id")), "media_id",
              ctx.stored("phash"), "phash",
              reps => Media.phashNearDups(reps, maxDist))
            .select(col("media_id"), col("cluster_id")),
          advance = ctx => advanceLabels(ctx, dim, maxDist))),
      compactEvery = 8)

  /** Stored (media_id, cluster_id) over `table`'s stub payloads at
    * `sfDir`; built on first use, advanced O(new + affected) when the
    * corpus grows.
    */
  def clusters(spark: SparkSession, sfDir: String, table: String,
      dim: Int = 16, maxDist: Int = 1): DataFrame =
    handle(s"$sfDir/$table.parquet", dim, maxDist).serve(spark, "labels")

  /** Offline compaction hook. */
  def compact(spark: SparkSession, corpusPath: String,
      dim: Int = 16, maxDist: Int = 1): Unit =
    handle(corpusPath, dim, maxDist).compact(spark)
}
