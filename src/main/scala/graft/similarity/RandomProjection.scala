package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Pin

/** Johnson–Lindenstrauss random-projection prefilter: score candidates
  * in a seeded ±1 (Rademacher) projection of the embedding space —
  * rd ≪ d multiply-adds per pair — keep the top `prefilterK` per
  * query, then rescore the survivors exactly. The dense-reduction
  * rung of the ANN ladder, between brute force (v1: exact, d-dim
  * everywhere) and the code-based rungs (sign-LSH buckets, IVF cells,
  * PQ codes): unlike buckets/codes it preserves a usable *distance*
  * (Achlioptas 2003: ±1 entries satisfy the JL lemma), so the
  * prefilter ranking degrades gracefully instead of cliff-edge
  * missing a bucket.
  *
  * Scale shape: projection is a literal-plane codegen fold per row
  * (no broadcast, no state — same discipline as SignLSH's planes),
  * computed ONCE per corpus row before the candidate join; the
  * per-pair work drops d/rd-fold; the exact rescore touches only
  * prefilterK rows per query. Deterministic planes (fixed seed) mean
  * a stored projected corpus stays valid under appends.
  */
object RandomProjection {

  /** rd × dim ±1 planes from the shared seeded generator. */
  def planes(dim: Int, rd: Int, seed: Long = 42L): Seq[Seq[Double]] =
    SignLSH.planes(dim, rd, 1, seed).head

  /** Project an embedding to `array<double>` of length rd — literal
    * planes baked into the plan as ONE flattened literal matrix feeding
    * the native mat-vec expression (a single nested primitive loop —
    * the HOF fold paid rd × d interpreted lambda frames per row, and
    * rd separate literal-dot codegen fell off the generated-code-size
    * cliff at rd=64 × d=512; both measured in §9.15). Bit-identical
    * to the oracle's per-plane list_reduce folds.
    * Requires graft functions registered on the session
    * (GraftFunctions.ensureRegistered).
    */
  def project(emb: Column, ps: Seq[Seq[Double]]): Column =
    VectorOps.matVecNative(emb, ps.flatten)

  /** Exact top-k via projected prefilter: rank all candidates by
    * projected cosine, keep `prefilterK` per query, rescore those
    * exactly. Same output contract as BruteForceKnn.topK.
    *
    * Exchange discipline: the candidate-wide ranking shuffle carries
    * ONLY (query_id, neighbor_id, pcos) — never the d-dim embeddings
    * (which would make the exchange WIDER than brute force's). The
    * queries × prefilterK survivor set is broadcast back against the
    * corpus scan to fetch embeddings for the exact rescore.
    */
  def prefilterTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, ps: Seq[Seq[Double]], prefilterK: Int,
      k: Int): DataFrame = {
    graft.plans.GraftFunctions.ensureRegistered(corpus.sparkSession)
    // The projected corpus MUST materialize before the candidate
    // join: Catalyst collapses adjacent projections, so an inline
    // c_proj would be recomputed PER (candidate, query) PAIR — rd×d
    // multiply-adds × |queries|, measured 20× worse than brute force
    // at d=512 before this barrier. localCheckpoint truncates the
    // lineage so each corpus row projects exactly once. (At corpus
    // scale the projected table is the thing to PERSIST as a keyed
    // artifact — rd doubles per row, d/rd-fold smaller than the
    // embeddings — and this materialization is its in-memory twin.)
    val c = Pin(graft.operators.SkewTools.fanOut(
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb")))
      .select(col("neighbor_id"), project(col("c_emb"), ps).as("c_proj")))
    val q = queries
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
      .withColumn("q_proj", project(col("q_emb"), ps))
    val s1 = c.join(broadcast(q.select("query_id", "q_proj")),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosineNative(col("q_proj"), col("c_proj")).as("pcos"))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val surv = s1.withColumn("rk1", row_number().over(w1))
      .filter(col("rk1") <= prefilterK)
      .select("query_id", "neighbor_id")
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"))
      .join(broadcast(surv), "neighbor_id")
      .join(broadcast(q.select("query_id", "q_emb")), "query_id")
      .withColumn("cos", VectorOps.cosineNative(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }
}
