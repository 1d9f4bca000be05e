package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Pin

/** Semantic (embedding-space) deduplication — SemDeDup-shaped: retire
  * documents whose embeddings are near-duplicates of a kept document,
  * comparing only WITHIN cells of a coarse partition (cluster id,
  * label, or IVF cell from IvfKnn.assign), never across the corpus.
  *
  * The cell key turns the O(n²) all-pairs cosine into Σ|cell|² work
  * behind ONE equi-shuffle on the cell column — the same
  * candidate-volume law every pair-producing operator in this engine
  * is sized by (SURVEY.md §9): cells are the knob, and an IVF
  * codebook with more centroids tightens them at constant recall for
  * genuinely-clustered corpora.
  *
  * Keep rule: deterministic lowest-id-wins dominance — a row is
  * dropped iff some SMALLER-id row in its cell matches it at ≥
  * `minCosine`. Unlike connected-component dedup (DupClusters), a
  * kept row always witnesses each drop directly, and the result is
  * independent of evaluation order — replays and engine swaps agree
  * row-for-row.
  */
object SemanticDedup {

  /** Rows of `df` that survive dedup. `vecCol` is an Array[Float]
    * embedding; `cellCol` the coarse-partition key; `idCol` a unique
    * orderable id.
    */
  def kept(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      minCosine: Double): DataFrame = {
    val e = df.select(col(cellCol).as("__cell"), col(idCol).as("__id"),
      VectorOps.asDouble(col(vecCol)).as("__v"))
    val dropped = e.select(col("__cell"), col("__id").as("__id_a"), col("__v").as("__v_a"))
      .join(e.select(col("__cell"), col("__id").as("__id_b"), col("__v").as("__v_b")),
        Seq("__cell"))
      .filter(col("__id_a") < col("__id_b") &&
        VectorOps.cosine(col("__v_a"), col("__v_b")) >= minCosine)
      .select(col("__id_b").as(idCol))
      .distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Self-contained form with TRAINED cells: fits an IvfKnn k-means
    * codebook sized so the average cell holds ~`targetCellSize` rows,
    * assigns each row to its nearest centroid (one codegen'd argmax,
    * no shuffle), then dedups within cells. `k = n / targetCellSize`
    * bounds expected pair work at n·targetCellSize — the knob that
    * keeps the quadratic term flat as the corpus grows (SemDeDup's
    * own recipe). Identical embeddings always share a cell (same
    * argmax), so EXACT duplicates are never missed; near-dups split
    * across a cell boundary are the accepted recall trade, shrinking
    * as targetCellSize grows.
    *
    * `codebook`: a pre-trained (cell, centroid) frame (e.g. from
    * [[CodebookStore]]) skips the inline Lloyd train — the caller
    * owns sizing k = n / targetCellSize in that case. Training is
    * deterministic, so stored and inline codebooks agree bit-for-bit.
    */
  def keptIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      targetCellSize: Int,
      kmeansIters: Int = 3,
      codebook: Option[DataFrame] = None): DataFrame = {
    require(targetCellSize > 1, "targetCellSize must be > 1")
    val trained = codebook.getOrElse {
      val n = df.count()
      val k = math.max(1, (n / targetCellSize).toInt)
      IvfKnn.trainCodebook(df, idCol, vecCol, k, kmeansIters)
    }
    val collected = IvfKnn.collectCodebook(trained, "cell")
    // materialize the assignment: the dedup self-join would otherwise
    // re-evaluate the k-way argmax once per join side. fanOut first —
    // the k-way argmax is per-row CPU and a single-file embedding
    // table is one scan task (r16 stage profile: the assignment
    // checkpoint ran 1.3 s single-task at sf0.1; same rationale as
    // IvfKnn.members' existing fanOut)
    val assigned = Pin(IvfKnn.assignCells(graft.operators.SkewTools.fanOut(df),
        vecCol, collected, "__ivf_cell"))
    kept(assigned, idCol, vecCol, "__ivf_cell", minCosine).drop("__ivf_cell")
  }
}
