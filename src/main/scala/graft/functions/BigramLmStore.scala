package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pin
import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.Piece

/** The KN bigram model ([[BigramLm]]) as a STORED, incrementally
  * maintained artifact, plus the ingest gate that scores incoming
  * batches under it. Bigram counts are additive partials — the
  * textbook case for the base+delta ledger: a corpus file append
  * counts ONLY the new files' bigrams into a delta partition
  * (O(new)); reads fold base ∪ deltas with one re-aggregate (the
  * stats trick); compaction collapses physically. The derived model
  * tables (context totals, continuation counts, type/vocab totals)
  * re-derive from the folded counts at serve time — they are
  * type-table-sized, never corpus-sized.
  *
  * Scoring a batch the model has never seen needs defined OOV
  * semantics (the training-corpus form in [[BigramLm.scoreDocs]]
  * never meets an unseen bigram). The gate uses add-one-smoothed
  * continuation probability pc' = (N1+(·w2) + 1)/(T + V) everywhere
  * (consistent for seen and unseen words), and:
  *
  *   seen context w1:  P = max(c − D, 0)/c(w1·) + [D·N1+(w1·)/c(w1·)]·pc'
  *   unseen context:   P = pc'          (pure continuation backoff)
  *
  * — every P is strictly positive, so no batch can produce −inf/NaN
  * (spec-asserted on all-OOV input). The EMPTY model (fresh corpus
  * with no ≥2-token docs, or a corpusFilter matching nothing) is the
  * degenerate case of the same rule: T = V = 0 would divide pc' by
  * zero, so the denominator floors at 1 and every P collapses to the
  * defined ceiling 1 (mean_logprob = 0 — a model with no evidence
  * drops nothing; spec-asserted).
  */
object BigramLmStore {

  private def bigramsOf(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    val arr = split(TextFunctions.normalize(text), " ")
    docs.select(col(idCol), arr.as("a"))
      .where(size(col("a")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(1), size(col("a")) - 1),
        i => struct(element_at(col("a"), i).as("w1"),
          element_at(col("a"), i + 1).as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  // stored rows keep DOC attribution — (doc_id, w1, w2, c) — so a
  // serve-time corpus filter (slice-scoped models, removals) stays
  // possible; the additive fold collapses per (doc, pair)
  private def fold(df: DataFrame): DataFrame =
    df.groupBy("doc_id", "w1", "w2").agg(sum("c").as("c"))

  private def handle(corpusPath: String) =
    IncrementalDocArtifact(corpusPath, "bigram_lm", Seq(
      Piece("bigrams",
        (docs, _) => fold(bigramsOf(docs, "doc_id", col("text"))
          .withColumn("c", lit(1L))),
        fold = Some(fold))))

  /** Folded (w1, w2, c) model counts over the (optionally filtered)
    * corpus at `sfDir`; built on first use, advanced O(new) on
    * corpus file appends.
    */
  def counts(spark: SparkSession, sfDir: String, table: String,
      corpusFilter: Column = lit(true)): DataFrame =
    handle(s"$sfDir/$table.parquet").serve(spark, "bigrams")
      .filter(corpusFilter)
      .groupBy("w1", "w2").agg(sum("c").as("c"))

  /** Score `batch` docs under the stored model: per-doc bigram count
    * and mean log-probability with the OOV semantics above. All model
    * tables derive from the folded counts (one serve, pinned); the
    * batch side joins LEFT so unseen pairs/contexts take the backoff
    * branches.
    */
  def scoreBatch(spark: SparkSession, sfDir: String, table: String,
      batch: DataFrame, idCol: String, discount: Double = 0.75,
      corpusFilter: Column = lit(true)): DataFrame = {
    val bc = Pin(counts(spark, sfDir, table, corpusFilter))
    val cw1 = bc.groupBy("w1").agg(sum("c").as("ctx"), count(lit(1)).as("n1f"))
    val pcT = bc.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val totals = bc.agg(count(lit(1)).cast("double").as("t_types"))
      .crossJoin(bc.select(col("w1").as("t"))
        .union(bc.select(col("w2").as("t")))
        .agg(countDistinct("t").cast("double").as("v_vocab")))
    val bg = bigramsOf(batch, idCol, col("text"))
    // greatest(..., 1): the empty-model floor — with T = V = 0 (no
    // stored bigrams) pc' would be 1/0; flooring the denominator makes
    // every P exactly 1, so mean_logprob is 0.0 rather than null and
    // downstream keep-flags stay well-defined. Non-empty models have
    // T >= 1, where the floor is a no-op.
    val pcPrime = (coalesce(col("n1p"), lit(0L)) + 1) /
      greatest(col("t_types") + col("v_vocab"), lit(1.0))
    val p = when(col("ctx").isNull, pcPrime)
      .otherwise(greatest(coalesce(col("c"), lit(0L)) - discount, lit(0.0))
        / col("ctx") +
        ((lit(discount) * col("n1f")) / col("ctx")) * pcPrime)
    bg.join(bc, Seq("w1", "w2"), "left")
      .join(cw1, Seq("w1"), "left")
      .join(pcT, Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(p)), 4).as("mean_logprob"))
  }

  /** Perplexity gate over `batch`: [[scoreBatch]] plus a keep flag
    * `mean_logprob >= threshold`. OOV-heavy docs score low but
    * finitely (the add-one continuation backoff above), so the gate
    * never NaN-poisons the comparison.
    *
    * EVERY batch doc lands exactly once — including docs with fewer
    * than 2 tokens, which produce no bigrams and so cannot be scored
    * by a bigram LM. Scores left-join back to the batch ids: an
    * unscorable doc is emitted with `n_bigrams = 0`,
    * `mean_logprob = null`, `keep = null` — an explicit "no evidence"
    * verdict the consumer routes by policy (`keep IS NULL`), never a
    * silently missing row.
    */
  def gate(spark: SparkSession, sfDir: String, table: String,
      batch: DataFrame, idCol: String, threshold: Double): DataFrame =
    batch.select(col(idCol))
      .join(scoreBatch(spark, sfDir, table, batch, idCol), Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("keep",
        when(col("mean_logprob").isNotNull, col("mean_logprob") >= threshold))

  /** Offline compaction hook. */
  def compact(spark: SparkSession, corpusPath: String): Unit =
    handle(corpusPath).compact(spark)
}
