package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Pin

/** Interpolated Kneser-Ney bigram language model — the proper-LM
  * upgrade of [[TextOps.unigramLogProb]]'s CCNet-style filter (KN
  * smoothing: Kneser & Ney 1995; the fixed-discount interpolated
  * form is the standard of the n-gram LM literature). Quality
  * filtering by LM score is the published recipe (CCNet trains a LM
  * and keeps low-perplexity docs); a bigram KN model captures local
  * fluency a unigram model cannot (word-salad text with a good
  * unigram profile scores poorly).
  *
  * P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
  *          + [D·N1+(w1·)/c(w1·)] · N1+(·w2)/|bigram types|
  *
  * — the continuation distribution (how many CONTEXTS a word
  * follows) replaces raw frequency in the backoff, the insight that
  * makes KN the standard. The interpolation telescopes to a proper
  * distribution: Σ_w2 P(w2|w1) = 1 exactly (spec-asserted).
  *
  * Plan shape: one corpus scan explodes bigram instances; three hash
  * aggregates over the (small, Heaps-bounded) bigram-type table
  * derive c, c(w1·)+N1+(w1·), and N1+(·w2); the type total broadcasts
  * as a 1-row aggregate; scoring joins instances back to the three
  * keyed tables — every join key is a token or token pair, every
  * aggregate combines map-side. Nothing is quadratic; model state is
  * type-table-sized, not corpus-sized.
  */
object BigramLm {

  /** Per-doc mean KN log-probability over the doc's bigram instances
    * (docs with < 2 tokens have no bigrams and are omitted —
    * filter-stage callers treat absence as unscorable). Training
    * corpus = scoring corpus, so every scored bigram is in-model.
    */
  def scoreDocs(docs: DataFrame, idCol: String, text: Column,
      discount: Double = 0.75): DataFrame = {
    val id = col(idCol)
    // spread the RAW (id, text) rows before tokenization (r17): the
    // single-file scan left the normalize+split+explode single-task,
    // and raw text is the cheap thing to shuffle here (the r16
    // measured-wrong fanned out the exploded token-array rows, which
    // cost more to ship than the explode they spread). Keyed by id so
    // the final per-doc aggregate combines map-side.
    val src = graft.operators.SkewTools.fanOut(
      docs.select(id, text.as("_text")), id)
    val arr = split(TextFunctions.normalize(col("_text")), " ")
    val bg = src.select(id, arr.as("a"))
      .where(size(col("a")) >= 2)
      .select(id, explode(transform(sequence(lit(1), size(col("a")) - 1),
        i => struct(element_at(col("a"), i).as("w1"),
          element_at(col("a"), i + 1).as("w2")))).as("b"))
      .select(id, col("b.w1").as("w1"), col("b.w2").as("w2"))
    // bc feeds FOUR consumers (cw1, pc, types, the scoring join) and
    // its lineage is the full bigram explode — pin the small
    // (distinct bigrams) table once instead of recomputing it per
    // consumer (r17). Lazily: the first consumer is a full aggregate
    // anyway, so building the plan runs no count job of its own.
    val bc = Pin.lazily(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c")))
    val cw1 = bc.groupBy("w1")
      .agg(sum("c").as("ctx"), count(lit(1)).as("n1f"))
    val pc = bc.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val types = bc.agg(count(lit(1)).cast("double").as("t_types"))
    // written EXACTLY as the oracle writes it — same literals, same
    // parenthesization, so the double arithmetic is bit-identical
    val p = greatest(col("c") - discount, lit(0.0)) / col("ctx") +
      ((lit(discount) * col("n1f")) / col("ctx")) *
        (col("n1p") / col("t_types"))
    bg.join(bc, Seq("w1", "w2")).join(cw1, "w1").join(pc, "w2")
      .crossJoin(broadcast(types))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(p)), 4).as("mean_logprob"))
  }
}
