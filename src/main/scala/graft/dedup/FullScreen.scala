package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BigramLmStore, TextFunctions}
import graft.operators.Pin

/** The FULL stored-screen stack as ONE ingest call — the actual front
  * door of a large-scale corpus: a production batch wants the exact
  * screen (d11), the LSH near-dup screen (d21), the exact-Jaccard and
  * containment screens (d24/d26), the stored-LM perplexity gate (t29)
  * and the n-gram decontamination verdict (d12) — and without this
  * composition a caller strings five screens and re-normalizes the
  * batch five times.
  *
  * One normalization pass: the batch text normalizes ONCE into an
  * eager local checkpoint, and every stage consumes that canonical
  * form ([[TextFunctions.normalize]] is idempotent, so the stages'
  * internal normalize-before-tokenize calls are no-ops over it). Every
  * corpus-side input is a STORED artifact scan (digests, bands,
  * prefix/containment postings, LM counts, grams — each maintained
  * O(new) per corpus append); the composed serve plan reads NO corpus
  * text (plan-asserted in PlanShapeSpec).
  *
  * Output: one row per batch doc —
  * (idCol, status, n_near_witnesses,          — the d21 triage
  *  n_jaccard_dups, n_containment_dups,       — d24/d26 partner counts
  *  n_bigrams, mean_logprob,                  — t29 LM gate inputs
  *  n_grams, n_hit, contam_ratio, is_contaminated). — d12 verdict
  * Short docs keep their row (zero counts; mean_logprob 0.0 when the
  * doc has no bigrams — the LM stage's documented empty floor).
  *
  * 100 TB: cost per batch is O(batch) normalization + equi-joins
  * against stored narrow tables; each stage is the same plan its
  * standalone screen runs, so the statuses match the five standalone
  * screens row-for-row (spec-pinned) and the d30 oracle re-derives
  * every column from scratch.
  *
  * The edit-distance screen (d28) is deliberately NOT in this stack:
  * Levenshtein ≤ k is the short-string-FIELD rung (names, titles,
  * URLs — [[EditStore]]'s domain), not a whole-document predicate;
  * compose `EditStore.screen` over the specific field when the batch
  * carries one.
  */
object FullScreen {

  def screen(spark: SparkSession, sfDir: String, table: String,
      batch: DataFrame, idCol: String,
      corpusFilter: Column = lit(true)): DataFrame = {
    // THE normalization pass — every stage below reads this checkpoint
    val b = Pin(batch
      .select(col(idCol), TextFunctions.normalize(col("text")).as("text")))
    val triage = IngestScreen.screen(spark, sfDir, table, b, idCol,
      corpusFilter)
    val jacc = PrefixStore.screen(spark, sfDir, table, b, idCol,
        tauNum = 9, tauDen = 10, corpusFilter)
      .groupBy(col("new_id").as(idCol))
      .agg(count(lit(1)).as("n_jaccard_dups"))
    val contain = PrefixStore.screenContainment(spark, sfDir, table, b,
        idCol, tauNum = 9, tauDen = 10, corpusFilter)
      .groupBy(col("new_id").as(idCol))
      .agg(count(lit(1)).as("n_containment_dups"))
    val lm = BigramLmStore.scoreBatch(spark, sfDir, table, b, idCol,
      corpusFilter = corpusFilter)
    val decon = Decontam.reportAgainstGrams(
      bench = b,
      corpusGrams = graft.dedup.GramStore.grams(spark, sfDir, table, n = 5)
        .filter(corpusFilter),
      idCol = idCol, normCol = col("text"), n = 5)
    triage
      .join(jacc, Seq(idCol), "left")
      .join(contain, Seq(idCol), "left")
      .join(lm, Seq(idCol), "left")
      .join(decon, Seq(idCol), "left")
      .select(col(idCol), col("status"), col("n_near_witnesses"),
        coalesce(col("n_jaccard_dups"), lit(0L)).as("n_jaccard_dups"),
        coalesce(col("n_containment_dups"), lit(0L))
          .as("n_containment_dups"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("mean_logprob"), lit(0.0)).as("mean_logprob"),
        col("n_grams"), col("n_hit"), col("contam_ratio"),
        col("is_contaminated"))
  }
}
