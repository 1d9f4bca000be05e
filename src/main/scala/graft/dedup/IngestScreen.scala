package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Pin

/** The per-batch ingest screen — ONE call a production pipeline makes
  * for every incoming batch, against the STORED corpus artifacts:
  *
  *  - `exact_dup`: normalized content fingerprint already in the
  *    corpus (`DigestStore`; the d11 screen);
  *  - `near_dup`: shares ≥1 MinHash LSH band bucket with a stored
  *    document and is not an exact dup (`BandStore`; the d20 probe) —
  *    candidates, the cheap-and-complete first pass (refine with d4
  *    Jaccard where precision matters);
  *  - `fresh`: neither — safe to accept.
  *
  * Cost per batch: O(batch) fingerprint/banding + two equi-joins
  * against stored narrow tables (both maintained O(new) per corpus
  * increment). Corpus text is never re-read. Output: one row per
  * batch doc — (idCol, status, n_near_witnesses).
  */
object IngestScreen {

  /** @param corpusFilter restricts the stored-corpus side (e.g. a
    *          test split, or a time-travel predicate); production
    *          ingest of a not-yet-committed batch uses the default
    */
  def screen(spark: SparkSession, sfDir: String, table: String,
      batch: DataFrame, idCol: String,
      corpusFilter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val norm = TextFunctions.normalize(col("text"))
    // one normalization pass feeds both screens
    val b = Pin(batch.select(col(idCol), norm.as("_norm"))
      .withColumn("fp", TextFunctions.fingerprint(col("_norm"))))
    val exact = b.join(
        DigestStore.digests(spark, sfDir, table).filter(corpusFilter)
          .select("fp").distinct(),
        Seq("fp"), "left_semi")
      .select(col(idCol)).withColumn("_exact", lit(true))
    val near = MinHashLSH.probeCandidatesBanded(
        BandStore.bands(spark, sfDir, table).filter(corpusFilter),
        MinHashLSH.bandedIndex(b.select(col(idCol), col("_norm")), idCol,
          col("_norm")),
        idCol)
      .groupBy(col("id_probe").as(idCol))
      .agg(countDistinct(col("id_index")).as("n_near_witnesses"))
    b.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_exact"), lit("exact_dup"))
          .when(col("n_near_witnesses").isNotNull, lit("near_dup"))
          .otherwise(lit("fresh")).as("status"),
        coalesce(col("n_near_witnesses"), lit(0L)).as("n_near_witnesses"))
  }
}
