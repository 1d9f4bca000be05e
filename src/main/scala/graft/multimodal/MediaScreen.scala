package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pin
import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.Piece

/** Media ingest screening against STORED perceptual-hash state — the
  * multimodal twin of [[graft.dedup.IngestScreen]]: one call per
  * incoming media batch classifies every item as
  *
  *  - `exact_dup`: payload fingerprint (md5 of the bytes) already in
  *    the corpus — a byte-identical re-upload;
  *  - `near_dup`: within Hamming ≤ 1 of a stored perceptual hash
  *    (blocked probe — a re-encoded/near-identical asset under a real
  *    codec) and not byte-identical;
  *  - `fresh`: neither.
  *
  * The stored side is ONE narrow artifact — (media_id, fp, phash) —
  * maintained through the incremental engine: fingerprinting and
  * hashing are per-item deterministic, so a corpus append hashes only
  * the new items (O(new)) and stored ≡ inline always. Cost per batch:
  * O(batch) decode+hash, then two equi-joins against the stored
  * table (fp; 2×block keys). Corpus bytes are never re-read.
  *
  * Uses the WIDE hash form (62 feature bits, 2×31-bit blocks) — the
  * §9.6 width law: block space must stay ahead of corpus size.
  */
object MediaScreen {

  val Dim = 62
  val BlockBits = 31

  /** (media_id, fp, phash) for a frame of (media_id, bytes). */
  def hashed(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    val rows = media.select(col("media_id"), lit("image").as("modality"),
        col("bytes"), lit("x").as("format"), lit(0).as("width"),
        lit(0).as("height"), lit(0).as("sample_rate"), lit(0L).as("duration_ms"))
      .as[Media.MediaRow]
    val ph = Media.perceptualHash(
      Media.extractFeatures(rows, dim = Dim).toDF(), dim = Dim)
    media.select(col("media_id"), md5(col("bytes")).as("fp"))
      .join(ph, "media_id")
  }

  private def handle(corpusPath: String) =
    IncrementalDocArtifact(corpusPath, s"mph$Dim-$BlockBits", Seq(
      Piece("phash", (docs, _) => hashed(
        docs.select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("bytes"))))))

  /** Stored (media_id, fp, phash) over `table`'s payloads (the stub
    * media convention: bytes = utf8 of `text`); O(new) increments.
    */
  def stored(spark: SparkSession, sfDir: String, table: String): DataFrame =
    handle(s"$sfDir/$table.parquet").serve(spark, "phash")

  private def blocks(df: DataFrame): DataFrame = {
    val lo = lit(1L << BlockBits)
    df.select(col("media_id"), col("phash"),
        pmod(col("phash"), lo).as("blk"), lit(0).as("half"))
      .unionAll(df.select(col("media_id"), col("phash"),
        floor(col("phash") / lo).cast("long").as("blk"), lit(1).as("half")))
  }

  /** Screen an incoming batch of (media_id, bytes) against the stored
    * corpus state. Output: (media_id, status, n_near_witnesses) —
    * witnesses counts DISTINCT stored items within Hamming ≤ 1
    * (including byte-identical ones; `status` separates those).
    */
  def screen(spark: SparkSession, sfDir: String, table: String,
      batch: DataFrame, corpusFilter: Column = lit(true)): DataFrame = {
    val corpus = stored(spark, sfDir, table).filter(corpusFilter)
    val b = Pin(hashed(batch)) // one decode+hash pass
    val exact = b.join(corpus.select("fp").distinct(), Seq("fp"), "left_semi")
      .select(col("media_id")).withColumn("_exact", lit(true))
    val near = blocks(b).withColumnRenamed("media_id", "_bid")
      .withColumnRenamed("phash", "_bph")
      .join(blocks(corpus).withColumnRenamed("media_id", "_cid")
        .withColumnRenamed("phash", "_cph"), Seq("half", "blk"))
      .filter(bit_count(col("_bph").bitwiseXOR(col("_cph"))) <= 1)
      .groupBy(col("_bid").as("media_id"))
      .agg(countDistinct(col("_cid")).as("n_near_witnesses"))
    b.select(col("media_id"))
      .join(exact, Seq("media_id"), "left")
      .join(near, Seq("media_id"), "left")
      .select(col("media_id"),
        when(col("_exact"), lit("exact_dup"))
          .when(col("n_near_witnesses").isNotNull, lit("near_dup"))
          .otherwise(lit("fresh")).as("status"),
        coalesce(col("n_near_witnesses"), lit(0L)).as("n_near_witnesses"))
  }
}
