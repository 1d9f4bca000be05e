package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.similarity.{IvfKnn, ProductQuantizer}
import graft.sources.{Fs, ParquetTableIO}

/** Streaming ANN-index growth: every micro-batch of vectors is encoded
  * with the STORED coarse codebook + PQ books (fixed artifacts — the
  * codebooks a production deployment trains offline and versions
  * through `CodebookStore`) and appended as a delta code partition, so
  * the IVFPQ corpus grows per batch WITHOUT re-encoding anything — the
  * `StreamingLshDedup` base+delta shape applied to the vector artifact.
  *
  * Layout (identical discipline, replay-safe the same way):
  *
  *   indexDir/base/              versioned-pointer snapshot (ParquetTableIO)
  *   indexDir/delta/_batch=<id>/ one immutable partition per batch
  *
  * A batch writes ONLY its own `_batch=<id>` partition (dynamic
  * partition overwrite — a replayed batch replaces its own files;
  * encoding is deterministic, so the replacement is bit-identical).
  * Retrieval reads base ∪ delta through [[readIndex]] — the
  * (id, cell, pq_codes) layout `ProductQuantizer.ivfAdcTopK` /
  * `ivfAdcTopKResidual` scan — and a query finds a vector ingested in
  * ANY earlier batch. Every `compactEvery` batches the deltas fold
  * into the base via the pointer commit.
  *
  * Fixed-codebook caveat, stated because it is the real production
  * contract: cell boundaries and code resolution reflect the training
  * corpus; a drifted stream degrades recall gradually (vectors land in
  * increasingly suboptimal cells) rather than failing — the operational
  * answer is periodic offline retraining into a NEW keyed artifact and
  * an index rebuild, not per-batch retraining (which would re-encode
  * the world every batch and make codes incomparable across batches).
  */
object StreamingVectorIngest {

  private def baseIO(indexDir: String) =
    new ParquetTableIO(Paths.get(indexDir, "base").toString)
  private def deltaDir(indexDir: String): Path = Paths.get(indexDir, "delta")

  /** Batch partitions the CURRENT base snapshot already folded in —
    * the marker commits inside the base version dir (same atomic
    * pointer flip as the folded data), and is CUMULATIVE across
    * compactions, so an absorbed partition is dead even if its
    * physical deletion crashed, and a batch replayed from an old
    * checkpoint after its compaction re-creates a DEAD partition
    * instead of double-counting codes (unlike the band index, code
    * rows are not set-like: a duplicate row would score twice in the
    * ADC rank).
    */
  private def foldedBatches(indexDir: String): Set[String] =
    baseIO(indexDir).currentDir
      .map(d => Paths.get(d).resolve("_folded_batches"))
      .filter(Files.exists(_)) match {
      case Some(m) =>
        Files.readAllLines(m).toArray.toSeq.map(_.toString)
          .filter(_.nonEmpty).toSet
      case None => Set.empty
    }

  private def liveBatches(indexDir: String): Seq[Path] = {
    val batches = Fs.list(deltaDir(indexDir))
      .filter(_.getFileName.toString.startsWith("_batch="))
    if (batches.isEmpty) Nil
    else {
      val folded = foldedBatches(indexDir)
      batches.filterNot(p => folded(p.getFileName.toString))
    }
  }

  private def readIndexOpt(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val base = baseIO(indexDir)
    val live = liveBatches(indexDir)
    val parts = Seq(
      if (base.exists) Some(base.read(spark)) else None,
      if (live.nonEmpty) Some(
        spark.read.option("basePath", deltaDir(indexDir).toString)
          .parquet(live.map(_.toString): _*).drop("_batch"))
      else None).flatten
    parts.reduceOption(_.unionByName(_))
  }

  /** base ∪ delta view of the code index: (id, `_cell`, pq_0 …). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    readIndexOpt(spark, indexDir).getOrElse(
      throw new IllegalStateException(s"no code index at $indexDir"))

  /** Fold the LIVE delta partitions into the base snapshot. CRASH
    * ATOMIC: the cumulative folded-batch list is written inside the
    * staged base version, so it publishes in the same pointer flip as
    * the folded codes — a crash at any point leaves either the old
    * state (deltas live) or the new state (absorbed partitions dead by
    * marker even if still on disk); physical deletion is GC,
    * re-attempted on every compaction.
    */
  def compactIndex(spark: SparkSession, indexDir: String): Unit = {
    // GC partitions a previous compaction absorbed but failed to delete
    val deadFirst = foldedBatches(indexDir)
    deadFirst.foreach(b =>
      ParquetTableIO.deleteTree(deltaDir(indexDir).resolve(b)))
    val absorbed = liveBatches(indexDir)
    if (absorbed.isEmpty) return
    val base = baseIO(indexDir)
    val deltaDf = spark.read
      .option("basePath", deltaDir(indexDir).toString)
      .parquet(absorbed.map(_.toString): _*).drop("_batch")
    val merged = if (base.exists) base.read(spark).unionByName(deltaDf) else deltaDf
    val staged = base.stage()
    merged.distinct().write.mode("overwrite").parquet(staged.vDir.toString)
    Files.writeString(staged.vDir.resolve("_folded_batches"),
      (deadFirst ++ absorbed.map(_.getFileName.toString)).toSeq.sorted
        .mkString("\n"))
    base.commitStaged(staged)
    absorbed.foreach(ParquetTableIO.deleteTree) // tidy; a crash here is GC-covered
  }

  /** Start the ingest on a streaming (id, embedding) DataFrame.
    *
    * @param coarseBook  collected (cell, centroid) coarse codebook —
    *                    the stored training artifact, fixed for the
    *                    stream's lifetime
    * @param books       stored PQ subquantizers (residual books when
    *                    `residual` is set — they must match the mode)
    * @param residual    encode x − centroid(cell) instead of x (the
    *                    `by_residual=true` layout `ivfAdcTopKResidual`
    *                    scans)
    * @param compactEvery fold deltas into the base every this many
    *                    batches; 0 = never (offline [[compactIndex]])
    */
  def start(spark: SparkSession, vectors: DataFrame, idCol: String,
      embCol: String, indexDir: String, checkpoint: String, trigger: Trigger,
      coarseBook: Seq[(Int, Seq[Double])],
      books: Seq[ProductQuantizer.SubCodebook], subDim: Int,
      residual: Boolean = false,
      compactEvery: Int = 0): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          import s.implicits._
          // spread the (often single-partition) micro-batch so the
          // argmax encode runs on all cores — one O(batch) shuffle
          val spread = batch.repartition(s.sparkContext.defaultParallelism)
          val assigned = IvfKnn.assignCells(spread, embCol, coarseBook, "_cell")
          val (toEncode, srcCol) =
            if (residual)
              (ProductQuantizer.withResidual(assigned, embCol, "_cell",
                coarseBook.toDF("cell", "centroid"), "_res"), "_res")
            else (assigned, embCol)
          BatchReportSink.writeBatch(
            ProductQuantizer.encoded(toEncode, srcCol, subDim, books)
              .select(col(idCol) +: col("_cell") +:
                books.map(b => col(s"pq_${b.subspace}")): _*),
            batchId, deltaDir(indexDir).toString)
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            compactIndex(s, indexDir)
        }
        ()
      }
      .start()
}
