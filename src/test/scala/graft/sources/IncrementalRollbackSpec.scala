package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.IncrementalDocArtifact.{MergePiece, Piece}

/** BATCH ROLLBACK (round-12): a removal-only corpus change that
  * retracts exactly the files ingested since the last fold point drops
  * their generations in O(dropped) instead of rebuilding — additive
  * rows die with their generations, merge rows' LWW resolves back to
  * the pre-increment values, base files stay byte-untouched. Removals
  * that cut inside the folded base (or split a generation) fall back
  * to the full rebuild and stay exact.
  */
class IncrementalRollbackSpec extends SparkSpec {
  import spark.implicits._

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def handle(corpus: String) =
    IncrementalDocArtifact(corpus, "rb1",
      Seq(
        Piece("rows", (docs, _) => docs),
        Piece("cnt", (docs, _) => docs.agg(count(lit(1)).as("n")),
          fold = Some(_.agg(sum("n").as("n"))))),
      Seq(MergePiece("gmax", Seq("grp"),
        buildFull = (docs, _) => docs
          .select(pmod(col("doc_id"), lit(3L)).as("grp"), col("doc_id"))
          .groupBy("grp").agg(max("doc_id").as("mx")),
        advance = ctx => {
          val fresh = ctx.newDocs
            .select(pmod(col("doc_id"), lit(3L)).as("grp"), col("doc_id"))
            .groupBy("grp").agg(max("doc_id").as("mx"))
          fresh.join(ctx.stored("gmax").withColumnRenamed("mx", "mx0"),
              Seq("grp"), "left")
            .select(col("grp"), greatest(col("mx"),
              coalesce(col("mx0"), lit(Long.MinValue))).as("mx"))
        })),
      compactEvery = 0)

  private def dataFiles(corpus: String): Set[Path] = {
    val s = Files.list(Paths.get(corpus))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(f => !f.getFileName.toString.startsWith("_") &&
          !f.getFileName.toString.startsWith("."))
        .toSet
    } finally s.close()
  }

  private def baseStamp(corpus: String, piece: String): Map[String, Long] = {
    val base = Paths.get(ArtifactStore.root,
      ArtifactStore.pathKey(corpus) + "_rb1", piece, "base")
    val s = Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    } finally s.close()
  }

  private def serveAll(corpus: String): (Set[Long], Long, Map[Long, Long]) = {
    val h = handle(corpus)
    (h.serve(spark, "rows").select("doc_id").as[Long].collect().toSet,
      h.serve(spark, "cnt").agg(sum("n")).head.getLong(0),
      h.serve(spark, "gmax").as[(Long, Long)].collect().toMap)
  }

  test("retracting the last batches drops their generations; base untouched, merge LWW restored") {
    val sf = Files.createTempDirectory("graft-rollback").toString
    val corpus = s"$sf/documents.parquet"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    val pre = serveAll(corpus)
    pre._3 shouldBe Map(0L -> 3L, 1L -> 1L, 2L -> 2L)
    val baseFiles = dataFiles(corpus)
    val stamps = Seq("rows", "cnt", "gmax").map(p => p -> baseStamp(corpus, p))

    // two appended batches, each ADVANCED into its own generation
    // (a batch only becomes retractable once it is a generation)
    Seq((7L, "d")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    val afterB1 = dataFiles(corpus) -- baseFiles
    serveAll(corpus) shouldBe ((Set(1L, 2L, 3L, 7L), 4L,
      Map(0L -> 3L, 1L -> 7L, 2L -> 2L)))
    Seq((11L, "e"), (12L, "f")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    val afterB2 = dataFiles(corpus) -- baseFiles -- afterB1
    serveAll(corpus) shouldBe ((Set(1L, 2L, 3L, 7L, 11L, 12L), 6L,
      Map(0L -> 12L, 1L -> 7L, 2L -> 11L)))

    // RETRACT batch 2 only: its generation drops, batch 1 stays live
    afterB2.foreach(Files.delete)
    serveAll(corpus) shouldBe ((Set(1L, 2L, 3L, 7L), 4L,
      Map(0L -> 3L, 1L -> 7L, 2L -> 2L)))
    // RETRACT batch 1 too: back to the pre-append state exactly
    afterB1.foreach(Files.delete)
    serveAll(corpus) shouldBe ((pre._1, pre._2, pre._3))

    // O(dropped), not a rebuild: every base file of every piece is
    // byte-untouched through both retracts
    stamps.foreach { case (p, before) =>
      withClue(s"piece $p base changed — rollback rebuilt: ") {
        baseStamp(corpus, p) shouldBe before
      }
    }
    deleteTree(Paths.get(sf))
  }

  test("a removal cutting inside the folded base falls back to rebuild and stays exact") {
    val sf = Files.createTempDirectory("graft-rollback-deep").toString
    val corpus = s"$sf/documents.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    serveAll(corpus)
    val baseFiles = dataFiles(corpus)
    Seq((7L, "c")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    val b1 = dataFiles(corpus) -- baseFiles
    handle(corpus).compact(spark) // fold: batch 1 is now in the base
    serveAll(corpus)._1 shouldBe Set(1L, 2L, 7L)

    // retract the FOLDED batch: no live generation accounts for it →
    // full rebuild, result exact
    b1.foreach(Files.delete)
    serveAll(corpus) shouldBe ((Set(1L, 2L), 2L, Map(1L -> 1L, 2L -> 2L)))
    deleteTree(Paths.get(sf))
  }

  test("retracting an INTERMEDIATE generation (keeping a later one) falls back to rebuild and stays exact") {
    // the round-12 advisory hole: a generation's data can derive from
    // the pre-increment stored state (delta partials, merge advances
    // computed against earlier generations' views), so dropping gen 1
    // while keeping gen 2 would leave gen 2 encoding gen 1's rows'
    // influence. Rollback must therefore only retract a contiguous
    // SUFFIX in creation order — an intermediate retract rebuilds.
    val sf = Files.createTempDirectory("graft-rollback-mid").toString
    val corpus = s"$sf/documents.parquet"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    serveAll(corpus)
    val baseFiles = dataFiles(corpus)
    val stamps = Seq("rows", "cnt", "gmax").map(p => p -> baseStamp(corpus, p))

    Seq((7L, "d")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    val b1 = dataFiles(corpus) -- baseFiles
    serveAll(corpus)
    Seq((11L, "e"), (12L, "f")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    serveAll(corpus)._1 shouldBe Set(1L, 2L, 3L, 7L, 11L, 12L)

    // retract batch 1 while batch 2 stays: NOT a suffix → rebuild
    b1.foreach(Files.delete)
    serveAll(corpus) shouldBe ((Set(1L, 2L, 3L, 11L, 12L), 5L,
      Map(0L -> 12L, 1L -> 1L, 2L -> 11L)))
    // proof it was the rebuild path, not a gen drop: bases republished
    stamps.foreach { case (p, before) =>
      withClue(s"piece $p base unchanged — intermediate retract took the drop path: ") {
        baseStamp(corpus, p) should not be before
      }
    }
    deleteTree(Paths.get(sf))
  }

  test("lazy merges: a retract before any merge read leaves the never-advanced merge exact") {
    val sf = Files.createTempDirectory("graft-rollback-lazy").toString
    val corpus = s"$sf/documents.parquet"
    def lazyHandle = IncrementalDocArtifact(corpus, "rb2",
      Seq(Piece("rows", (docs, _) => docs)),
      Seq(MergePiece("gmax", Seq("grp"),
        buildFull = (docs, _) => docs
          .select(pmod(col("doc_id"), lit(3L)).as("grp"), col("doc_id"))
          .groupBy("grp").agg(max("doc_id").as("mx")),
        advance = ctx => {
          val fresh = ctx.newDocs
            .select(pmod(col("doc_id"), lit(3L)).as("grp"), col("doc_id"))
            .groupBy("grp").agg(max("doc_id").as("mx"))
          fresh.join(ctx.stored("gmax").withColumnRenamed("mx", "mx0"),
              Seq("grp"), "left")
            .select(col("grp"), greatest(col("mx"),
              coalesce(col("mx0"), lit(Long.MinValue))).as("mx"))
        })),
      compactEvery = 0, lazyMerges = true)
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    lazyHandle.serve(spark, "gmax").as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 2L)
    val baseFiles = dataFiles(corpus)
    Seq((9L, "c")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    // advance ONLY the additive piece (merge stays behind, lazily)
    lazyHandle.serve(spark, "rows").count() shouldBe 3
    // retract before the merge ever catches up
    (dataFiles(corpus) -- baseFiles).foreach(Files.delete)
    lazyHandle.serve(spark, "rows").count() shouldBe 2
    lazyHandle.serve(spark, "gmax").as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 2L)
    deleteTree(Paths.get(sf))
  }
}
