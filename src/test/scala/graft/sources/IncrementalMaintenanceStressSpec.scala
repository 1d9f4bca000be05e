package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.IncrementalDocArtifact.{MergePiece, Piece}

/** The 15th randomized differential family — maintenance-interleaving
  * parity for the round-11 concurrency surface: seeded random op
  * sequences (append / serve / explicit compact / lazy merge read)
  * over a three-piece store with `compactEvery = 2`, so DETACHED
  * folds fire constantly while reads run CONCURRENTLY on other
  * threads. Every read, at every step, from every thread, must equal
  * the from-scratch oracle over the corpus at that moment — the
  * grace-window GC, committed-only reads, in-flight registration and
  * the commit-abort guards are all load-bearing for this to hold.
  */
class IncrementalMaintenanceStressSpec extends SparkSpec {
  import spark.implicits._

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  // pieces: identity rows (additive), folded counts (additive with
  // fold), and a running per-group MAX maintained as a keyed upsert
  // whose advance reads its own pre-increment view (chunking-invariant)
  private def handle(corpus: String, lazyMerges: Boolean) =
    IncrementalDocArtifact(corpus, "stress1",
      Seq(
        Piece("rows", (docs, _) => docs),
        Piece("cnt", (docs, _) => docs.agg(count(lit(1)).as("n")),
          fold = Some(_.agg(sum("n").as("n"))))),
      Seq(MergePiece("gmax", Seq("grp"),
        buildFull = (docs, _) => docs.select(pmod(col("doc_id"), lit(5L)).as("grp"),
          col("doc_id")).groupBy("grp").agg(max("doc_id").as("mx")),
        advance = ctx => {
          val fresh = ctx.newDocs
            .select(pmod(col("doc_id"), lit(5L)).as("grp"), col("doc_id"))
            .groupBy("grp").agg(max("doc_id").as("mx"))
          fresh.join(ctx.stored("gmax").withColumnRenamed("mx", "mx0"),
              Seq("grp"), "left")
            .select(col("grp"),
              greatest(col("mx"), coalesce(col("mx0"), lit(Long.MinValue)))
                .as("mx"))
        })),
      compactEvery = 2, lazyMerges = lazyMerges)

  private def checkAll(corpus: String, lazyMerges: Boolean,
      expected: Seq[(Long, String)]): Unit = {
    val h = handle(corpus, lazyMerges)
    // four concurrent readers racing whatever detached fold is in
    // flight; each must see exactly the committed corpus
    val reads = (1 to 4).map(_ => Future {
      handle(corpus, lazyMerges).serve(spark, "rows")
        .as[(Long, String)].collect().sorted.toSeq
    })
    reads.foreach(f =>
      assert(Await.result(f, 120.seconds) == expected.sorted,
        "concurrent read diverged from the corpus"))
    h.serve(spark, "cnt").agg(sum("n")).head.getLong(0) shouldBe expected.size
    val gmax = h.serve(spark, "gmax").as[(Long, Long)].collect().toMap
    val oracle = expected.map(_._1).groupBy(_ % 5).map { case (g, ids) =>
      g -> ids.max }
    assert(gmax == oracle, s"gmax $gmax != oracle $oracle")
  }

  test("seeded op-interleaving parity under detached folds and concurrent reads") {
    for (seed <- Seq(7, 23)) {
      val lazyMerges = seed % 2 == 1
      val rnd = new scala.util.Random(seed)
      val sf = Files.createTempDirectory(s"graft-stress-$seed").toString
      val corpus = s"$sf/documents.parquet"
      val expected = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      // per-batch corpus files + rows, for the seeded RETRACT op: the
      // engine may roll the batch back O(dropped) (still a whole live
      // generation) or fall back to a rebuild (folded, or chunked into
      // a combined generation) — parity must hold EITHER way
      val batches = scala.collection.mutable.ArrayBuffer[
        (Set[Path], Seq[(Long, String)])]()
      def corpusFiles(): Set[Path] = {
        val s = Files.list(Paths.get(corpus))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter { f =>
            val n = f.getFileName.toString
            !(n.startsWith("_") || n.startsWith("."))
          }.toSet
        } finally s.close()
      }
      var next = 0L
      for (step <- 1 to 10) {
        if (step > 2 && batches.nonEmpty && rnd.nextInt(4) == 0) {
          // RETRACT the most recent batch before this step's append
          val (files, rows) = batches.remove(batches.size - 1)
          files.foreach(Files.deleteIfExists(_))
          expected --= rows
          withClue(s"seed=$seed step=$step retract: ")(
            checkAll(corpus, lazyMerges, expected.toSeq))
        }
        val batch = (0 until (1 + rnd.nextInt(3))).map { _ =>
          val r = (next, s"doc$next"); next += 1; r
        }
        expected ++= batch
        val before = if (step == 1) Set.empty[Path] else corpusFiles()
        batch.toDF("doc_id", "text").coalesce(1)
          .write.mode(if (step == 1) "overwrite" else "append").parquet(corpus)
        batches += ((corpusFiles() -- before, batch))
        if (rnd.nextInt(3) == 0)
          // crashed-foreign-writer debris: a STALE lease file planted
          // ATOMICALLY at the artifact root — every mutation this step
          // (advance, detached fold, explicit compact) must take it
          // over transparently, and reads must ignore it entirely
          graft.TestLeases.plantStale(Paths.get(ArtifactStore.root,
            ArtifactStore.pathKey(corpus) + "_stress1"), s"99999-stress$seed")
        withClue(s"seed=$seed step=$step: ")(
          checkAll(corpus, lazyMerges, expected.toSeq))
        if (rnd.nextBoolean()) handle(corpus, lazyMerges).compact(spark)
      }
      val h = handle(corpus, lazyMerges)
      h.awaitMaintenance()
      h.compact(spark)
      checkAll(corpus, lazyMerges, expected.toSeq)
      // folds bounded the generations (grace-window dirs may linger
      // dead-by-marker; the live view must be empty)
      h.deltaGens() shouldBe empty
      deleteTree(Paths.get(sf))
    }
  }
}
