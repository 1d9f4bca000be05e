package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.ImmutableParquetSpec.jobsOf

/** The steady-state exact accept batch (no fold, base filters cached,
  * an unfolded tail) stays within its Spark job budget: no footer
  * inference, one tail-size job, a lazily pinned probe and a pinned
  * survivor set counted in the job that materializes it.
  */
class AcceptJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("a steady-state exact accept batch runs at most 14 Spark jobs") {
    val out = Files.createTempDirectory("graft-accept-jobs").toString
    def batch(b: Int) =
      (0 until 60).map(i => (b * 1000L + i, s"doc ${(b * 40 + i) % 150} of batch"))
        .toDF("doc_id", "text")
    System.setProperty("graft.accept.compactEvery", "1000")
    try {
      // batch 0 lands on an empty corpus, batch 1 builds the screen
      // base and caches its filters, batch 2 leaves one unfolded gen
      (0 to 2).foreach(b => StreamingAcceptIngest.applyBatch(
        batch(b), b.toLong, "doc_id", "text", out))
      val (_, jobs) = jobsOf(spark)(StreamingAcceptIngest.applyBatch(
        batch(3), 3L, "doc_id", "text", out))
      val stats = StreamingAcceptIngest.AcceptStats.snapshot.apply(
        StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text"))
      stats("last_base_cache_hit") shouldBe 1L
      stats("last_recent_hashes") should be > 0L
      jobs should be <= 14
      StreamingAcceptIngest.accepted(spark, out).count() shouldBe 150L
    } finally System.clearProperty("graft.accept.compactEvery")
  }
}
