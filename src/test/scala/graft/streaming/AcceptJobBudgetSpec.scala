package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.ImmutableParquetSpec.jobsOf

/** The steady-state exact accept batch (no fold, base filters cached,
  * an unfolded tail) stays within its Spark job budget: no footer
  * inference, no up-front emptiness job, one tail-size job, a lazily
  * pinned probe materialized by the one residue collect, and a pinned
  * survivor set counted in the job that materializes it. The steady
  * near batch runs the same body plus its near stage, whose band-pair
  * and candidate-id lookups are one full-scan job each.
  */
class AcceptJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("a steady-state exact accept batch runs at most 10 Spark jobs") {
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
      jobs should be <= 10
      StreamingAcceptIngest.accepted(spark, out).count() shouldBe 150L
    } finally System.clearProperty("graft.accept.compactEvery")
  }

  test("a steady-state near accept batch runs at most 31 Spark jobs") {
    val out = Files.createTempDirectory("graft-accept-near-jobs").toString
    def text(k: Int): String = (0 until 20).map(j =>
      f"${scala.util.hashing.MurmurHash3.stringHash(s"d$k-$j")}%08x").mkString(" ")
    // 40 docs of 120 texts, 10 shared with the previous batch; some
    // re-offers come back as near copies
    def batch(b: Int) = (0 until 40).map { i =>
      val k = (b * 30 + i) % 120
      (b * 1000L + i, if ((i + b) % 7 == 0) s"${text(k)} zz" else text(k))
    }.toDF("doc_id", "text")
    System.setProperty("graft.accept.compactEvery", "1000")
    try {
      (0 to 2).foreach(b => StreamingAcceptIngest.applyBatchNear(
        batch(b), b.toLong, "doc_id", "text", out, threshold = 0.7))
      val (_, jobs) = jobsOf(spark)(StreamingAcceptIngest.applyBatchNear(
        batch(3), 3L, "doc_id", "text", out, threshold = 0.7))
      val stats = StreamingAcceptIngest.AcceptStats.snapshot.apply(
        StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text"))
      stats("last_base_cache_hit") shouldBe 1L
      stats("last_recent_hashes") should be > 0L
      stats("last_cand_ids") should be > 0L
      jobs should be <= 31
      StreamingAcceptIngest.accepted(spark, out).count() shouldBe 120L
    } finally System.clearProperty("graft.accept.compactEvery")
  }
}
