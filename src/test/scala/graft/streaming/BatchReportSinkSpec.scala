package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec

class BatchReportSinkSpec extends SparkSpec {
  import spark.implicits._

  /** (relative path, size, mtime, bytes digest) of every file under `dir`. */
  private def snapshot(dir: Path): Set[(String, Long, Long, String)] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[Path]).map { f =>
        (dir.relativize(f).toString, Files.size(f),
          Files.getLastModifiedTime(f).toMillis,
          java.util.Arrays.hashCode(Files.readAllBytes(f)).toString)
      }.toSet
    finally s.close()
  }

  test("a replayed batch overwrites only its own partition: ids land once, earlier batches untouched") {
    val out = Files.createTempDirectory("graft-report-sink").resolve("rep")
    val dir = out.toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
    val b1 = Seq((3L, "c"), (4L, "d")).toDF("doc_id", "v")
    BatchReportSink.writeBatch(b0, 0L, dir)
    BatchReportSink.writeBatch(b1, 1L, dir)
    val batch0 = snapshot(out.resolve("_batch=0"))
    batch0 should not be empty

    // at-least-once delivery: batch 1 replays after a crash with the
    // same rows
    Thread.sleep(20L) // a rewrite of batch 0 would show a newer mtime
    BatchReportSink.writeBatch(
      Seq((3L, "c"), (4L, "d")).toDF("doc_id", "v"), 1L, dir)

    val ids = spark.read.parquet(dir).select("doc_id").as[Long].collect()
    ids.sorted.toSeq shouldBe Seq(1L, 2L, 3L, 4L) // every id exactly once
    spark.read.parquet(dir).select("_batch").distinct()
      .as[Long].collect().toSet shouldBe Set(0L, 1L)
    snapshot(Paths.get(dir, "_batch=0")) shouldBe batch0
  }
}
