package graft.core

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Watermark codec + span semantics (reference pyCassElastic.py:140-170,
  * window computed at :156-163). Pure driver-side logic — no Spark.
  */
class WatermarkSpec extends AnyFunSuite with Matchers {

  private def tmpFile: String =
    Files.createTempDirectory("wm").resolve("lastruntime.log").toString

  test("encode truncates to the minute with the reference's format") {
    // 2024-01-15T10:23:45.678Z
    Watermark.encode(1705314225678L) shouldBe "20240115 10:23"
  }

  test("decode/encode round-trips minute-truncated values") {
    val gen = Gen.chooseNum(0L, 4102444800000L)
    (1 to 50).foreach { i =>
      gen(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)).foreach { ms =>
        val trunc = Watermark.truncToMinute(ms)
        Watermark.decode(Watermark.encode(ms)) shouldBe trunc
      }
    }
  }

  test("read of a missing file is None (reference raises with instructions)") {
    Watermark.read(tmpFile) shouldBe None
  }

  test("write/read round-trip; write is atomic (no .tmp left behind)") {
    val p = tmpFile
    Watermark.write(p, 1705314225678L)
    Watermark.read(p) shouldBe Some(1705314180000L)
    val dir = java.nio.file.Paths.get(p).getParent
    graft.sources.Fs.list(dir).map(_.getFileName.toString) shouldBe Seq("lastruntime.log")
  }

  test("nextSpan is the half-open (last, now-truncated] window") {
    val p = tmpFile
    Watermark.write(p, 1705314225678L) // stored 10:23
    val span = Watermark.nextSpan(p, 1705314525999L).get // now 10:28:45.999
    span.lastMs shouldBe 1705314180000L
    span.thisMs shouldBe 1705314480000L // 10:28
    span.contains(span.lastMs) shouldBe false // strictly greater than last
    span.contains(span.lastMs + 1) shouldBe true
    span.contains(span.thisMs) shouldBe true // inclusive end
    span.contains(span.thisMs + 1) shouldBe false
  }

  test("clock regression yields an empty window, not an exception") {
    val p = tmpFile
    Watermark.write(p, 1705314225678L) // stored 10:23
    val span = Watermark.nextSpan(p, 1705314225678L - 600000L).get // now 10:13
    span.thisMs shouldBe span.lastMs
    (span.lastMs - 60000L to span.lastMs + 60000L).count(span.contains) shouldBe 0
  }

  test("adjacent spans partition the timeline: no loss, no double-count") {
    val s1 = Watermark.Span(0L, 100L)
    val s2 = Watermark.Span(100L, 200L)
    (0L to 220L).foreach { v =>
      val n = Seq(s1, s2).count(_.contains(v))
      val expected = if (v > 0 && v <= 200) 1 else 0
      n shouldBe expected
    }
  }
}
