package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.dedup.{DupClusters, EditJoin, PrefixJoin}

/** The reliable-checkpoint knob for every pin — the iterative graph
  * loops and the one-shot pins alike: localCheckpoint blocks are
  * executor-local, so on a real cluster a lost executor kills the
  * lineage — the knob writes every N-th pin of a stream (and every
  * one-shot pin) to the reliable checkpoint dir instead. Results must
  * be identical either way; a knob without a checkpoint dir refuses
  * loudly (a silently-skipped reliable checkpoint would defeat the
  * protection). The knob only reaches what goes through [[Pin]], so a
  * guard keeps raw checkpoint calls out of the engine.
  */
class PinSpec extends SparkSpec {
  import spark.implicits._

  test("knob without a checkpoint dir refuses loudly; with one, loops run reliably with identical results") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"))
      .toDF("src", "dst")
    val ew = e.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val eu = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("a", "b")
    val seeds = Seq("a").toDF("node")
    // one-shot pin users: near-duplicate joins, clusters, link scores
    val strs = Seq((1L, "abcd"), (2L, "abce"), (3L, "xyz"), (4L, "abcd"))
      .toDF("sid", "s")
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z"),
      (4L, "a b c d")).toDF("doc_id", "text")
    val nodes = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")

    def runAll(): Seq[Seq[String]] = Seq(
      ShortestPath.hops(e, seeds, 5),
      ShortestPath.weighted(ew, seeds, 5),
      KCore.peelRounds(eu, k = 1, rounds = 3),
      LabelPropagation.labels(e, rounds = 2),
      PageRank.ranks(spark, e, iters = 3),
      EditJoin.similarPairs(strs, "sid", col("s"), 1),
      PrefixJoin.similarPairs(docs, "doc_id", col("text"), 1, 2),
      DupClusters.components(nodes, "id", pairs, "a", "b"),
      LinkPrediction.commonNeighbors(eu, minCommon = 1)
    ).map(_.collect().map(_.toString).sorted.toSeq)

    val baseline = runAll() // knob off: today's localCheckpoint path
    // the one-shot users produce rows, so "identical" compares content
    baseline.takeRight(4).foreach(_ should not be empty)

    System.setProperty("graft.graph.reliableCheckpointEvery", "2")
    try {
      // no checkpoint dir configured → loud refusal, not a silent skip
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val ex = intercept[IllegalArgumentException] {
          ShortestPath.hops(e, seeds, 3).collect()
        }
        ex.getMessage should include("checkpoint directory")
      }
      val dir = Files.createTempDirectory("graft-pin-ckpt")
      spark.sparkContext.setCheckpointDir(dir.toString)
      runAll() shouldBe baseline
      // proof the reliable path actually engaged: the dir holds RDDs
      val s = Files.walk(dir)
      val files =
        try s.filter(Files.isRegularFile(_)).count()
        finally s.close()
      files should be > 0L
    } finally System.clearProperty("graft.graph.reliableCheckpointEvery")
  }

  test("cut cadence is per logical state stream: every stream of weighted SSSP lands reliable cuts every N of its OWN pins") {
    val ew = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("a", "d", 5L)).toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    val dir = Files.createTempDirectory("graft-pin-streams")
    spark.sparkContext.setCheckpointDir(dir.toString)
    System.setProperty("graft.graph.reliableCheckpointEvery", "2")
    val pins = scala.collection.mutable.ArrayBuffer[(String, Int, Boolean)]()
    Pin.trace = (s, i, r) => pins.synchronized { pins += ((s, i, r)) }
    try {
      ShortestPath.weighted(ew, seeds, 5).collect()
      val byStream = pins.groupBy(_._1)
      // weighted evolves THREE streams; each must follow idx % 2 == 0
      byStream.keySet should contain allOf ("edges", "dist", "imp")
      byStream.foreach { case (_, ps) =>
        ps.foreach { case (_, i, reliable) => reliable shouldBe (i % 2 == 0) }
        ps.map(_._2).sorted shouldBe (0 until ps.size)
      }
      // the advisory's failing case: dist advances past its initial
      // pin, so with an even N it MUST still land a later reliable cut
      // (the old shared index parked dist on odd slots forever)
      val dist = byStream("dist")
      dist.size should be > 2
      dist.count { case (_, i, r) => r && i > 0 } should be > 0
    } finally {
      Pin.trace = null
      System.clearProperty("graft.graph.reliableCheckpointEvery")
    }
  }

  test("no raw localCheckpoint or checkpoint call in the engine outside Pin") {
    val root = Paths.get("src/main/scala")
    Files.isDirectory(root) shouldBe true
    val s = Files.walk(root)
    val sources =
      try s.filter(_.toString.endsWith(".scala")).toArray.toSeq
        .map(_.asInstanceOf[Path])
      finally s.close()
    sources.size should be > 100
    val raw = """localCheckpoint\(|\.checkpoint\(""".r
    val offenders = for {
      f <- sources if f.getFileName.toString != "Pin.scala"
      (line, i) <- PinSpec.code(Files.readString(f)).split("\n").zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}"
    offenders shouldBe empty
  }
}

object PinSpec {

  /** Scala source with comments blanked to spaces (newlines kept, so
    * line numbers hold); string literals are kept as they are.
    */
  def code(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(p: String) = src.startsWith(p, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') { out += ' '; i += 1 }
      } else if (at("/*")) {
        while (i < src.length && !at("*/")) {
          out += (if (src(i) == '\n') '\n' else ' '); i += 1
        }
        if (i < src.length) { out ++= "  "; i += 2 }
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        out += '"'; i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < src.length) { out += src(i); i += 1 }
          out += src(i); i += 1
        }
        if (i < src.length) { out += src(i); i += 1 }
      } else { out += src(i); i += 1 }
    }
    out.toString
  }
}
