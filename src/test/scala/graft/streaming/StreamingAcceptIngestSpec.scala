package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.sources.Fs

/** The self-referential accept-ingest loop: each micro-batch is
  * exact-deduped against everything previously ACCEPTED, survivors
  * land as corpus generations, and the stored digest screen advances
  * over them. Pins: global first-wins semantics across batches,
  * all-duplicate batches accept nothing, the `_ib` replay anchor
  * (a crash mid-landing whose partial files the digest artifact
  * already absorbed must NOT change the replay's survivor set), and
  * the accepted corpus being a first-class corpus for OTHER stores
  * (the co-occurrence graph maintains itself over it).
  */
class StreamingAcceptIngestSpec extends SparkSpec {
  import spark.implicits._

  private def acceptedIds(outDir: String): Set[Long] =
    StreamingAcceptIngest.accepted(spark, outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("global first-wins dedup across batches; all-duplicate batches accept nothing") {
    val out = Files.createTempDirectory("graft-accept").toString
    val ckpt = Files.createTempDirectory("graft-accept-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamingAcceptIngest.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      out, ckpt, Trigger.ProcessingTime(0))
    // batch 0: two copies of "alpha" in-batch (min id 1 wins) + one
    // unique
    mem.addData((1L, "alpha"), (5L, "alpha"), (2L, "beta"))
    q.processAllAvailable()
    // batch 1: "alpha" again (cross-batch dup — dropped), "gamma" new
    mem.addData((7L, "alpha"), (8L, "gamma"))
    q.processAllAvailable()
    // batch 2: ALL duplicates — nothing accepted
    mem.addData((9L, "beta"), (10L, "gamma"))
    q.processAllAvailable()
    q.stop()
    acceptedIds(out) shouldBe Set(1L, 2L, 8L)
    // the digest screen reflects exactly the accepted rows
    StreamingAcceptIngest.digests(spark, out, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(1L, 2L, 8L)
    // reproducibility: the corpus as of batch 0 is batch 0's survivors
    StreamingAcceptIngest.acceptedAsOf(spark, out, 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(1L, 2L)
  }

  test("the _ib anchor: a crash mid-landing absorbed by the screen does not change the replay's survivor set") {
    val out = Files.createTempDirectory("graft-accept-crash").toString
    StreamingAcceptIngest.applyBatch(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      0L, "doc_id", "text", out)
    // batch 1: two NEW docs, landed in two parts; the writer dies
    // after ONE part landed — and the digest artifact advances over
    // the partial generation (a concurrent serve), so a naive replay
    // would see part of its own batch as "already accepted"
    val b1 = Seq((3L, "gamma"), (4L, "delta"), (5L, "epsilon"),
      (6L, "zeta")).toDF("doc_id", "text")
    val withFp = b1.withColumn("fp",
      graft.functions.TextFunctions.fingerprint(
        graft.functions.TextFunctions.normalize(col("text"))))
      .withColumn("_ib", lit(1L))
    graft.sources.CorpusLanding.land(withFp, 1L,
      StreamingAcceptIngest.acceptedCorpusPath(out), hashCol = "fp",
      parts = 2, keepParts = 1)
    // the concurrent serve that absorbs the partial landing
    StreamingAcceptIngest.digests(spark, out, "doc_id", "text").count()
    // replay of the full batch through the real door
    StreamingAcceptIngest.applyBatch(b1, 1L, "doc_id", "text", out,
      parts = 2)
    acceptedIds(out) shouldBe Set(1L, 2L, 3L, 4L, 5L, 6L)
    // no doubled fingerprints anywhere
    val fps = StreamingAcceptIngest.accepted(spark, out)
      .select("fp").collect().map(_.getString(0)).toSeq
    fps.distinct.size shouldBe fps.size
  }

  test("null-text docs fingerprint as the empty document: exactly one is ever accepted") {
    val out = Files.createTempDirectory("graft-accept-null").toString
    StreamingAcceptIngest.applyBatch(
      Seq((1L, null.asInstanceOf[String]), (2L, "x"))
        .toDF("doc_id", "text"),
      0L, "doc_id", "text", out)
    // a null fp would escape every anti-join and land one null doc
    // per batch forever — the coalesce-to-empty fingerprint pins it
    StreamingAcceptIngest.applyBatch(
      Seq((3L, null.asInstanceOf[String]), (4L, ""), (5L, "y"))
        .toDF("doc_id", "text"),
      1L, "doc_id", "text", out)
    acceptedIds(out) shouldBe Set(1L, 2L, 5L)
  }

  test("the screen stays exact across a bloomparts fold, and with the residue cap forced to the fallback") {
    val out = Files.createTempDirectory("graft-accept-bloom").toString
    StreamingAcceptIngest.applyBatch(
      (1L to 50L).map(i => (i, s"text $i")).toDF("doc_id", "text"),
      0L, "doc_id", "text", out)
    StreamingAcceptIngest.applyBatch(
      (40L to 90L).map(i => (i + 1000L, s"text $i")).toDF("doc_id", "text"),
      1L, "doc_id", "text", out) // 40..50 are dups by text
    // fold: the per-generation bloom partials merge into one binary
    StreamingAcceptIngest.compact(spark, out, "doc_id", "text")
    // post-fold batch: dups against BOTH folded generations must drop
    StreamingAcceptIngest.applyBatch(
      (80L to 120L).map(i => (i + 2000L, s"text $i")).toDF("doc_id", "text"),
      2L, "doc_id", "text", out) // 80..90 dup
    val texts = StreamingAcceptIngest.accepted(spark, out)
      .select("text").collect().map(_.getString(0)).toSeq
    texts.distinct.size shouldBe texts.size
    texts.toSet shouldBe (1L to 120L).map(i => s"text $i").toSet

    // forced-tiny residue cap: the capped-In probe degrades to the
    // full anti-join — identical accepted set on the same sequence
    System.setProperty("graft.accept.residueCap", "1")
    try {
      val out2 = Files.createTempDirectory("graft-accept-cap").toString
      Seq((0L, 1L to 50L), (1L, 40L to 90L), (2L, 80L to 120L))
        .foreach { case (b, range) =>
          StreamingAcceptIngest.applyBatch(
            range.map(i => (i + b * 1000L, s"text $i")).toDF("doc_id", "text"),
            b, "doc_id", "text", out2)
        }
      StreamingAcceptIngest.accepted(spark, out2)
        .select("text").collect().map(_.getString(0)).toSet shouldBe
        (1L to 120L).map(i => s"text $i").toSet
    } finally System.clearProperty("graft.accept.residueCap")
  }

  /** Literal-list lengths of every In / InSet in the optimized and
    * executed plans of the SQL executions `body` runs, gathered by a
    * QueryExecutionListener; a barrier query proves the bus delivered
    * every execution before the listener is dropped.
    */
  private def inListsOf(body: => Unit): Seq[Int] = {
    val marker = s"in-lists-${java.util.UUID.randomUUID()}"
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    def physical(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
      case q: QueryStageExec => physical(q.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(physical)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) barrier.countDown()
        else (qe.optimizedPlan.collectWithSubqueries { case n => n }
            .flatMap(_.expressions) ++
            physical(qe.executedPlan).flatMap(_.expressions))
          .foreach(_.foreach {
            case i: In => sizes.add(i.list.size)
            case i: InSet => sizes.add(i.hset.size)
            case _ =>
          })
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(marker)).collect()
      assert(barrier.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the barrier query")
      import scala.jdk.CollectionConverters._
      sizes.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("a residue past the In-pushdown threshold stays exact and no executed plan lists more fps than the threshold") {
    val out = Files.createTempDirectory("graft-accept-inlist").toString
    val threshold = spark.conf
      .get("spark.sql.parquet.pushdown.inFilterThreshold").toInt
    // batch 0 lands 200 texts; batch 1 adds 60 more as an unfolded
    // generation, so batch 2 probes a recent tail as well as the base
    StreamingAcceptIngest.applyBatch(
      (1L to 200L).map(i => (i, s"text $i")).toDF("doc_id", "text"),
      0L, "doc_id", "text", out)
    StreamingAcceptIngest.applyBatch(
      (201L to 260L).map(i => (i, s"text $i")).toDF("doc_id", "text"),
      1L, "doc_id", "text", out)
    // batch 2: 80 re-offers of earlier texts, 40 fresh texts, one of
    // them twice (the smaller id must win)
    val rows = (1L to 80L).map(i => (1000L + i, s"text ${i * 3}")) ++
      (1L to 40L).map(i => (2000L + i, s"new $i")) :+ (999L, "new 7")
    val lists = inListsOf(StreamingAcceptIngest.applyBatch(
      rows.toDF("doc_id", "text"), 2L, "doc_id", "text", out))
    val stats = StreamingAcceptIngest.AcceptStats.snapshot(
      StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text"))
    stats("last_residue_fps") should be > threshold.toLong
    stats("last_recent_hashes") should be > threshold.toLong
    lists.filter(_ > threshold) shouldBe empty
    StreamingAcceptIngest.accepted(spark, out).where(col("_ib") === 2L)
      .select("doc_id", "text").as[(Long, String)].collect().toSet shouldBe
      (1L to 40L).map(i => (if (i == 7L) 999L else 2000L + i, s"new $i")).toSet
    StreamingAcceptIngest.accepted(spark, out).count() shouldBe 300L
    // a near batch whose band pairs and candidate ids both pass the
    // threshold: its stored-side lookups list no more keys either
    val outN = Files.createTempDirectory("graft-accept-inlist-near").toString
    def words(i: Int): String = (0 until 30).map(j =>
      f"${scala.util.hashing.MurmurHash3.stringHash(s"w$i-$j")}%08x").mkString(" ")
    StreamingAcceptIngest.applyBatchNear(
      (1 to 20).map(i => (i.toLong, words(i))).toDF("doc_id", "text"),
      0L, "doc_id", "text", outN, threshold = 0.7)
    // batch 1: near copies of 15 accepted docs, and 5 new docs
    val nearRows = (1 to 15).map(i => (100L + i, s"${words(i)} zz")) ++
      (21 to 25).map(i => (i.toLong, words(i)))
    val nearLists = inListsOf(StreamingAcceptIngest.applyBatchNear(
      nearRows.toDF("doc_id", "text"), 1L, "doc_id", "text", outN,
      threshold = 0.7))
    nearLists.filter(_ > threshold) shouldBe empty
    val nearStats = StreamingAcceptIngest.AcceptStats.snapshot(
      StreamingAcceptIngest.screenArtifactDir(outN, "doc_id", "text"))
    nearStats("last_band_pairs") should be > threshold.toLong
    nearStats("last_cand_ids") should be > threshold.toLong
    acceptedIds(outN) shouldBe (1L to 25L).toSet
  }

  test("a residue over the cap but under the In-pushdown threshold takes the plain anti-join and stays exact") {
    val out = Files.createTempDirectory("graft-accept-smallcap").toString
    System.setProperty("graft.accept.residueCap", "2")
    try {
      StreamingAcceptIngest.applyBatch(
        (1L to 30L).map(i => (i, s"text $i")).toDF("doc_id", "text"),
        0L, "doc_id", "text", out)
      // 5 re-offers: more than the cap keeps, fewer than the threshold
      StreamingAcceptIngest.applyBatch(
        ((1L to 5L).map(i => (100L + i, s"text ${i * 5}")) ++
          (31L to 35L).map(i => (i, s"text $i"))).toDF("doc_id", "text"),
        1L, "doc_id", "text", out)
      val stats = StreamingAcceptIngest.AcceptStats.snapshot(
        StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text"))
      stats("last_residue_fps") shouldBe 3L
      acceptedIds(out) shouldBe (1L to 35L).toSet
    } finally System.clearProperty("graft.accept.residueCap")
  }

  test("an empty exact batch on a fresh outDir stamps no marker and leaves no corpus or artifact; a near sink still refuses it") {
    val out = Files.createTempDirectory("graft-accept-empty").toString
    val noRows = Seq.empty[(Long, String)].toDF("doc_id", "text")
    StreamingAcceptIngest.applyBatch(noRows, 0L, "doc_id", "text", out)
    Fs.list(Paths.get(out)) shouldBe empty
    Files.exists(Paths.get(
      StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text"))) shouldBe false
    // the sink is still unclaimed: a near batch stamps it near, and
    // the exact door then refuses even an empty batch
    StreamingAcceptIngest.applyBatchNear(Seq((1L, "a")).toDF("doc_id", "text"),
      0L, "doc_id", "text", out, threshold = 0.7)
    an[IllegalStateException] should be thrownBy
      StreamingAcceptIngest.applyBatch(noRows, 1L, "doc_id", "text", out)
    // and an exact sink refuses an empty near batch
    val outE = Files.createTempDirectory("graft-accept-empty-e").toString
    StreamingAcceptIngest.applyBatch(Seq((1L, "a")).toDF("doc_id", "text"),
      0L, "doc_id", "text", outE)
    an[IllegalStateException] should be thrownBy
      StreamingAcceptIngest.applyBatchNear(noRows, 1L, "doc_id", "text",
        outE, threshold = 0.7)
  }

  test("an empty exact batch on a live sink changes no corpus file and no screen generation") {
    val out = Files.createTempDirectory("graft-accept-empty-live").toString
    Seq(0L -> (1L to 30L), 1L -> (20L to 50L)).foreach { case (b, range) =>
      StreamingAcceptIngest.applyBatch(
        range.map(i => (i + b * 1000L, s"text $i")).toDF("doc_id", "text"),
        b, "doc_id", "text", out)
    }
    StreamingAcceptIngest.awaitScreenMaintenance(out, "doc_id", "text")
    def files(root: String): Seq[(String, Long)] = {
      val r = Paths.get(root)
      Fs.walk(r).filter(Files.isRegularFile(_))
        .map(f => (r.relativize(f).toString, Files.size(f))).sorted
    }
    val corpus = StreamingAcceptIngest.acceptedCorpusPath(out)
    val screen = StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text")
    val (corpusBefore, screenBefore) = (files(corpus), files(screen))
    screenBefore.exists(_._1.contains("_gen=")) shouldBe true
    StreamingAcceptIngest.applyBatch(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      2L, "doc_id", "text", out)
    StreamingAcceptIngest.awaitScreenMaintenance(out, "doc_id", "text")
    files(corpus) shouldBe corpusBefore
    files(screen) shouldBe screenBefore
    // the loop goes on: the next batch still screens against both
    StreamingAcceptIngest.applyBatch(
      (45L to 60L).map(i => (i + 3000L, s"text $i")).toDF("doc_id", "text"),
      3L, "doc_id", "text", out)
    StreamingAcceptIngest.accepted(spark, out)
      .select("text").as[String].collect().sorted shouldBe
      (1L to 60L).map(i => s"text $i").sorted
  }

  test("an unfolded tail past the collect cap is probed DISTRIBUTED (exact, driver-bounded) and a fold is queued; a stalled maintenance plane stays correct") {
    // stalled maintenance: folding disabled entirely, so the whole
    // accepted history stays in the delta half and the tail grows
    // linearly — the scenario r15 What's-wrong #2 names, where the
    // tick's unconditional d.collect() absorbed the growth into
    // driver memory with nothing reacting
    System.setProperty("graft.accept.compactEvery", "0")
    System.setProperty("graft.accept.recentCollectMax", "40")
    StreamingAcceptIngest.AcceptStats.reset()
    try {
      val out = Files.createTempDirectory("graft-accept-tail").toString
      for (b <- 0 until 5) {
        val fresh = (0 until 30).map(i =>
          (b * 100L + i, s"tail doc ${b * 30 + i}"))
        // re-offers of EARLIER batches' texts under new ids — every
        // one must be rejected by the distributed tail probe exactly
        // as the collected path would
        val dups =
          if (b == 0) Seq.empty
          else (0 until 10).map(i =>
            (9000L + b * 100L + i, s"tail doc ${(b * 7 + i) % (b * 30)}"))
        StreamingAcceptIngest.applyBatch(
          (fresh ++ dups).toDF("doc_id", "text"),
          b.toLong, "doc_id", "text", out)
      }
      val acc = StreamingAcceptIngest.accepted(spark, out)
      acc.count() shouldBe 150L
      acc.select("text").collect().map(_.getString(0)).toSet shouldBe
        (0 until 150).map(i => s"tail doc $i").toSet
      acc.select("fp").distinct().count() shouldBe 150L
      val stats = StreamingAcceptIngest.AcceptStats.snapshot
        .apply(StreamingAcceptIngest.screenArtifactDir(
          out, "doc_id", "text"))
      // the bootstrap serve REBUILDS (batch 0 lands in the base), so
      // the unfolded tail at ticks 1..4 is 0, 30, 60, 90 hashes —
      // ticks 3 and 4 cross the 40-hash cap and take the distributed
      // path; with folding disabled the tail then grows monotonically
      stats("sum_recent_distributed") shouldBe 2L
      stats("last_recent_hashes") shouldBe 90L
      stats("sum_ticks") shouldBe 4L
      // the bootstrap rebuild built a base; no FOLD ever promoted the
      // delta into it (that is the stall)
      stats("last_base_slices") shouldBe 1L
      // the reaction also QUEUES a fold when folding is enabled: same
      // sequence with a cadence the batch count never crosses — the
      // distributed path's compactDetached is the only fold trigger,
      // and after it drains the tail is back under the cap
      System.setProperty("graft.accept.compactEvery", "1000")
      val out2 = Files.createTempDirectory("graft-accept-tail2").toString
      for (b <- 0 until 5) {
        StreamingAcceptIngest.applyBatch(
          (0 until 30).map(i => (b * 100L + i, s"t2 doc ${b * 30 + i}"))
            .toDF("doc_id", "text"),
          b.toLong, "doc_id", "text", out2)
      }
      val h2 = StreamingAcceptIngest.screenArtifactDir(
        out2, "doc_id", "text")
      // drain the queued detached fold, then one more tick. The fold
      // queued at the first over-cap tick (tail 60: generations 1-2)
      // promotes AT LEAST those two generations; generations landed
      // after it started keep accruing until the next crossing — so
      // the final tick's tail is bounded by the generations SINCE the
      // fold (≤ 60 here), not by the unfolded history (120 without
      // the reaction). Self-regulating at cap granularity, not a
      // hard ceiling.
      StreamingAcceptIngest.awaitScreenMaintenance(out2, "doc_id", "text")
      StreamingAcceptIngest.applyBatch(
        Seq((9999L, "t2 final")).toDF("doc_id", "text"),
        5L, "doc_id", "text", out2)
      val stats2 = StreamingAcceptIngest.AcceptStats.snapshot.apply(h2)
      stats2("sum_recent_distributed") should be >= 1L
      stats2("last_recent_hashes") should be <= 60L
      StreamingAcceptIngest.accepted(spark, out2).count() shouldBe 151L
    } finally {
      System.clearProperty("graft.accept.compactEvery")
      System.clearProperty("graft.accept.recentCollectMax")
    }
  }

  test("near mode: estimated-Jaccard near-dups of accepted docs and of smaller-id batch peers are rejected") {
    val out = Files.createTempDirectory("graft-accept-near").toString
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away across the wide green field toward the river "
    val t = base * 3
    val tNear = (base * 3).replace("lazy", "hazy") // tiny edit
    val tOther = "completely different content about spark physical " +
      "plans and shuffle exchanges nothing shared with the fox text " * 3
    val tPeer = "a third unrelated passage describing parquet row " +
      "groups bloom filters and column statistics in great detail " * 3
    StreamingAcceptIngest.applyBatchNear(
      Seq((1L, t)).toDF("doc_id", "text"), 0L, "doc_id", "text", out,
      threshold = 0.7)
    // batch 1: exact dup (4), near dup of accepted (2), genuinely new
    // (3), and an in-batch near pair on a THIRD text (5 survives,
    // 6 drops — larger id)
    StreamingAcceptIngest.applyBatchNear(
      Seq((4L, t), (2L, tNear), (3L, tOther),
        (5L, tPeer), (6L, tPeer.replace("great", "grand")))
        .toDF("doc_id", "text"),
      1L, "doc_id", "text", out, threshold = 0.7)
    val ids = StreamingAcceptIngest.accepted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    ids should contain(1L)
    ids should contain(3L)
    (ids should not).contain(4L) // exact dup
    (ids should not).contain(2L) // near dup of accepted
    ids should contain(5L)
    (ids should not).contain(6L) // near dup of smaller-id peer
    // replay of batch 1 is a no-op (same screens, same survivor set)
    StreamingAcceptIngest.applyBatchNear(
      Seq((4L, t), (2L, tNear), (3L, tOther),
        (5L, tPeer), (6L, tPeer.replace("great", "grand")))
        .toDF("doc_id", "text"),
      1L, "doc_id", "text", out, threshold = 0.7)
    StreamingAcceptIngest.accepted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe ids
  }

  test("sliced bloom screen ≡ single-filter screen row-for-row (fold and recent-over-cap paths exercised); slice count provisions past one filter's cap") {
    // batch 0 → rebuild (base filters); batch 1 screens off base
    // alone; the fold after batch 1 promotes its hashes into the
    // filters; batch 2 screens off the NEW base (cache refresh);
    // batch 3 screens off base + batch 2's unfolded recent hashes
    val seqs = Seq(0L -> (1L to 60L), 1L -> (40L to 110L),
      2L -> (90L to 160L), 3L -> (140L to 200L))
    def run(out: String, e: Long): Set[String] = {
      seqs.foreach { case (b, range) =>
        StreamingAcceptIngest.applyBatch(
          range.map(i => (i + b * 10000L, s"text $i")).toDF("doc_id", "text"),
          b, "doc_id", "text", out, expectedItems = e)
        if (b == 1L)
          StreamingAcceptIngest.compact(spark, out, "doc_id", "text",
            expectedItems = e)
      }
      StreamingAcceptIngest.accepted(spark, out)
        .select("text").collect().map(_.getString(0)).toSet
    }
    val single = run(
      Files.createTempDirectory("graft-accept-s1").toString, 4000000L)
    single shouldBe (1L to 200L).map(i => s"text $i").toSet
    // 4 tiny slices + the tick-local recent-tail filter: the
    // severely-undersized filters degrade fpp, never exactness
    System.setProperty("graft.accept.sliceItems", "16")
    try {
      StreamingAcceptIngest.AcceptStats.reset()
      val out = Files.createTempDirectory("graft-accept-s4").toString
      run(out, 64L) shouldBe single
      val stats = StreamingAcceptIngest.AcceptStats.snapshot(
        StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text",
          expectedItems = 64L))
      stats("sum_ticks") should be >= 3L // batches 1-3 screened
      stats("last_base_slices") should be >= 2L // sliced base in play
      stats("last_recent_hashes") should be > 0L // recent-tail filter in play
      stats("last_base_cache_hit") shouldBe 1L // steady state reads no base bytes
    } finally {
      System.clearProperty("graft.accept.sliceItems")
    }
    // provisioning by slice count: 100 M items pass the capacity guard
    // at the DEFAULT runtime-bloom confs (25 slices of 4 M), where the
    // single-filter form refused — a tiny batch runs end-to-end
    val big = Files.createTempDirectory("graft-accept-100m").toString
    StreamingAcceptIngest.applyBatch(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"),
      0L, "doc_id", "text", big, expectedItems = 100000000L)
    StreamingAcceptIngest.applyBatch(
      Seq((3L, "a"), (4L, "c")).toDF("doc_id", "text"),
      1L, "doc_id", "text", big, expectedItems = 100000000L)
    StreamingAcceptIngest.accepted(spark, big)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(1L, 2L, 4L)
  }

  test("one mode per outDir: the marker refuses the other mode's doors; the accessors serve the marked family") {
    val out = Files.createTempDirectory("graft-accept-mode-e").toString
    StreamingAcceptIngest.applyBatch(
      Seq((1L, "a")).toDF("doc_id", "text"), 0L, "doc_id", "text", out)
    an[IllegalStateException] should be thrownBy
      StreamingAcceptIngest.applyBatchNear(
        Seq((2L, "b")).toDF("doc_id", "text"), 1L, "doc_id", "text",
        out, threshold = 0.7)
    val outN = Files.createTempDirectory("graft-accept-mode-n").toString
    StreamingAcceptIngest.applyBatchNear(
      Seq((1L, "a")).toDF("doc_id", "text"), 0L, "doc_id", "text",
      outN, threshold = 0.7)
    an[IllegalStateException] should be thrownBy
      StreamingAcceptIngest.applyBatch(
        Seq((2L, "b")).toDF("doc_id", "text"), 1L, "doc_id", "text", outN)
    // each sink's accessors serve the family its marker names
    def family(outDir: String, key: String): String =
      Paths.get(graft.sources.ArtifactStore.root, graft.sources.ArtifactStore
        .pathKey(StreamingAcceptIngest.acceptedCorpusPath(outDir)) + "_" + key)
        .toString
    StreamingAcceptIngest.screenArtifactDir(outN, "doc_id", "text") shouldBe
      family(outN, "acceptnear_doc_id_text_e4000000_s1_m1")
    StreamingAcceptIngest.compact(spark, outN, "doc_id", "text")
    StreamingAcceptIngest.digests(spark, outN, "doc_id", "text")
      .count() shouldBe acceptedIds(outN).size.toLong
    acceptedIds(outN) shouldBe Set(1L)
    // the exact sink still serves through its own doors after the
    // refused attempts (no partial second family was created)
    StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text") shouldBe
      family(out, "accept_doc_id_text_e4000000_s1")
    acceptedIds(out) shouldBe Set(1L)
    StreamingAcceptIngest.digests(spark, out, "doc_id", "text")
      .count() shouldBe 1L
  }

  test("reserved columns are refused, including the tick-internal _rn/_might") {
    val out = Files.createTempDirectory("graft-accept-cols").toString
    Seq("fp", "_ib", "_rn", "_might").foreach { c =>
      an[IllegalArgumentException] should be thrownBy
        StreamingAcceptIngest.applyBatch(
          Seq((1L, "a")).toDF("doc_id", "text").withColumn(c, lit(1)),
          0L, "doc_id", "text", out)
    }
  }

  test("near mode refuses duplicate ids per batch (signatures are id-keyed)") {
    val out = Files.createTempDirectory("graft-accept-dupid").toString
    an[IllegalArgumentException] should be thrownBy
      StreamingAcceptIngest.applyBatchNear(
        Seq((1L, "first text"), (1L, "second text"))
          .toDF("doc_id", "text"),
        0L, "doc_id", "text", out, threshold = 0.7)
    // re-keyed, the same rows accept fine
    StreamingAcceptIngest.applyBatchNear(
      Seq((1L, "first text"), (2L, "second text")).toDF("doc_id", "text"),
      0L, "doc_id", "text", out, threshold = 0.7)
    acceptedIds(out) shouldBe Set(1L, 2L)
  }

  test("shared-shingle entry points drop the shingle explode: the tick shingles once") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    def generates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case g: Generate => g }.size
    val docs = Seq((1L, "some document text here"), (2L, "other text"))
      .toDF("doc_id", "text")
    val norm = graft.functions.TextFunctions.normalize(col("text"))
    // from raw docs: shingle explode + band posexplode
    generates(graft.dedup.MinHashLSH.bandedIndex(
      docs, "doc_id", norm)) shouldBe 2
    // from a pinned shingle frame: the band posexplode only — the
    // shingle stage ran once, in the pin
    val sh = graft.dedup.MinHashLSH.shingleRows(docs, "doc_id", norm)
      .localCheckpoint()
    generates(graft.dedup.MinHashLSH.bandedIndexFromShingles(
      sh, "doc_id")) shouldBe 1
    // the signature aggregate adds no explode of its own
    generates(graft.dedup.MinHashLSH.signatureTableFromShingles(
      sh, "doc_id")) shouldBe 0
    // and the two entry points agree with their from-raw forms
    val a = graft.dedup.MinHashLSH.bandedIndexFromShingles(sh, "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val b = graft.dedup.MinHashLSH.bandedIndex(docs, "doc_id", norm)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    a shouldBe b
    // the FUSED form (the near tick's shape): extra aggregates ride
    // the same single explode + single per-id aggregate, and banding
    // from the pinned doc-sized table adds only its own posexplode
    val fused = graft.dedup.MinHashLSH.signatureTableFromShingles(
      sh, "doc_id",
      extra = Seq(min(xxhash64(concat(col("shingle"), lit("#0"))))
        .as("v0")))
    generates(fused) shouldBe 0
    fused.columns should contain("v0")
    val pinned = fused.localCheckpoint()
    generates(graft.dedup.MinHashLSH.bandedIndexFromSignatures(
      pinned, "doc_id")) shouldBe 1
    graft.dedup.MinHashLSH.bandedIndexFromSignatures(pinned, "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet shouldBe b
  }

  test("near mode survives a screen REBUILD with cross-batch re-used ids: signatures stay per accepted instance") {
    val out = Files.createTempDirectory("graft-accept-rebuild").toString
    val tA = "first long document about rivers and streams flowing " +
      "down the mountain valley toward the quiet delta plain " * 3
    val tB = "second unrelated text covering catalyst optimizer rules " +
      "and physical plan selection strategies in great depth " * 3
    StreamingAcceptIngest.applyBatchNear(
      Seq((7L, tA)).toDF("doc_id", "text"), 0L, "doc_id", "text", out,
      threshold = 0.7)
    // the SAME id under a different text in a later batch — the
    // documented-harmless cross-batch reuse (each accepted instance
    // keeps its own (id,_ib)-keyed signature)
    StreamingAcceptIngest.applyBatchNear(
      Seq((7L, tB)).toDF("doc_id", "text"), 1L, "doc_id", "text", out,
      threshold = 0.7)
    StreamingAcceptIngest.accepted(spark, out).count() shouldBe 2L
    // force a full rebuild: drop the screen artifact — the store
    // heals from the corpus on the next serve, handing BOTH id-7
    // instances to one build (the grouped-by-id-alone bug merged
    // their shingles into a signature matching neither text)
    val art = java.nio.file.Paths.get(
      StreamingAcceptIngest.screenArtifactDir(out, "doc_id", "text"))
    val s = java.nio.file.Files.walk(art)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.delete(f))
    finally s.close()
    // near-dups of EACH instance must still be rejected post-rebuild
    StreamingAcceptIngest.applyBatchNear(
      Seq((20L, tA.replace("quiet", "silent")),
        (21L, tB.replace("depth", "detail")),
        (22L, "a genuinely new passage describing bloom filter " +
          "slicing and broadcast probe expressions at length " * 3))
        .toDF("doc_id", "text"),
      2L, "doc_id", "text", out, threshold = 0.7)
    StreamingAcceptIngest.accepted(spark, out)
      .where(col("_ib") === 2L)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(22L)
  }

  test("the accepted corpus is a first-class corpus: the co-occurrence store maintains itself over it") {
    val out = Files.createTempDirectory("graft-accept-cooc").toString
    // docs whose (doc_id % 3) plays the "group": land docs, then ask
    // the co-occurrence store for (group=fp-prefix, item=doc_id)…
    // simpler: group = _ib, item = doc_id — two docs accepted in the
    // same batch co-occur
    StreamingAcceptIngest.applyBatch(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text"),
      0L, "doc_id", "text", out)
    StreamingAcceptIngest.applyBatch(
      Seq((4L, "a"), (5L, "d"), (6L, "e")).toDF("doc_id", "text"),
      1L, "doc_id", "text", out) // (4,"a") is a dup — dropped
    val corpus = StreamingAcceptIngest.acceptedCorpusPath(out)
    val edges = graft.operators.CoOccurStore
      .weightedEdgesAt(spark, corpus, "_ib", "doc_id", 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // batch 0 accepted {1,2,3}; batch 1 accepted {5,6}
    edges shouldBe Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (5L, 6L, 1L))
  }
}
