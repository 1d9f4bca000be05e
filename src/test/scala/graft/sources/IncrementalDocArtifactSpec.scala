package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.IncrementalDocArtifact.{AdvanceCtx, MergePiece, Piece}

/** Engine-level crash-atomicity of compaction: the folded-gen list
  * commits inside the base snapshot with the pointer flip, so an
  * absorbed delta directory whose physical deletion never ran (crash
  * between commit and delete) is DEAD BY MARKER — reads never
  * double-count it, and the next compaction garbage-collects it.
  */
class IncrementalDocArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def handle(corpus: String) =
    IncrementalDocArtifact(corpus, "spec",
      Seq(Piece("rows", (docs, _) => docs)), compactEvery = 0)


  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  test("an absorbed gen that survives compaction (simulated crashed delete) is dead by marker") {
    val sf = Files.createTempDirectory("graft-engine-crash").toString
    val corpus = s"$sf/documents.parquet"
    Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    handle(corpus).serve(spark, "rows").count() shouldBe 2

    Seq((3L, "three")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    handle(corpus).serve(spark, "rows").count() shouldBe 3

    val deltaDir = Paths.get(ArtifactStore.root,
      ArtifactStore.pathKey(corpus) + "_spec", "rows", "delta")
    val gen = {
      val s = Files.list(deltaDir)
      try s.filter(_.getFileName.toString.startsWith("_gen="))
        .toArray.toSeq.map(_.asInstanceOf[Path]).head
      finally s.close()
    }
    handle(corpus).compact(spark)
    // GRACE WINDOW (r11): the absorbed directory survives the fold
    // that absorbed it — dead by marker for every new listing, but
    // still scannable by an in-flight reader whose plan resolved the
    // pre-flip base (folds are detached, so such readers are normal)
    Files.exists(gen) shouldBe true

    // marker kills it: no double count, rows identical
    val served = handle(corpus).serve(spark, "rows")
      .as[(Long, String)].collect().sorted
    served shouldBe Array((1L, "one"), (2L, "two"), (3L, "three"))

    // the NEXT compaction's sweep garbage-collects the dead directory
    handle(corpus).compact(spark)
    Files.exists(gen) shouldBe false
    handle(corpus).serve(spark, "rows").count() shouldBe 3
    deleteTree(Paths.get(sf))
  }

  test("an uncommitted orphan generation is invisible to reads and swept by compact()") {
    // the crash+revert hole on the maintenance path: an advance
    // crashed before its ledger commit (orphan delta gen), the corpus
    // append was reverted — a direct offline compact() must sweep the
    // orphan, never fold its rows into the base as live
    val sf = Files.createTempDirectory("graft-engine-orphan").toString
    val corpus = s"$sf/documents.parquet"
    Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    handle(corpus).serve(spark, "rows").count() shouldBe 2

    // fabricate the crash debris: a delta generation the ledger never
    // committed (no #gen entry, no _gens list)
    val deltaRoot = Paths.get(ArtifactStore.root,
      ArtifactStore.pathKey(corpus) + "_spec", "rows", "delta")
    Seq((99L, "poison")).toDF("doc_id", "text")
      .withColumn("_gen", lit("deadbeefcafe0123"))
      .write.partitionBy("_gen").mode("append").parquet(deltaRoot.toString)
    Files.exists(deltaRoot.resolve("_gen=deadbeefcafe0123")) shouldBe true

    // committed-only reads: the orphan is invisible even BEFORE any
    // sweep runs
    handle(corpus).serve(spark, "rows").count() shouldBe 2

    // the offline maintenance path sweeps it instead of folding it
    handle(corpus).compact(spark)
    Files.exists(deltaRoot.resolve("_gen=deadbeefcafe0123")) shouldBe false
    handle(corpus).serve(spark, "rows")
      .as[(Long, String)].collect().sorted shouldBe
      Array((1L, "one"), (2L, "two"))
    deleteTree(Paths.get(sf))
  }

  test("auto-compaction is detached: the tick returns, awaitMaintenance folds") {
    val sf = Files.createTempDirectory("graft-engine-detached").toString
    val corpus = s"$sf/documents.parquet"
    def h = IncrementalDocArtifact(corpus, "spec",
      Seq(Piece("rows", (docs, _) => docs)), compactEvery = 3)
    Seq((1L, "one")).toDF("doc_id", "text").coalesce(1).write.parquet(corpus)
    h.serve(spark, "rows").count() shouldBe 1
    for (i <- 2 to 4) {
      Seq((i.toLong, s"doc$i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(corpus)
      // the serve (tick) returns without waiting on any fold; values
      // are correct throughout
      h.serve(spark, "rows").count() shouldBe i
    }
    // third append crossed compactEvery=3 — the fold was scheduled
    // detached; joining it must leave zero live generations and the
    // same served rows
    h.awaitMaintenance()
    h.deltaGens() shouldBe empty
    h.serve(spark, "rows").as[(Long, String)].collect().sorted shouldBe
      Array((1L, "one"), (2L, "doc2"), (3L, "doc3"), (4L, "doc4"))
    deleteTree(Paths.get(sf))
  }

  test("a fold staged against a state a rebuild replaced never publishes") {
    // the commit-abort guard, exercised deterministically: a fold
    // blocks mid-staging (latched fold fn), a corpus REWRITE rebuilds
    // everything underneath it, then the fold resumes — whatever it
    // staged describes a dead state and must never reach the base
    // pointers (it either fails on the swept delta dirs or aborts on
    // the moved base markers); the rebuilt corpus keeps serving.
    val sf = Files.createTempDirectory("graft-engine-abort").toString
    val corpus = s"$sf/documents.parquet"
    val entered = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def h = IncrementalDocArtifact(corpus, "spec",
      Seq(Piece("rows", (docs, _) => docs,
        fold = Some { df =>
          entered.countDown()
          gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
          df
        })), compactEvery = 0)
    Seq((1L, "one")).toDF("doc_id", "text").coalesce(1).write.parquet(corpus)
    h.serve(spark, "rows").count() shouldBe 1
    Seq((2L, "two")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    h.serve(spark, "rows").count() shouldBe 2 // one live gen to fold
    // capture the pass verdict: an abort must report false (it folded
    // nothing — counting it completed or clearing a sticky failure
    // would make awaitMaintenance lie about an unfolded store)
    val verdict = new java.util.concurrent.atomic.AtomicReference[Option[Boolean]](None)
    val folder = new Thread(() =>
      try verdict.set(Some(h.compactReturning(spark)))
      catch { case _: Throwable => verdict.set(None) })
    folder.start()
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "fold never started staging")
    // rewrite + rebuild while the fold is mid-staging
    Seq((10L, "fresh")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(corpus)
    h.serve(spark, "rows").as[(Long, String)].collect().toSeq shouldBe
      Seq((10L, "fresh"))
    gate.countDown()
    folder.join(60000)
    // the stale fold must not have clobbered the rebuilt state
    h.serve(spark, "rows").as[(Long, String)].collect().toSeq shouldBe
      Seq((10L, "fresh"))
    // if the fold reached its commit window (rather than failing on
    // the swept deltas), it must have reported the abort
    verdict.get().foreach(ok => assert(!ok,
      "an aborted fold must return false"))
    deleteTree(Paths.get(sf))
  }

  test("awaitMaintenance rethrows a sticky detached-fold failure; a later success clears it") {
    // the determinism hook must not report success while the store
    // silently stays unfolded: a detached fold that fails records the
    // failure per root, awaitMaintenance rethrows it (sticky), and a
    // subsequent SUCCESSFUL maintenance — here an explicit compact
    // after the cause is fixed — clears the record
    val sf = Files.createTempDirectory("graft-engine-fail").toString
    val corpus = s"$sf/documents.parquet"
    @volatile var boom = true
    def h = IncrementalDocArtifact(corpus, "spec",
      Seq(Piece("rows", (docs, _) => docs,
        fold = Some { df =>
          if (boom) throw new RuntimeException("disk full (simulated)")
          df
        })), compactEvery = 2)
    Seq((1L, "one")).toDF("doc_id", "text").coalesce(1).write.parquet(corpus)
    h.serve(spark, "rows").count() shouldBe 1
    for (i <- 2 to 3) {
      Seq((i.toLong, s"doc$i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(corpus)
      h.serve(spark, "rows").count() shouldBe i // ticks stay log-only
    }
    // the crossing scheduled a detached fold that failed; the hook
    // surfaces it — and again on a second call (sticky, the store is
    // still unfolded)
    val e = intercept[IllegalStateException](h.awaitMaintenance())
    e.getCause.getMessage should include("disk full")
    intercept[IllegalStateException](h.awaitMaintenance())
    // state stayed correct throughout the failures
    h.serve(spark, "rows").count() shouldBe 3
    // fix the cause, fold by hand: the record clears
    boom = false
    h.compact(spark)
    h.awaitMaintenance() // no throw
    h.deltaGens() shouldBe empty
    h.serve(spark, "rows").count() shouldBe 3
    deleteTree(Paths.get(sf))
  }

  test("an up-to-date lazy merge serve never waits on a running fold") {
    // the serve-concurrency contract on the merge path: a fold holds
    // the maintenance lock across its long staging phase, but a serve
    // whose merge piece has NOTHING pending checks that under the
    // mutation lock only — it must complete while the fold is still
    // gated mid-staging
    val sf = Files.createTempDirectory("graft-engine-nowait").toString
    val corpus = s"$sf/documents.parquet"
    val entered = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def h = IncrementalDocArtifact(corpus, "spec",
      Seq(Piece("rows", (docs, _) => docs,
        fold = Some { df =>
          entered.countDown()
          gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
          df
        })),
      Seq(IncrementalDocArtifact.MergePiece("latest", Seq("doc_id"),
        buildFull = (docs, _) => docs.select("doc_id", "text"),
        advance = ctx => ctx.newDocs.select("doc_id", "text"))),
      compactEvery = 0, lazyMerges = true)
    Seq((1L, "one")).toDF("doc_id", "text").coalesce(1).write.parquet(corpus)
    h.serve(spark, "latest").count() shouldBe 1
    Seq((2L, "two")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    // this serve catches the merge piece up — nothing pending after
    h.serve(spark, "latest").count() shouldBe 2
    val folder = new Thread(() =>
      try h.compact(spark) catch { case _: Throwable => () })
    folder.start()
    assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "fold never started staging")
    // fold is mid-staging (maintenance lock held); an up-to-date merge
    // serve on another thread must complete anyway
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var servedRows = -1L
    val reader = new Thread(() => {
      servedRows = h.serve(spark, "latest").count()
      done.countDown()
    })
    reader.start()
    assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "up-to-date merge serve blocked on the running fold")
    servedRows shouldBe 2
    gate.countDown()
    folder.join(60000)
    reader.join(10000)
    h.serve(spark, "latest").count() shouldBe 2
    deleteTree(Paths.get(sf))
  }

  test("a fresh gen after compaction is live even with the marker present") {
    val sf = Files.createTempDirectory("graft-engine-fresh").toString
    val corpus = s"$sf/documents.parquet"
    Seq((1L, "one")).toDF("doc_id", "text").coalesce(1).write.parquet(corpus)
    handle(corpus).serve(spark, "rows").count() shouldBe 1
    Seq((2L, "two")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    handle(corpus).compact(spark) // folds gen A; marker lists it
    Seq((3L, "three")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    // gen B (new, unlisted) must serve alongside the folded base
    handle(corpus).serve(spark, "rows")
      .as[(Long, String)].collect().sorted shouldBe
      Array((1L, "one"), (2L, "two"), (3L, "three"))
    deleteTree(Paths.get(sf))
  }

  test("maintenance plane is observable: a 4-store fold burst is counted, timed, and drains") {
    import IncrementalDocArtifact.Maintenance
    val before = Maintenance.snapshot
    def autoHandle(corpus: String) = IncrementalDocArtifact(corpus, "mobs",
      Seq(Piece("rows", (docs, _) => docs)), compactEvery = 4)
    val corpora = (0 until 4).map { i =>
      val sf = Files.createTempDirectory(s"graft-maint-obs-$i").toString
      val corpus = s"$sf/documents.parquet"
      Seq((0L, s"base-$i")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(corpus)
      autoHandle(corpus).serve(spark, "rows").count() shouldBe 1
      corpus
    }
    // staggered appends: each round appends one file to EVERY store,
    // so on the 4th round all four stores cross compactEvery together
    // — the burst that builds a backlog behind the (default 2-thread)
    // pool, which the metrics must make visible and which must drain
    (1 to 4).foreach { round =>
      corpora.zipWithIndex.foreach { case (corpus, i) =>
        Seq((round.toLong * 10 + i, s"r$round-$i")).toDF("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(corpus)
        autoHandle(corpus).serve(spark, "rows").count() shouldBe (1 + round)
      }
    }
    corpora.foreach(c => autoHandle(c).awaitMaintenance())
    val after = Maintenance.snapshot
    // all four folds completed (counters are global — other suites may
    // add to them, never subtract), none failed beyond the baseline of
    // deliberately-failing tests elsewhere in this suite
    (after("folds_completed") - before("folds_completed")) should be >= 4L
    after("queue_peak") should be >= 1L
    // drained for OUR stores: every delta generation folded away, and
    // the folded serve still exact
    corpora.zipWithIndex.foreach { case (corpus, i) =>
      autoHandle(corpus).deltaGens() shouldBe empty
      autoHandle(corpus).serve(spark, "rows").count() shouldBe 5
      deleteTree(Paths.get(corpus).getParent)
    }
    // durations are recorded (a Spark fold takes measurable time)
    after("fold_total_ms") should be >= before("fold_total_ms")
    after("fold_max_ms") should be >= 1L
  }

  test("serve-path reconcile cache: warm serves read no ledger/listings; every mutation invalidates") {
    val sf = Files.createTempDirectory("graft-engine-servecache").toString
    val corpus = s"$sf/documents.parquet"
    Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    val rootKey = Paths.get(ArtifactStore.root,
      ArtifactStore.pathKey(corpus) + "_spec").toString

    handle(corpus).serve(spark, "rows").count() shouldBe 2 // cold: builds + stamps
    val cold = IncrementalDocArtifact.fsReadsOf(rootKey)
    cold should be > 0L

    // warm serves: the stamp short-circuits the ledger parse, the
    // orphan-sweep listings and the base-marker listings — ZERO
    // counted filesystem reads across three serves
    (1 to 3).foreach(_ => handle(corpus).serve(spark, "rows").count() shouldBe 2)
    IncrementalDocArtifact.fsReadsOf(rootKey) shouldBe cold

    // corpus append: the walk the fast path keeps is exactly what
    // catches it — served fresh, immediately
    Seq((3L, "three")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    handle(corpus).serve(spark, "rows")
      .as[(Long, String)].collect().sorted shouldBe
      Array((1L, "one"), (2L, "two"), (3L, "three"))
    val afterAppend = IncrementalDocArtifact.fsReadsOf(rootKey)
    afterAppend should be > cold

    // warm again after re-stamping
    handle(corpus).serve(spark, "rows").count() shouldBe 3
    handle(corpus).serve(spark, "rows").count() shouldBe 3
    IncrementalDocArtifact.fsReadsOf(rootKey) shouldBe afterAppend

    // a fold behind the serve's back bumps the mutation counter
    // BEFORE its pointer flips — the next serve must take the fresh
    // path (stale stamp would pair the folded base with dead gen
    // listings = double count)
    handle(corpus).compact(spark)
    handle(corpus).serve(spark, "rows")
      .as[(Long, String)].collect().sorted shouldBe
      Array((1L, "one"), (2L, "two"), (3L, "three"))
    IncrementalDocArtifact.fsReadsOf(rootKey) should be > afterAppend
    deleteTree(Paths.get(sf))
  }

  test("serve-path reconcile cache covers lazy merge serves with nothing pending") {
    val sf = Files.createTempDirectory("graft-engine-lazycache").toString
    val corpus = s"$sf/documents.parquet"
    Seq((1L, "one"), (7L, "seven")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    def h = IncrementalDocArtifact(corpus, "lmc",
      Seq(Piece("rows", (docs, _) => docs)),
      Seq(MergePiece("gmax", Seq("grp"),
        buildFull = (docs, _) => docs
          .select(pmod(col("doc_id"), lit(2L)).as("grp"), col("doc_id"))
          .groupBy("grp").agg(max("doc_id").as("mx")),
        advance = ctx => {
          val fresh = ctx.newDocs
            .select(pmod(col("doc_id"), lit(2L)).as("grp"), col("doc_id"))
            .groupBy("grp").agg(max("doc_id").as("mx"))
          fresh.join(ctx.stored("gmax").withColumnRenamed("mx", "mx0"),
              Seq("grp"), "left")
            .select(col("grp"), greatest(col("mx"),
              coalesce(col("mx0"), lit(Long.MinValue))).as("mx"))
        })),
      compactEvery = 0, lazyMerges = true)
    val rootKey = Paths.get(ArtifactStore.root,
      ArtifactStore.pathKey(corpus) + "_lmc").toString

    // cold: full build + stamp (lazyPending=false — fresh coverage)
    h.serve(spark, "gmax").as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 7L)
    val cold = IncrementalDocArtifact.fsReadsOf(rootKey)
    cold should be > 0L

    // warm lazy-merge serves: the stamp proves no lagging coverage, so
    // the per-serve pending check (ledger parse + sweep listings) is
    // skipped too — ZERO counted reads across three serves
    (1 to 3).foreach(_ =>
      h.serve(spark, "gmax").as[(Long, Long)].collect().toMap shouldBe
        Map(1L -> 7L))
    IncrementalDocArtifact.fsReadsOf(rootKey) shouldBe cold

    // append: the advance leaves the merge behind (lazy), the serve
    // catches it up and reflects the new group — correctness first.
    // The catch-up COMMIT drops the stamp (every mutation does), so
    // the next serve re-stamps once; steady state resumes after it
    Seq((4L, "four")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    (1 to 2).foreach(_ => // catch-up serve, then the re-stamping serve
      h.serve(spark, "gmax").as[(Long, Long)].collect().toMap shouldBe
        Map(1L -> 7L, 0L -> 4L))
    val afterAppend = IncrementalDocArtifact.fsReadsOf(rootKey)
    afterAppend should be > cold

    // steady state again: zero reads per serve
    (1 to 2).foreach(_ =>
      h.serve(spark, "gmax").as[(Long, Long)].collect().toMap shouldBe
        Map(1L -> 7L, 0L -> 4L))
    IncrementalDocArtifact.fsReadsOf(rootKey) shouldBe afterAppend
    deleteTree(Paths.get(sf))
  }

  test("ctx scratch is released when the advance ends, also when a piece throws; a memo builds once per advance") {
    val sf = Files.createTempDirectory("graft-engine-scratch").toString
    val corpus = s"$sf/documents.parquet"
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val current = new java.util.concurrent.atomic.AtomicReference(Set.empty[Int])
    val liveInAdvance = new java.util.concurrent.atomic.AtomicBoolean()
    val failB = new java.util.concurrent.atomic.AtomicBoolean()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def shared(docs: DataFrame, ctx: AdvanceCtx): DataFrame =
      ctx.memo("shared") {
        builds.incrementAndGet()
        val p = ctx.pin(docs.select("doc_id"))
        current.set(p.queryExecution.analyzed.collect {
          case l: LogicalRDD => l.rdd.id
        }.toSet)
        current.get.foreach(pinned.add)
        p
      }
    // both pieces read the memo; the second checks the pin is still
    // live mid-advance, then throws on demand
    def h = IncrementalDocArtifact(corpus, "scratch",
      Seq(Piece("a", (docs, ctx) => shared(docs, ctx)),
        Piece("b", (docs, ctx) => {
          val p = shared(docs, ctx)
          liveInAdvance.set(current.get.forall(persisted))
          if (failB.get) throw new IllegalStateException("piece b failed")
          p
        })), compactEvery = 0)

    Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    h.serve(spark, "b").count() shouldBe 2 // rebuild
    builds.get shouldBe 1
    pinned.size should be > 0
    liveInAdvance.get shouldBe true
    pinned.asScala.filter(persisted) shouldBe empty

    Seq((3L, "three")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    liveInAdvance.set(false)
    h.serve(spark, "b").count() shouldBe 3 // append advance
    builds.get shouldBe 2
    liveInAdvance.get shouldBe true
    pinned.asScala.filter(persisted) shouldBe empty

    Seq((4L, "four")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    failB.set(true)
    liveInAdvance.set(false)
    val e = intercept[IllegalStateException](h.serve(spark, "b").count())
    e.getMessage shouldBe "piece b failed"
    builds.get shouldBe 3
    liveInAdvance.get shouldBe true
    pinned.asScala.filter(persisted) shouldBe empty

    // the failed advance committed nothing: the next one replays it
    failB.set(false)
    h.serve(spark, "b").count() shouldBe 4
    builds.get shouldBe 4
    pinned.asScala.filter(persisted) shouldBe empty
    deleteTree(Paths.get(sf))
  }
}
