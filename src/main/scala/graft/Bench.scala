package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{StatefulLww, StreamingLshDedup, StreamingPipeline}

/** Driver-run benchmark: one JSON line of per-query wall times over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1).
  *
  * Runs every registered query EXCEPT the deliberately quadratic
  * correctness baselines (`v3_near_dup_pairs` exact all-pairs cosine,
  * `d4_jaccard_pairs` full Jaccard refinement, `v10_semantic_dedup`
  * label-cell semantic dedup whose pair volume grows n²/|labels|) —
  * each exists as the oracle its scalable counterpart (v5 LSH ANN,
  * d3 LSH candidates, v12 trained-cell semantic dedup) is judged
  * against, and at bench scale their O(n²) cost is the point, not a
  * regression. `SPARK_GRAFT_BENCH_ALL=1` includes them anyway.
  *
  * A short warm-up action runs first so the first measured query
  * doesn't absorb JVM/codegen/parquet-footer cold-start.
  */
object Bench {

  private val quadraticBaselines =
    Set("v3_near_dup_pairs", "d4_jaccard_pairs", "v10_semantic_dedup")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val all = sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: JVM + parquet reader + codegen paths, untimed
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    } catch { case _: Throwable => }

    // SPARK_GRAFT_BENCH_ONLY=q1,d3 restricts to a subset (local
    // iteration); entries match a full query name or a `_`-prefix.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => all || !quadraticBaselines.contains(n))
      .filter(n => only.forall(_.exists(p => n == p || n.startsWith(p + "_"))))
    // Two passes per query, min of the SUCCESSFUL ones reported: one
    // transient host-steal burst (observed inflating pair-heavy
    // queries 10-40x on shared hardware) then contaminates at most
    // one pass, and a fast-failing pass can never mask a slow success.
    // Pass 2 re-plans from scratch — only JIT and the OS page cache
    // are warm, which is the steady state a long-running cluster job
    // sees anyway. All passes failed => sentinel -1.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val results = names.map { name =>
      val times = (1 to math.max(passes, 1)).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    // Streaming throughput block: micro-batch rows/s for the two
    // stateful streaming operators (spec-only otherwise — this makes
    // throughput regressions visible in the bench artifact). Skipped
    // under a BENCH_ONLY filter unless it names "streaming".
    val streaming =
      if (only.forall(_.exists(p => p == "streaming")))
        Some(streamingBench(spark, sfDir))
      else None

    // 1 ms precision: sub-ms digits are noise and the full line must
    // stay small enough for log captures (9-decimal doubles tripled it).
    // Locale.ROOT pins the decimal POINT: the f-interpolator follows
    // the JVM default locale, and a comma-decimal locale would emit
    // JSON the driver can't parse.
    def ms3(v: Double): String = if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // "sf" numeric (parsed from the dir name) so the JSON matches the
    // driver contract's `"sf":N`; the raw dir rides along separately.
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).stripSuffix(".")).getOrElse("0")
    val streamJson = streaming.map(s => s""","streaming":$s""").getOrElse("")
    println(s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs$streamJson,"sf":$sfNum,"sf_dir":"$sfDir"}""")
    // The driver captures a fixed-size TAIL of stdout; the ~3.6 kB
    // per-query line above once clipped the head and round 3 shipped
    // with no parsed bench. LAST line is therefore a compact summary
    // that always survives tail capture on its own (the streaming
    // block is ~100 bytes, small enough to ride along).
    println(s"""{"metric":"total","value":${ms3(total)},"unit":"sec","sf":$sfNum,"queries_run":${results.size}$streamJson}""")
    spark.stop()
  }

  /** Rows/s over N MemoryStream micro-batches for StreamingLshDedup
    * (persisted band index, probe + append per batch) and StatefulLww
    * (flatMapGroupsWithState winners into a noop sink). Wall time
    * includes ALL per-batch work — index IO, state store, scheduling —
    * the number a capacity plan actually needs; per-batch p50/p95 wall
    * (seconds) ride along because rows/s alone hides tail latency.
    * Returns a JSON object string; -1 values mean the harness itself
    * failed. Failures catch NonFatal only (OOM/interrupt propagate)
    * and the started query is always stopped in a finally.
    */
  private def streamingBench(spark: SparkSession, sfDir: String): String = {
    import scala.util.control.NonFatal
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def rate(rows: Long, sec: Double): Long =
      if (sec > 0) (rows / sec).toLong else -1L
    def pct(sorted: Seq[Double], q: Double): Double =
      if (sorted.isEmpty) -1.0
      else sorted(math.min(sorted.size - 1, (q * sorted.size).toInt))
    def ms3(v: Double): String = if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // (rows/s, per-batch walls asc) for a drive loop of micro-batches
    def timed(batchRows: Seq[Long])(push: Int => Unit): (Long, Seq[Double]) = {
      val walls = batchRows.indices.map { b =>
        val t0 = System.nanoTime()
        push(b)
        (System.nanoTime() - t0) / 1e9
      }
      (rate(batchRows.sum, walls.sum), walls.sorted)
    }

    val (lww, lwwWalls) = {
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        val base = Files.createTempDirectory("bench_lww")
        val mem = MemoryStream[StatefulLww.KeyedVersioned]
        q = StatefulLww.latestUpdates(mem.toDS())
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .start()
        val batches = 5; val rowsPer = 20000
        timed(Seq.fill(batches)(rowsPer.toLong)) { b =>
          mem.addData((0 until rowsPer).map(i =>
            StatefulLww.KeyedVersioned(s"k${i % 5000}",
              b.toLong * rowsPer + i, "payload")))
          q.processAllAvailable()
        }
      } catch { case NonFatal(_) => (-1L, Seq.empty[Double]) }
      finally if (q != null) q.stop()
    }

    val (lsh, lshWalls) = {
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        val base = Files.createTempDirectory("bench_lsh")
        // Fixed 40k-doc workload in 4 micro-batches of 10k: batches
        // sized like a real ingest tick, so the rate measures steady
        // per-doc cost instead of Spark's ~1-2 s per-batch scheduling
        // floor (5k docs in tiny batches reports the floor, not the
        // operator). Corpora smaller than the target are replicated
        // with offset ids + perturbed text; larger ones are capped so
        // the driver-side collect stays bounded on any SF_DIR.
        val target = 40000
        val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("long"), col("text"))
          .limit(target)
          .as[(Long, String)].collect()
        val reps = math.max(1, target / math.max(1, corpus.length))
        val docs = (0 until reps).flatMap(r => corpus.map { case (id, t) =>
          (id + r.toLong * 100000000L, if (r == 0) t else s"$t r$r") })
        val mem = MemoryStream[(Long, String)]
        q = StreamingLshDedup.start(spark,
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
          base.resolve("index").toString,
          base.resolve("cand").toString, base.resolve("ckpt").toString,
          Trigger.ProcessingTime("10 milliseconds"))
        val slices = docs.grouped(math.max(1, docs.length / 4)).toSeq
        timed(slices.map(_.length.toLong)) { b =>
          mem.addData(slices(b)); q.processAllAvailable()
        }
      } catch { case NonFatal(_) => (-1L, Seq.empty[Double]) }
      finally if (q != null) q.stop()
    }

    // the composed ingest pipeline (funnel + observed ledger +
    // within-watermark dedup + stats) — one plan, one state store
    val (ingest, ingestWalls) = {
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        val base = Files.createTempDirectory("bench_ingest")
        val target = 40000
        val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("long"), col("text"))
          .limit(target)
          .as[(Long, String)].collect()
        val reps = math.max(1, target / math.max(1, corpus.length))
        val docs = (0 until reps).flatMap(r => corpus.map { case (id, t) =>
          (id + r.toLong * 100000000L, if (r == 0) t else s"$t r$r") })
        val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        val mem = MemoryStream[(Long, String)]
        q = StreamingPipeline(
          mem.toDF().toDF("doc_id", "text")
            .withColumn("ts", org.apache.spark.sql.functions
              .timestamp_millis(col("doc_id") % 100000000L * 1000L + t0)),
          "doc_id", "ts", "text")
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .start()
        val slices = docs.grouped(math.max(1, docs.length / 4)).toSeq
        timed(slices.map(_.length.toLong)) { b =>
          mem.addData(slices(b)); q.processAllAvailable()
        }
      } catch { case NonFatal(_) => (-1L, Seq.empty[Double]) }
      finally if (q != null) q.stop()
    }

    // streaming ANN-index growth: micro-batches encoded with FIXED
    // stored-artifact codebooks into delta code partitions (per-batch
    // cost O(batch) by construction). Training runs once, outside the
    // timed loop — it is the offline artifact build, not ingest cost.
    val (vec, vecWalls) = {
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        val base = Files.createTempDirectory("bench_vec")
        val target = 40000
        val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").cast("long"), col("embedding"))
          .limit(target)
          .as[(Long, Array[Float])].collect()
        val reps = math.max(1, target / math.max(1, corpus.length))
        val vecs = (0 until reps).flatMap(r => corpus.map { case (id, e) =>
          (id + r.toLong * 100000000L, e) })
        val dim = corpus.head._2.length
        val (m, subDim) = (4, dim / 4)
        val seed = spark.createDataFrame(corpus.take(4096))
          .toDF("vec_id", "embedding")
        val coarse = graft.similarity.IvfKnn.collectCodebook(
          graft.similarity.IvfKnn.trainCodebook(seed, "vec_id", "embedding",
            k = 64, iters = 1), "cell")
        val books = graft.similarity.ProductQuantizer.train(seed,
          "vec_id", "embedding", m, subDim, k = 256, iters = 1)
        val mem = MemoryStream[(Long, Array[Float])]
        q = graft.streaming.StreamingVectorIngest.start(spark,
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          base.resolve("index").toString, base.resolve("ckpt").toString,
          Trigger.ProcessingTime("10 milliseconds"),
          coarse, books, subDim)
        val slices = vecs.grouped(math.max(1, vecs.length / 4)).toSeq
        timed(slices.map(_.length.toLong)) { b =>
          mem.addData(slices(b)); q.processAllAvailable()
        }
      } catch { case NonFatal(_) => (-1L, Seq.empty[Double]) }
      finally if (q != null) q.stop()
    }

    // the self-referential accept loop: every batch exact-deduped
    // against everything previously ACCEPTED (stored digest screen +
    // bloom prefilter), survivors landed as corpus generations — the
    // rate is per OFFERED doc, with 25% cross-batch duplicates so the
    // screen actually drops rows (an all-unique stream never exercises
    // the residue join)
    val (accept, acceptWalls) = {
      try {
        val base = Files.createTempDirectory("bench_accept")
        val out = base.resolve("loop").toString
        val target = 30000
        val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("long"), col("text"))
          .limit(target)
          .as[(Long, String)].collect()
        val reps = math.max(1, target / math.max(1, corpus.length))
        val uniq = (0 until reps).flatMap(r => corpus.map { case (id, t) =>
          (id + r.toLong * 100000000L, if (r == 0) t else s"$t r$r") })
        // 25% re-offers of already-seen text under fresh ids
        val docs = uniq ++ uniq.take(uniq.length / 4).map { case (id, t) =>
          (id + 900000000L, t) }
        val slices = docs.grouped(math.max(1, docs.length / 4)).toSeq
        val r = timed(slices.map(_.length.toLong)) { b =>
          graft.streaming.StreamingAcceptIngest.applyBatch(
            spark.createDataFrame(slices(b)).toDF("doc_id", "text"),
            b.toLong, "doc_id", "text", out)
        }
        try {
          // the loop's own address for its screen artifact — never
          // reconstruct the store key by hand (a key-format drift
          // would silently miss and per-run artifacts would pile up)
          val art = java.nio.file.Paths.get(
            graft.streaming.StreamingAcceptIngest
              .screenArtifactDir(out, "doc_id", "text"))
          Seq(art, base).foreach(graft.sources.ParquetTableIO.deleteTree)
        } catch { case NonFatal(e) =>
          System.err.println(s"bench accept cleanup: $e") }
        r
      } catch { case NonFatal(_) => (-1L, Seq.empty[Double]) }
    }

    // ingest-tick latency ACROSS FOLD BOUNDARIES: a two-piece screen
    // store advanced 12 ticks with compactEvery = 4, so three
    // auto-folds land inside the loop. The r11 detached-compaction
    // contract is that no tick pays a fold inline — p95 staying near
    // p50 across the boundaries is what this tracks round-over-round
    // (§9.29 has the full 24-tick probe).
    val tickWalls: Seq[Double] = {
      try {
        import graft.sources.IncrementalDocArtifact
        import graft.sources.IncrementalDocArtifact.Piece
        val base = Files.createTempDirectory("bench_tick")
        val corpus = base.resolve("docs.parquet").toString
        def h = IncrementalDocArtifact(corpus, "bt1", Seq(
          Piece("digest", (docs, _) => docs.select(col("doc_id"),
            org.apache.spark.sql.functions.md5(col("text")).as("dg"))),
          Piece("toks", (docs, _) => docs
            .select(org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.split(col("text"), " ")).as("tok"))
            .groupBy("tok").agg(org.apache.spark.sql.functions
              .count(org.apache.spark.sql.functions.lit(1)).as("n")),
            fold = Some(_.groupBy("tok").agg(
              org.apache.spark.sql.functions.sum("n").as("n"))))),
          compactEvery = 4)
        val B = 8000
        val walls = (0 until 12).map { b =>
          spark.range(b.toLong * B, (b + 1).toLong * B)
            .select(col("id").as("doc_id"),
              org.apache.spark.sql.functions.concat_ws(" ",
                (0 until 20).map(i => org.apache.spark.sql.functions.concat(
                  org.apache.spark.sql.functions.lit("w"),
                  org.apache.spark.sql.functions.pmod(
                    org.apache.spark.sql.functions.hash(col("id") + i * 7919),
                    org.apache.spark.sql.functions.lit(4000)))): _*).as("text"))
            .coalesce(2).write.mode("append").parquet(corpus)
          val t0 = System.nanoTime()
          h.serve(spark, "digest").count()
          (System.nanoTime() - t0) / 1e9
        }
        // quiesce + tidy must NOT discard the measured walls: a sticky
        // detached-fold failure rethrown by awaitMaintenance is a
        // maintenance signal (visible via maint_failed), not a loss of
        // 12 successfully-measured ticks
        try h.awaitMaintenance()
        catch { case NonFatal(e) =>
          System.err.println(s"bench tick quiesce: $e") }
        try {
          // tidy: the per-run temp corpus keys a unique artifact dir
          // under the shared index root — drop it so bench runs don't
          // accumulate dead stores there
          val art = java.nio.file.Paths.get(graft.sources.ArtifactStore.root,
            graft.sources.ArtifactStore.pathKey(corpus) + "_bt1")
          Seq(art, base).foreach(graft.sources.ParquetTableIO.deleteTree)
        } catch { case NonFatal(e) =>
          System.err.println(s"bench tick cleanup: $e") }
        walls.sorted
      } catch { case NonFatal(_) => Seq.empty[Double] }
    }

    s"""{"lww_rows_per_s":$lww,"lww_batch_p50_s":${ms3(pct(lwwWalls, 0.5))},"lww_batch_p95_s":${ms3(pct(lwwWalls, 0.95))},""" +
      s""""lsh_docs_per_s":$lsh,"lsh_batch_p50_s":${ms3(pct(lshWalls, 0.5))},"lsh_batch_p95_s":${ms3(pct(lshWalls, 0.95))},""" +
      s""""ingest_docs_per_s":$ingest,"ingest_batch_p50_s":${ms3(pct(ingestWalls, 0.5))},"ingest_batch_p95_s":${ms3(pct(ingestWalls, 0.95))},""" +
      s""""vec_ingest_per_s":$vec,"vec_batch_p50_s":${ms3(pct(vecWalls, 0.5))},"vec_batch_p95_s":${ms3(pct(vecWalls, 0.95))},""" +
      s""""accept_docs_per_s":$accept,"accept_batch_p50_s":${ms3(pct(acceptWalls, 0.5))},"accept_batch_p95_s":${ms3(pct(acceptWalls, 0.95))},""" +
      s""""tick_p50_s":${ms3(pct(tickWalls, 0.5))},"tick_p95_s":${ms3(pct(tickWalls, 0.95))},"tick_max_s":${ms3(if (tickWalls.isEmpty) -1.0 else tickWalls.last)},""" + {
        // the maintenance plane the tick latencies deliberately exclude
        // (folds are detached): completions, failures, durations and the
        // backlog peak across every store this bench run touched
        val m = graft.sources.IncrementalDocArtifact.Maintenance.snapshot
        s""""maint_folds":${m("folds_completed")},"maint_failed":${m("folds_failed")},"maint_aborted":${m("folds_aborted")},""" +
          s""""maint_fold_max_s":${m("fold_max_ms") / 1000.0},"maint_fold_total_s":${m("fold_total_ms") / 1000.0},""" +
          s""""maint_queue_peak":${m("queue_peak")},"maint_queue_end":${m("queue_depth")}}"""
      }
  }
}
