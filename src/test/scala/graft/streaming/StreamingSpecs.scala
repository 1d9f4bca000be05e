package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.core.{SideSpec, SyncSpec}
import graft.sources.ParquetTableIO
import graft.streaming.StatefulLww.KeyedVersioned

class StreamSyncSpec extends SparkSpec {
  import spark.implicits._

  private val spec = SyncSpec("stream", SideSpec("in"), SideSpec("dest"))

  test("file-stream sync: files land once, LWW across micro-batches, checkpoint resumes") {
    val base = Files.createTempDirectory("ss")
    val in = base.resolve("incoming").toString
    val ckpt = base.resolve("ckpt").toString
    val dest = new ParquetTableIO(base.resolve("dest").toString)
    Files.createDirectories(java.nio.file.Paths.get(in))

    def push(name: String, rows: (String, Long, String)*): Unit =
      rows.toDF("id", "version", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$in/$name")
    // file source watches a flat dir; write each drop as files within it
    def pushFlat(rows: (String, Long, String)*): Unit = {
      val tmp = base.resolve("tmp").toString
      rows.toDF("id", "version", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      Files.list(java.nio.file.Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          Files.move(f, java.nio.file.Paths.get(in, f.getFileName.toString))
        }
    }

    val schema = Seq(("x", 1L, "t")).toDF("id", "version", "text").schema

    pushFlat(("a", 1L, "a-v1"), ("b", 5L, "b-v5"))
    val q1 = StreamSync.start(spark, in, schema, dest, spec, ckpt, Trigger.AvailableNow())
    q1.awaitTermination()
    dest.read(spark).as[(String, Long, String)].collect().toSet shouldBe
      Set(("a", 1L, "a-v1"), ("b", 5L, "b-v5"))

    // second drop: newer a, older (late) b, new c — restart from checkpoint
    pushFlat(("a", 2L, "a-v2"), ("b", 3L, "b-late"), ("c", 9L, "c-v9"))
    val q2 = StreamSync.start(spark, in, schema, dest, spec, ckpt, Trigger.AvailableNow())
    q2.awaitTermination()
    dest.read(spark).as[(String, Long, String)].collect().toSet shouldBe
      Set(("a", 2L, "a-v2"), ("b", 5L, "b-v5"), ("c", 9L, "c-v9"))

    // third run with NO new files: checkpoint prevents reprocessing
    val q3 = StreamSync.start(spark, in, schema, dest, spec, ckpt, Trigger.AvailableNow())
    q3.awaitTermination()
    dest.read(spark).count() shouldBe 3
  }

  test("ProcessingTime trigger: the continuously-running periodic daemon (T1)") {
    // the reference's sleep-loop (SyncCassElastic.py:45-47) as a real
    // continuously-running query: files landing while it runs are
    // picked up by subsequent periodic micro-batches
    val base = Files.createTempDirectory("sspt")
    val in = base.resolve("incoming").toString
    val dest = new ParquetTableIO(base.resolve("dest").toString)
    Files.createDirectories(java.nio.file.Paths.get(in))

    def pushFlat(tag: String, rows: (String, Long, String)*): Unit = {
      val tmp = base.resolve(s"tmp-$tag").toString
      rows.toDF("id", "version", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      Files.list(java.nio.file.Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .forEach(f => Files.move(f, java.nio.file.Paths.get(in, s"$tag-${f.getFileName}")))
    }
    // polls until dest converges to `want`; a read can catch the
    // transactional dir swap mid-flight (list → rename → open), so
    // transient read failures just mean "try again next poll"
    def awaitState(want: Set[(String, Long, String)]): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      var last: Any = "never-read"
      while (System.currentTimeMillis() < deadline) {
        try {
          if (dest.exists) {
            val s = dest.read(spark).as[(String, Long, String)].collect().toSet
            last = s
            if (s == want) return
          }
        } catch { case _: org.apache.spark.SparkException => }
        Thread.sleep(200)
      }
      fail(s"dest never reached $want; last seen: $last")
    }

    val schema = Seq(("x", 1L, "t")).toDF("id", "version", "text").schema
    val q = StreamSync.start(spark, in, schema, dest, spec,
      base.resolve("ckpt").toString, Trigger.ProcessingTime("500 milliseconds"))
    try {
      pushFlat("b1", ("a", 1L, "a-v1"))
      awaitState(Set(("a", 1L, "a-v1")))
      // land more data while the query keeps running: a later tick takes it
      pushFlat("b2", ("a", 2L, "a-v2"), ("b", 7L, "b-v7"))
      awaitState(Set(("a", 2L, "a-v2"), ("b", 7L, "b-v7")))
    } finally q.stop()
  }
}

class WindowedStatsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming tumbling agg equals the batch window aggregation") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDS().toDF("ts", "kind", "value")
    val q = WindowedStats.tumbling(df, "ts", "1 hour", "0 seconds",
        Seq("kind"), Some("value"))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), "a", 1.0),
      (ts("2024-01-01 10:55:00"), "a", 2.0),
      (ts("2024-01-01 10:30:00"), "b", 5.0),
      (ts("2024-01-01 11:10:00"), "a", 7.0))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.table("win_out")
    val expected = WindowedStats.tumbling(
      rows.toDF("ts", "kind", "value"), "ts", "1 hour", "0 seconds",
      Seq("kind"), Some("value"))
    assertSameRows(got, expected)
    q.stop()
  }

  test("append mode: late rows beyond the watermark are dropped by the engine") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDS().toDF("ts", "kind", "value")
    val q = WindowedStats.tumbling(df, "ts", "1 hour", "0 seconds",
        Seq("kind"), None)
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()

    // batch 1: two rows in [10:00, 11:00) and one at 12:05 that will
    // advance the watermark past 11:00
    mem.addData((ts("2024-01-01 10:05:00"), "a", 0.0),
      (ts("2024-01-01 10:45:00"), "a", 0.0),
      (ts("2024-01-01 12:05:00"), "a", 0.0))
    q.processAllAvailable()
    // batch 2: a LATE row for the already-finalized window — dropped
    mem.addData((ts("2024-01-01 10:50:00"), "a", 0.0))
    q.processAllAvailable()
    // batch 3: advance watermark far enough to finalize everything open
    mem.addData((ts("2024-01-01 14:00:00"), "a", 0.0))
    q.processAllAvailable()

    val n10 = spark.table("late_out")
      .filter(col("win_start") === ts("2024-01-01 10:00:00"))
      .select("n").as[Long].collect()
    n10 shouldBe Array(2L) // the late 10:50 row did NOT make it 3
    q.stop()
  }
}

class SessionWindowSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming session windows equal the batch evaluation") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDS().toDF("ts", "user")
    val q = WindowedStats.sessions(df, "ts", "30 minutes", "0 seconds", Seq("user"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), "a"), // session 1: 4 events chained
      (ts("2024-01-01 10:20:00"), "a"), //   (each within 30 min of prev,
      (ts("2024-01-01 10:45:00"), "a"), //    total span > 30 min)
      (ts("2024-01-01 11:15:00"), "a"), // exactly last+gap: EXTENDS (inclusive)
      (ts("2024-01-01 11:45:01"), "a"), // 1 s past last+gap: new session
      (ts("2024-01-01 10:10:00"), "b")) // separate key
    mem.addData(rows: _*)
    // far-future row advances the watermark so every session finalizes
    mem.addData((ts("2024-01-02 00:00:00"), "zz"))
    q.processAllAvailable()
    val got = spark.table("sess_out").filter(col("user") =!= "zz")
    val expected = WindowedStats.sessions(
      rows.toDF("ts", "user"), "ts", "30 minutes", "0 seconds", Seq("user"))
    assertSameRows(got, expected)
    // boundary pin: 11:15 (== 10:45 + gap) merged; 11:45:01 split.
    // q19's oracle encodes exactly this: split on diff > gap, not >=.
    got.filter(col("user") === "a").count() shouldBe 2
    got.filter(col("user") === "a").select("n").as[Long].collect().sorted shouldBe
      Array(1L, 4L)
    q.stop()
  }

  test("sessions merge across micro-batches while the watermark allows") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDS().toDF("ts", "user")
    val q = WindowedStats.sessions(df, "ts", "30 minutes", "2 hours", Seq("user"))
      .writeStream.format("memory").queryName("sess_merge_out")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 10:00:00"), "a"))
    q.processAllAvailable()
    // second micro-batch extends the still-open session
    mem.addData((ts("2024-01-01 10:20:00"), "a"))
    q.processAllAvailable()
    // advance watermark far enough (2h lateness) to finalize and emit
    mem.addData((ts("2024-01-01 15:00:00"), "zz"))
    mem.addData((ts("2024-01-01 23:00:00"), "zz"))
    q.processAllAvailable()
    val a = spark.table("sess_merge_out").filter(col("user") === "a")
      .select("n").as[Long].collect()
    a shouldBe Array(2L) // ONE merged session of two events, not two sessions
    q.stop()
  }
}

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark dedups across micro-batches with bounded state") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDS().toDF("id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()

    mem.addData((1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:05:00")), // in-batch duplicate
      (2L, ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    mem.addData((1L, ts("2024-01-01 10:20:00")), // cross-batch duplicate
      (3L, ts("2024-01-01 10:30:00")))
    q.processAllAvailable()

    val ids = spark.table("sdedup_out").select("id").as[Long].collect().sorted
    ids shouldBe Array(1L, 2L, 3L) // each id exactly once
    q.stop()
  }
}

class StatefulLwwSpec extends SparkSpec {
  import spark.implicits._

  test("transformWithState variant matches flatMapGroupsWithState semantics") {
    implicit val sql = spark.sqlContext
    // transformWithState's typed state handles need the RocksDB
    // provider (multiple column families); the HDFS-backed default
    // can't host them
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[KeyedVersioned]
    val q = StatefulLww.latestUpdatesTws(mem.toDS())
      .writeStream.format("memory").queryName("lww_tws_out")
      .outputMode("update").start()
    try {
      mem.addData(KeyedVersioned("a", 1, "a1"), KeyedVersioned("a", 3, "a3"),
        KeyedVersioned("b", 2, "b2"))
      q.processAllAvailable()
      spark.table("lww_tws_out").as[KeyedVersioned].collect().toSet shouldBe
        Set(KeyedVersioned("a", 3, "a3"), KeyedVersioned("b", 2, "b2"))

      mem.addData(KeyedVersioned("a", 2, "a2-late"), // loses to state 3
        KeyedVersioned("b", 2, "b2-tie"), // tie: incumbent kept, no emit
        KeyedVersioned("b", 7, "b7")) // wins
      q.processAllAvailable()
      spark.table("lww_tws_out").as[KeyedVersioned].collect().toSet shouldBe
        Set(KeyedVersioned("a", 3, "a3"), KeyedVersioned("b", 2, "b2"),
          KeyedVersioned("b", 7, "b7"))
    } finally {
      q.stop()
      prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("emits only version-winning updates across micro-batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[KeyedVersioned]
    val q = StatefulLww.latestUpdates(mem.toDS())
      .writeStream.format("memory").queryName("lww_out")
      .outputMode("update").start()

    mem.addData(KeyedVersioned("a", 1, "a1"), KeyedVersioned("a", 3, "a3"),
      KeyedVersioned("b", 2, "b2"))
    q.processAllAvailable()
    // batch 1: per-key best only (a3 beats a1 within the batch)
    spark.table("lww_out").as[KeyedVersioned].collect().toSet shouldBe
      Set(KeyedVersioned("a", 3, "a3"), KeyedVersioned("b", 2, "b2"))

    mem.addData(KeyedVersioned("a", 2, "a2-late"), // loses to state 3
      KeyedVersioned("b", 2, "b2-tie"), // tie: incumbent kept, no emit
      KeyedVersioned("b", 7, "b7")) // wins
    q.processAllAvailable()
    spark.table("lww_out").as[KeyedVersioned].collect().toSet shouldBe
      Set(KeyedVersioned("a", 3, "a3"), KeyedVersioned("b", 2, "b2"),
        KeyedVersioned("b", 7, "b7"))
    q.stop()
  }
}

class StreamEnrichSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static broadcast enrichment: every micro-batch joins the dimension map-side") {
    implicit val sql = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Double)]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()
    // static side broadcast: the stream never shuffles for the join —
    // the standard dimension-enrichment shape (per-batch plan is a
    // BroadcastHashJoin; rows with no dimension match pass with null)
    val enriched = mem.toDF().toDF("user_id", "value")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          out.add((r.getLong(0), Option(r.getString(2)).getOrElse("none"),
            r.getDouble(1))))
        ()
      }
      .start()
    mem.addData((1L, 10.0), (2L, 20.0), (9L, 30.0))
    q.processAllAvailable()
    // the join executes in the STREAMING plan (each micro-batch's
    // incremental execution), so the broadcast pin reads from there
    val lastPlan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    q.stop()
    assert(lastPlan.contains("BroadcastHashJoin"),
      s"expected broadcast enrichment in the micro-batch plan, got:\n$lastPlan")
    out.toArray(Array.empty[(Long, String, Double)]).toSet shouldBe Set(
      (1L, "gold", 10.0), (2L, "silver", 20.0), (9L, "none", 30.0))
  }
}

class StreamingSketchSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches maintain a bounded sketch equal to the one-shot build") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("ssk")
    val sketchIO = new ParquetTableIO(base.resolve("sketch").toString)
    val ckpt = base.resolve("ckpt").toString

    val mem = MemoryStream[String]
    val q = StreamingSketch.start(spark, mem.toDF().toDF("term"), "term",
      sketchIO, depth = 3, width = 64, ckpt,
      Trigger.ProcessingTime("50 milliseconds"))

    val b1 = Seq("a", "a", "b", "c")
    val b2 = Seq("a", "c", "c", "d", "d", "d")
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    // stored state stays within the depth x width bound...
    val stored = sketchIO.read(spark)
    stored.count() should be <= (3L * 64)
    // ...and merging batch deltas landed exactly where a one-shot
    // build over all items would have (modulo the replay marker)
    val direct = graft.sketch.CountMin.build((b1 ++ b2).toDF("term"),
      col("term"), 3, 64)
    assertSameRows(stored.drop(StreamingSketch.LastBatchCol,
      StreamingSketch.CkptCol), direct)
    // the replay marker rides with the snapshot and names the last batch
    stored.select(StreamingSketch.LastBatchCol).distinct()
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    // point estimates match the true counts (width 64, tiny vocab)
    val est = graft.sketch.CountMin.estimate(stored,
        Seq("a", "b", "c", "d", "nope").toDF("term"), "term", 3, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est shouldBe Map("a" -> 3L, "b" -> 1L, "c" -> 3L, "d" -> 3L, "nope" -> 0L)
  }

  test("replayed micro-batches are skipped, not double-counted") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("sskr")
    val sketchIO = new ParquetTableIO(base.resolve("sketch").toString)

    // Simulate a crash AFTER the sketch commit but BEFORE the
    // checkpoint advanced: the store already holds batch 0's merge
    // (marker = 0 under THIS run's checkpoint id), and the restarted
    // stream re-delivers the same data as batchId 0. The sink must
    // skip it.
    val ckpt = base.resolve("ckpt2").toString
    val seeded = graft.sketch.CountMin
      .build(Seq("a", "a", "b").toDF("term"), col("term"), 3, 64)
      .withColumn(StreamingSketch.LastBatchCol,
        org.apache.spark.sql.functions.lit(0L))
      .withColumn(StreamingSketch.CkptCol,
        org.apache.spark.sql.functions.lit(ckpt))
    sketchIO.overwrite(seeded)

    val mem = MemoryStream[String]
    val q = StreamingSketch.start(spark, mem.toDF().toDF("term"), "term",
      sketchIO, depth = 3, width = 64, ckpt,
      Trigger.ProcessingTime("50 milliseconds"))
    mem.addData("a", "a", "b"); q.processAllAvailable() // replay of batch 0
    mem.addData("c"); q.processAllAvailable()           // genuinely new batch 1
    q.stop()

    val est = graft.sketch.CountMin.estimate(sketchIO.read(spark),
        Seq("a", "b", "c").toDF("term"), "term", 3, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "a" stayed 2 (replay skipped); "c" landed (new batch merged)
    est shouldBe Map("a" -> 2L, "b" -> 1L, "c" -> 1L)
  }

  test("a fresh checkpoint over an existing store merges instead of skipping") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("sskf")
    val sketchIO = new ParquetTableIO(base.resolve("sketch").toString)

    // The store holds an OLD run's sketch with marker batch 1; a NEW
    // run (fresh checkpoint, batch ids restart at 0) must NOT treat
    // its first batches as replays of the old run's — the checkpoint
    // id on the marker distinguishes the two.
    val seeded = graft.sketch.CountMin
      .build(Seq("a", "a").toDF("term"), col("term"), 3, 64)
      .withColumn(StreamingSketch.LastBatchCol,
        org.apache.spark.sql.functions.lit(1L))
      .withColumn(StreamingSketch.CkptCol,
        org.apache.spark.sql.functions.lit("an-older-runs-checkpoint"))
    sketchIO.overwrite(seeded)

    val mem = MemoryStream[String]
    val q = StreamingSketch.start(spark, mem.toDF().toDF("term"), "term",
      sketchIO, depth = 3, width = 64, base.resolve("ckpt_new").toString,
      Trigger.ProcessingTime("50 milliseconds"))
    mem.addData("b"); q.processAllAvailable() // new run's batch 0
    mem.addData("c"); q.processAllAvailable() // new run's batch 1
    q.stop()

    val est = graft.sketch.CountMin.estimate(sketchIO.read(spark),
        Seq("a", "b", "c").toDF("term"), "term", 3, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // everything merged: the old sketch survived AND both new batches
    // landed (batch 1 especially — id equal to the foreign marker)
    est shouldBe Map("a" -> 2L, "b" -> 1L, "c" -> 1L)
  }
}

class StreamingLshDedupSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches probe the persisted index; near-dups surface across batches") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("slsh")
    val indexDir = base.resolve("index").toString
    val cands = base.resolve("cands").toString
    val ckpt = base.resolve("ckpt").toString

    val mem = MemoryStream[(Long, String)]
    val q = StreamingLshDedup.start(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexDir, cands, ckpt, Trigger.ProcessingTime("50 milliseconds"))

    def run(): Unit = { q.processAllAvailable() }

    // batch 1 seeds the index; nothing to probe against yet
    mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text about spark engines and shuffles"))
    run()
    StreamingLshDedup.readIndex(spark, indexDir)
      .select("doc_id").distinct().count() shouldBe 2

    // batch 2: doc 10 duplicates doc 1 -> cross-batch candidate emitted
    mem.addData((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "zzz entirely novel content qqq www eee rrr"))
    run()
    q.stop()

    val pairs = spark.read.parquet(cands)
      .select("id_index", "id_probe").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 10L))
    // the index absorbed both batches: all four docs are probe-able now
    StreamingLshDedup.readIndex(spark, indexDir)
      .select("doc_id").distinct().count() shouldBe 4

    // offline compaction folds the delta partitions into the base
    // snapshot; the probe-able view is unchanged
    StreamingLshDedup.compactIndex(spark, indexDir)
    val delta = base.resolve("index").resolve("delta")
    val remaining =
      if (Files.exists(delta)) {
        val s = Files.list(delta)
        try s.filter(_.getFileName.toString.startsWith("_batch=")).count()
        finally s.close()
      } else 0L
    remaining shouldBe 0L
    StreamingLshDedup.readIndex(spark, indexDir)
      .select("doc_id").distinct().count() shouldBe 4
  }

  test("per-batch index write cost is independent of index size") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("slsh_cost")
    val indexDir = base.resolve("index").toString
    val delta = base.resolve("index").resolve("delta")

    val mem = MemoryStream[(Long, String)]
    val q = StreamingLshDedup.start(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      indexDir, base.resolve("cands").toString, base.resolve("ckpt").toString,
      Trigger.ProcessingTime("50 milliseconds"))

    def deltaFiles(): Map[String, Long] = {
      val s = Files.walk(delta)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }

    mem.addData((0 until 200).map(i => (i.toLong, s"seed document number $i with some shared text")): _*)
    q.processAllAvailable()
    val afterSeed = deltaFiles()
    afterSeed should not be empty

    // a later batch writes ONLY its own _batch partition: every file
    // from the seed batch survives byte-for-byte untouched (same path,
    // same mtime), no matter how large the accumulated index is
    mem.addData((1000L, "one more tiny batch"), (1001L, "another tiny doc"))
    q.processAllAvailable()
    q.stop()
    val afterSmall = deltaFiles()
    afterSeed.foreach { case (p, mtime) =>
      afterSmall.get(p) shouldBe Some(mtime)
    }
    (afterSmall.keySet -- afterSeed.keySet).foreach { p =>
      p should include ("_batch=")
    }
    afterSmall.size should be > afterSeed.size
  }
}

class StreamingVectorIngestSpec extends SparkSpec {
  import spark.implicits._
  import graft.similarity.{IvfKnn, ProductQuantizer}

  // two well-separated directions in R^8 so cluster membership is
  // unambiguous, plus a deterministic per-id full-dimensional jitter:
  // residuals (vector - coarse centroid) must span multiple directions
  // for cosine-PQ training to be non-degenerate — collinear residuals
  // collapse every subquantizer to one zero-mean centroid (a fixture
  // pathology, not an operator one; real embeddings never align so)
  private def vec(base: Array[Float], id: Long): Array[Float] =
    base.zipWithIndex.map { case (v, i) =>
      v + 0.02f * (((id * 7 + i * 3) % 5).toInt - 2) }
  private val dirA = Array(10f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
  private val dirB = Array(0f, 10f, 0f, 0f, 0f, 1f, 0f, 0f)

  test("cross-batch retrieval: a query finds a vector ingested in an earlier batch") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("svec")
    val indexDir = base.resolve("index").toString

    // stored artifacts: books trained once, offline, on a seed corpus
    val seed = (0 until 8).map(i =>
      (i.toLong, vec(if (i % 2 == 0) dirA else dirB, i.toLong)))
      .toDF("vec_id", "embedding")
    val coarse = IvfKnn.collectCodebook(
      IvfKnn.trainCodebook(seed, "vec_id", "embedding", k = 2, iters = 2), "cell")
    val books = ProductQuantizer.train(seed, "vec_id", "embedding",
      m = 2, subDim = 4, k = 4, iters = 1)

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingVectorIngest.start(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      indexDir, base.resolve("ckpt").toString,
      Trigger.ProcessingTime("50 milliseconds"),
      coarse, books, subDim = 4)

    // batch 1: an A-cluster vector that only exists in this batch
    mem.addData((100L, vec(dirA, 100L)), (101L, vec(dirB, 101L)))
    q.processAllAvailable()
    // batch 2: more vectors, one nearly identical to 100
    mem.addData((200L, vec(dirA, 200L)), (201L, vec(dirB, 201L)))
    q.processAllAvailable()
    q.stop()

    val idx = StreamingVectorIngest.readIndex(spark, indexDir)
    idx.select("vec_id").distinct().count() shouldBe 4

    // retrieval over the streamed index: the probe corpus is the four
    // ingested vectors (re-materialized as the rescore source), the
    // query is batch 2's 200 — its nearest neighbor must be batch 1's
    // 100, found through the stored codes
    val corpus = Seq((100L, vec(dirA, 100L)), (101L, vec(dirB, 101L)),
      (200L, vec(dirA, 200L)), (201L, vec(dirB, 201L)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 200L)
    val probeBook = coarse.toDF("cell", "centroid")
    val got = ProductQuantizer.ivfAdcTopK(corpus, queries, "vec_id",
        "embedding", subDim = 4, books, idx, "_cell", probeBook,
        k = 1, coarseK = 4, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    got shouldBe Array((200L, 100L))

    // compaction folds deltas; the retrieval view is unchanged
    StreamingVectorIngest.compactIndex(spark, indexDir)
    val delta = base.resolve("index").resolve("delta")
    val remaining =
      if (Files.exists(delta)) {
        val s = Files.list(delta)
        try s.filter(_.getFileName.toString.startsWith("_batch=")).count()
        finally s.close()
      } else 0L
    remaining shouldBe 0L
    StreamingVectorIngest.readIndex(spark, indexDir)
      .select("vec_id").distinct().count() shouldBe 4

    // crash-atomicity: a batch replayed (or whose deletion crashed)
    // AFTER compaction recreates an absorbed partition — it is dead
    // by the folded-batches marker, so codes never double-count
    val dead = delta.resolve("_batch=0")
    StreamingVectorIngest.readIndex(spark, indexDir).limit(2)
      .write.mode("overwrite").parquet(dead.toString)
    StreamingVectorIngest.readIndex(spark, indexDir).count() shouldBe 4
    // next compaction garbage-collects the dead directory
    StreamingVectorIngest.compactIndex(spark, indexDir)
    Files.exists(dead) shouldBe false
    StreamingVectorIngest.readIndex(spark, indexDir).count() shouldBe 4
  }

  test("residual mode: codes quantize x - centroid(cell); retrieval still lands") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("svecres")
    val indexDir = base.resolve("index").toString
    val seed = (0 until 8).map(i =>
      (i.toLong, vec(if (i % 2 == 0) dirA else dirB, i.toLong)))
      .toDF("vec_id", "embedding")
    val coarseDf = IvfKnn.trainCodebook(seed, "vec_id", "embedding", k = 2, iters = 2)
    val coarse = IvfKnn.collectCodebook(coarseDf, "cell")
    val resBooks = ProductQuantizer.train(
      ProductQuantizer.withResidual(
        IvfKnn.assignCells(seed, "embedding", coarse, "_cell"),
        "embedding", "_cell", coarseDf, "_res"),
      "vec_id", "_res", m = 2, subDim = 4, k = 4, iters = 1)

    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingVectorIngest.start(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      indexDir, base.resolve("ckpt").toString,
      Trigger.ProcessingTime("50 milliseconds"),
      coarse, resBooks, subDim = 4, residual = true)
    mem.addData((100L, vec(dirA, 100L)), (101L, vec(dirB, 101L)))
    q.processAllAvailable()
    mem.addData((200L, vec(dirA, 200L)))
    q.processAllAvailable()
    q.stop()

    val corpus = Seq((100L, vec(dirA, 100L)), (101L, vec(dirB, 101L)),
      (200L, vec(dirA, 200L))).toDF("vec_id", "embedding")
    val got = ProductQuantizer.ivfAdcTopKResidual(corpus,
        corpus.filter(col("vec_id") === 200L), "vec_id", "embedding",
        subDim = 4, resBooks,
        StreamingVectorIngest.readIndex(spark, indexDir), "_cell",
        coarseDf, k = 1, coarseK = 3, nprobe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    got shouldBe Array((200L, 100L))
  }
}

class StreamingDecontamSpec extends SparkSpec {
  import spark.implicits._
  import graft.dedup.GramStore

  test("micro-batches are screened against the stored eval gram index; leaks flagged, fresh text passes") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("sdecon")
    val evalSf = base.resolve("eval").toString
    val evalCorpus = s"$evalSf/documents.parquet"
    Seq(
      (1L, "which river is the longest river on the european continent today"),
      (2L, "name the chemical symbol for the noble gas used in bright signs"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(evalCorpus)
    val evalGrams = GramStore.grams(spark, evalSf, "documents", n = 5)
      .localCheckpoint(true)

    val outDir = base.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    val q = BatchReportSink.start(mem.toDF().toDF("doc_id", "text"), outDir,
        base.resolve("ckpt").toString, Trigger.ProcessingTime("50 milliseconds")) {
      batch => graft.dedup.Decontam.reportAgainstGrams(batch, evalGrams,
        "doc_id", graft.functions.TextFunctions.normalize(col("text")), n = 5)
    }

    // batch 1: one verbatim eval leak, one fresh doc
    mem.addData(
      (10L, "trivia answer which river is the longest river on the european continent today obviously"),
      (11L, "a completely fresh training document about distributed query engines"))
    q.processAllAvailable()
    // batch 2: another fresh doc; a short doc (no grams) still reports
    mem.addData((12L, "more novel text unrelated to any benchmark"), (13L, "tiny"))
    q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(outDir)
      .select("doc_id", "is_contaminated", "n_grams")
      .as[(Long, Boolean, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    rep.keySet shouldBe Set(10L, 11L, 12L, 13L)
    rep(10L)._1 shouldBe true   // verbatim leak caught
    rep(11L)._1 shouldBe false
    rep(12L)._1 shouldBe false
    rep(13L) shouldBe ((false, 0L)) // short doc: zero grams, still reported
  }
}

class StreamingMediaScreenSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches screen against stored pHash state; statuses correct across batches") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("smscreen")
    val sf = base.resolve("corpus").toString
    Seq((1L, "an already ingested image payload"),
        (2L, "another stored media payload"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$sf/documents.parquet")

    val outDir = base.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    val q = BatchReportSink.start(
        mem.toDF().toDF("media_id", "_t")
          .select(col("media_id"), col("_t").cast("binary").as("bytes")),
        outDir, base.resolve("ckpt").toString,
        Trigger.ProcessingTime("50 milliseconds")) {
      batch => graft.multimodal.MediaScreen.screen(spark, sf, "documents", batch)
    }

    mem.addData((10L, "an already ingested image payload"),
      (11L, "a brand new clip"))
    q.processAllAvailable()
    mem.addData((12L, "another stored media payload"))
    q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(outDir)
      .select("media_id", "status").as[(Long, String)].collect().toMap
    rep shouldBe Map(10L -> "exact_dup", 11L -> "fresh", 12L -> "exact_dup")
  }
}

class StreamingQualityGateSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.QualityClassifier

  test("batches score under the frozen model; keep/drop splits on the threshold across batches") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("sqgate")
    // frozen hand-set model: bias -2, all weight on the stopword
    // feature — keeps stopword-dense docs, drops gibberish
    val m = QualityClassifier.LrModel(-2.0, 0.0, 0.0, 8.0)
    val outDir = base.resolve("out").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = BatchReportSink.start(mem.toDF().toDF("doc_id", "text", "lang"),
        outDir, base.resolve("ckpt").toString,
        Trigger.ProcessingTime("50 milliseconds")) {
      batch => QualityClassifier.gate(batch, "doc_id", m, threshold = 0.5,
        "lang", "en")
    }

    mem.addData(
      (1L, "the cat is on the mat and it is the best of the lot", "en"),
      (2L, "zzz qqq xxx vvv", "und"))
    q.processAllAvailable()
    mem.addData(
      (3L, "the dog is in the house for the day and it is fine", "en"))
    q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(outDir)
      .select("doc_id", "label", "keep")
      .as[(Long, Int, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    rep.keySet shouldBe Set(1L, 2L, 3L)
    rep(1L) shouldBe ((1, true))   // stopword-dense english: kept
    rep(2L) shouldBe ((0, false))  // gibberish: sigmoid(-2) < 0.5
    rep(3L) shouldBe ((1, true))   // second batch, same frozen model
    // scores are the deterministic 4-decimal sigmoid
    val s1 = spark.read.parquet(outDir).filter(col("doc_id") === 1L)
      .select("score").as[Double].head()
    s1 shouldBe (1.0 / (1.0 + math.exp(-6.0)) +- 1e-4)
  }
}

class StreamingPrefixScreenSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches screen EXACTLY against the stored prefix index across batches") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("spscreen")
    val sf = base.resolve("corpus").toString
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$sf/documents.parquet")

    val outDir = base.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    val q = BatchReportSink.start(mem.toDF().toDF("doc_id", "text"),
        outDir, base.resolve("ckpt").toString,
        Trigger.ProcessingTime("50 milliseconds")) {
      batch => graft.dedup.PrefixStore.screen(batch.sparkSession, sf,
        "documents", batch, "doc_id", tauNum = 7, tauDen = 10)
    }

    // batch 0: one near-dup of corpus doc 1, one novel-vocab doc
    mem.addData((10L, "alpha beta gamma delta epsilon theta"),
      (11L, "totally novel vocabulary outside everything"))
    q.processAllAvailable()
    // batch 1: a near-dup of corpus doc 2
    mem.addData((12L, "one two three four five seven"))
    q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(outDir)
      .select("new_id", "dup_id").as[(Long, Long)].collect().toSet
    rep shouldBe Set((10L, 1L), (12L, 2L))
    // per-batch partitions are immutable units
    spark.read.parquet(outDir).select("_batch").distinct()
      .as[Int].collect().toSet shouldBe Set(0, 1)
  }
}

class StreamingSnapshotEnrichSpec extends SparkSpec {
  import spark.implicits._

  test("batches enrich under the LIVE snapshot; a pointer flip is seen next batch") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("senrich")
    val store = base.resolve("dim").toString
    val io = new graft.sources.ParquetTableIO(store)
    io.overwrite(Seq(("k1", "alpha"), ("k2", "beta")).toDF("k", "name"))

    val outDir = base.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    // stream-static enrichment: each batch left-joins the dimension
    // read through the snapshot connector — the pointer re-resolves
    // per batch unless `version` pins one snapshot
    def enrich(version: Option[Long])(batch: DataFrame): DataFrame = {
      val reader = batch.sparkSession.read
        .format(graft.sources.v2.GraftSnapshotDataSource.Name)
      batch.join(version.fold(reader)(v => reader.option("version", v))
        .load(store), Seq("k"), "left")
    }
    val q = BatchReportSink.start(mem.toDF().toDF("event_id", "k"),
        outDir, base.resolve("ckpt").toString,
        Trigger.ProcessingTime("50 milliseconds"))(enrich(None))

    mem.addData((1L, "k1"), (2L, "k9")) // k9 has no dimension row
    q.processAllAvailable()
    // dimension update: the pointer flips to version 2
    io.overwrite(Seq(("k1", "ALPHA2"), ("k2", "beta")).toDF("k", "name"))
    mem.addData((3L, "k1"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[String]("name"))).toMap
    rows(1L) shouldBe Some("alpha") // batch 0 saw version 1
    rows(2L) shouldBe None // left join: missing dim row nulls, not drops
    rows(3L) shouldBe Some("ALPHA2") // batch 1 saw the flipped pointer

    // pinned mode: every batch reads the SAME version (bit-exact replay)
    val out2 = base.resolve("out2").toString
    val mem2 = MemoryStream[(Long, String)]
    val v1 = io.currentVersion - 1
    val q2 = BatchReportSink.start(mem2.toDF().toDF("event_id", "k"),
        out2, base.resolve("ckpt2").toString,
        Trigger.ProcessingTime("50 milliseconds"))(enrich(Some(v1)))
    mem2.addData((9L, "k1"))
    q2.processAllAvailable()
    q2.stop()
    spark.read.parquet(out2).select("name").as[String].collect() shouldBe
      Array("alpha")
  }
}

class StreamingEditScreenSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches screen against the stored edit dictionaries") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("sescreen")
    val corpus = base.resolve("names.parquet").toString
    Seq((1L, "walter"), (2L, "margaret"), (3L, "xylophone"))
      .toDF("sid", "name").coalesce(1).write.parquet(corpus)

    val outDir = base.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    val q = BatchReportSink.start(mem.toDF().toDF("sid", "name"),
        outDir, base.resolve("ckpt").toString,
        Trigger.ProcessingTime("50 milliseconds")) {
      batch => graft.dedup.EditStore.screen(batch.sparkSession, corpus,
        "name", "sid", col("name"), batch, "sid", col("name"), k = 2)
    }

    // batch 0: dist-1 typo of walter + something unrelated;
    // batch 1: a SHORTER string whose corpus partner is longer
    mem.addData((10L, "waltert"), (11L, "zzzzzzz"))
    q.processAllAvailable()
    mem.addData((12L, "margret"))
    q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(outDir)
      .select("new_id", "dup_id").as[(Long, Long)].collect().toSet
    rep shouldBe Set((10L, 1L), (12L, 2L))
    spark.read.parquet(outDir).select("_batch").distinct()
      .as[Int].collect().toSet shouldBe Set(0, 1)
  }
}

class StreamingFullScreenSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batches run the COMPOSED screen stack; verdicts match the batch form") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("sfullscreen")
    val sf = base.resolve("corpus").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog every day"),
        (2L, "spark plans catalyst optimizes tungsten executes the query"),
        (3L, "a slow green turtle walks under the busy bridge at noon"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$sf/documents.parquet")

    val outDir = base.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    val q = BatchReportSink.start(mem.toDF().toDF("doc_id", "text"),
        outDir, base.resolve("ckpt").toString,
        Trigger.ProcessingTime("50 milliseconds")) {
      batch => graft.dedup.FullScreen.screen(batch.sparkSession, sf,
        "documents", batch, "doc_id")
    }

    // batch 0: an exact dup of corpus doc 1 + a fresh doc;
    // batch 1: a doc contained in corpus doc 2
    mem.addData(
      (10L, "the quick brown fox jumps over the lazy dog every day"),
      (11L, "entirely novel content matching nothing stored here"))
    q.processAllAvailable()
    mem.addData((12L, "spark plans catalyst optimizes"))
    q.processAllAvailable()
    q.stop()

    val rep = spark.read.parquet(outDir)
      .select("doc_id", "status", "n_jaccard_dups", "n_containment_dups",
        "is_contaminated")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    rep(10L)._1 shouldBe "exact_dup"
    rep(10L)._2 should be >= 1L // also a Jaccard partner of doc 1
    rep(10L)._4 shouldBe true // 5-gram contaminated
    rep(11L)._1 shouldBe "fresh"
    rep(11L)._4 shouldBe false
    rep(12L)._3 should be >= 1L // contained in corpus doc 2
    // the report equals the BATCH composition run on the same rows
    val batchRep = graft.dedup.FullScreen.screen(spark, sf, "documents",
        Seq((10L, "the quick brown fox jumps over the lazy dog every day"),
          (11L, "entirely novel content matching nothing stored here"),
          (12L, "spark plans catalyst optimizes"))
          .toDF("doc_id", "text"), "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3), r.getLong(4), r.getBoolean(10)))).toMap
    rep shouldBe batchRep
    spark.read.parquet(outDir).select("_batch").distinct()
      .as[Int].collect().toSet shouldBe Set(0, 1)
  }
}

class StreamingLmGateSpec extends SparkSpec {
  import spark.implicits._

  test("batches score under the stored LM; keep/drop splits; OOV finite") {
    implicit val sql = spark.sqlContext
    val base = Files.createTempDirectory("slmgate")
    val sf = base.resolve("corpus").toString
    Seq((1L, "the cat sat on the mat and the cat sat again"),
        (2L, "the dog sat on the mat and the dog ran home"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$sf/documents.parquet")

    val outDir = base.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    val q = BatchReportSink.start(mem.toDF().toDF("doc_id", "text"),
        outDir, base.resolve("ckpt").toString,
        Trigger.ProcessingTime("50 milliseconds")) {
      batch => graft.functions.BigramLmStore.gate(batch.sparkSession, sf,
        "documents", batch, "doc_id", threshold = -2.5)
    }

    mem.addData((10L, "the cat sat on the mat"))
    q.processAllAvailable()
    mem.addData((11L, "zz qq ww ee rr tt"), (12L, "hello"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows(10L).getAs[Boolean]("keep") shouldBe true // fluent in-model text
    rows(11L).getAs[Boolean]("keep") shouldBe false // OOV gibberish fails
    val lp11 = rows(11L).getAs[Double]("mean_logprob")
    assert(!lp11.isNaN && !lp11.isInfinite)
    // a 1-token doc has no bigrams: emitted explicitly, verdict null —
    // never a silently missing row
    rows(12L).getAs[Long]("n_bigrams") shouldBe 0L
    assert(rows(12L).isNullAt(rows(12L).fieldIndex("keep")))
    assert(rows(12L).isNullAt(rows(12L).fieldIndex("mean_logprob")))
  }
}
