package graft.sources

import java.nio.file.Files

import graft.SparkSpec

class TableIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp: String =
    Files.createTempDirectory("tio").resolve("t").toString

  test("overwrite then read round-trips") {
    val io = new ParquetTableIO(tmp)
    io.exists shouldBe false
    io.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    io.exists shouldBe true
    io.read(spark).count() shouldBe 2
  }

  test("new snapshot can be computed FROM the old one (read+overwrite same path)") {
    // Spark's own Overwrite truncates before reading — the staging swap
    // is what makes self-referential snapshots safe.
    val io = new ParquetTableIO(tmp)
    io.overwrite(Seq((1, 10L)).toDF("id", "version"))
    val next = io.read(spark).withColumn("version",
      org.apache.spark.sql.functions.col("version") + 1)
    io.overwrite(next)
    io.read(spark).select("version").as[Long].collect() shouldBe Array(11L)
  }

  test("prepare stages without publishing; abort leaves old data intact") {
    val io = new ParquetTableIO(tmp)
    io.overwrite(Seq((1, "old")).toDF("id", "v"))
    val p = io.prepare(Seq((1, "new")).toDF("id", "v"))
    io.read(spark).select("v").as[String].collect() shouldBe Array("old")
    p.abort()
    io.read(spark).select("v").as[String].collect() shouldBe Array("old")
  }

  test("a reader resolved before a commit keeps a complete snapshot (grace window)") {
    val io = new ParquetTableIO(tmp)
    io.overwrite(Seq((1, "v1")).toDF("id", "v"))
    val pre = io.read(spark) // resolved to v-1
    io.overwrite(Seq((1, "v2"), (2, "v2")).toDF("id", "v"))
    // v-2 is live, but the pre-resolved reader's v-1 dir is retained
    // for one commit — no FILE_NOT_EXIST mid-read
    pre.select("v").as[String].collect() shouldBe Array("v1")
    io.read(spark).count() shouldBe 2
    io.overwrite(Seq((3, "v3")).toDF("id", "v"))
    // now v-1 is retired; only the latest two versions remain
    // (dir names carry a per-writer uid suffix — compare versions)
    new java.io.File(io.path).list().filter(_.startsWith("v-"))
      .map(_.stripPrefix("v-").takeWhile(_.isDigit).toLong)
      .sorted shouldBe Array(2L, 3L)
  }

  test("partitionBy lays out date-partitioned directories (pruning-ready)") {
    val dir = tmp
    val io = new ParquetTableIO(dir, partitionBy = Seq("day"))
    io.overwrite(Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "day"))
    val days = new java.io.File(io.currentDir.get).list().filter(_.startsWith("day="))
    days.sorted shouldBe Array("day=2024-01-01", "day=2024-01-02")
    // partition filter prunes to one directory
    val one = io.read(spark).filter(org.apache.spark.sql.functions.col("day") === "2024-01-01")
    one.count() shouldBe 1
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && !plan.toLowerCase.contains("pushedfilters: [is"))
  }

  test("incremental window over a day-partitioned layout reads only its days") {
    import graft.core.Watermark
    import graft.operators.IncrementalScan

    val dayMs = 86400000L
    val dir = tmp
    val io = ParquetTableIO.dayPartitioned(dir, "version")
    // 10 days of data, 3 rows/day, derived _day laid out as directories
    val rows = for (d <- 0 until 10; i <- 0 until 3)
      yield (d * 10 + i, d * dayMs + i * 1000L + 1)
    io.overwrite(rows.toDF("id", "version"))
    new java.io.File(io.currentDir.get).list().count(_.startsWith("_day=")) shouldBe 10

    // window covering days 3-4 only
    val span = Watermark.Span(3L * dayMs, 5L * dayMs - 1)
    val scanned = IncrementalScan(io.read(spark), "version", span,
      dayCol = Some("_day"))
    // correctness: identical rows to the unpruned version filter
    assertSameRows(
      scanned.select("id", "version"),
      IncrementalScan(io.read(spark), "version", span).select("id", "version"))

    // pruning: the scan lists/reads only the 2 matching day partitions
    scanned.collect()
    val scan = scanned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    scan.metadata("PartitionFilters") should include("_day")
    scan.metrics("numPartitions").value shouldBe 2
  }

  test("compact collapses small files into few, content and versioning intact") {
    val io = new ParquetTableIO(tmp)
    import org.apache.spark.sql.functions.col
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("x"))
    io.overwrite(df.repartition(20)) // 20 tiny files
    val before = io.read(spark)
    val (nBefore, nAfter) = io.compact(spark) // default target >> data size
    nBefore shouldBe 20L
    nAfter shouldBe 1L
    assertSameRows(io.read(spark), before)
    // versioned commit: compaction bumped the version (v-2), and the
    // pre-compaction snapshot survives as the grace-window version
    io.currentDir.get should include("v-000000002")
  }

  test("compact on an unpublished table fails loudly") {
    intercept[IllegalStateException] {
      new ParquetTableIO(tmp).compact(spark)
    }
  }

  test("artifact fingerprint changes when the source is regrown in place") {
    // same path, same row count, same sizes — only mtime moves, the
    // exact in-place-regeneration shape a count-keyed cache misses
    val src = Files.createTempDirectory("fpr").resolve("t.parquet")
    Files.createDirectory(src)
    val f = src.resolve("part-0.parquet")
    Files.write(f, Array[Byte](1, 2, 3))
    val fp1 = ArtifactStore.fingerprint(src.toString)
    ArtifactStore.fingerprint(src.toString) shouldBe fp1 // stable
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(f).toMillis + 5000))
    ArtifactStore.fingerprint(src.toString) should not be fp1
  }

  test("concurrent prepares stage disjoint dirs; the committed one wins") {
    val io = new ParquetTableIO(tmp)
    io.overwrite(Seq((1, "base")).toDF("id", "v"))
    // two writers race from the same current version
    val pA = io.prepare(Seq((1, "A")).toDF("id", "v"))
    val pB = io.prepare(Seq((1, "B")).toDF("id", "v"))
    // staging dirs are distinct — neither clobbered the other mid-write
    pB.commit()
    io.read(spark).select("v").as[String].collect() shouldBe Array("B")
    pA.abort() // loser cleans up; the published snapshot is untouched
    io.read(spark).select("v").as[String].collect() shouldBe Array("B")
  }

  test("commit cleanup evicts retired snapshot dirs from the plan cache") {
    val io = new ParquetTableIO(tmp)
    io.overwrite(Seq((1, "v1")).toDF("id", "v"))
    io.read(spark).count() // populate the plan cache for v-1
    val v1Dir = io.currentDir.get
    io.overwrite(Seq((1, "v2")).toDF("id", "v"))
    io.read(spark).count()
    // v-1 survives one commit (grace window) — its plan may stay cached
    io.overwrite(Seq((1, "v3")).toDF("id", "v"))
    // v-1 is now deleted by commit cleanup; a long-running one-publish-
    // per-tick process must not retain one stale plan per version read
    ImmutableParquet.plans.keySet.stream()
      .anyMatch(k => k._2 == v1Dir) shouldBe false
    io.read(spark).select("v").as[String].collect() shouldBe Array("v3")
  }

  test("plan cache keys are normalized: a store opened through another path spelling evicts its retired dir") {
    val dir = tmp
    val io = new ParquetTableIO(dir)
    // the same store through a non-normalized spelling of its path
    val parent = java.nio.file.Paths.get(dir).getParent
    val alias = new ParquetTableIO(parent.resolve(".").resolve("..")
      .resolve(parent.getFileName).resolve("t").toString)
    alias.path should not be TableIO.key(dir)
    alias.overwrite(Seq((1, "v1")).toDF("id", "v"))
    io.read(spark).count() // cached through the normalized path...
    alias.read(spark).count() // ...and through the alias: one entry
    val v1Dir = TableIO.key(io.currentDir.get)
    ImmutableParquet.plans.keySet.stream()
      .filter(k => TableIO.key(k._2) == v1Dir).count() shouldBe 1
    // two commits through the alias retire v-1
    alias.overwrite(Seq((1, "v2")).toDF("id", "v"))
    alias.overwrite(Seq((1, "v3")).toDF("id", "v"))
    ImmutableParquet.plans.keySet.stream()
      .anyMatch(k => TableIO.key(k._2) == v1Dir) shouldBe false
    io.read(spark).select("v").as[String].collect() shouldBe Array("v3")
  }
}
