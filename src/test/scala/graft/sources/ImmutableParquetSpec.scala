package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.IncrementalDocArtifact.Piece

/** Every engine writer of an immutable parquet location records the
  * schema a plain read would infer, and a read through
  * [[ImmutableParquet]] runs no Spark job.
  */
class ImmutableParquetSpec extends SparkSpec {
  import spark.implicits._
  import ImmutableParquetSpec.jobsOf

  private def tmp(p: String) = Files.createTempDirectory(p)

  private def ls(dir: Path, prefix: String): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith(prefix)).sortBy(_.toString)
    finally s.close()
  }

  /** The primitive's read of the location runs no job (the writer
    * recorded a schema) and yields the schema Spark infers.
    */
  private def assertRecorded(location: String): Unit = {
    val (df, jobs) = jobsOf(spark)(ImmutableParquet.read(spark, Seq(location)))
    jobs shouldBe 0
    df.schema shouldBe spark.read.parquet(location).schema
  }

  private def rows: DataFrame =
    Seq((1L, "a", 1700000000000L, Seq(1.0, 2.0)), (2L, "b", 1700090000000L, Nil))
      .toDF("id", "v", "version", "xs")

  test("ParquetTableIO.prepare records plain and day-partitioned snapshots") {
    val plain = new ParquetTableIO(tmp("ip-plain").resolve("t").toString)
    plain.overwrite(rows)
    assertRecorded(plain.currentDir.get)
    val (read, jobs) = jobsOf(spark)(plain.read(spark))
    jobs shouldBe 0
    read.count() shouldBe 2

    val daily = ParquetTableIO.dayPartitioned(
      tmp("ip-day").resolve("t").toString, "version")
    daily.overwrite(rows)
    assertRecorded(daily.currentDir.get)
    daily.read(spark).schema.fieldNames.last shouldBe "_day"
    daily.read(spark).select("_day").distinct().count() shouldBe 2
  }

  test("the DSv2 snapshot write commit records its version dir; a load runs no job") {
    val path = tmp("ip-v2").resolve("t").toString
    val io = new ParquetTableIO(path)
    io.overwrite(rows.where(col("id") < 0)) // the connector needs a first snapshot
    rows.write.format("graft-snapshot").mode("overwrite").save(path)
    val dir = io.currentDir.get
    io.currentVersion shouldBe 2
    assertRecorded(dir)
    val (df, jobs) = jobsOf(spark)(
      spark.read.format("graft-snapshot").load(path))
    jobs shouldBe 0
    df.schema shouldBe spark.read.parquet(dir).schema
    df.count() shouldBe 2
  }

  test("artifact generations, fold bases and rebuild bases are recorded") {
    val corpus = tmp("ip-art").resolve("docs.parquet").toString
    Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    val h = IncrementalDocArtifact(corpus, "ipspec",
      Seq(Piece("rows", (docs, _) => docs.withColumn("n", functions.length(col("text"))))),
      compactEvery = 0)
    h.serve(spark, "rows").count() shouldBe 2 // rebuild publishes the base
    val piece = Paths.get(h.artifactDir, "rows")
    assertRecorded(ls(piece.resolve("base"), "v-").head.toString)

    Seq((3L, "three")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    h.advance(spark)
    val gen = ls(piece.resolve("delta"), "_gen=").head.toString
    assertRecorded(gen)
    val (served, jobs) = jobsOf(spark)(h.serve(spark, "rows"))
    jobs shouldBe 0
    served.count() shouldBe 3

    h.compact(spark) // the fold publishes a new base
    val base = new ParquetTableIO(piece.resolve("base").toString).currentDir.get
    assertRecorded(base)
    h.serve(spark, "rows").count() shouldBe 3
  }

  test("landed corpus files are recorded under their path, size and mtime") {
    val corpus = tmp("ip-land").resolve("corpus").toString
    CorpusLanding.land(rows, 0L, corpus, hashCol = "id", parts = 2)
    val files = ls(Paths.get(corpus), "b")
    files should not be empty
    files.foreach(f => assertRecorded(f.toString))
    ImmutableParquet.key(files.head.toString) should include("#")
  }

  test("a foreign dir is inferred once, then read with no job; deleteTree forgets it") {
    val dir = tmp("ip-foreign").resolve("t").toString
    rows.write.parquet(dir)
    val (_, first) = jobsOf(spark)(ImmutableParquet.read(spark, Seq(dir)))
    first should be > 0
    val (again, second) = jobsOf(spark)(ImmutableParquet.read(spark, Seq(dir)))
    second shouldBe 0
    again.count() shouldBe 2
    // a dir deleted and rewritten with another schema is inferred anew
    ParquetTableIO.deleteTree(Paths.get(dir))
    Seq((1, 2.0)).toDF("k", "w").write.parquet(dir)
    val (fresh, third) = jobsOf(spark)(ImmutableParquet.read(spark, Seq(dir)))
    third should be > 0
    fresh.schema shouldBe spark.read.parquet(dir).schema
  }

  test("locations with differing schemas infer as plain Spark does") {
    val root = tmp("ip-mixed")
    val a = new ParquetTableIO(root.resolve("a").toString)
    val b = new ParquetTableIO(root.resolve("b").toString)
    a.overwrite(Seq((1L, "x")).toDF("id", "v"))
    b.overwrite(Seq((2L, 3)).toDF("id", "w"))
    val dirs = Seq(a.currentDir.get, b.currentDir.get)
    val merged = ImmutableParquet.read(spark, dirs)
    merged.schema shouldBe spark.read.parquet(dirs: _*).schema
    merged.count() shouldBe 2
  }
}

object ImmutableParquetSpec {

  /** `body`'s result and the Spark jobs it ran — counted in a job
    * group of this thread, so suites running beside it cannot
    * pollute; a barrier job proves the bus delivered every start.
    */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val barrier = s"$group-barrier"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val seenBarrier = new java.util.concurrent.atomic.AtomicBoolean()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        if (g.contains(group)) jobs.incrementAndGet()
        if (g.contains(barrier)) seenBarrier.set(true)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobGroup(barrier, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seenBarrier.get && System.currentTimeMillis() < deadline)
        Thread.sleep(20L)
      require(seenBarrier.get, "listener never saw the barrier job")
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
