package graft

import java.nio.file.Files

import org.scalacheck.Gen

import graft.core.Watermark

class DaemonSpec extends SparkSpec {
  import spark.implicits._

  test("delayToNext stays in (0, period] and keeps ticks on the grid") {
    val gen = Gen.zip(Gen.chooseNum(1L, 60000L), Gen.chooseNum(0L, 1000000L))
    checkProp(gen, cases = 30) { case (period, elapsed) =>
      val start = 1700000000000L
      val now = start + elapsed
      val d = Daemon.delayToNext(period, start, now)
      assert(d > 0 && d <= period)
      (now + d - start) % period shouldBe 0L // lands exactly on the grid
    }
  }

  test("config-driven tick syncs both stores end to end") {
    val base = Files.createTempDirectory("daemon")
    val dataRoot = base.resolve("data").toString
    val wm = base.resolve("wm.json").toString

    // seed both stores with overlapping ids at different versions
    Seq(("a", 10L, "left-old"), ("b", 30L, "left-new"))
      .toDF("id", "version", "text")
      .write.parquet(s"$dataRoot/store_l")
    Seq(("a", 20L, "right-new"), ("b", 5L, "right-old"))
      .toDF("id", "version", "text")
      .write.parquet(s"$dataRoot/store_r")

    val cfgPath = base.resolve("config.json")
    Files.writeString(cfgPath,
      """{ "period": 1, "syncs": [
        |  { "name": "t", "id_col": "id", "version_col": "version",
        |    "cassandra": { "table": "store_l" },
        |    "elasticsearch": { "index": "store_r" } } ] }""".stripMargin)

    val cfg = core.SyncConfig.load(spark, cfgPath.toString)
    cfg.periodSeconds shouldBe 60

    val reports = Daemon.tick(spark, cfg, wm, dataRoot, System.currentTimeMillis())
    reports.map(_.failed) shouldBe Seq(false)

    val expect = Set(("a", 20L, "right-new"), ("b", 30L, "left-new"))
    // read through TableIO: plain seeded dirs were adopted as v0 and
    // the tick published pointered snapshots on top of them
    new sources.ParquetTableIO(s"$dataRoot/store_l").read(spark)
      .as[(String, Long, String)].collect().toSet shouldBe expect
    new sources.ParquetTableIO(s"$dataRoot/store_r").read(spark)
      .as[(String, Long, String)].collect().toSet shouldBe expect
    // the spec's own watermark committed after its successful tick
    assert(Watermark.read(operators.SyncRunner.specWmPath(wm, "t")).isDefined)
  }

  test("CLI: too few arguments reports argparse-style error, exit code 2") {
    val Some((code, msg)) = Daemon.cliError(Array("only-config.json"))
    code shouldBe 2
    msg should include("too few arguments")
    msg should include("usage:")
  }

  test("CLI: missing config file reports 'No such file', exit code 2") {
    val Some((code, msg)) =
      Daemon.cliError(Array("/nonexistent/any.json", "wm", "root"))
    code shouldBe 2
    msg should include("No such file")
    msg should include("any.json")
  }

  test("CLI: valid arguments produce no error") {
    val f = java.nio.file.Files.createTempFile("cfg", ".json")
    try {
      java.nio.file.Files.writeString(f, """{"period": 1, "syncs": []}""")
      Daemon.cliError(Array(f.toString, "wm", "root")) shouldBe None
    } finally java.nio.file.Files.delete(f)
  }

  test("CLI: empty or undecodable config fails with 'No JSON', not a silent empty config") {
    def loadOf(content: String): Throwable = {
      val f = java.nio.file.Files.createTempFile("bogus", ".json")
      try {
        java.nio.file.Files.writeString(f, content)
        intercept[IllegalArgumentException](
          graft.core.SyncConfig.load(spark, f.toString))
      } finally java.nio.file.Files.delete(f)
    }
    // the reference's bogus.json is an EMPTY file (testMain.py:12-13)
    loadOf("").getMessage should include("No JSON object could be decoded")
    loadOf("{not json at all").getMessage should include("No JSON object could be decoded")
  }

  test("day_col config publishes day-partitioned pointered snapshots") {
    val base = Files.createTempDirectory("daemon-day")
    val dataRoot = base.resolve("data").toString
    Seq(("a", 10L, "x")).toDF("id", "version", "text")
      .write.parquet(s"$dataRoot/dl")
    Seq(("b", 20L, "y")).toDF("id", "version", "text")
      .write.parquet(s"$dataRoot/dr")
    val cfgPath = base.resolve("config.json")
    Files.writeString(cfgPath,
      """{ "period": 1, "syncs": [
        |  { "name": "d", "day_col": "_day",
        |    "cassandra": { "table": "dl" },
        |    "elasticsearch": { "index": "dr" } } ] }""".stripMargin)
    val cfg = core.SyncConfig.load(spark, cfgPath.toString)
    cfg.syncs.head.dayCol shouldBe Some("_day")

    val reports = Daemon.tick(spark, cfg, base.resolve("wm.json").toString,
      dataRoot, System.currentTimeMillis())
    reports.map(_.failed) shouldBe Seq(false)

    val l = sources.ParquetTableIO.dayPartitioned(s"$dataRoot/dl", "version")
    val out = l.read(spark)
    out.select("id").as[String].collect().toSet shouldBe Set("a", "b")
    // published through the pointer, laid out by day
    assert(l.currentDir.get.contains("v-"))
    new java.io.File(l.currentDir.get).list().count(_.startsWith("_day=")) shouldBe 1
  }

  test("every job of a tick carries the caller's job group") {
    val base = Files.createTempDirectory("daemon-group")
    val dataRoot = base.resolve("data").toString
    // two specs over four stores: the legs and the specs of the tick
    // run on threads the tick creates
    Seq("s1_l", "s1_r", "s2_l", "s2_r").zipWithIndex.foreach { case (t, i) =>
      Seq((s"id-$i", 10L + i, t)).toDF("id", "version", "text")
        .write.parquet(s"$dataRoot/$t")
    }
    val cfgPath = base.resolve("config.json")
    Files.writeString(cfgPath,
      """{ "period": 1, "syncs": [
        |  { "name": "s1", "cassandra": { "table": "s1_l" },
        |    "elasticsearch": { "index": "s1_r" } },
        |  { "name": "s2", "day_col": "_day", "cassandra": { "table": "s2_l" },
        |    "elasticsearch": { "index": "s2_r" } } ] }""".stripMargin)
    val cfg = core.SyncConfig.load(spark, cfgPath.toString)

    // detached folds of other suites would submit jobs with no group
    val idle = System.currentTimeMillis() + 60000L
    while (sources.IncrementalDocArtifact.Maintenance.queueDepth > 0 &&
        System.currentTimeMillis() < idle) Thread.sleep(50L)

    val sc = spark.sparkContext
    val group = s"tick-${java.util.UUID.randomUUID()}"
    val barrier = s"$group-barrier"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "daemon tick")
      val reports = Daemon.tick(spark, cfg, base.resolve("wm.json").toString,
        dataRoot, System.currentTimeMillis())
      reports.map(_.failed) shouldBe Seq(false, false)
      // the bus delivers in order: once the barrier job's start is
      // seen, so is every job of the tick
      sc.setJobGroup(barrier, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!groups.contains(barrier) && System.currentTimeMillis() < deadline)
        Thread.sleep(20L)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    groups.contains(barrier) shouldBe true
    val tickJobs = groups.toArray.map(String.valueOf(_)).filterNot(_ == barrier)
    tickJobs should not be empty
    all(tickJobs.toSeq) shouldBe group
  }
}

