package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.core.{SideSpec, SyncSpec, Watermark}
import graft.sources.{ParquetTableIO, TableIO}

/** End-to-end run-tick scenarios mirroring the reference's five
  * integration tests (tests/testSyncClass.py:111-268) on parquet
  * stores — SURVEY.md §5.
  */
class SyncRunnerSpec extends SparkSpec {
  import spark.implicits._

  // The reference seeds relative to a watermark 5 minutes ago
  // (tests/testSyncClass.py:453-463); we use fixed epoch millis.
  private val last = 1000000L
  private val now = 2000000L
  private val span = Some(Watermark.Span(last, now))
  private val inWin = last + 500 // inside (last, now]
  private val outWin = last - 500 // before the window

  private def stores(): (ParquetTableIO, ParquetTableIO) = {
    val d = Files.createTempDirectory("sync")
    (new ParquetTableIO(d.resolve("left").toString),
      new ParquetTableIO(d.resolve("right").toString))
  }

  private def df(rows: (String, Long, String, String)*): DataFrame =
    rows.toDF("id", "version", "text", "source")

  private val spec = SyncSpec("s", SideSpec("left", Some("L")),
    SideSpec("right", Some("R")), filterDate = true, ignoreSameSource = true)

  test("left→right: only in-window rows cross (testFromCassandraToElastic)") {
    val (l, r) = stores()
    l.overwrite(df(("a", inWin, "in", "L"), ("b", outWin, "out", "L")))
    r.overwrite(df())
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    r.read(spark).select("id").as[String].collect() shouldBe Array("a")
    // left unchanged (nothing came back)
    l.read(spark).count() shouldBe 2
  }

  test("right→left symmetric (testFromElasticToCassandra)") {
    val (l, r) = stores()
    l.overwrite(df())
    r.overwrite(df(("x", inWin, "doc", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    l.read(spark).select("id").as[String].collect() shouldBe Array("x")
  }

  test("overlapping ids: newest version wins everywhere (testBothSides)") {
    val (l, r) = stores()
    l.overwrite(df(("k1", inWin + 10, "left-newer", "L"), ("k2", inWin, "left-older", "L")))
    r.overwrite(df(("k1", inWin, "right-older", "R"), ("k2", inWin + 10, "right-newer", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val want = Set(("k1", "left-newer"), ("k2", "right-newer"))
    l.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
    r.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
  }

  test("schema drift: extra right column lands on left, null-padded (testDifferentSchemas)") {
    val (l, r) = stores()
    l.overwrite(df(("a", inWin, "t", "L")))
    r.overwrite(Seq(("b", inWin, "u", "R", "extra-val"))
      .toDF("id", "version", "text", "source", "new_col"))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val lo = l.read(spark)
    lo.columns.toSet shouldBe Set("id", "version", "text", "source", "new_col")
    lo.filter($"id" === "b").select("new_col").as[String].collect() shouldBe Array("extra-val")
    lo.filter($"id" === "a").select("new_col").collect().head.isNullAt(0) shouldBe true
  }

  test("anti-echo: synced rows do not bounce back on the next tick") {
    val (l, r) = stores()
    l.overwrite(df(("a", inWin, "t", "L")))
    r.overwrite(df())
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    // tick 2 over the same window: the row (source=L) now sits on the
    // right; ignore_same_source must stop it flowing right→left as an
    // "update" (reference pyCassElastic.py:386-399).
    val r2 = SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    r2.legs(1).rows shouldBe 0 // R->L leg carried nothing
    l.read(spark).count() shouldBe 1
  }

  test("a failing spec does not abort siblings nor hold back their watermarks") {
    val d = Files.createTempDirectory("multi")
    val wm = d.resolve("wm.log").toString
    Watermark.write(wm, last) // legacy shared seed for first-ever runs
    val (l1, r1) = stores()
    l1.overwrite(df(("a", inWin, "t", "L"))); r1.overwrite(df())
    val broken = SyncRunner.Sides(
      new ParquetTableIO(d.resolve("missing-left").toString),
      new ParquetTableIO(d.resolve("missing-right").toString))
    val reports = SyncRunner.runAll(spark,
      Seq(spec -> SyncRunner.Sides(l1, r1), spec.copy(name = "broken") -> broken),
      wm, nowMillis = now)
    reports.map(_.failed) shouldBe Seq(false, true)
    // healthy sibling still ran (seeded from the shared legacy file)
    r1.read(spark).count() shouldBe 1
    // …and its OWN watermark advanced despite the failing sibling, so
    // its next window stays bounded (no unbounded (last, now] re-scan)
    Watermark.read(SyncRunner.specWmPath(wm, spec.name)) shouldBe
      Some(Watermark.truncToMinute(now))
    // the failing spec's watermark did not advance (no write on error)
    Watermark.read(SyncRunner.specWmPath(wm, "broken")) shouldBe None
    // legacy shared file is a read-only seed, never rewritten
    Watermark.read(wm) shouldBe Some(Watermark.truncToMinute(last))
  }

  test("hub config: specs sharing a store run in order and the hub loses no update") {
    val d = Files.createTempDirectory("hub")
    val wm = d.resolve("wm.log").toString
    Watermark.write(wm, last)
    def io(p: Path) = new ParquetTableIO(p.toString)
    val (l, h, r) = (io(d.resolve("left")), io(d.resolve("hub")), io(d.resolve("right")))
    // the second spec names the hub through another spelling of its path
    val hubAlias = io(d.resolve(".").resolve("..").resolve(d.getFileName).resolve("hub"))
    val (x, y) = stores()
    l.overwrite(df(("a", inWin, "from-l", "L")))
    h.overwrite(df(("h", inWin, "on-hub", "H")))
    r.overwrite(df(("b", inWin, "from-r", "R")))
    x.overwrite(df(("s", inWin, "solo", "L"))); y.overwrite(df())
    def side(t: String, src: String) = SideSpec(t, Some(src))
    val lh = spec.copy(name = "lh", left = side("left", "L"), right = side("hub", "H"))
    val hr = spec.copy(name = "hr", left = side("hub", "H"), right = side("right", "R"))
    val reports = SyncRunner.runAll(spark, Seq(
      lh -> SyncRunner.Sides(l, h),
      spec.copy(name = "solo") -> SyncRunner.Sides(x, y), // shares no store
      hr -> SyncRunner.Sides(hubAlias, r)), wm, nowMillis = now)
    reports.map(_.spec) shouldBe Seq("lh", "solo", "hr")
    reports.map(_.failed) shouldBe Seq(false, false, false)
    def ids(t: TableIO) = t.read(spark).select("id").as[String].collect().toSet
    // hr ran after lh committed: the hub keeps both specs' merges...
    ids(h) shouldBe Set("a", "h", "b")
    // ...and L's in-window row travelled on through the hub to R
    ids(r) shouldBe Set("a", "h", "b")
    ids(l) shouldBe Set("a", "h")
    ids(y) shouldBe Set("s")
  }

  test("a failed stage aborts the other leg's stage; a healthy sibling still commits") {
    val d = Files.createTempDirectory("abort")
    val wm = d.resolve("wm.log").toString
    Watermark.write(wm, last)
    val (l1, r1) = stores()
    l1.overwrite(df(("a", inWin, "t", "L"))); r1.overwrite(df())
    val (l, r) = stores()
    l.overwrite(df(("x", inWin, "t", "L")))
    r.overwrite(df(("y", inWin, "u", "R")))
    def versionDirs(io: ParquetTableIO): Set[String] = {
      val ls = Files.list(Paths.get(io.path))
      try ls.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(_.startsWith("v-")).toSet
      finally ls.close()
    }
    def state(io: ParquetTableIO) =
      (Files.readString(Paths.get(io.path, "_current")), versionDirs(io))
    val before = Seq(state(l), state(r))
    @volatile var sawLeftStage = false
    // the right side stages nothing: it fails once the left leg's stage
    // is on disk, so the abort path has a staged dir to remove
    val failingRight = new TableIO {
      def path: String = r.path
      def exists: Boolean = r.exists
      def read(spark: SparkSession): DataFrame = r.read(spark)
      def prepare(df: DataFrame): TableIO.Prepared = {
        val deadline = System.currentTimeMillis() + 30000L
        while (!sawLeftStage && System.currentTimeMillis() < deadline) {
          sawLeftStage = versionDirs(l) != before.head._2
          if (!sawLeftStage) Thread.sleep(10L)
        }
        throw new IllegalStateException("right stage failed")
      }
    }
    val reports = SyncRunner.runAll(spark, Seq(
      spec.copy(name = "bad") -> SyncRunner.Sides(l, failingRight),
      spec -> SyncRunner.Sides(l1, r1)), wm, nowMillis = now)
    reports.map(_.failed) shouldBe Seq(true, false)
    reports.head.error.get should include("right stage failed")
    sawLeftStage shouldBe true
    // the left leg's staged v-* dir is gone and neither pointer moved
    Seq(state(l), state(r)) shouldBe before
    Watermark.read(SyncRunner.specWmPath(wm, "bad")) shouldBe None
    // the sibling shares no store with the failing spec and committed
    r1.read(spark).select("id").as[String].collect() shouldBe Array("a")
    Watermark.read(SyncRunner.specWmPath(wm, spec.name)) shouldBe
      Some(Watermark.truncToMinute(now))
  }

  test("a corrupt watermark file fails its spec's report, not the whole run") {
    val d = Files.createTempDirectory("corrupt")
    val wm = d.resolve("wm.log").toString
    val (l1, r1) = stores()
    l1.overwrite(df(("a", inWin, "t", "L"))); r1.overwrite(df())
    Files.writeString(d.resolve("wm.log." + spec.name), "not a watermark")
    val reports = SyncRunner.runAll(spark,
      Seq(spec -> SyncRunner.Sides(l1, r1)), wm, nowMillis = now)
    reports.map(_.failed) shouldBe Seq(true)
    reports.head.error.get should include("not a watermark")
  }

  test("end-to-end tick over day-partitioned stores (pruning-ready layout)") {
    val d = Files.createTempDirectory("daypart")
    val l = ParquetTableIO.dayPartitioned(d.resolve("left").toString, "version")
    val r = ParquetTableIO.dayPartitioned(d.resolve("right").toString, "version")
    l.overwrite(df(("a", inWin, "left-new", "L"), ("b", outWin, "stale", "L")))
    r.overwrite(df(("a", inWin - 10, "right-old", "R")))
    // dayCol wires the window into partition pruning on the scans
    SyncRunner.runOnce(spark, spec.copy(dayCol = Some("_day")),
      SyncRunner.Sides(l, r), span)
    // LWW across the partitioned layout: newest a wins everywhere,
    // out-of-window b stays left-only
    r.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe
      Set(("a", "left-new"))
    l.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe
      Set(("a", "left-new"), ("b", "stale"))
    // the published snapshots kept the day-partitioned directory layout
    new java.io.File(l.currentDir.get).list()
      .count(_.startsWith("_day=")) should be >= 1
    // the derived partition column round-trips without duplicating
    l.read(spark).columns.count(_ == "_day") shouldBe 1
  }

  test("idempotence: re-running the same window changes nothing (T5)") {
    val (l, r) = stores()
    l.overwrite(df(("a", inWin, "t", "L"), ("b", inWin + 1, "u", "L")))
    r.overwrite(df(("c", inWin, "v", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val (snapL, snapR) = (l.read(spark).collect().toSet, r.read(spark).collect().toSet)
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    l.read(spark).collect().toSet shouldBe snapL
    r.read(spark).collect().toSet shouldBe snapR
  }

  // ----- the same E2E path through the DSv2 connector (SnapshotSourceIO)

  private def connectorStores(): (graft.sources.SnapshotSourceIO,
      graft.sources.SnapshotSourceIO) = {
    val d = Files.createTempDirectory("sync-dsv2")
    (new graft.sources.SnapshotSourceIO(d.resolve("left").toString),
      new graft.sources.SnapshotSourceIO(d.resolve("right").toString))
  }

  test("full tick through the connector: LWW both ways, anti-echo, idempotent") {
    val (l, r) = connectorStores()
    l.bootstrap(df(("k1", inWin + 10, "left-newer", "L"), ("k2", inWin, "left-older", "L")))
    r.bootstrap(df(("k1", inWin, "right-older", "R"), ("k2", inWin + 10, "right-newer", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val want = Set(("k1", "left-newer"), ("k2", "right-newer"))
    l.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
    r.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
    // second tick over the same window: each side re-offers its one
    // locally-originated in-window row (at-least-once), LWW absorbs
    // them — state is unchanged (T5 through the connector)
    val r2 = SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    r2.legs.map(_.rows) shouldBe Seq(1L, 1L)
    l.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
    r.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
  }

  test("schema evolution composes with the connector tick (sync_schemas parity)") {
    val (l, r) = connectorStores()
    l.bootstrap(df(("a", inWin, "t", "L")))
    r.bootstrap(df(("b", inWin, "u", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)

    // upstream ADD COLUMN on the left: the evolved snapshot publishes
    // THROUGH the connector as a new version — the store's schema is
    // per-version, so a wider write is just the next snapshot
    val evolved = Seq(("a", inWin + 10, "t2", "L", "xval"))
      .toDF("id", "version", "text", "source", "new_col")
    val aligned = SchemaTools.align(
      l.read(spark), SchemaTools.evolve(l.read(spark).schema, evolved.schema))
    evolved.unionByName(aligned.filter($"id" =!= "a"))
      .write.format("graft-snapshot")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save(l.path)

    // tick: the runner's alignBoth carries the column right; both
    // stores now expose it, synced value included
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val ro = r.read(spark)
    ro.columns should contain("new_col")
    ro.filter($"id" === "a").select("new_col").as[String].collect() shouldBe
      Array("xval")
    // the pre-evolution row null-pads, reference insert-side semantics
    ro.filter($"id" === "b").select("new_col").collect()
      .head.isNullAt(0) shouldBe true
    l.read(spark).columns should contain("new_col")

    // time travel: the PRE-EVOLUTION right version is still readable
    // with its own (old) schema...
    val io = new ParquetTableIO(r.path)
    val prevVersion = io.currentVersion - 1
    val old = spark.read.format("graft-snapshot")
      .option("version", prevVersion).load(r.path)
    old.columns should not contain "new_col"
    // the pre-evolution snapshot is tick 1's state: a already synced
    old.select("id").as[String].collect().sorted shouldBe Array("a", "b")
    // ...and under the EVOLVED schema, where the absent column
    // null-pads at the parquet layer (no rewrite of old versions)
    val oldEvolved = spark.read.format("graft-snapshot")
      .schema(ro.schema)
      .option("version", prevVersion).load(r.path)
    oldEvolved.columns should contain("new_col")
    oldEvolved.select("new_col").collect()
      .foreach(_.isNullAt(0) shouldBe true)
  }

  test("connector read pushes the window predicate to the parquet scan") {
    val (l, _) = connectorStores()
    l.bootstrap(df(("a", inWin, "t", "L"), ("b", outWin, "old", "L")))
    val windowed = IncrementalScan(l.read(spark), "version", span.get)
    val plan = windowed.queryExecution.executedPlan.toString
    plan should include(s"GreaterThan(version,$last)")
    plan should include(s"LessThanOrEqual(version,$now)")
    windowed.select("id").as[String].collect() shouldBe Array("a")
  }
}
