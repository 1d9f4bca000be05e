package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.LwwMerge

/** The `graft-snapshot` connector over a store whose live version is a
  * base plus deltas: every entry point reads the merge-on-read rows.
  */
class GraftSnapshotDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def store(): ParquetTableIO =
    new ParquetTableIO(Files.createTempDirectory("snapdelta").resolve("store").toString)

  /** One windowed LWW upsert of `rows` (id, version, val), committed as
    * a delta on top of the live version.
    */
  private def upsert(io: ParquetTableIO, rows: (Long, Long, String)*): Unit = {
    val p = io.pin(spark)
    p.upsert(p.df, rows.toDF("id", "version", "val"), TableIO.Upsert(Seq("id"), "version",
      windowed = true, new LwwMerge.Counts(s"upsert-${System.nanoTime()}"))).commit()
  }

  private def rows(df: DataFrame): Seq[(Long, Long, String)] =
    df.as[(Long, Long, String)].collect().toSeq.sortBy(_._1)

  private def deltas(io: ParquetTableIO): Int = io.currentManifest.get.deltas.size

  private val base = (1L to 50L).map(i => (i, 10L, s"b$i"))

  test("load, option(version) and a filtered read resolve the deltas") {
    val io = store()
    io.overwrite(base.toDF("id", "version", "val"))
    upsert(io, (3L, 20L, "d1"), (60L, 20L, "new"))
    upsert(io, (3L, 30L, "d2"), (4L, 5L, "older")) // 4 keeps its base row
    deltas(io) shouldBe 2
    val want = (base.filterNot(_._1 == 3L) :+ ((3L, 30L, "d2")) :+ ((60L, 20L, "new"))).sortBy(_._1)
    rows(io.read(spark)) shouldBe want
    val load = spark.read.format("graft-snapshot").load(io.path)
    rows(load) shouldBe want
    rows(load.filter($"id" <= 4L && $"val".startsWith("d"))) shouldBe Seq((3L, 30L, "d2"))
    load.filter($"version" > 15L).select("id").as[Long].collect().sorted shouldBe Array(3L, 60L)

    val cur = io.currentVersion
    rows(spark.read.format("graft-snapshot").option("version", cur).load(io.path)) shouldBe want
    rows(spark.read.format("graft-snapshot").option("version", cur - 1).load(io.path)) shouldBe
      (base.filterNot(_._1 == 3L) :+ ((3L, 20L, "d1")) :+ ((60L, 20L, "new"))).sortBy(_._1)
    rows(spark.read.format("graft-snapshot").option("version", cur - 2).load(io.path)) shouldBe base
  }

  test("a previous version stays readable after the next commit publishes a new base") {
    val io = store()
    io.overwrite(base.toDF("id", "version", "val"))
    upsert(io, (1L, 20L, "d1"))
    val prev = io.currentVersion
    io.overwrite(Seq((7L, 1L, "fresh")).toDF("id", "version", "val"))
    rows(spark.read.format("graft-snapshot").option("version", prev).load(io.path)).head shouldBe
      ((1L, 20L, "d1"))
  }

  test("SQL: CREATE TABLE USING graft-snapshot over deltas, filtered SELECT") {
    val io = store()
    io.overwrite((1L to 50L).map(i => (i, 10L, s"g${i % 5}")).toDF("id", "version", "val"))
    upsert(io, (5L, 20L, "g1"), (51L, 20L, "g0"))
    spark.sql("DROP TABLE IF EXISTS snap_delta_t")
    spark.sql(s"CREATE TABLE snap_delta_t USING `graft-snapshot` OPTIONS (path '${io.path}')")
    try {
      // g0 held 5, 10, …, 50; 5 moved to g1 and 51 arrived in g0
      spark.sql("SELECT count(*) AS n FROM snap_delta_t WHERE val = 'g0'")
        .as[Long].head() shouldBe 10L
      spark.sql("SELECT id FROM snap_delta_t WHERE val = 'g1' AND id <= 6")
        .as[Long].collect().sorted shouldBe Array(1L, 5L, 6L)
    } finally spark.sql("DROP TABLE snap_delta_t")
  }

  test("a change feed tick across a delta commit emits the delta's changes") {
    val io = store()
    io.overwrite(base.toDF("id", "version", "val"))
    val feed = new SnapshotChangeFeed(io.path,
      Files.createTempDirectory("feed").toString, Seq("id"))
    feed.bootstrap(spark)(_ => ())
    upsert(io, (2L, 20L, "changed"), (70L, 20L, "inserted"))
    var changes = Seq.empty[(Long, String)]
    feed.tick(spark) { ch =>
      changes = ch.select("id", "change_type").as[(Long, String)].collect().toSeq.sorted
    } shouldBe Some(io.currentVersion)
    changes shouldBe Seq((2L, "update"), (70L, "insert"))
  }

  test("a frame pinned before a commit reads its version after the next commit's cleanup") {
    val io = store()
    io.overwrite(base.toDF("id", "version", "val"))
    upsert(io, (1L, 20L, "d1"))
    val pinned = spark.read.format("graft-snapshot").load(io.path)
    val direct = io.read(spark)
    val want = rows(pinned)
    upsert(io, (1L, 30L, "d2"))
    upsert(io, (2L, 30L, "d3")) // retires nothing the pinned manifest names
    io.overwrite(Seq((9L, 1L, "fresh")).toDF("id", "version", "val"))
    rows(pinned) shouldBe want
    rows(direct) shouldBe want
    // the next commit retires the pinned base; only two manifests' dirs remain
    io.overwrite(Seq((9L, 2L, "fresher")).toDF("id", "version", "val"))
    val left = new java.io.File(io.path).list().count(_.startsWith("v-"))
    left shouldBe 2
    Files.exists(Paths.get(io.path, "_current")) shouldBe true
  }
}
