package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.{SideSpec, SyncSpec, Watermark}
import graft.sources.{ParquetTableIO, SnapshotSourceIO, TableIO}

/** A windowed sync leg commits only its LWW winners as a delta that
  * every read resolves. These specs hold that path to the full merge
  * and rewrite it replaces: tick by tick, both stores must equal what
  * the full-merge path publishes, rows and schema.
  */
class SyncDeltaSpec extends SparkSpec {

  private val period = 60000L
  private val t0 = 1709251200000L // 2024-03-01T00:00Z
  private def window(k: Int) = Watermark.Span(t0 + (k - 1) * period, t0 + k * period)

  private val spec = SyncSpec("d", SideSpec("left", Some("L")),
    SideSpec("right", Some("R")), filterDate = true, ignoreSameSource = true)

  /** The same store through the default [[TableIO.pin]]: every leg is
    * a full merge published as a new base.
    */
  private final class FullMerge(io: TableIO) extends TableIO {
    def path: String = io.path
    def read(spark: SparkSession): DataFrame = io.read(spark)
    def exists: Boolean = io.exists
    def prepare(df: DataFrame): TableIO.Prepared = io.prepare(df)
  }

  private final case class Rec(id: String, version: Long, text: String,
      source: String, extra: String)

  private def frame(rows: Seq[Rec], extraCol: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r.id, r.version, r.text, r.source, r.extra)), 2),
      StructType(Seq(StructField("id", StringType), StructField("version", LongType),
        StructField("text", StringType), StructField("source", StringType),
        StructField(extraCol, StringType))))

  /** Seeded stores whose rows carry versions in the windows of ticks
    * 1..`ticks`, so each tick moves new rows with no write between
    * ticks: one-sided updates, cross-side conflicts, exact
    * (id, version) ties, echoes, inserts, and at tick 1 an id held
    * twice at one version by each store. The left store has an extra
    * `tag` column, the right one a `note` column.
    */
  private def seeded(seed: Long, shared: Int, ticks: Int): (Seq[Rec], Seq[Rec]) = {
    val rnd = new Random(seed)
    def txt() = rnd.alphanumeric.take(6).mkString
    def old() = t0 - 1 - rnd.nextInt(5 * 86400) * 1000L
    def in(k: Int) = t0 + (k - 1) * period + 1 + rnd.nextInt(period.toInt - 1)
    val ids = (0 until shared).map(i => f"id-$i%05d")
    val base = ids.map(id => id -> (old(), txt(), if (rnd.nextBoolean()) "L" else "R"))
    val l = mutable.LinkedHashMap.empty[String, Rec]
    val r = mutable.LinkedHashMap.empty[String, Rec]
    base.foreach { case (id, (v, t, s)) =>
      l(id) = Rec(id, v, t, s, s"tag-$id"); r(id) = Rec(id, v, t, s, null)
    }
    val free = mutable.Queue(rnd.shuffle(ids): _*)
    var fresh = 0
    def newId() = { fresh += 1; s"new-$fresh" }
    (1 to ticks).foreach { k =>
      (0 until 3).foreach { _ =>
        val a = free.dequeue(); l(a) = Rec(a, in(k), txt(), "L", s"tag-$k")
        val b = free.dequeue(); r(b) = Rec(b, in(k), txt(), "R", s"note-$k")
      }
      (0 until 2).foreach { _ => // conflicts: both sides moved the id
        val c = free.dequeue()
        l(c) = Rec(c, in(k), txt(), "L", s"tag-$k"); r(c) = Rec(c, in(k), txt(), "R", s"note-$k")
      }
      val tie = free.dequeue()
      val tv = in(k)
      l(tie) = Rec(tie, tv, "tie-l", "L", null); r(tie) = Rec(tie, tv, "tie-r", "R", null)
      val (el, er) = (free.dequeue(), free.dequeue()) // echoes: tagged with the other side
      l(el) = Rec(el, in(k), txt(), "R", null); r(er) = Rec(er, in(k), txt(), "L", null)
      val (nl, nr) = (newId(), newId())
      l(nl) = Rec(nl, in(k), txt(), "L", s"tag-$k"); r(nr) = Rec(nr, in(k), txt(), "R", s"note-$k")
    }
    // tick 1 touches an id the right store holds twice at one version
    // (newer than the left's row), and one the left store holds twice
    val (dy, dz) = (free.dequeue(), free.dequeue())
    val vy = in(1)
    l(dy) = Rec(dy, vy - 1, "y-l", "L", null)
    val vz = in(1)
    r(dz) = Rec(dz, vz - 1, "z-r", "R", null)
    val dupR = Seq(Rec(dy, vy, "y-1", "R", null), Rec(dy, vy, "y-2", "R", null))
    val dupL = Seq(Rec(dz, vz, "z-1", "L", null), Rec(dz, vz, "z-2", "L", null))
    (l.values.filterNot(_.id == dz).toSeq ++ dupL,
      r.values.filterNot(_.id == dy).toSeq ++ dupR)
  }

  private def content(df: DataFrame): (Seq[(String, DataType)], Seq[String]) =
    (df.schema.map(f => f.name -> f.dataType),
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted)

  private def manifestLines(io: TableIO): Int =
    Files.readAllLines(Paths.get(io.path, "_current")).size

  /** Runs `ticks` windows over a delta pair and a full-merge pair
    * seeded alike; after every tick both pairs must hold the same rows
    * and schema and report the same leg counts. Returns the manifest
    * sizes the delta pair went through.
    */
  private def equivalent(s: SyncSpec, ticks: Int,
      delta: (TableIO, TableIO), full: (TableIO, TableIO)): Seq[Int] = {
    (1 to ticks).flatMap { k =>
      val d = SyncRunner.runOnce(spark, s, SyncRunner.Sides(delta._1, delta._2), Some(window(k)))
      val f = SyncRunner.runOnce(spark, s, SyncRunner.Sides(full._1, full._2), Some(window(k)))
      withClue(s"tick $k: ") {
        d.legs.map(l => (l.rows, l.conflicts)) shouldBe f.legs.map(l => (l.rows, l.conflicts))
        content(delta._1.read(spark)) shouldBe content(full._1.read(spark))
        content(delta._2.read(spark)) shouldBe content(full._2.read(spark))
      }
      Seq(manifestLines(delta._1), manifestLines(delta._2))
    }
  }

  private def dirs(prefix: String): Path = Files.createTempDirectory(prefix)

  test("connector stores: delta ticks equal the full merge until and after a fold") {
    val (l, r) = seeded(11L, 300, 12)
    val d = dirs("delta-eq")
    def store(n: String) = new SnapshotSourceIO(d.resolve(n).toString)
    val (dl, dr, fl, fr) = (store("dl"), store("dr"), store("fl"), store("fr"))
    Seq(dl -> l, fl -> l).foreach { case (io, rows) => io.bootstrap(frame(rows, "tag")) }
    Seq(dr -> r, fr -> r).foreach { case (io, rows) => io.bootstrap(frame(rows, "note")) }
    val sizes = equivalent(spec, 12, (dl, dr), (new FullMerge(fl), new FullMerge(fr)))
    sizes.max should be >= 3 // deltas piled up...
    sizes.sliding(2).exists { case Seq(a, b) => b < a } shouldBe true // ...and folded
  }

  test("day-partitioned stores: delta ticks equal the full merge until and after a fold") {
    val (l, r) = seeded(12L, 300, 12)
    val d = dirs("delta-eq-day")
    def store(n: String) = ParquetTableIO.dayPartitioned(d.resolve(n).toString, "version")
    val (dl, dr, fl, fr) = (store("dl"), store("dr"), store("fl"), store("fr"))
    Seq(dl -> l, fl -> l).foreach { case (io, rows) => io.overwrite(frame(rows, "tag")) }
    Seq(dr -> r, fr -> r).foreach { case (io, rows) => io.overwrite(frame(rows, "note")) }
    val sizes = equivalent(spec.copy(dayCol = Some("_day")), 12,
      (dl, dr), (new FullMerge(fl), new FullMerge(fr)))
    sizes.max should be >= 3
    sizes.sliding(2).exists { case Seq(a, b) => b < a } shouldBe true
    // deltas keep the day layout
    val delta = Files.readAllLines(Paths.get(dl.path, "_current")).get(1).split('\t').head
    new java.io.File(dl.path, delta).list().exists(_.startsWith("_day=")) shouldBe true
  }

  test("leg conflicts count the incoming rows that did not win, on both paths") {
    val inWin = t0 + 500
    // left → right: a tie (incumbent keeps), an older row, an echo
    // (dropped before the merge) and an insert; right → left: the tie
    // and a newer row
    val l = Seq(Rec("k1", inWin, "l-tie", "L", null), Rec("k2", inWin, "l-older", "L", null),
      Rec("e1", inWin, "echo", "R", null), Rec("n1", inWin, "l-new", "L", null))
    val r = Seq(Rec("k1", inWin, "r-tie", "R", null), Rec("k2", inWin + 5, "r-newer", "R", null))
    Seq(false, true).foreach { fullPath =>
      val d = dirs("conflicts")
      def store(n: String, rows: Seq[Rec]) = {
        val io = new ParquetTableIO(d.resolve(n).toString)
        io.overwrite(frame(rows, "extra"))
        if (fullPath) new FullMerge(io) else io
      }
      val rep = SyncRunner.runOnce(spark, spec,
        SyncRunner.Sides(store("l", l), store("r", r)), Some(window(1)))
      withClue(s"full path $fullPath: ") {
        rep.legs.map(g => (g.rows, g.conflicts)) shouldBe Seq((3L, 2L), (2L, 1L))
      }
    }
  }

  test("a leg with no winners still publishes the evolved schema") {
    val inWin = t0 + 500
    val d = dirs("evolve")
    val (l, r) = (new ParquetTableIO(d.resolve("l").toString),
      new ParquetTableIO(d.resolve("r").toString))
    l.overwrite(frame(Seq(Rec("a", inWin, "t", "L", "tag-a")), "tag"))
    r.overwrite(frame((1 to 20).map(i => Rec(s"b$i", t0 - 500, "u", "R", "note")), "note"))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), Some(window(1)))
    // nothing crossed right → left, yet the left store gained `note`
    manifestLines(l) shouldBe 2
    l.read(spark).columns.toSeq shouldBe Seq("id", "version", "text", "source", "tag", "note")
    l.read(spark).collect().map(_.toSeq) shouldBe
      Array(Seq("a", inWin, "t", "L", "tag-a", null))
    // a leg with no winners and no new column stages nothing (the
    // right store's one-row delta is far below the fold share)
    val before = Files.readString(Paths.get(r.path, "_current"))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), Some(window(2)))
    Files.readString(Paths.get(r.path, "_current")) shouldBe before
  }

  test("after 20 delta ticks a store holds at most two manifests' dirs") {
    val (l, r) = seeded(13L, 400, 20)
    val d = dirs("hygiene")
    val (dl, dr) = (new ParquetTableIO(d.resolve("l").toString),
      new ParquetTableIO(d.resolve("r").toString))
    dl.overwrite(frame(l, "tag"))
    dr.overwrite(frame(r, "note"))
    def named(io: ParquetTableIO) =
      Files.readAllLines(Paths.get(io.path, "_current")).toArray.map(_.toString.split('\t').head).toSet
    def onDisk(io: ParquetTableIO) = {
      val s = Files.list(Paths.get(io.path))
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).filter(_.startsWith("v-")).toSet
      finally s.close()
    }
    var prev = Seq(named(dl), named(dr))
    (1 to 20).foreach { k =>
      SyncRunner.runOnce(spark, spec, SyncRunner.Sides(dl, dr), Some(window(k)))
      val cur = Seq(named(dl), named(dr))
      Seq(dl, dr).zipWithIndex.foreach { case (io, i) =>
        withClue(s"tick $k, ${io.path}: ") {
          onDisk(io).subsetOf(cur(i) ++ prev(i)) shouldBe true
        }
      }
      prev = cur
    }
  }
}
