package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `corpus_batch`: the LLM-data operators as batch queries.
  *
  * Each op is one run of a query from [[CorpusBatch.Queries]] over
  * seeded tables shaped like the engine's test data. Pass 1 starts from
  * the run's empty artifact root, so it pays every store's cold build;
  * later passes are warm. The seed permutes the query order of each
  * pass, so shared-store builds are charged to different queries while
  * the pass total stays put.
  *
  * A query run is timed up to its output written as parquet: the write
  * reads every output row and column, so column pruning cannot drop
  * work a consumer pays for. The runner checks every written output
  * against the query's DuckDB oracle afterwards, untimed.
  */
final class CorpusBatch(ctx: Ctx) extends Workload {
  import CorpusBatch._

  private val spark = ctx.spark
  private val trace = ctx.trace
  private var dir: Path = _
  private def data = dir.resolve("data").toString

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(dir)
    Tables.write(spark, new SplittableRandom(ctx.seed), data)
  }

  /** The code paths every query shares (scan, join, aggregate, write),
    * over the same tables but through no store.
    */
  def warmup(): Unit = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    docs.select(explode(split(col("text"), " ")).as("w")).groupBy("w").count()
      .write.parquet(dir.resolve("warmup").toString)
    spark.read.parquet(s"$data/lineitem.parquet")
      .join(spark.read.parquet(s"$data/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(sum("l_quantity")).collect()
  }

  /** One query run; `span` is its trace span, -1 when untraced. */
  private final case class QRun(pass: Int, q: String, wall: Double, out: String,
      ok: Boolean, span: Int)

  def run(): Outcome = {
    val runs = mutable.ArrayBuffer.empty[QRun]
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double, Int)]
    val minPasses = if (ctx.traced) 5 else 3
    val t0 = System.nanoTime()
    var pass = 1
    while (pass <= minPasses || Workload.seconds(t0) < ctx.seconds) {
      val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(Queries)
      val traced = ctx.tracedOp(pass)
      Workload.settle()
      val ps = System.nanoTime()
      val (_, op) = trace.op(traced, "op", s"pass-$pass") {
        order.foreach { q =>
          val out = dir.resolve("out").resolve(s"$q-$pass").toString
          val id = trace.nextSpanId
          val s = System.nanoTime()
          val ok = try {
            trace.span(Layers(q), q)(SparkEntry.queries(q)(spark, data).write.parquet(out))
            true
          } catch { case NonFatal(e) =>
            System.err.println(s"perfbench: $q pass $pass failed: $e")
            false
          }
          runs += QRun(pass, q, Workload.seconds(s), out, ok, id)
        }
      }
      passes += ((traced, Workload.seconds(ps), op))
      pass += 1
    }
    val artifactMb = Workload.sizeMb(Paths.get(sys.env("SPARK_GRAFT_INDEX_DIR")))

    val warm = passes.drop(1)
    val warmRuns = runs.filter(_.pass > 1)
    val perQuery = Queries.flatMap { q =>
      val traced = warmRuns.filter(r => r.q == q && r.span >= 0).map(r => trace.of(r.span))
      Seq(s"query.$q.cold_s" -> runs.find(r => r.pass == 1 && r.q == q).map(_.wall).getOrElse(0.0),
        s"query.$q.warm_s" -> Stats.median(warmRuns.filter(_.q == q).map(_.wall).toSeq),
        s"query.$q.jobs" -> Stats.mean(traced.map(_.jobs.toDouble).toSeq),
        s"query.$q.driver_gap_s" -> Stats.mean(traced.map(_.driverGapS).toSeq))
    }.toMap
    val layers = Workload.sparkLayers(trace, warm.map(_._3).toSeq) ++ perQuery ++ Map(
      "sources.artifact_mb" -> artifactMb,
      "trace.overhead_share" -> Workload.overheadShare(
        warm.map { case (t, w, _) => ("warm", t, w) }.toSeq))
    Outcome(runs.size.toLong, runs.count(!_.ok).toLong,
      Map("op_median_s" -> Stats.median(warm.map(_._2).toSeq),
        "rate_per_s" -> Queries.size / passes.head._2),
      layers,
      Map("data_dir" -> data,
        "oracle_runs" -> runs.filter(_.ok).map(r => Map("query" -> r.q, "dir" -> r.out,
          "oracle" -> SparkEntry.oracleSql.get(r.q).orNull)).toSeq,
        "op_walls_s" -> Map("cold_pass" -> Seq(passes.head._2),
          "warm_pass" -> warm.map(_._2).toSeq)))
  }
}

object CorpusBatch {
  /** One query per module the workload exists for, with the module its
    * trace span is charged to: similarity and functions (hashed TF-IDF
    * k-NN over its store), the iterative graph operators (PageRank) and
    * multimodal (perceptual-hash ingest screen).
    */
  val Layers: Map[String, String] = Map("v22_tfidf_knn" -> "similarity",
    "q43_pagerank" -> "operators", "m8_media_ingest_screen" -> "multimodal")
  val Queries: Seq[String] = Layers.keys.toSeq.sorted
}

/** The seeded tables the queries read, with the size and shape that
  * the engine's scale-factor-0.01 test data (its correctness tier,
  * seed 42, not part of a checkout) was measured to have:
  *
  *  - `documents`: 500 documents over a vocabulary of 30 words drawn
  *    uniformly, 10 to 99 words each (uniform), `lang` about 42 % `en`
  *    and the rest spread evenly over `de`, `es`, `fr` and `zh`,
  *    `source` = `src<doc_id % 20>`; 5 % of the documents copy another
  *    document's text (itself possibly such a copy) with ` dup`
  *    appended. Scale factor 0.1 has the same shape at 5000
  *    documents. A 30-word vocabulary makes almost every pair of
  *    documents share most of their token set: the degenerate
  *    near-duplicate regime the similarity and dedup code meets on
  *    that data.
  *  - `orders` and `lineitem`: 15000 orders of 1500 customers, dated
  *    uniformly from 1995-01-01 to 2001-08-01, and 60000 line items on
  *    uniformly drawn orders (so a Poisson-like count per order, some
  *    orders with none) over 2000 parts and 100 suppliers, shipped
  *    uniformly from 1995-01-02 to 2001-11-04.
  */
object Tables {
  val Docs = 500
  val Customers = 1500
  val Parts = 2000
  val Suppliers = 100
  val Orders = 15000
  val Lines = 60000

  private val Words = ("a agg batch big column customer data fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table " +
    "the value vector window").split(" ")
  private val DupSuffix = " dup"
  private val DupPct = 5
  private val OtherLangs = Array("de", "es", "fr", "zh")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val OrderStatus = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val Day = 86400000L
  private val OrderFrom = 788918400000L // 1995-01-01
  private val OrderDays = 2404
  private val ShipFrom = OrderFrom + Day
  private val ShipDays = 2498

  /** A fresh document text: 10 to 99 words of the vocabulary. */
  private def text(rng: SplittableRandom): String =
    (0 until 10 + rng.nextInt(90)).map(_ => Words(rng.nextInt(Words.length))).mkString(" ")

  /** `n` document texts, 5 % of them another one's text plus [[DupSuffix]]. */
  def texts(rng: SplittableRandom, n: Int): IndexedSeq[String] = {
    val t = Array.fill(n)(text(rng))
    (0 until n).foreach { i =>
      if (n > 1 && rng.nextInt(100) < DupPct) {
        val j = (i + 1 + rng.nextInt(n - 1)) % n
        t(i) = t(j) + DupSuffix
      }
    }
    t.toIndexedSeq
  }

  def write(spark: SparkSession, rng: SplittableRandom, dir: String): Unit = {
    def out(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t)
    def money(lo: Double, hi: Double) =
      math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0
    def date(from: Long, days: Int) = new Timestamp(from + rng.nextInt(days + 1) * Day)

    val docs = texts(rng, Docs).zipWithIndex.map { case (text, i) =>
      val lang = if (rng.nextInt(100) < 42) "en" else OtherLangs(rng.nextInt(OtherLangs.length))
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    out("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docs)

    out("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until Orders).map(i => Row(i.toLong, rng.nextInt(Customers).toLong,
        OrderStatus(rng.nextInt(3)), money(1000, 500000), date(OrderFrom, OrderDays),
        Priorities(rng.nextInt(Priorities.length)))))
    val lines = (0 until Lines).map { _ =>
      Row(rng.nextInt(Orders).toLong, rng.nextInt(Parts).toLong,
        rng.nextInt(Suppliers).toLong, 1 + rng.nextInt(7), (1 + rng.nextInt(50)).toDouble,
        money(900, 105000), rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
        ReturnFlags(rng.nextInt(3)), LineStatus(rng.nextInt(2)), date(ShipFrom, ShipDays))
    }
    out("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))), lines)
  }
}
