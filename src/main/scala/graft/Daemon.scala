package graft

import org.apache.spark.sql.SparkSession

import graft.core.SyncConfig
import graft.operators.SyncRunner
import graft.sources.ParquetTableIO

/** E1 — the daemon entry point (reference `SyncCassElastic.py`):
  * load the JSON config, then run one bidirectional tick per period,
  * forever (or `SPARK_GRAFT_TICKS` ticks — for tests/smoke runs).
  *
  * The reference's drift-corrected sleep
  * (`sleep(period - ((now-start) % period))`, SyncCassElastic.py:45-47)
  * is kept: ticks stay aligned to the period grid no matter how long a
  * tick takes. Pid files / kill scripts are process management, out of
  * engine scope (SURVEY.md §2.9 T6); the streaming-native alternative
  * is streaming.StreamSync with Trigger.ProcessingTime.
  *
  * Usage: Daemon <config.json> <watermarkFile> <dataRoot>
  * — each sync spec's `table`/`index` name resolves to a parquet store
  * at `<dataRoot>/<name>`.
  */
object Daemon {

  /** Millis until the next period-grid tick — always in (0, period]. */
  def delayToNext(periodMs: Long, startMs: Long, nowMs: Long): Long = {
    require(periodMs > 0, "period must be positive")
    periodMs - ((nowMs - startMs) % periodMs)
  }

  /** One tick over every spec in the config. Undated stores run
    * through the DSv2 connector ([[graft.sources.SnapshotSourceIO]] —
    * pinned reads, pushdown, atomic per-store publish), so the
    * daemon's own E2E path exercises the same seam a production
    * deployment fronts with Cassandra/ES connectors. Day-partitioned
    * stores keep the direct layout: the derived `dayCol` partitioning
    * that turns window scans into partition pruning is a store-layer
    * concern the connector write path doesn't carry.
    */
  def tick(spark: SparkSession, cfg: SyncConfig.Config, wmPath: String,
      dataRoot: String, nowMs: Long): Seq[SyncRunner.RunReport] = {
    val specs = cfg.syncs.map { spec =>
      def io(table: String): graft.sources.TableIO = spec.dayCol match {
        case Some(d) =>
          ParquetTableIO.dayPartitioned(s"$dataRoot/$table", spec.versionCol, d)
        case None => new graft.sources.SnapshotSourceIO(s"$dataRoot/$table")
      }
      spec -> SyncRunner.Sides(io(spec.left.table), io(spec.right.table))
    }
    SyncRunner.runAll(spark, specs, wmPath, nowMs)
  }

  /** CLI argument errors, checked BEFORE any SparkSession spins up —
    * message parity with the reference CLI (tests/testMain.py:21-32):
    * missing argument → "too few arguments" (exit 2, argparse's code),
    * absent config file → "No such file or directory". Bad JSON is the
    * loader's business (SyncConfig.load → "No JSON object could be
    * decoded", exit 1 like an uncaught Python exception).
    */
  def cliError(args: Array[String]): Option[(Int, String)] =
    if (args.length < 3)
      Some(2 -> ("too few arguments: " +
        "usage: Daemon <config.json> <watermarkFile> <dataRoot>"))
    else if (!new java.io.File(args(0)).isFile)
      Some(2 -> s"No such file or directory: '${args(0)}'")
    else None

  def main(args: Array[String]): Unit = {
    cliError(args).foreach { case (code, msg) =>
      System.err.println(s"[daemon] $msg")
      sys.exit(code)
    }
    val Array(configPath, wmPath, dataRoot) = args.take(3)
    val maxTicks = sys.env.get("SPARK_GRAFT_TICKS").map(_.toInt)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = try SyncConfig.load(spark, configPath) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[daemon] ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
    val periodMs = cfg.periodSeconds * 1000
    val start = System.currentTimeMillis()
    var n = 0
    while (maxTicks.forall(n < _)) {
      val reports = tick(spark, cfg, wmPath, dataRoot, System.currentTimeMillis())
      reports.foreach { r =>
        val status = r.error.map(e => s"FAILED: $e").getOrElse("ok")
        System.err.println(s"[daemon] ${r.spec}: $status " +
          r.legs.map(l => s"${l.name}=${l.rows} (${l.conflicts} conflicts)").mkString(" "))
      }
      n += 1
      if (maxTicks.forall(n < _))
        Thread.sleep(delayToNext(periodMs, start, System.currentTimeMillis()))
    }
    spark.stop()
  }
}
