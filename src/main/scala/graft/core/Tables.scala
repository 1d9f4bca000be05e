package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.ImmutableParquet

/** Uniform access to the driver-provided parquet tables
  * (`/root/testdata/sf*`; see TESTDATA.md). At cluster scale the same
  * interface fronts a catalog table or connector-backed source — the
  * engine's operators only see DataFrames.
  */
object Tables {

  /** The driver-provided tables are immutable for the life of a
    * process by the driver contract, so they read through
    * [[graft.sources.ImmutableParquet]]: the footer schema is inferred
    * once per file, and the resolved plan (file listing + schema,
    * measured 91 ms of pure driver time per call at sf0.1) is kept
    * per (session, file) instead of re-resolved per query function
    * call. NO results are cached: the value is an unexecuted logical
    * plan; every action still scans parquet. Child sessions carry
    * scoped confs (nanosAsLong) that change how the file reads, so
    * their plans sit under their own key (`#nanos`).
    *
    * SHARED SESSIONS ONLY: plan keys hold strong references to their
    * SparkSession, so entries live for the process (or until the file
    * is deleted through `ParquetTableIO.deleteTree`). That is the
    * intended shape for the process-long sessions every entry point
    * (Bench/Verify/PlanDump, the test harness) uses; a caller spinning
    * up short-lived child sessions must not route them through
    * [[load]] or each one is pinned for process lifetime.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ImmutableParquet.cached(spark, s"$sfDir/$name.parquet")

  /** `events` with normalized time columns, adaptive to the generator's
    * `ts` physical type (it has shipped both TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) across driver versions).
    * Normalized output, identical either way:
    *   - `version` — epoch millis (the reference's `unix_time_millis`
    *     versioning, reference utils.py:68-74), matching DuckDB's
    *     `epoch_ms(ts)` on the same file;
    *   - `ts` — µs-precision TimestampType (what DuckDB's reader also
    *     yields), so downstream date functions agree across engines.
    * Nanos arrive as LongType via `legacy.parquet.nanosAsLong`; integer
    * `div`, never `/`: epoch-nanos ≈ 1.7e18 exceeds a double's 2^53
    * exact-integer range, so float division would corrupt versions.
    * Micros arrive as TIMESTAMP_NTZ; the cast to TimestampType reads
    * the wall-clock as session-local, so the engine-wide UTC session
    * convention (every entry point sets spark.sql.session.timeZone=UTC)
    * is what keeps `unix_millis` equal to DuckDB's naive-UTC epoch_ms.
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(readMaybeNanos(spark, s"$sfDir/events.parquet"))

  /** Child session carrying `legacy.parquet.nanosAsLong` plus the
    * parent's session conventions (time zone, shuffle width) — the
    * SCOPED way to read a possibly-nanos parquet file. Serve paths
    * must never `spark.conf.set` on the shared session: a global flag
    * flipped as a side effect of serving one query changes how every
    * other query in the session reads parquet (the same child-session
    * discipline q40/q59 use for their scan flags).
    */
  def eventsSession(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
      .foreach(k => spark.conf.getOption(k).foreach(s2.conf.set(k, _)))
    s2
  }

  /** Read `path`, adapting to a TIMESTAMP(NANOS) physical type without
    * touching the shared session's conf: the plain read is tried
    * first (micros files — the common case — stay parent-session
    * plans); only the nanos rejection retries through
    * [[eventsSession]], whose returned frame carries its own scoped
    * conf for the plan's whole lifetime.
    */
  def readMaybeNanos(spark: SparkSession, path: String): DataFrame = {
    // negative-cache the nanos determination: once a path has resolved
    // as nanos, the plain read below would re-run (and re-fail) the
    // footer read + exception-chain walk on EVERY call
    val nanosKey = ImmutableParquet.key(path) + "#nanos"
    Option(ImmutableParquet.plans.get((spark, nanosKey))).getOrElse {
      try ImmutableParquet.cached(spark, path)
      catch {
        // the nanos rejection surfaces as AnalysisException from a
        // driver-side footer read, or wrapped in a SparkException when
        // schema inference ran as a job — walk the cause chain
        case e: Throwable if {
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .flatMap(t => Option(t.getMessage))
            .exists(m => m.contains("PARQUET_TYPE_ILLEGAL") && m.contains("NANOS"))
        } =>
          // cached under the PARENT session's key (a fresh scoped child
          // session per call would defeat the cache and leak sessions)
          ImmutableParquet.cachedAs(spark, nanosKey)(
            eventsSession(spark).read.parquet(path))
      }
    }
  }

  /** The type-adaptive normalization of [[loadEvents]] over an
    * already-read frame — for callers (the incremental-artifact piece
    * builders) that receive raw event file subsets instead of reading
    * the table themselves. Readers on a possibly-nanos file must read
    * under [[eventsSession]] (nanos arrive as LongType only with the
    * flag), as [[loadEvents]] and `EventSketchStore` do.
    */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("version", expr("ts div 1000000"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("version", expr("unix_millis(ts)"))
    }
}
