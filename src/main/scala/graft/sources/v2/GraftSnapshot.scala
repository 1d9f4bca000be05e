package graft.sources.v2

import java.nio.file.Files
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SchemaTools
import graft.sources.{ImmutableParquet, ParquetTableIO}

/** DataSource V2 connector for the engine's versioned snapshot store
  * (`ParquetTableIO` layout: immutable `v-<n>-<uid>/` dirs + a tiny
  * `_current` manifest of one base and its deltas) — the Spark-native form of the connector seam
  * the reference fills with live Cassandra / Elasticsearch drivers
  * (pyCassElastic.py:172-186; this sandbox has no connector jars, so
  * the store IS the storage tier, SURVEY §7.1).
  *
  * {{{
  *   spark.read.format("graft-snapshot").load(storePath)          // live snapshot
  *   spark.read.format("graft-snapshot")
  *     .option("version", 3).load(storePath)                      // time travel
  *   df.write.format("graft-snapshot").mode("overwrite").save(storePath)
  *   spark.sql("CREATE TABLE t USING `graft-snapshot` OPTIONS (path '…')")
  * }}}
  *
  * Design, Spark-first:
  *  - a version with no deltas DELEGATES its scan to Spark's own DSv2
  *    [[ParquetTable]] over the base dir — predicate pushdown, column
  *    pruning, partition pruning and the vectorized reader are the
  *    stock parquet path, not re-implemented;
  *  - a version with deltas reads the store's merge-on-read frame
  *    (`ParquetTableIO.resolve`) through a `V1Scan`, the fallback
  *    Spark's own JDBC v2 connector uses: the scan takes the pushed
  *    filters and pruned columns into that frame, so they still reach
  *    every dir's parquet scan, and Spark re-checks every filter;
  *  - the manifest is resolved ONCE per provider instance, so a
  *    DataFrame is pinned to the version that was live when it was
  *    defined — a concurrent `commit` never changes (or half-changes)
  *    what an already-built plan reads, which is exactly the
  *    snapshot-isolation guarantee the manifest layout exists for;
  *  - `mode("overwrite")` stages a fresh base dir, hands it to
  *    parquet's own `BatchWrite` (task commits, job commit, abort
  *    cleanup all stock), and publishes the manifest only AFTER the
  *    file-level job commit succeeds — a failed write leaves the
  *    store on the old version with no partial state;
  *  - `mode("append")` is refused: a caller replaces the whole
  *    snapshot (append-shaped maintenance goes through the engine's
  *    merge operators — `LwwMerge` → overwrite, or a sync leg's delta
  *    through `ParquetTableIO`).
  *
  * Bootstrap note: the FIRST snapshot must exist before the format can
  * infer a schema — create it with `ParquetTableIO.overwrite` (or
  * point the reader at a plain parquet dir, which the store adopts as
  * version 0).
  *
  * SCHEMA EVOLUTION: the schema is PER-VERSION, not per-store — an
  * overwrite with a wider (add-column) schema simply publishes the
  * next version with that schema (`supportsExternalMetadata` lets the
  * write carry the incoming frame's schema; the staging ParquetTable
  * is built from `info.schema()`). Old versions stay readable through
  * the time-travel option with their own schema, or under the evolved
  * schema via `.schema(evolved)` where the absent column null-pads at
  * the parquet layer — no old version is ever rewritten. The sync
  * tick composes with this end-to-end (`SyncRunnerSpec` "schema
  * evolution composes with the connector tick"): one side gains a
  * column upstream, `SchemaTools.alignBoth` carries it across, and
  * both stores' next snapshots expose it — the reference's
  * `sync_schemas` ALTER-ADD side effect (pyCassElastic.py:412-446)
  * expressed as versioned snapshots.
  */
final class GraftSnapshotDataSource extends TableProvider
    with DataSourceRegister {

  override def shortName(): String = GraftSnapshotDataSource.Name

  // one resolution per provider instance = one version per
  // DataFrameReader.load() — inferSchema/inferPartitioning/getTable
  // all see the same pinned manifest even if a commit lands between calls
  @volatile private var pinned: Option[(String, ParquetTableIO.Manifest)] = None

  private def storePath(options: CaseInsensitiveStringMap): String = {
    val raw = Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-snapshot requires a path (…load(storePath) or option(\"path\", …))"))
    // the session catalog qualifies a CREATE TABLE OPTIONS path to a
    // file: URI; ParquetTableIO wants the plain filesystem path
    if (raw.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(raw)).toString
    else raw
  }

  private def resolveManifest(options: CaseInsensitiveStringMap): ParquetTableIO.Manifest = {
    val path = storePath(options)
    pinned match {
      case Some((p, m)) if p == path => m
      case _ =>
        val io = new ParquetTableIO(path)
        val m = Option(options.get("version")) match {
          case Some(v) =>
            io.versionManifest(v.toLong).getOrElse(throw new IllegalArgumentException(
              s"graft-snapshot: version $v not present at $path (only the " +
                "current and previous versions survive commit cleanup)"))
          case None =>
            io.currentManifest.getOrElse(throw new IllegalStateException(
              s"graft-snapshot: no published snapshot at $path — bootstrap " +
                "the store with ParquetTableIO.overwrite first"))
        }
        pinned = Some((path, m))
        m
    }
  }

  /** The pinned version's merge-on-read frame, when it has deltas. */
  private def resolved(options: CaseInsensitiveStringMap): Option[DataFrame] = {
    val m = resolveManifest(options)
    if (m.deltas.isEmpty) None
    else Some(new ParquetTableIO(storePath(options)).resolve(SparkSession.active, m))
  }

  // the delegate gets the user's options minus the keys this provider
  // owns, so parquet never misreads the STORE path as a data path
  private def delegateOptions(options: CaseInsensitiveStringMap): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap(
      options.asCaseSensitiveMap().asScala
        .filter { case (k, _) => k.toLowerCase != "path" && k.toLowerCase != "version" }
        .asJava)

  private def delegate(options: CaseInsensitiveStringMap,
      schema: Option[StructType]): ParquetTable =
    ParquetTable(s"graft-snapshot `${storePath(options)}`",
      SparkSession.active, delegateOptions(options),
      Seq(resolveManifest(options).base), schema, classOf[ParquetFileFormat])

  // published dirs are immutable: the schema their writer recorded, or
  // one inference per dir (ImmutableParquet) — no footer job per load.
  // An adopted plain dir (dir == store path) is not, and infers per load
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = resolveManifest(options).base
    resolved(options).map(_.schema).getOrElse {
      if (base == storePath(options)) delegate(options, None).schema
      else ImmutableParquet.read(SparkSession.active, Seq(base)).schema
    }
  }

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    delegate(options, None).partitioning()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new GraftSnapshotTable(storePath(options),
      delegate(options, Option(schema)), options,
      resolved(options).map(df => if (schema == null || df.schema == schema) df
        else SchemaTools.align(df, schema)))
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftSnapshotDataSource {
  /** `spark.read.format(Name)` — registered via the
    * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`
    * service file; the fully-qualified class name works where the
    * classpath lacks the service registration.
    */
  val Name = "graft-snapshot"
}

/** The resolved table: reads delegate wholesale to the pinned base's
  * [[ParquetTable]], or scan the pinned version's merge-on-read frame
  * (`resolved`) when it has deltas; overwrites stage a new base and
  * publish it with the store's atomic manifest commit.
  */
final class GraftSnapshotTable(path: String, parquet: ParquetTable,
    options: CaseInsensitiveStringMap, resolved: Option[DataFrame] = None)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"graft-snapshot `$path`"
  override def schema(): StructType = resolved.fold(parquet.schema)(_.schema)
  override def partitioning(): Array[Transform] = parquet.partitioning()
  override def properties(): util.Map[String, String] =
    options.asCaseSensitiveMap()

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    resolved.fold[ScanBuilder](parquet.newScanBuilder(caseInsensitiveStringMap))(
      new ResolvedScan(_))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncating = false
      override def truncate(): WriteBuilder = { truncating = true; this }

      override def build(): Write = {
        if (!truncating)
          throw new UnsupportedOperationException(
            "graft-snapshot: append is not supported — the store's contract " +
              "is whole-snapshot replace (mode(\"overwrite\")); incremental " +
              "maintenance composes a merge (e.g. LwwMerge) with overwrite")
        val io = new ParquetTableIO(path)
        val staged = io.stage()
        Files.createDirectories(staged.vDir)
        // parquet's own write stack over the staging dir: task-level
        // commit protocol, speculative-attempt handling, abort cleanup
        val stagingTable = ParquetTable(s"graft-snapshot-staging `$path`",
          SparkSession.active, options, Seq(staged.vDir.toString),
          Some(info.schema()), classOf[ParquetFileFormat])
        val fileWrite = stagingTable.newWriteBuilder(info).build()
        new Write {
          override def toBatch: BatchWrite = new BatchWrite {
            private val files = fileWrite.toBatch
            override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
              files.createBatchWriterFactory(p)
            override def useCommitCoordinator: Boolean =
              files.useCommitCoordinator
            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              // the manifest flips only after every data file is
              // committed: readers either see the complete old or
              // complete new version, never a mix
              files.commit(messages)
              ImmutableParquet.record(staged.vDir.toString, info.schema())
              io.commitStaged(staged)
            }
            override def abort(messages: Array[WriterCommitMessage]): Unit =
              try files.abort(messages)
              finally io.abortStaged(staged)
          }
        }
      }
    }
}

/** Scan of a merge-on-read frame as a `V1Scan`: filters and columns
  * are applied inside the frame (so they reach each dir's parquet
  * scan); every filter is also handed back for Spark to re-check, so
  * one this scan cannot translate is still exact. The relation hands
  * Spark the frame's internal rows (`needConversion = false`).
  */
private final class ResolvedScan(df: DataFrame) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns with V1Scan {
  private var pushed = Array.empty[sources.Filter]
  private var required = df.schema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(ResolvedScan.column(_).isDefined)
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed
  override def pruneColumns(s: StructType): Unit =
    required = StructType(s.fieldNames.map(df.schema(_)))
  override def build(): Scan = this
  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T = {
    val out = pushed.flatMap(ResolvedScan.column).foldLeft(df)(_ filter _)
      .select(required.fieldNames.map(n => df.col(s"`$n`")): _*)
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = required
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        out.queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]
  }
}

private object ResolvedScan {
  /** A data-source filter as a Column, when it has a direct form. */
  def column(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) => for (x <- column(l); y <- column(r)) yield x && y
    case sources.Or(l, r) => for (x <- column(l); y <- column(r)) yield x || y
    case sources.Not(c) => column(c).map(!_)
    case _ => None
  }
}
