package graft.sources.v2

import java.nio.file.Files
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{ImmutableParquet, ParquetTableIO}

/** DataSource V2 connector for the engine's versioned snapshot store
  * (`ParquetTableIO` layout: immutable `v-<n>-<uid>/` dirs + a tiny
  * `_current` pointer) — the Spark-native form of the connector seam
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
  *  - the scan DELEGATES to Spark's own DSv2 [[ParquetTable]] over the
  *    resolved snapshot dir — predicate pushdown, column pruning,
  *    partition pruning and the vectorized reader are the stock
  *    parquet path, not re-implemented;
  *  - the pointer is resolved ONCE per provider instance, so a
  *    DataFrame is pinned to the snapshot that was live when it was
  *    defined — a concurrent `commit` never changes (or half-changes)
  *    what an already-built plan reads, which is exactly the
  *    snapshot-isolation guarantee the pointer layout exists for;
  *  - `mode("overwrite")` stages a fresh version dir, hands it to
  *    parquet's own `BatchWrite` (task commits, job commit, abort
  *    cleanup all stock), and publishes the pointer only AFTER the
  *    file-level job commit succeeds — a failed write leaves the
  *    store on the old version with no partial state;
  *  - `mode("append")` is refused: the store's contract is
  *    whole-snapshot replace (append-shaped maintenance goes through
  *    the engine's merge operators, e.g. `LwwMerge` → overwrite).
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

  // one resolution per provider instance = one snapshot per
  // DataFrameReader.load() — inferSchema/inferPartitioning/getTable
  // all see the same pinned dir even if a commit lands between calls
  @volatile private var pinned: Option[(String, String)] = None

  private def storePath(options: CaseInsensitiveStringMap): String = {
    val raw = Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-snapshot requires a path (…load(storePath) or option(\"path\", …))"))
    // the session catalog qualifies a CREATE TABLE OPTIONS path to a
    // file: URI; ParquetTableIO wants the plain filesystem path
    if (raw.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(raw)).toString
    else raw
  }

  private def resolveDir(options: CaseInsensitiveStringMap): String = {
    val path = storePath(options)
    pinned match {
      case Some((p, dir)) if p == path => dir
      case _ =>
        val io = new ParquetTableIO(path)
        val dir = Option(options.get("version")) match {
          case Some(v) =>
            io.versionDir(v.toLong).getOrElse(throw new IllegalArgumentException(
              s"graft-snapshot: version $v not present at $path (only the " +
                "current and previous versions survive commit cleanup)"))
          case None =>
            io.currentDir.getOrElse(throw new IllegalStateException(
              s"graft-snapshot: no published snapshot at $path — bootstrap " +
                "the store with ParquetTableIO.overwrite first"))
        }
        pinned = Some((path, dir))
        dir
    }
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
      Seq(resolveDir(options)), schema, classOf[ParquetFileFormat])

  // snapshot dirs are immutable: the schema their writer recorded, or
  // one inference per dir (ImmutableParquet) — no footer job per load.
  // An adopted plain dir (dir == store path) is not, and infers per load
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = resolveDir(options)
    if (dir == storePath(options)) delegate(options, None).schema
    else ImmutableParquet.read(SparkSession.active, Seq(dir)).schema
  }

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    delegate(options, None).partitioning()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new GraftSnapshotTable(storePath(options),
      delegate(options, Option(schema)), options)
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

/** The resolved table: reads delegate wholesale to the pinned-version
  * [[ParquetTable]]; overwrites stage a new version and publish it
  * with the store's atomic pointer commit.
  */
final class GraftSnapshotTable(path: String, parquet: ParquetTable,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"graft-snapshot `$path`"
  override def schema(): StructType = parquet.schema
  override def partitioning(): Array[Transform] = parquet.partitioning()
  override def properties(): util.Map[String, String] =
    options.asCaseSensitiveMap()

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    parquet.newScanBuilder(caseInsensitiveStringMap)

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
              // pointer flips only after every data file is committed:
              // readers either see the complete old or complete new
              // snapshot, never a mix
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
