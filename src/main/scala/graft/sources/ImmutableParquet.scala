package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** THE read of immutable parquet locations: snapshot `v-<n>` dirs,
  * artifact `_gen=` dirs and fold/rebuild bases, landed corpus files,
  * the driver-provided test tables.
  *
  * A plain `spark.read.parquet` infers the schema from a footer in a
  * Spark JOB (79–124 ms per read of a bench-scale dir in `local[4]` on
  * a 4-core host, against 7–18 ms with the schema supplied). Every engine writer that publishes an
  * immutable location already knows the schema it wrote, so it
  * [[record]]s it keyed by the location, and a later [[read]] hands it
  * to the reader: no job. A location nobody recorded (a foreign dir,
  * or one another process wrote) is inferred once and its schema
  * reused. A multi-location read whose locations are not all known
  * with one schema infers as plain Spark does.
  *
  * The recorded schema is what `spark.read.parquet(location)` would
  * infer: the written columns minus the partition columns, then the
  * partition columns at their written types, all nullable.
  *
  * Keys are the normalized absolute location; a regular FILE's key
  * also carries its size and mtime, so a file replaced in place is a
  * new identity. [[ParquetTableIO.deleteTree]] evicts every key under
  * the tree it deletes.
  *
  * [[cached]] also keeps the resolved frame per (session, location) —
  * an unexecuted plan, no results — so a repeated read skips the file
  * listing too. Keys hold their SparkSession strongly: route only
  * process-long sessions through it.
  */
object ImmutableParquet {

  private val schemas = new ConcurrentHashMap[String, StructType]()
  private val rowCounts = new ConcurrentHashMap[String, java.lang.Long]()
  private[graft] val plans = new ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Identity of a location: normalized path, plus `#size@mtime` for
    * a regular file.
    */
  def key(path: String): String = {
    val p = Paths.get(path).toAbsolutePath.normalize
    if (Files.isRegularFile(p))
      s"$p#${Files.size(p)}@${Files.getLastModifiedTime(p).toMillis}"
    else p.toString
  }

  /** Record that `location` holds parquet written from `schema` with
    * `partitionBy` columns laid out as directories.
    */
  def record(location: String, schema: StructType,
      partitionBy: Seq[String] = Nil): Unit = {
    def isPart(n: String) = partitionBy.exists(_.equalsIgnoreCase(n))
    val read = StructType(schema.filterNot(f => isPart(f.name)) ++
      partitionBy.flatMap(p => schema.find(_.name.equalsIgnoreCase(p))))
    schemas.put(key(location), nullable(read).asInstanceOf[StructType])
  }

  /** Read `locations` (optionally under a partition `basePath`): the
    * recorded schema when all are known with one schema, else Spark's
    * inference — recorded for a lone location read without basePath.
    */
  def read(spark: SparkSession, locations: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val r = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    locations.map(l => schemas.get(key(l))).distinct match {
      case Seq(s) if s != null => r.schema(s).parquet(locations: _*)
      case _ =>
        val df = r.parquet(locations: _*)
        if (locations.size == 1 && basePath.isEmpty) schemas.put(key(locations.head), df.schema)
        df
    }
  }

  /** [[read]] of one location, resolved once per session. */
  def cached(spark: SparkSession, location: String): DataFrame =
    cachedAs(spark, key(location))(read(spark, Seq(location)))

  /** A resolved frame under an explicit session key (a variant read
    * of a location, e.g. through a scoped child session). The key
    * must start with the location's [[key]] so eviction reaches it.
    */
  def cachedAs(spark: SparkSession, k: String)(build: => DataFrame): DataFrame =
    plans.computeIfAbsent((spark, k), _ => build)

  /** Rows in the parquet files at or under `location`, summed from
    * their footers on the driver (no Spark job); once per location.
    */
  def rows(spark: SparkSession, location: String): Long =
    rowCounts.computeIfAbsent(key(location), _ => {
      val conf = spark.sparkContext.hadoopConfiguration
      val files = Fs.walk(Paths.get(location))
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      java.lang.Long.valueOf(files.map { f =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum)
    })

  /** Forget every schema, row count and resolved frame at or under `tree`. */
  def evictUnder(tree: Path): Unit = {
    val t = tree.toAbsolutePath.normalize.toString
    def under(k: String) =
      k == t || k.startsWith(t + "/") || k.startsWith(t + "#")
    schemas.keySet.removeIf(under(_))
    rowCounts.keySet.removeIf(under(_))
    plans.keySet.removeIf(k => under(k._2))
  }

  /** Spark reads every file column as nullable, nested ones too. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }
}
