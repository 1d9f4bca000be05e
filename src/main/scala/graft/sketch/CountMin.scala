package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.dedup.MinHashLSH

/** Count-Min sketch as a DISTRIBUTED, MERGEABLE table — approximate
  * frequencies over item streams too wide for an exact groupBy to be
  * worth materializing (vocabulary counts, URL/host frequencies,
  * feature-value histograms at corpus scale).
  *
  * The sketch is a sparse `(d, cell, cnt)` DataFrame: `depth`
  * independent hash rows × `width` cells, each cell the summed count
  * of items hashing into it. A point estimate is the MINIMUM of an
  * item's `depth` cells — never an undercount (all occurrences of the
  * item land in each of its cells), overcounting bounded by collision
  * mass ≈ N/width per row, error shrinking exponentially in `depth`
  * (the classic Cormode–Muthukrishnan bound: ε ≈ e/width with
  * probability 1 − e^(−depth)).
  *
  * Why a table and not a driver array: the sketch stays distributed
  * (≤ depth×width rows — bounded regardless of corpus size), builds
  * in ONE map-side explode + hash aggregate, and MERGES by union +
  * re-aggregate (counts are additive) — the per-day/per-shard rollup
  * shape `AdditiveRollup` uses, applied to approximate state. No
  * custom buffer, no UDAF, all codegen.
  *
  * Hashing reuses MinHashLSH's two-base md5 family
  * (`(a_d·x1 + b_d·x2 + c_d) mod P mod width`), so the DuckDB oracle
  * re-derives every cell index bit-for-bit; at production scale the
  * md5 route can swap for xxhash64 without changing the plan shape.
  */
object CountMin {

  private val DepthKey = "graft.cms.depth"
  private val WidthKey = "graft.cms.width"

  /** Sketches carry their depth/width as column metadata on `cnt`
    * (schema metadata survives a parquet round-trip), so an
    * `estimate`/`merge` called with MISMATCHED parameters fails
    * loudly instead of silently reading the wrong cells and
    * coalescing misses to 0 — which would break the never-undercount
    * guarantee without any visible error.
    */
  private def tag(df: DataFrame, depth: Int, width: Int): DataFrame = {
    val m = new MetadataBuilder()
      .putLong(DepthKey, depth.toLong).putLong(WidthKey, width.toLong).build()
    df.withColumn("cnt", col("cnt").as("cnt", m))
  }

  /** (depth, width) a sketch frame was built with, when tagged. */
  def params(df: DataFrame): Option[(Int, Int)] =
    df.schema.find(_.name == "cnt").map(_.metadata)
      .filter(m => m.contains(DepthKey) && m.contains(WidthKey))
      .map(m => (m.getLong(DepthKey).toInt, m.getLong(WidthKey).toInt))

  /** One md5 per ITEM, not per (item, depth, base): the digest is the
    * dominant per-row cost (measured 7.7 s → expected ~2 s over 16 M
    * tokens at 20×), so the hex text materializes once and every
    * depth's cell derives from the same two substring bases — exactly
    * MinHashLSH's one-digest-k-hashes discipline.
    */
  private def withCells(df: DataFrame, itemCol: Column,
      depth: Int, width: Int): DataFrame = {
    val b1 = conv(substring(col("_md5"), 1, 15), 16, 10)
      .cast("long") % MinHashLSH.P
    val b2 = conv(substring(col("_md5"), 16, 15), 16, 10)
      .cast("long") % MinHashLSH.P
    val cells = (0 until depth).map { d =>
      val (a, b, c) = MinHashLSH.hashParams(d)
      ((lit(a) * b1 % MinHashLSH.P + lit(b) * b2 % MinHashLSH.P + lit(c))
        % MinHashLSH.P) % width
    }
    df.select(itemCol.as("_item"))
      .filter(col("_item").isNotNull)
      .select(col("_item"), md5(col("_item")).as("_md5"))
      .select(col("_item"), posexplode(array(cells: _*)).as(Seq("d", "cell")))
  }

  /** Build the sketch over one item per input row: sparse
    * (d, cell, cnt), at most depth × width rows.
    */
  def build(df: DataFrame, itemCol: Column, depth: Int = 3,
      width: Int = 1024): DataFrame = {
    require(depth > 0 && width > 0, "depth and width must be positive")
    tag(withCells(df, itemCol, depth, width)
      .groupBy("d", "cell")
      .agg(count(lit(1)).as("cnt")), depth, width)
  }

  /** Merge sketches built with the SAME depth/width: counts add.
    * Sketches tagged with conflicting parameters refuse to merge —
    * their cell indices are drawn from different hash ranges and a
    * sum over them is meaningless, not approximate.
    */
  def merge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    val ps = sketches.flatMap(params).distinct
    require(ps.size <= 1,
      s"cannot merge sketches built with different (depth, width): $ps")
    val merged = sketches.reduce(_ unionByName _)
      .groupBy("d", "cell")
      .agg(sum("cnt").as("cnt"))
    ps.headOption.map { case (d, w) => tag(merged, d, w) }.getOrElse(merged)
  }

  /** Point estimates for the items of `queries(itemCol)`: min over
    * the item's depth cells, absent cells counting 0. The SKETCH side
    * broadcasts (bounded at depth × width rows by construction) —
    * build-right is what Spark supports for a left-outer join, so the
    * hint actually applies; the probe side streams through map-side.
    * A sketch tagged with different parameters than the call fails
    * loudly (an untagged sketch — built outside this object — is
    * accepted as-is; tagging survives parquet, so engine-built
    * sketches always carry it).
    */
  def estimate(sketch: DataFrame, queries: DataFrame, itemCol: String,
      depth: Int = 3, width: Int = 1024): DataFrame = {
    params(sketch).foreach { case (d0, w0) =>
      require(d0 == depth && w0 == width,
        s"sketch was built with depth=$d0 width=$w0 but estimate was " +
          s"called with depth=$depth width=$width — query cells would " +
          "miss sketch rows and silently estimate 0")
    }
    withCells(queries, col(itemCol), depth, width)
      .withColumnRenamed("_item", itemCol)
      .join(broadcast(sketch), Seq("d", "cell"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))
  }
}
