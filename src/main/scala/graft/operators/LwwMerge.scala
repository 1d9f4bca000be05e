package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.internal.SQLConf

/** Last-writer-wins merge — THE core operator of the engine
  * (SURVEY.md §2.4 A1).
  *
  * The reference delegates LWW to Elasticsearch's external versioning:
  * `_version_type='external'` keeps the max-version doc per `_id` and
  * 409s the rest (reference pyCassElastic.py:337-343). On ties ES keeps
  * the INCUMBENT (equal version → 409 for the newcomer,
  * pyCassElastic.py:340-341), so the two-sided merge must prefer the
  * destination side on equal versions.
  *
  * Two physical forms, same semantics:
  *
  *  - `latestAgg` — `groupBy(id).agg(max_by(struct(*), orderKey))`.
  *    A SORT aggregate (`max_by` keeps a struct in its aggregation
  *    buffer, which Spark's hash aggregate cannot hold): each input
  *    partition is sorted by key and reduced to one candidate row per
  *    key (`partial_max_by`) before the shuffle, so bytes shuffled ≈
  *    |distinct keys per partition|, not |rows|; after the shuffle a
  *    second sort feeds the final aggregate. Every input row is sorted
  *    once. [[merge]] and [[winners]] rank through the same aggregate
  *    (`winners` in one task has no shuffle: one sort, then the partial
  *    and final aggregates). This is the 100 TB-scale default.
  *  - `latestWindow` — `row_number` over (partitionBy id, orderBy
  *    version desc). Shuffles EVERY row then sorts per partition;
  *    kept because it also yields losers (rank > 1) for conflictSplit,
  *    and as the oracle-friendly formulation (SQL QUALIFY).
  */
object LwwMerge {

  /** Deterministic total order for "newest": version, then tie-breakers. */
  private def orderKey(versionCol: String, tieBreak: Seq[Column]): Column =
    struct((col(versionCol) +: tieBreak): _*)

  /** Keep the newest row per key — aggregate form (sort aggregate with map-side partials). */
  def latestAgg(
      df: DataFrame,
      idCols: Seq[String],
      versionCol: String,
      tieBreak: Seq[Column] = Nil): DataFrame =
    latestAggWith(df, idCols, versionCol, tieBreak, Nil)

  /** [[latestAgg]] plus `extra` named per-key aggregates, appended. */
  private def latestAggWith(df: DataFrame, idCols: Seq[String],
      versionCol: String, tieBreak: Seq[Column], extra: Seq[Column]): DataFrame = {
    val payload = df.columns.filterNot(idCols.contains)
    val agg = df.groupBy(idCols.map(col): _*)
      .agg(
        max_by(struct(payload.map(col): _*), orderKey(versionCol, tieBreak))
          .as("__winner"), extra: _*)
    // original column order, then the extra aggregates
    agg.select(df.columns.map(c => if (idCols.contains(c)) col(c) else col(s"__winner.$c").as(c)) ++
      agg.columns.drop(idCols.size + 1).map(col): _*)
  }

  /** SCD2 history: every version of every key annotated with its
    * validity interval — the warehouse-shaped complement of
    * `latestAgg`'s current-state view, derivable because the engine's
    * version column is a total order per key. `valid_from` is the
    * row's own version; `valid_to` is the NEXT version (null for the
    * current row) via one `lead` window — the half-open interval
    * [valid_from, valid_to) an as-of lookup joins against.
    *
    * One shuffle on the key, one sort per partition; ties broken by
    * `tieBreak` so replays produce identical intervals.
    */
  def history(
      df: DataFrame,
      idCols: Seq[String],
      versionCol: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window
      .partitionBy(idCols.map(col): _*)
      .orderBy((col(versionCol).asc +: tieBreak.map(_.asc)): _*)
    df.withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Keep the newest row per key — ranking-window form. */
  def latestWindow(
      df: DataFrame,
      idCols: Seq[String],
      versionCol: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window
      .partitionBy(idCols.map(col): _*)
      .orderBy((col(versionCol).desc +: tieBreak.map(_.desc_nulls_last)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The incoming rows of one merge and how many of them won, observed
    * on the write that runs the merge (no extra job): `rows` is the
    * reference's per-leg tally, `conflicts` the incoming rows that did
    * not win (its 409s, pyCassElastic.py:337-349). Read them only after
    * that write.
    */
  final class Counts(name: String) {
    private[operators] val offered = Observation(s"$name-offered")
    private[operators] val won = Observation(s"$name-won")
    def rows: Long = offered.get("n").asInstanceOf[Long]
    def conflicts: Long = rows - won.get("n").asInstanceOf[Long]
  }

  /** Two-sided merge: the surviving state after syncing `incoming` into
    * `dest` under LWW. Ties prefer `dest` (the incumbent), mirroring
    * ES external-version semantics (reference pyCassElastic.py:340-341).
    * Columns are aligned by name (schema evolution happens upstream via
    * SchemaTools.align).
    *
    * The order key ends with a hash of the full payload: two rows in the
    * SAME store sharing (id, version) would otherwise give `max_by` an
    * equal key and an arbitrary winner, so a replayed/retried run could
    * publish a different snapshot. With the hash, replays are
    * deterministic (the discipline SkewTools documents engine-wide).
    */
  def merge(
      dest: DataFrame,
      incoming: DataFrame,
      idCols: Seq[String],
      versionCol: String,
      counts: Option[Counts] = None): DataFrame =
    observeWon(ranked(dest, incoming, idCols, versionCol, counts, Nil), counts)
      .drop("__side")

  /** The rows a [[merge]] of `incoming` into `dest` changes, ranked
    * exactly as [[merge]] ranks them: per id that `incoming` holds, the
    * winner over `dest`'s rows of that id and `incoming`'s, kept when
    * the incoming side won, or when `dest` held the id more than once
    * (the kept row then replaces every duplicate). Overlaying these
    * rows on `dest` by id gives [[merge]]'s result for every id of
    * `incoming`, ties and echoes included.
    *
    * `dest` is probed with `incoming`'s ids, so the build side and the
    * ranking scale with `incoming` (a sync window), not with `dest` (the
    * store): use it only on a bounded `incoming`. Each input is read in
    * one task per `spark.sql.files.maxPartitionBytes` of its estimated
    * size, not one task per small file. When both fit one task, the
    * probe is a hash join inside that task and the whole merge is one
    * task with no shuffle; otherwise the ids are broadcast.
    */
  def winners(
      dest: DataFrame,
      incoming: DataFrame,
      idCols: Seq[String],
      versionCol: String,
      counts: Option[Counts] = None): DataFrame = {
    val (in, inParts) = packed(incoming)
    val (d, destParts) = packed(dest)
    // distinct ids and an inner join: a semi join would be pushed below
    // the coalesce and lose the one-task layout
    val keys = in.select(idCols.zipWithIndex.map { case (c, j) => col(c).as(s"__k$j") }: _*)
      .distinct()
    val hits = d.join(
        if (inParts == 1 && destParts == 1) keys.hint("shuffle_hash") else broadcast(keys),
        idCols.zipWithIndex.map { case (c, j) => dest(c) <=> col(s"__k$j") }.reduce(_ && _))
      .select(dest.columns.map(dest(_)): _*)
      .coalesce(destParts)
    val r = ranked(hits, in, idCols, versionCol, counts, Seq(sum(col("__side")).as("__dests")))
    observeWon(r.filter(col("__side") === 0 || col("__dests") > 1), counts)
      .drop("__side", "__dests")
  }

  /** `df` in one partition per `spark.sql.files.maxPartitionBytes` of
    * its estimated size (fewer when it already has fewer), and that
    * partition count.
    */
  private def packed(df: DataFrame): (DataFrame, Int) = {
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    val n = (bytes / SQLConf.get.filesMaxPartitionBytes + 1).min(Int.MaxValue).toInt
    (df.coalesce(n), n)
  }

  /** `latestAgg` over `dest` ∪ `incoming`, keeping `__side` (1 = the
    * row came from `dest`), which ranks the incumbent first on a tie.
    */
  private def ranked(dest: DataFrame, incoming: DataFrame, idCols: Seq[String],
      versionCol: String, counts: Option[Counts], extra: Seq[Column]): DataFrame = {
    val d = dest.select(col("*"), lit(1).as("__side")) // incumbent ranks higher on ties
    val i = incoming.select(col("*"), lit(0).as("__side"))
    val u = d.unionByName(
      counts.fold(i)(c => i.observe(c.offered, count(lit(1)).as("n"))),
      allowMissingColumns = true)
    val payloadHash =
      xxhash64(u.columns.filter(_ != "__side").sorted.map(col): _*)
    latestAggWith(u, idCols, versionCol,
      tieBreak = Seq(col("__side"), payloadHash), extra)
  }

  private def observeWon(df: DataFrame, counts: Option[Counts]): DataFrame =
    counts.fold(df)(c => df.observe(c.won, count_if(col("__side") === 0).as("n")))
}
