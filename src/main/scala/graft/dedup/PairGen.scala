package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucket-local pair generation — the shared tail of every blocking
  * scheme (MinHash LSH bands, SimHash blocks, any group-then-compare).
  *
  * Instead of self-joining the index with itself — which shuffles the
  * index twice and, worse, re-executes its whole lineage once per join
  * side — this groups once on the blocking key, collects the (sorted)
  * bucket, and expands each bucket's unordered pairs with a
  * higher-order transform. One shuffle, one computation of the input,
  * and the pair expansion happens bucket-locally on the reducer.
  *
  * Scale note: a bucket's members must fit in one task's memory (they
  * are collected into an array). That is the invariant of any LSH
  * scheme anyway — a bucket so hot it overflows memory would produce a
  * quadratic pair count downstream. `maxBucket` is the explicit guard:
  * buckets are truncated (after sorting, so deterministically) to that
  * many members before expansion. The default keeps every member —
  * exact semantics; production pipelines on skewed corpora should set
  * a real cap and monitor truncations.
  */
object PairGen {

  /** All unordered pairs (a < b in `payload`'s sort order) of payloads
    * sharing a blocking key. Output columns: `a`, `b` (payload type).
    */
  def pairsWithin(df: DataFrame, keys: Seq[String], payload: Column,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // A binding cap is applied BEFORE collect_list with a ranking
    // window (same deterministic smallest-members-kept semantics), so
    // a pathological bucket is trimmed in the exchange rather than
    // materializing as a full in-memory list on the reducer.
    val capped =
      if (maxBucket == Int.MaxValue) df.select(keys.map(col) :+ payload.as("_p"): _*)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col("_p"))
        df.select(keys.map(col) :+ payload.as("_p"): _*)
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= maxBucket).drop("_rn")
      }
    val buckets = capped
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("_p"))).as("_members"))
      .filter(size(col("_members")) > 1)
    expand(buckets)
  }

  /** One row per blocking key with the SORTED DISTINCT payload array
    * — for callers whose input carries duplicate (key, payload) rows:
    * fusing the dedup into the bucket collect (`collect_set`
    * partial-aggregates map-side) costs ONE exchange where
    * `df.distinct()` + [[pairsWithin]] pays two full passes (the
    * distinct exchange on (key, payload), then the regroup on key).
    * `maxBucket` keeps the smallest `maxBucket` distinct members —
    * the same result as [[pairsWithin]]'s truncation, but applied by
    * slicing AFTER the full `collect_set`: every distinct member of a
    * bucket is still collected on its reducer, so here `maxBucket`
    * bounds the output, not memory.
    * Output: (keys..., `_members`).
    */
  def distinctBuckets(df: DataFrame, keys: Seq[String], payload: Column,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val b = df.select(keys.map(col) :+ payload.as("_p"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_set(col("_p"))).as("_members"))
    if (maxBucket == Int.MaxValue) b
    else b.withColumn("_members", slice(col("_members"), 1, maxBucket))
  }

  /** [[pairsWithin]] over an input with duplicate (key, payload) rows
    * — pair multiset identical to `pairsWithin(df.distinct(), ...)`,
    * one exchange cheaper (see [[distinctBuckets]]).
    */
  def pairsWithinDistinct(df: DataFrame, keys: Seq[String],
      payload: Column, maxBucket: Int = Int.MaxValue): DataFrame =
    pairsOfBuckets(distinctBuckets(df, keys, payload, maxBucket))

  /** Pair expansion over an already-built [[distinctBuckets]] frame —
    * for callers that consume the buckets more than once (counts,
    * per-member stats) and expand pairs from the same single exchange.
    */
  def pairsOfBuckets(buckets: DataFrame): DataFrame =
    expand(buckets.filter(size(col("_members")) > 1))

  /** Unordered-pair expansion of a `_members`-array frame (the shared
    * tail of [[pairsWithin]]/[[pairsWithinDistinct]]): all (a, b)
    * with a before b in the array's sort order.
    */
  private def expand(buckets: DataFrame): DataFrame = {
    val pairs = flatten(transform(col("_members"), (x, i) =>
      transform(
        slice(col("_members"), i + lit(2), size(col("_members"))),
        y => struct(x.as("a"), y.as("b")))))
    buckets
      .select(explode(pairs).as("_pair"))
      .select(col("_pair.a").as("a"), col("_pair.b").as("b"))
  }
}
