package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable unit of engine capability: a Spark query over the
  * driver-provided parquet tables plus (when SQL-expressible) an
  * equivalent DuckDB oracle. Column names/aliases MUST match between
  * the two — the driver's compare sorts columns by name before hashing.
  *
  * Conventions that keep the hash compare engine-agnostic:
  *  - temporal outputs are emitted as ISO strings or epoch-millis
  *    bigints, never raw timestamp columns (tz-awareness and ns/us
  *    precision differ between writers);
  *  - double outputs are rounded (2-6 decimals) in BOTH dialects;
  *  - every query ends in a deterministic ORDER BY.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GraftQuery {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, run, Some(oracle))
}
