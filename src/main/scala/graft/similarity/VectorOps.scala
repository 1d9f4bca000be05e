package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector arithmetic over `array<float>` embedding columns, as
  * higher-order Catalyst expressions (no UDFs — stays inside codegen).
  *
  * Precision discipline: every element is cast float→double BEFORE
  * multiplication, and every reduction is a sequential left fold with
  * a 0.0 init — exactly the arithmetic the DuckDB oracles re-derive
  * with `list_reduce(list_prepend(0.0, ...))`, so cosine scores match
  * bit-for-bit across engines.
  */
object VectorOps {

  /** array<float> → array<double> (exact). */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential-fold dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; callers pass `asDouble`-prepared columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd forms (graft.plans.VectorExpressions) — bit-
    * identical to the HOF forms above but a primitive loop instead of
    * per-element lambda dispatch, and single-pass for cosine. They
    * accept float or double arrays directly (no asDouble needed);
    * the session must have graft's functions registered
    * (GraftFunctions.ensureRegistered / GraftExtensions).
    */
  def dotNative(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** All rows of a row-major flattened constant matrix dotted against
    * one vector column, as a single codegen'd nested loop — the
    * projection hot path (see plans.MatVecProduct for why this beats
    * an `array(dot, dot, ...)` of per-plane literals).
    */
  def matVecNative(vec: Column, flatMat: Seq[Double]): Column = {
    import org.apache.spark.sql.graft.GraftBridge
    // built directly (not via call_function) so Column builders like
    // SignLSH.bucketOf work on sessions that never registered graft's
    // functions; graft_matvec is ALSO registered for SQL use
    GraftBridge.column(graft.plans.MatVecProduct(
      GraftBridge.expression(vec), GraftBridge.expression(typedlit(flatMat))))
  }

  def cosineNative(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)
}
