package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier: full-batch gradient-descent logistic
  * regression over cheap per-document features — the fasttext-style
  * "learn what good documents look like" step (GPT-3/CCNet-style
  * curation) next to t2's fixed-weight heuristic score.
  *
  * Spark-first shape, and why it holds at 100 TB:
  *
  *  - **One distributed scan per iteration, nothing else.** The
  *    gradient of full-batch logistic loss is a sum of per-row terms,
  *    so each iteration is ONE aggregate over the feature table
  *    (partial aggregation map-side, 4 doubles per partition to the
  *    driver) — the textbook distributed-GD shape. k iterations = k
  *    scans; no shuffle of the corpus, ever. Weights live on the
  *    driver (4 doubles) and re-enter the plan as literals.
  *  - **Features are bounded ratios** (length saturation, punctuation,
  *    stopword density — the same rounded sub-scores t2 verifies), so
  *    the sigmoid never saturates into inf/NaN territory and no
  *    feature standardization pass is needed.
  *
  * Determinism contract (what lets the DuckDB oracle unroll the same
  * chain): every gradient component is `round(avg(...), 8)` — the
  * 8-decimal grid absorbs double-summation order differences between
  * Spark's partial aggregates and DuckDB's sequential fold; from
  * bit-identical rounded gradients, the weight update `w - lr*g` is
  * the same double arithmetic on both sides; the dot product is
  * written with fixed left-to-right associativity; final scores round
  * to 4 decimals.
  */
object QualityClassifier {

  final case class LrModel(bias: Double, w1: Double, w2: Double, w3: Double)

  /** Feature/label table: (idCol, y, f1, f2, f3) where y = 1.0 when
    * `labelCol` equals `positive`, f1 = length saturation, f2 = punct
    * ratio, f3 = saturated stopword density — each rounded to 4
    * decimals exactly as the t2 oracle rounds them.
    */
  def features(df: DataFrame, idCol: String, textCol: Column,
      labelCol: Column, positive: String): DataFrame = {
    val norm = TextFunctions.normalize(textCol)
    df.select(col(idCol),
      when(labelCol === positive, 1.0).otherwise(0.0).as("y"),
      round(least(TextFunctions.tokenCount(norm).cast("double") * 1.0 / 50.0,
        lit(1.0)), 4).as("f1"),
      TextFunctions.punctRatio(textCol).as("f2"),
      round(least(TextFunctions.stopwordRatio(norm) * 4.0, lit(1.0)), 4)
        .as("f3"))
  }

  /** Fixed-associativity affine term ((b + w1 f1) + w2 f2) + w3 f3. */
  private def z(m: LrModel): Column =
    lit(m.bias) + lit(m.w1) * col("f1") + lit(m.w2) * col("f2") +
      lit(m.w3) * col("f3")

  private def sigmoid(c: Column): Column = lit(1.0) / (lit(1.0) + exp(-c))

  /** Train `iters` full-batch GD steps at learning rate `lr` from
    * zero weights. One aggregate job per iteration; gradients rounded
    * to 8 decimals (see determinism contract above).
    */
  def train(feat: DataFrame, iters: Int, lr: Double): LrModel = {
    var m = LrModel(0.0, 0.0, 0.0, 0.0)
    // respect a caller-managed cache: never unpersist what we didn't
    // persist (a probe caching `feat` for later scoring must not lose
    // it to our cleanup)
    val callerCached =
      feat.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val f = if (callerCached) feat else feat.cache()
    try {
      (1 to iters).foreach { _ =>
        val p = sigmoid(z(m))
        val g = f.select(
          round(avg(p - col("y")), 8),
          round(avg((p - col("y")) * col("f1")), 8),
          round(avg((p - col("y")) * col("f2")), 8),
          round(avg((p - col("y")) * col("f3")), 8)).head()
        m = LrModel(
          m.bias - lr * g.getDouble(0), m.w1 - lr * g.getDouble(1),
          m.w2 - lr * g.getDouble(2), m.w3 - lr * g.getDouble(3))
      }
      m
    } finally { if (!callerCached) f.unpersist(); () }
  }

  /** Score a feature table under a trained model: (.., label, score)
    * with score = round(sigmoid(z), 4).
    */
  def score(feat: DataFrame, m: LrModel): DataFrame =
    feat.select(feat.columns.filter(c => c != "y").map(col) :+
      col("y").cast("int").as("label") :+
      round(sigmoid(z(m)), 4).as("score"): _*)

  /** Ingest gate: score the raw `docs` (text in `text`) under a
    * frozen model and flag `keep = score >= threshold`. The model is
    * passed in frozen (a gate must score consistently across a
    * release; retraining yields a NEW model for the next one).
    * Output: (idCol, label, score, keep) — label rides along where
    * the input carries it so calibration monitoring costs one
    * aggregate.
    */
  def gate(docs: DataFrame, idCol: String, m: LrModel, threshold: Double,
      labelCol: String, positive: String): DataFrame =
    score(features(docs, idCol, col("text"), col(labelCol), positive), m)
      .select(col(idCol), col("label"), col("score"),
        (col("score") >= threshold).as("keep"))

  /** Mean log-loss of a model over a feature table, 6 decimals — the
    * convergence telemetry a training loop monitors (one aggregate,
    * same shape as a gradient step).
    */
  def logLoss(feat: DataFrame, m: LrModel): Double = {
    val p = sigmoid(z(m))
    feat.select(round(avg(
      -(col("y") * log(greatest(p, lit(1e-12))) +
        (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, lit(1e-12))))), 6))
      .head().getDouble(0)
  }
}

/** Persisted classifier features, incrementally maintained — §9.14
  * measured the feature derivation (regex + stopword HOF scan) as
  * 63.9 s of the 1 M-doc training cost vs 0.44 s per GD iteration:
  * the same build-once / iterate-many split QualityStore closed for
  * t2 scores. Features are pure per-document fixed-point functions,
  * so the additive-piece contract holds and stored rows are
  * bit-identical to an inline scan; a corpus file append derives
  * features for only the new files (O(new)).
  */
object ClassifierFeatureStore {
  import graft.sources.IncrementalDocArtifact
  import graft.sources.IncrementalDocArtifact.Piece

  private def handle(corpusPath: String) =
    IncrementalDocArtifact(corpusPath, "lrfeat_en", Seq(
      Piece("features", (docs, _) => QualityClassifier.features(
        docs, "doc_id", col("text"), col("lang"), "en"))))

  /** Stored (doc_id, y, f1, f2, f3) over `table` at `sfDir`; built on
    * first use, advanced incrementally when the corpus grows.
    */
  def features(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      table: String): DataFrame =
    handle(s"$sfDir/$table.parquet").serve(spark, "features")

  /** Per-process memo of trained models, keyed by (corpus content
    * fingerprint, iters, lr) — training is deterministic given the
    * stored features, so a query fleet (t25 scores + t26 calibration)
    * trains once per corpus version instead of once per query; a
    * regrown corpus keys to a different entry.
    */
  private val modelMemo = new java.util.concurrent.ConcurrentHashMap[
    String, QualityClassifier.LrModel]()

  def trainedModel(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      table: String, iters: Int, lr: Double): QualityClassifier.LrModel = {
    val key = graft.sources.ArtifactStore.fingerprint(
      s"$sfDir/$table.parquet") + s"_i${iters}_lr$lr"
    modelMemo.computeIfAbsent(key, _ =>
      QualityClassifier.train(features(spark, sfDir, table), iters, lr))
  }

  /** Offline compaction hook. */
  def compact(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String): Unit =
    handle(corpusPath).compact(spark)
}
