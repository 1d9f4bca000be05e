package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.{AdvanceCtx, Piece}

/** Persisted hashed TF-IDF feature artifact — the sparse signed-hash
  * vectors of [[HashedTfIdf.sparseFeatures]] stored once and served as
  * parquet scans, so sparse retrieval (v22/t27) stops re-vectorizing
  * the corpus per query fleet. The reference's analogue is ES keeping
  * its inverted index current per document (pyCassElastic.py:316-354)
  * rather than re-deriving it per search.
  *
  * IDF is corpus-global, which makes raw TF-IDF non-additive: a new
  * document shifts df/N and with them every stored weight. This store
  * resolves that with the GENERATION-PINNED-IDF contract (the same
  * shape as the ANN family's pinned codebooks and the prefix store's
  * frozen token order):
  *
  *  - `dfparts` / `nparts` hold additive (token, df) and (n_docs)
  *    partials — always current, folding to exact whole-corpus stats;
  *  - `feats` rows for a generation are computed with the df/N fold
  *    of the generations BEFORE it ([[IncrementalDocArtifact]] hands
  *    every advance pre-increment views, which also makes crash
  *    replay deterministic). A full rebuild (or compaction-triggered
  *    refresh via [[refresh]]) re-vectorizes everything under fresh
  *    stats;
  *  - `norms` (doc_id, nrm) and `ceilparts` (bucket, u, cnt) are
  *    derived FROM the stored weights, so retrieval over the store is
  *    internally exact: cosine, norms, and the MAX-SCORE ceilings all
  *    describe the same stored vectors — idf staleness can drift the
  *    embedding geometry (measured by [[driftReport]]), never break
  *    the top-k bound math or rank docs against mismatched norms.
  *
  * Serving norms/ceilings/stats as stored scans is what removes the
  * pre-decision corpus jobs from [[HashedTfIdf.topKCosinePruned]]'s
  * adaptive gates: the fallback-vs-prune choice reads a one-row stats
  * fold, not a corpus aggregate.
  *
  * `feats` is clustered by bucket (`repartition` +
  * `sortWithinPartitions`) so a retrieval's matched-bucket semi-join
  * prunes parquet row groups — the stored analogue of postings lists.
  *
  * 100 TB: vectorization is the dominant cost of sparse retrieval at
  * scale and runs O(new) per append here; everything served is keyed
  * or bucket-clustered parquet. `dim` widens to 2^18+ in production
  * (the key carries it, so differently-dimensioned stores coexist).
  */
object TfIdfStore {

  val compactEvery = 8

  /** (doc_id, tok, tf) term frequencies of `docs` — the shared input
    * of every piece; memoized per advance so the tokenize + (doc, tok)
    * shuffle runs once per increment, not four times.
    */
  private def tfOf(docs: DataFrame, ctx: AdvanceCtx): DataFrame =
    ctx.memo("tf")(ctx.pin(docs.select(col("doc_id"),
        explode(split(TextFunctions.normalize(col("text")), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))))

  /** Per-generation feature rows: tf of the build's docs joined to the
    * PRE-INCREMENT df/N folds (whole-corpus folds at rebuild). Same
    * bucket/sign/weight arithmetic as [[HashedTfIdf.sparseFeatures]],
    * so a fresh build is bit-identical to the inline form. Unseen
    * tokens carry df=0 — idf = ln(N+1)+1, the smoothing's natural
    * novel-token value.
    */
  private def featsOf(docs: DataFrame, ctx: AdvanceCtx, dim: Int): DataFrame =
    ctx.memo("feats") {
      val dfreq = ctx.stored("dfparts").groupBy("tok")
        .agg(sum("df").as("df"))
      val n = ctx.stored("nparts")
        .agg(sum("n_docs").cast("double").as("n_docs"))
      val idf = log((col("n_docs") + 1d) / (coalesce(col("df"), lit(0L)) + 1d)) + 1d
      val bucket = conv(substring(md5(col("tok")), 1, 15), 16, 10)
        .cast("long") % dim
      val sign = when(conv(substring(md5(col("tok")), 16, 1), 16, 10)
        .cast("int") < 8, 1d).otherwise(-1d)
      ctx.pin(tfOf(docs, ctx)
        .join(dfreq, Seq("tok"), "left")
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"), bucket.as("bucket"))
        .agg(sum(sign * col("tf") * idf).as("_w"))
        .select(col("doc_id"), col("bucket"), round(col("_w"), 4).as("w")))
    }

  /** Cluster features by bucket so retrieval's matched-bucket reads
    * skip row groups (parquet min/max on the sorted column).
    */
  private def byBucket(df: DataFrame): DataFrame =
    df.repartition(col("bucket")).sortWithinPartitions("bucket", "doc_id")

  private def handle(corpusPath: String, dim: Int) =
    IncrementalDocArtifact(corpusPath, s"tfidf$dim", Seq(
      // additive idf inputs — always current; feats of gen g read the
      // fold of gens < g (pre-increment views = the pinned-idf contract)
      Piece("dfparts",
        (docs, ctx) => tfOf(docs, ctx).groupBy("tok").agg(count(lit(1)).as("df")),
        fold = Some(_.groupBy("tok").agg(sum("df").as("df")))),
      Piece("nparts",
        (docs, _) => docs.agg(count(lit(1)).as("n_docs")),
        fold = Some(_.agg(sum("n_docs").as("n_docs")))),
      // drift ledger: one (tok, tfsum, idfp) row per generation-token,
      // where idfp is the PINNED idf this generation's feats were
      // weighted with (the pre-increment fold — same inputs featsOf
      // reads) and tfsum the generation's total tf of the token. The
      // artifact-only drift bound in [[driftBound]] folds these
      // against the always-current df/N — no corpus read. Identity
      // fold: rows from different generations carry different pinned
      // idfs and must stay separate. GROWTH INVARIANT: the ledger is
      // O(|vocab| x generations-since-refresh) — it grows without a
      // fold BY DESIGN, and its bound is the very gate that reads it:
      // a drifting corpus pushes driftBound over the refresh
      // threshold, and the [[refresh]] that fires re-vectorizes AND
      // resets this ledger to exactly one generation's rows (a full
      // rebuild drops every delta). A non-drifting corpus leaves the
      // ledger growing only in gens whose pinned idfs stay near
      // current — cheap rows that keep the bound honest. Size ≤ the
      // feats piece either way (one row per gen-token vs one per
      // doc-bucket); invariant asserted in TfIdfStoreSpec.
      Piece("driftparts",
        (docs, ctx) => {
          val dfreq = ctx.stored("dfparts").groupBy("tok")
            .agg(sum("df").as("df"))
          val n = ctx.stored("nparts")
            .agg(sum("n_docs").cast("double").as("n_docs"))
          val idfp = log((col("n_docs") + 1d)
            / (coalesce(col("df"), lit(0L)) + 1d)) + 1d
          tfOf(docs, ctx).groupBy("tok").agg(sum("tf").as("tfsum"))
            .join(dfreq, Seq("tok"), "left")
            .crossJoin(broadcast(n))
            .select(col("tok"), col("tfsum"), idfp.as("idfp"))
        }),
      Piece("feats",
        (docs, ctx) => byBucket(featsOf(docs, ctx, dim)),
        fold = Some(byBucket)),
      // norms/ceilings derive from the STORED weights (this gen's
      // pinned-idf rows): retrieval's bound math is exact over what it
      // actually scores, whatever the idf drift
      Piece("norms",
        (docs, ctx) => featsOf(docs, ctx, dim).groupBy("doc_id")
          .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))),
      Piece("ceilparts",
        (docs, ctx) => {
          val f = featsOf(docs, ctx, dim)
          val nr = f.groupBy("doc_id")
            .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
          f.join(nr, "doc_id").groupBy("bucket")
            .agg(max(abs(col("w")) / col("nrm")).as("u"),
              count(lit(1)).as("cnt"))
        },
        fold = Some(_.groupBy("bucket")
          .agg(max("u").as("u"), sum("cnt").as("cnt"))))),
      compactEvery = compactEvery)

  private def serve(spark: SparkSession, sfDir: String, piece: String,
      dim: Int): DataFrame =
    handle(s"$sfDir/documents.parquet", dim).serve(spark, piece)

  /** Stored (doc_id, bucket, w) sparse features of the `documents`
    * table at `sfDir`; built on first use, advanced O(new) per append
    * under the generation-pinned-idf contract.
    */
  def features(spark: SparkSession, sfDir: String, dim: Int = 1024): DataFrame =
    serve(spark, sfDir, "feats", dim)

  /** Stored per-document L2 norms of the stored features. */
  def norms(spark: SparkSession, sfDir: String, dim: Int = 1024): DataFrame =
    serve(spark, sfDir, "norms", dim)

  /** Folded EXACT document frequencies (tok, df) from the stored
    * additive `dfparts` piece — unlike the pinned-idf feature weights,
    * these are always current (the piece sum-folds). Vocabulary and
    * stopword discovery over a 100 TB corpus becomes a scan of the
    * |vocab|-row artifact instead of a corpus re-tokenization.
    */
  def docFrequencies(spark: SparkSession, sfDir: String,
      dim: Int = 1024): DataFrame =
    serve(spark, sfDir, "dfparts", dim)
      .groupBy("tok").agg(sum("df").as("df"))

  /** Stored per-bucket MAX-SCORE inputs (bucket, u, cnt): normalized
    * impact ceiling and postings count, folded from the generation
    * partials.
    */
  def ceilings(spark: SparkSession, sfDir: String, dim: Int = 1024): DataFrame =
    serve(spark, sfDir, "ceilparts", dim)
      .groupBy("bucket").agg(max("u").as("u"), sum("cnt").as("cnt"))

  /** One-row (n_docs, feat_rows) gate stats — the adaptive prune-vs-
    * fallback decision reads this instead of running corpus jobs.
    */
  def stats(spark: SparkSession, sfDir: String, dim: Int = 1024): DataFrame = {
    val nd = serve(spark, sfDir, "nparts", dim)
      .agg(sum("n_docs").as("n_docs"))
    val fr = serve(spark, sfDir, "ceilparts", dim)
      .agg(sum("cnt").as("feat_rows"))
    nd.crossJoin(broadcast(fr))
  }

  /** ARTIFACT-ONLY drift bound — the check that decides whether to
    * re-vectorize must not itself re-vectorize. Per (doc, bucket)
    * cell, |w_now − w_stored| = |Σ_{t→b} s_t·tf·(idf_now − idf_g)|
    * ≤ Σ_{t→b} tf·|idf_now − idf_g| (triangle inequality: the signed
    * collision sum can only cancel), so
    *
    *   mean |Δw| ≤ ( Σ_gens Σ_tok tfsum_g(t)·|idf_now(t) − idfp_g(t)| )
    *               / feat_rows
    *
    * where every factor is a stored piece: the pinned (tok, tfsum,
    * idfp) per-generation ledger (`driftparts`), the always-current
    * df/N folds, and the feats row count from `ceilparts`. Columns:
    * (bound_mean_abs_dw, drift_mass). The bound dominates the exact
    * [[driftReport]] mean — so a threshold gate on it fires whenever
    * the exact report would — and is 0 right after a rebuild (every
    * pinned idf equals the fresh one). Cost: O(|vocab|·gens) stored
    * rows, independent of corpus size — the same check-cost contract
    * as `VectorIndexStore.qerr`.
    */
  def driftBound(spark: SparkSession, sfDir: String, dim: Int = 1024): DataFrame = {
    val dp = serve(spark, sfDir, "driftparts", dim)
    val dfreq = serve(spark, sfDir, "dfparts", dim)
      .groupBy("tok").agg(sum("df").as("df"))
    val n = serve(spark, sfDir, "nparts", dim)
      .agg(sum("n_docs").cast("double").as("n_docs"))
    val featRows = serve(spark, sfDir, "ceilparts", dim)
      .agg(sum("cnt").cast("double").as("feat_rows"))
    val idfNow = log((col("n_docs") + 1d)
      / (coalesce(col("df"), lit(0L)) + 1d)) + 1d
    dp.join(dfreq, Seq("tok"), "left")
      .crossJoin(broadcast(n))
      .select((col("tfsum") * abs(idfNow - col("idfp"))).as("m"))
      .agg(sum("m").as("drift_mass"))
      .crossJoin(broadcast(featRows))
      // + 1e-4: stored weights are ROUNDED to 4 decimals, so the
      // exact report's per-cell |Δw| (a difference of two rounded
      // values) can exceed the unrounded triangle bound by one
      // rounding grid step — add it so domination is rigorous. Mass
      // exactly 0 needs no slack: every pinned idf equals the current
      // one, so stored and fresh weights are bit-identical.
      .select(
        round(when(col("drift_mass") > 0d,
            col("drift_mass") / greatest(col("feat_rows"), lit(1d)) + 1e-4)
          .otherwise(0d), 6).as("bound_mean_abs_dw"),
        round(col("drift_mass"), 4).as("drift_mass"))
  }

  /** EXACT pinned-idf drift — the offline auditor: max and mean
    * absolute weight delta between the stored features and a
    * fresh-stats vectorization of the same corpus, per the current
    * df/N folds. Zero right after a rebuild; grows as appends shift
    * df/N away from each generation's pinned snapshot. NOTE: this
    * re-vectorizes the whole corpus (that is what it compares
    * against) — the maintenance gate reads [[driftBound]] instead,
    * which needs only stored pieces.
    */
  def driftReport(spark: SparkSession, sfDir: String, dim: Int = 1024): DataFrame = {
    val stored = features(spark, sfDir, dim)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val fresh = HashedTfIdf.sparseFeatures(docs, "doc_id", col("text"), dim)
      .withColumnRenamed("w", "w_fresh")
    stored.join(fresh, Seq("doc_id", "bucket"), "full")
      .select((abs(coalesce(col("w"), lit(0d)) -
        coalesce(col("w_fresh"), lit(0d)))).as("d"))
      .agg(round(max("d"), 4).as("max_abs_dw"),
        round(avg("d"), 6).as("mean_abs_dw"))
  }

  /** Re-vectorize the whole corpus under fresh df/N (drops every
    * pinned generation) — the offline retrain of the pinned-idf
    * contract.
    */
  def refresh(spark: SparkSession, corpusPath: String, dim: Int = 1024): Unit =
    handle(corpusPath, dim).rebuild(spark)

  /** [[refresh]] when the ARTIFACT-ONLY drift bound exceeds
    * `maxMeanAbsDw` ([[driftBound]]'s first column — an upper bound
    * on the exact mean |Δw|, so this fires whenever a gate on the
    * exact [[driftReport]] would, at a check cost independent of
    * corpus size). The `VectorIndexStore.retrainIfDrifted` cadence
    * hook for the sparse feature store: schedule it after large
    * appends and the pinned contract stays bounded without manual
    * supervision. Returns whether a refresh ran.
    */
  def refreshIfDrifted(spark: SparkSession, sfDir: String,
      maxMeanAbsDw: Double, dim: Int = 1024): Boolean = {
    val drifted =
      driftBound(spark, sfDir, dim).head.getDouble(0) > maxMeanAbsDw
    if (drifted) refresh(spark, s"$sfDir/documents.parquet", dim)
    drifted
  }

  /** Offline compaction hook (also runs automatically on the
    * `compactEvery` cadence). NOTE: compaction folds generations but
    * keeps their pinned weights — only [[refresh]] re-vectorizes.
    */
  def compact(spark: SparkSession, corpusPath: String, dim: Int = 1024): Unit =
    handle(corpusPath, dim).compact(spark)
}
