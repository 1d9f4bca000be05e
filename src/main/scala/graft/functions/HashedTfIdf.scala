package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Pin

/** Feature-hashed TF-IDF document embeddings — the "hashing trick"
  * (Weinberger et al., ICML 2009; the standard scalable text
  * vectorizer). Closes the raw-text → vector loop: everything
  * downstream (kNN, IVF, PQ, semantic dedup) assumes an embedding
  * column exists; this derives one from text alone, with no
  * vocabulary dictionary to build, ship, or keep consistent.
  *
  * Representation is SPARSE — (doc_id, bucket, w) rows, only nonzero
  * buckets — which IS an inverted index: retrieval is a postings
  * join, not a dense scan. Dense arrays would carry `dim` doubles per
  * document through every exchange; sparse rows carry one per
  * distinct token hash.
  *
  * Determinism (the property the DuckDB oracle verifies bit-for-bit):
  *  - bucket  = 60-bit md5 prefix of the token, mod `dim`;
  *  - sign    = md5 nibble 16 (< 8 → +1 else −1) — the unbiasing
  *    sign hash of the hashing-trick construction;
  *  - weight  = sign · tf · (ln((N+1)/(df+1)) + 1), summed per
  *    bucket (collisions add signed, as the trick prescribes).
  *
  * Plan shape: one corpus scan → explode tokens → (id, tok) hash
  * aggregate (tf, map-side combined) → token-keyed df aggregate →
  * join tf⋈df on token → bucket re-aggregate per document. The only
  * corpus-sized exchanges are keyed on token and doc — both linear;
  * N arrives as a broadcast 1-row aggregate (no shuffle).
  *
  * 100 TB: `dim` is the memory/collision knob — tests use 1024 so
  * the oracle stays readable; production wants 2^18+ where collision
  * noise vanishes and the bucket join key space is wide enough that
  * no postings list is hot. High-df (stopword) buckets are the skew
  * risk of any inverted index; the `minIdf` guard drops tokens
  * carrying no discrimination before they reach the exchange.
  */
object HashedTfIdf {

  /** Hard cap on the (query × matched-bucket) rows the pruning gates
    * may collect to the driver: past it, [[topKCosinePruned]] skips
    * the gate arithmetic and runs the naive distributed plan — a
    * graceful degradation instead of a driver OOM when a caller
    * passes a fleet far beyond the broadcast-sized contract. 2^20
    * rows ≈ tens of MB; the bench fleets are 3-4 orders of magnitude
    * under it.
    */
  private[graft] val maxGateRows: Int = 1 << 20

  /** Sparse signed-hash TF-IDF rows (idCol, bucket, w). */
  def sparseFeatures(docs: DataFrame, idCol: String, text: Column,
      dim: Int, minIdf: Double = 0.0): DataFrame = {
    val id = col(idCol)
    val toks = docs.select(id,
      explode(split(TextFunctions.normalize(text), " ")).as("tok"))
    val tf = toks.groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val idf = log((col("n_docs") + 1d) / (col("df") + 1d)) + 1d
    val bucket = conv(substring(md5(col("tok")), 1, 15), 16, 10)
      .cast("long") % dim
    val sign = when(conv(substring(md5(col("tok")), 16, 1), 16, 10)
      .cast("int") < 8, 1d).otherwise(-1d)
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .where(idf >= minIdf)
      .groupBy(id, bucket.as("bucket"))
      .agg(sum(sign * col("tf") * idf).as("_w"))
      .select(id, col("bucket"), round(col("_w"), 4).as("w"))
  }

  /** Top-k cosine retrieval over the sparse features: postings join
    * of a (small, broadcast) query-side feature set against the
    * corpus features — the corpus is never shuffled; per-(query, doc)
    * partial dot products combine map-side into one hash aggregate.
    * Ranking is per-query (window over query_id), ties broken by
    * doc_id so the order is deterministic in both engines.
    */
  def topKCosine(features: DataFrame, queryFeatures: DataFrame,
      k: Int): DataFrame =
    topKCosineWith(features, queryFeatures, k,
      features.groupBy("doc_id")
        .agg(sqrt(sum(col("w") * col("w"))).as("nrm")))

  /** [[topKCosine]] with the doc norms supplied (a stored scan when
    * serving from [[TfIdfStore]] — the norm aggregate is the one
    * corpus-sized job of the naive plan).
    */
  def topKCosineWith(features: DataFrame, queryFeatures: DataFrame,
      k: Int, norms: DataFrame): DataFrame = {
    val qnorms = queryFeatures.groupBy("query_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("qnrm"))
    val dots = features.join(
        broadcast(queryFeatures.withColumnRenamed("w", "qw")), "bucket")
      .where(col("query_id") =!= col("doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("w") * col("qw")).as("dot"))
    val scored = dots
      .join(norms, "doc_id").join(broadcast(qnorms), "query_id")
      .select(col("query_id"), col("doc_id"),
        round(col("dot") / (col("nrm") * col("qnrm")), 4).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "cosine")
  }

  /** [[topKCosine]] with MAX-SCORE pruning (Turtle & Flood 1995, the
    * term-upper-bound family WAND refines) — bit-identical output,
    * fewer scored postings. The baseline scores EVERY matched
    * posting (~1 s/query at 1 M docs, §9.16); production IR engines
    * prune 10-100× with per-term score ceilings. Relational
    * formulation, corpus NEVER shuffled:
    *
    *  1. ceiling per bucket u(t) = max_d |w_td|/‖d‖ — one linear
    *     aggregate over the features (same cost class as the norm
    *     aggregate that already runs). Per (query, bucket):
    *     ub = u(t)·|qw_t|/‖q‖, so cos(q,d) ≤ Σ_{t∈q∩d} ub(t).
    *  2. rank each query's buckets by ub desc; S_r = suffix sum. A
    *     doc whose BEST matched bucket has rank r scores ≤ S_r.
    *  3. phase 1: exactly score a BOUNDED candidate set — from each
    *     query's rank-1 bucket (the highest-impact, typically
    *     rarest list), the 4k docs with the largest single-posting
    *     contribution w·qw. θ_q = the k-th best raw score — a valid
    *     lower bound on the final k-th score because it is the k-th
    *     of a subset; the cap keeps phase 1 O(k) per query even on
    *     degenerate corpora where the rank-1 postings list is the
    *     whole corpus (picking by contribution keeps θ tight).
    *  4. essential buckets: S_r ≥ θ_q − 2·10⁻⁴. Docs matching ONLY
    *     inessential buckets score < θ_q − 2·10⁻⁴, which keeps them
    *     out of the top k even after the 4-decimal output rounding
    *     (rounded strictly below the rounded k-th value, so no
    *     tiebreak can resurrect them) — the slack is what makes the
    *     pruning lossless under the rounded comparator.
    *  5. full scores ONLY for docs matching ≥1 essential bucket
    *     (rank-1 is always essential, so phase 1 is subsumed):
    *     features are first FILTERED by a broadcast of the candidate
    *     doc set (a semi-join on the scan — no corpus shuffle), then
    *     expanded per candidate (query, doc) pair and aggregated.
    *
    * Scored-posting volume drops from Σ_t |postings(t)| to
    * Σ_{candidate (q,d)} |q∩d| — on real vocabularies the frequent
    * (hot-postings) buckets are precisely the low-ceiling ones that
    * go inessential once θ is set by the rare terms.
    *
    * ADAPTIVE fallback — completion-cost-aware (§9.18 measured the
    * naive form of this check mispredicting): the pruned plan's real
    * cost is CANDIDATE COMPLETION — every candidate doc re-joins all
    * its postings (avg-postings-per-doc of them), not just the kept
    * ones — so the estimate compares `kept-volume × avg-postings/doc`
    * against the naive matched volume. Pruning engages only when
    * candidates are genuinely few: high-θ regimes — retrieval
    * against duplicate-heavy corpora (the dedup workload), where the
    * k-th best score is set by near-copies and everything but the
    * rare discriminative buckets goes inessential. On spread corpora
    * the k-th score is a weak match, most ceilings clear it, and the
    * naive single-join plan runs instead; the answer is identical
    * either way, this picks only the cheaper physical plan.
    */
  def topKCosinePruned(features: DataFrame, queryFeatures: DataFrame,
      k: Int, fallbackFrac: Double = 0.5,
      gateCap: Int = maxGateRows): DataFrame = {
    val norms = Pin(features.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm")))
    // 1. per-bucket normalized impact ceiling (+ postings count for
    // the adaptive volume estimate)
    val ub = features.join(norms, "doc_id")
      .groupBy("bucket").agg(max(abs(col("w")) / col("nrm")).as("u"),
        count(lit(1)).as("cnt"))
    val tot = ub.agg(sum("cnt")).head
    val avgPerDoc = Option(tot.get(0)).fold(0.0)(_.asInstanceOf[Long].toDouble) /
      math.max(1L, norms.count()).toDouble
    prunedImpl(features, queryFeatures, k, fallbackFrac, norms, ub,
      avgPerDoc, gateCap)
  }

  /** [[topKCosinePruned]] over a [[TfIdfStore]]-backed corpus: norms,
    * per-bucket ceilings, and the gate stats all arrive as stored
    * scans, so the adaptive prune-vs-fallback decision runs ZERO
    * corpus-sized jobs — the decision inputs are a one-row stats fold
    * plus fleet-sized aggregates. The bound math stays exact because
    * the stored norms/ceilings describe the same stored weights the
    * retrieval scores (the store's generation-pinned-idf contract).
    */
  def topKCosinePrunedStored(features: DataFrame, queryFeatures: DataFrame,
      k: Int, norms: DataFrame, ceilings: DataFrame, stats: DataFrame,
      fallbackFrac: Double = 0.5, gateCap: Int = maxGateRows): DataFrame = {
    val st = stats.head
    val nDocs = Option(st.get(0)).fold(0L)(_.asInstanceOf[Long])
    val featRows = Option(st.get(1)).fold(0L)(_.asInstanceOf[Long])
    val avgPerDoc = featRows.toDouble / math.max(1L, nDocs).toDouble
    prunedImpl(features, queryFeatures, k, fallbackFrac, norms, ceilings,
      avgPerDoc, gateCap)
  }

  private def prunedImpl(features0: DataFrame, queryFeatures: DataFrame,
      k: Int, fallbackFrac: Double, norms: DataFrame, ub: DataFrame,
      avgPerDoc: Double, gateCap: Int = maxGateRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    // the stored feats piece is often ONE small parquet file (one scan
    // task), and every downstream join here broadcasts its other side
    // — so phase-1 ranking and candidate completion (the per-(query,
    // doc) expansion + partial dot products, the query's CPU tail)
    // would inherit that single partition end-to-end. The rows are
    // narrow (doc_id, bucket, w), so spreading them is cheap, and
    // fanOut disarms itself on well-split corpora (r16; v22's scoring
    // stage was 2.6 s single-task at sf0.1, 0.9 s spread). Keyed by
    // doc_id (r17): the dot-product groupBy(query_id, doc_id) combines
    // map-side only when a doc's postings share a partition — the
    // round-robin spread leaked one partial row per (pair, partition)
    // into an 84 MB exchange at sf0.1.
    val features = graft.operators.SkewTools.fanOut(features0, col("doc_id"))
    val spark = features.sparkSession
    // The query fleet is DRIVER-SIZED BY CONTRACT: every retrieval
    // join broadcasts it, so it already fits on the driver. The gate
    // arithmetic (per-query bucket ranking, suffix sums, volume
    // estimates, essential-bucket selection) runs over (query ×
    // matched bucket) rows — materializing those as Spark windows +
    // checkpoints + tiny head jobs cost ~1.6 s/run at sf0.1 (the r9
    // v22 bench regression) against corpus work it often didn't save.
    // Driver-side the gates cost two fleet-bounded collects — and the
    // contract is ENFORCED, not assumed: the collect is capped at
    // maxGateRows (limit pushes the cap into the plan, so at most
    // cap+1 rows ever ship), and an oversized fleet falls back to the
    // fully distributed naive plan instead of OOMing the driver. The
    // second collect (per-bucket ceilings semi-joined to the fleet's
    // buckets) is bounded by the first: ≤ one row per distinct fleet
    // bucket.
    val qfCollected = queryFeatures
      .select(col("query_id"), col("bucket"), col("w"))
      .limit(gateCap + 1).collect()
    if (qfCollected.length > gateCap)
      return topKCosineWith(features, queryFeatures, k, norms)
    val qfRows = qfCollected
    val ubRows = ub
      .join(broadcast(queryFeatures.select("bucket").distinct()), "bucket")
      .select(col("bucket"), col("u"), col("cnt")).collect()
    val ubMap: Map[Any, (Double, Long)] =
      ubRows.map(r => r.get(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val qidField = queryFeatures.schema("query_id")
    val bucketField = queryFeatures.schema("bucket")

    // per query: matched buckets ranked by impact ceiling, suffix
    // sums s_r (same bound math as the former window form; fp error
    // is ulps against the 2e-4 essentiality slack)
    final case class QB(bucket: Any, w: Double, ubV: Double, cnt: Long,
        var sR: Double = 0d)
    val byQuery: Map[Any, (Double, Array[QB])] =
      qfRows.groupBy(_.get(0)).map { case (qid, rows) =>
        val qnrm = math.sqrt(rows.map { r =>
          val w = r.getDouble(2); w * w
        }.sum)
        val matched = rows.flatMap { r =>
          ubMap.get(r.get(1)).map { case (u, cnt) =>
            QB(r.get(1), r.getDouble(2),
              u * math.abs(r.getDouble(2)) / qnrm, cnt)
          }
        }.sortBy(q => (-q.ubV, q.bucket.toString))
        var acc = 0d
        matched.reverseIterator.foreach { q => acc += q.ubV; q.sR = acc }
        qid -> ((qnrm, matched))
      }
    val volAllV = byQuery.valuesIterator.flatMap(_._2).map(_.cnt).sum
    val unprunable = byQuery.valuesIterator.flatMap(_._2)
      .filter(_.sR >= 1.0).map(_.cnt).sum
    // EARLY gate — needs no θ: cosine ≤ 1, so a bucket with
    // S_r ≥ 1 can never be pruned by ANY θ. If the unprunable volume
    // alone fails the completion estimate (degenerate hot-token
    // corpora, where one repeated-token doc drives u(t) → 1), skip
    // the whole phase-1 detour and run the naive plan directly.
    if (unprunable * math.max(avgPerDoc, 1.0) >= volAllV * fallbackFrac)
      return topKCosineWith(features, queryFeatures, k, norms)
    val qnorms = queryFeatures.groupBy("query_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("qnrm"))
    // 3. θ from a bounded phase-1 candidate set's exact scores; the
    // rank-1 (query, bucket, qw) rows ship from the driver
    val top1 = spark.createDataFrame(
      byQuery.toSeq.collect { case (qid, (_, m)) if m.nonEmpty =>
        Row(qid, m.head.bucket, m.head.w)
      }.asJava,
      StructType(Seq(qidField, bucketField, StructField("qw", DoubleType))))
    // two-level top-(4k): a hot rank-1 bucket would otherwise make
    // the per-query window a corpus-sized single-task sort — the
    // salted pre-pass bounds every sort partition to ~postings/64,
    // and the exact pass sorts ≤ 64·4k rows per query. Lossless: the
    // global top-(4k) by (contribution, doc_id) is a subset of the
    // union of per-salt top-(4k)s under the same total order.
    val contrib = col("w") * col("qw")
    val bySalt = Window.partitionBy("query_id", "_salt")
      .orderBy(contrib.desc, col("doc_id"))
    val byContrib = Window.partitionBy("query_id")
      .orderBy(contrib.desc, col("doc_id"))
    val cand1 = features.join(broadcast(top1), "bucket")
      .where(col("query_id") =!= col("doc_id"))
      .withColumn("_salt", pmod(hash(col("doc_id")), lit(64)))
      .withColumn("c_rs", row_number().over(bySalt))
      .where(col("c_rs") <= 4 * k)
      .withColumn("c_rk", row_number().over(byContrib))
      .where(col("c_rk") <= 4 * k)
      .select("query_id", "doc_id")
    val kth = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("doc_id"))
    val thetaMap: Map[Any, Double] =
      scorePairs(features, queryFeatures, cand1, norms, qnorms)
        .withColumn("rk", row_number().over(kth))
        .where(col("rk") === k)
        .select(col("query_id"), col("cos_raw"))
        .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    // 4. essential buckets (driver-side); missing θ (query matched
    // < k docs in phase 1) keeps everything for that query
    val essentialRows = byQuery.toSeq.flatMap { case (qid, (_, m)) =>
      val floor = thetaMap.getOrElse(qid, -2.0) - 2e-4
      m.filter(_.sR >= floor).map(q => (qid, q))
    }
    // adaptive: completion cost ≈ kept volume × avg postings/doc vs
    // the naive matched volume (driver arithmetic — no jobs)
    val keptVol = essentialRows.map(_._2.cnt).sum
    if (keptVol * math.max(avgPerDoc, 1.0) >= volAllV * fallbackFrac)
      return topKCosineWith(features, queryFeatures, k, norms)
    val essential = spark.createDataFrame(
      essentialRows.map { case (qid, q) => Row(qid, q.bucket) }.asJava,
      StructType(Seq(qidField, bucketField)))
    // 5. candidate docs → full exact scores
    val cand = features.join(broadcast(essential), "bucket")
      .where(col("query_id") =!= col("doc_id"))
      .select("query_id", "doc_id").distinct()
    val scored = scorePairs(features, queryFeatures, cand, norms, qnorms)
      .select(col("query_id"), col("doc_id"),
        round(col("cos_raw"), 4).as("cosine"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "cosine")
  }

  /** Exact raw cosine for the given candidate (query_id, doc_id)
    * pairs: features filtered to candidate docs by a BROADCAST
    * semi-join on the scan (no corpus shuffle), expanded per
    * candidate pair, dotted against the query weights.
    */
  private def scorePairs(features: DataFrame, queryFeatures: DataFrame,
      pairs: DataFrame, norms: DataFrame, qnorms: DataFrame): DataFrame = {
    val candDocs = pairs.select("doc_id").distinct()
    val candF = features.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val dots = candF
      .join(broadcast(pairs), "doc_id")
      .join(broadcast(queryFeatures.select(col("query_id"), col("bucket"),
        col("w").as("qw"))), Seq("query_id", "bucket"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("w") * col("qw")).as("dot"))
    dots
      .join(norms, "doc_id").join(broadcast(qnorms), "query_id")
      .select(col("query_id"), col("doc_id"),
        (col("dot") / (col("nrm") * col("qnrm"))).as("cos_raw"))
  }
}
