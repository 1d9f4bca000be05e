package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, BinaryType, LongType, StructField, StructType}

import graft.functions.TextFunctions
import graft.operators.Pin
import graft.sources.{CorpusLanding, IncrementalDocArtifact}
import graft.sources.IncrementalDocArtifact.Piece

/** The SELF-REFERENTIAL ingest-dedup loop — the canonical
  * training-data front door: documents arrive continuously, each
  * micro-batch is exact-deduplicated against EVERYTHING PREVIOUSLY
  * ACCEPTED (not just a watermarked window — [[StreamingPipeline]]'s
  * `dropDuplicatesWithinWatermark` bounds state by forgetting; a
  * corpus builder cannot forget), and the survivors LAND as corpus
  * generations ([[CorpusLanding]]) of the accepted corpus itself.
  *
  * THE SCREEN IS CORPUS-SIZE-FREE. Exact global dedup needs the full
  * seen set somewhere, but the per-batch TICK must not re-read it —
  * at 100 TB an O(accepted) scan per micro-batch is the whole budget.
  * Two stored pieces of the accepted corpus make the tick O(batch):
  *
  *  - `bloomparts`: the seen-fingerprint Bloom screen, HASH-SLICED so
  *    capacity scales horizontally (the [[graft.dedup.BloomDedup]]
  *    `newRowsStacked` discipline): fingerprints are partitioned by
  *    `xxhash64(fp) mod slices` and ONE filter is kept per slice,
  *    each sized for `expectedItems / slices` items — always inside a
  *    single filter's byte budget, so a multi-billion-document loop
  *    provisions by slice count instead of hitting one filter's cap.
  *    The BASE snapshot holds the per-slice filters (built
  *    DISTRIBUTED at rebuild — one slice-keyed Bloom aggregate);
  *    per-generation advances write only the generation's raw
  *    fingerprint hashes (batch-sized — writing slice-capacity-sized
  *    bitmaps per generation would write ~the full provisioned bits
  *    EVERY tick), and the fold promotes accumulated hashes into the
  *    slice filters. The tick probes each row against ONLY its own
  *    slice's filter plus the (small) unfolded recent-hash set; the
  *    filters ride a BROADCAST behind a native probe expression
  *    ([[graft.plans.SlicedBloomProbe]] — at full provisioning a
  *    byte literal of the bitmaps OOMs plan rendering and re-ships
  *    per tick, measured §9.37), cached driver-side keyed by the
  *    base snapshot's published dir, so a steady-state tick collects
  *    only the delta half — never the provisioned bitmap bytes.
  *  - `digests` (doc id, fp, _ib), fold-clustered BY FINGERPRINT:
  *    only the screen's maybe-hits (true duplicates + ~fpp of the
  *    uniques) pay the exact residue anti-join, and their fps go in
  *    as a capped In predicate, so the join's build side holds only
  *    the maybe-hits' digest rows instead of the whole table. The
  *    In prunes row groups of the fp-clustered layout only while it
  *    lists at most `spark.sql.parquet.pushdown.inFilterThreshold`
  *    (10) fps; above that Spark pushes just the list's min and max,
  *    which on hashed fps span almost every row group, so a batch
  *    with thousands of maybe-hits reads every digest row (the scan
  *    is O(accepted) even though the join is not). Past the cap the
  *    residue degrades to the plain anti-join (the engine's
  *    capped-gate discipline).
  *
  * Per batch: (1) in-batch first-wins dedup (min id per fingerprint
  * — the [[graft.dedup.ExactDedup]] convention, deterministic under
  * replay); (2) sliced-Bloom probe + capped exact residue against
  * the stored digests of STRICTLY EARLIER batches; (3) survivors
  * land with their fingerprint and an `_ib` (ingest-batch) column.
  * The probe flag is evaluated ONCE per tick (the probed frame is
  * pinned), so the filter literals embed once per serialized plan,
  * not once per branch. [[AcceptStats]] gauges each tick's
  * cap/fallback posture — the operator's early warning BEFORE a
  * drifting loop degrades to O(accepted) ticks.
  *
  * THE `_ib` ANCHOR is what makes replay exact. A crash mid-landing
  * can leave a prefix of batch k's files, and a concurrent serve may
  * have already advanced the digest artifact over them — so a naive
  * replay would see its own survivors as "already accepted", screen
  * them out, and land a DIFFERENT survivor set under the same
  * deterministic names (silent corruption: the parts guard only
  * protects same-content replays). The EXACT side screens against
  * `_ib < k`, excluding the batch's own partial landing, so the
  * replay computes the IDENTICAL survivor set and lands exactly the
  * missing files. (The Bloom may contain the partial landing's fps —
  * bits cannot be subtracted — but a Bloom hit only routes a row to
  * the exact residue, which the anchor keeps correct.)
  *
  * ONE MODE PER outDir, enforced: the first batch stamps a
  * `_accept_mode` marker and every later entry point (either mode's
  * door, and the mode-specific accessors) refuses a mismatch —
  * interleaving modes would silently build and maintain a second
  * full screen-artifact family over the whole corpus.
  *
  * At-least-once in, exactly-once accepted corpus out; every store
  * keyed by the accepted-corpus path (co-occurrence, TF-IDF, bands,
  * …) maintains itself over it with the full artifact ops plane.
  */
object StreamingAcceptIngest {

  /** Residue fps above this collect cap fall back to the full
    * anti-join (overridable for specs via
    * `graft.accept.residueCap`).
    */
  private def residueCap: Int =
    sys.props.get("graft.accept.residueCap")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(100000)

  /** Per-slice Bloom capacity: `expectedItems` is split over
    * `ceil(expectedItems / sliceItems)` slices. The default matches
    * Spark's runtime-bloom-filter `maxNumItems` default, so ANY
    * `expectedItems` provisions without touching the two confs.
    * Spec knob: `graft.accept.sliceItems`.
    */
  private def sliceItems: Long =
    sys.props.get("graft.accept.sliceItems")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .filter(_ >= 1).getOrElse(4000000L)

  /** Unfolded recent-hash sets above this size probe through an
    * ephemeral tick-local Bloom instead of an exact In literal.
    * Spec knob: `graft.accept.recentCap`.
    */
  private def recentCap: Int =
    sys.props.get("graft.accept.recentCap")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(100000)

  /** Unfolded recent-hash tails ABOVE this count are never collected
    * to the driver at all — the tick probes the delta DISTRIBUTED (a
    * hash-join mark against the exploded delta hashes) and queues an
    * immediate detached fold, both counted in [[AcceptStats]]
    * (`sum_recent_distributed`). In the normal regime the fold
    * cadence keeps the tail ≤ compactEvery batch-sized hash sets and
    * this path never engages; a stalled maintenance plane or a
    * backfill burst between folds grows the tail linearly, and
    * before round 16 the tick's `d.collect()` absorbed that growth
    * into driver memory with nothing reacting (r15 What's-wrong #2).
    * ~40 driver bytes per boxed collected hash, so the default
    * (1 M hashes) caps the collect at ~40 MB. Spec knob:
    * `graft.accept.recentCollectMax`.
    */
  private def recentCollectMax: Long =
    sys.props.get("graft.accept.recentCollectMax")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .filter(_ >= 1).getOrElse(1000000L)

  /** Fold cadence for the screen artifacts (probe/spec knob:
    * `graft.accept.compactEvery`; 0 disables folding — the
    * maintenance-stalled scenario the distributed-tail path exists
    * for).
    */
  private def acceptCompactEvery: Int =
    sys.props.get("graft.accept.compactEvery")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 0).getOrElse(8)

  private def slicesFor(expectedItems: Long): Int =
    math.max(1L, (expectedItems + sliceItems - 1) / sliceItems).toInt

  private def perSliceFor(expectedItems: Long): Long = {
    val s = slicesFor(expectedItems)
    (expectedItems + s - 1) / s
  }

  private def corpusDir(outDir: String): String = s"$outDir/corpus"

  private def bloomBits(n: Long): Long =
    graft.dedup.BloomDedup.optimalNumBits(n, 0.01)

  /** BloomFilterAggregate SILENTLY clamps to the runtime-bloom-filter
    * confs — a clamped filter degrades fpp toward 1 and every tick
    * falls back toward the O(accepted) exact join the design exists
    * to avoid, while the `_e<n>_s<m>` artifact key claims the
    * provisioning took effect. The guard is PER SLICE (that is what
    * slicing buys: any total provisions at the default confs as long
    * as each slice fits); refuse loudly if a raised `sliceItems`
    * pushes one slice past the caps.
    */
  private def requireBloomCapacity(spark: SparkSession,
      expectedItems: Long): Unit = {
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    val per = perSliceFor(expectedItems)
    require(per <= maxItems && bloomBits(per) <= maxBits,
      s"per-slice sizing $per (expectedItems=$expectedItems over " +
        s"${slicesFor(expectedItems)} slices of " +
        s"graft.accept.sliceItems=$sliceItems) needs ${bloomBits(per)} " +
        s"bloom bits, past the runtime-bloom-filter caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits) — Spark would " +
        "clamp the filter SILENTLY and the screen would degrade " +
        "toward O(accepted) per tick; lower graft.accept.sliceItems " +
        "(more, smaller slices) or raise the two confs")
  }

  private val partsSchema = StructType(Seq(
    StructField("slice", LongType),
    StructField("bf", BinaryType),
    StructField("hs", ArrayType(LongType))))

  /** Takes the CAPTURED per-slice sizing, never re-derives it from
    * the live sliceItems property: a fold can run detached long after
    * handle construction, and a property change in between would
    * create merge-incompatible filters mid-compaction.
    */
  private def newSliceFilter(perSlice: Long) =
    org.apache.spark.util.sketch.BloomFilter.create(
      perSlice, bloomBits(perSlice))

  private def filterBytes(
      f: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    f.writeTo(bos)
    bos.toByteArray
  }

  private def readFilter(b: Array[Byte]) =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(b))

  /** Content fingerprint with NULL-TEXT discipline: a null text
    * fingerprints as the empty document (one such doc is ever
    * accepted) — a null fp would silently escape every anti-join and
    * land one null doc per batch forever.
    */
  private def fpCol(textCol: String) =
    TextFunctions.fingerprint(
      coalesce(TextFunctions.normalize(col(textCol)), lit("")))

  /** Per-loop tick gauge (counts, not timings) — the accept-side
    * sibling of [[graft.operators.CoOccurStore.AdvanceStats]]: every
    * capped gate in the tick records whether it stayed inside its cap,
    * so an operator sees a loop DRIFTING toward the O(accepted)
    * fallbacks before a tick ever pays one. Keyed by the screen
    * artifact's storage dir; `sum_*` keys accumulate across ticks
    * (`sum_ticks`, `sum_residue_fallbacks`, `sum_recent_over_caps`,
    * `sum_recent_distributed` — ticks whose unfolded tail was too
    * large to collect and was probed distributed instead, with a
    * fold queued; near mode adds `sum_band_over_caps` /
    * `sum_cand_over_caps`), `last_*` keys are the latest tick's
    * posture (`last_base_slices`, `last_base_cache_hit`,
    * `last_base_bytes` / `last_cache_bytes` — this loop's cached
    * base-filter bytes and the whole [[BloomCache]]'s, the driver-
    * memory gauge for the byte-bounded cache, `last_recent_hashes`,
    * `last_residue_fps`, near mode adds `last_band_pairs` /
    * `last_cand_ids`). Every value is driver-known already —
    * recording costs no extra action (the only exception: the
    * delta-tail size is ONE scalar aggregate per tick, which is what
    * lets the tick decide against a driver collect before paying it).
    */
  object AcceptStats {
    private val byLoop =
      new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()
    private[streaming] def record(key: String, sums: Map[String, Long],
        lasts: Map[String, Long]): Unit = {
      byLoop.compute(key, (_, prev) => {
        val p = Option(prev).getOrElse(Map.empty[String, Long])
        p ++ sums.map { case (k, v) => k -> (p.getOrElse(k, 0L) + v) } ++ lasts
      })
      ()
    }
    def snapshot: Map[String, Map[String, Long]] = {
      import scala.jdk.CollectionConverters._
      byLoop.asScala.toMap
    }
    def reset(): Unit = byLoop.clear()
  }

  /** Driver-side cache of the BROADCAST per-slice base filters, keyed
    * by the base snapshot's published dir (changes iff a fold or
    * rebuild commits): a steady-state tick re-reads only the delta
    * hashes — at full provisioning the base bitmaps ARE the
    * provisioned bytes, and collecting (or re-broadcasting) them per
    * tick would dwarf the tick itself. The filters live behind ONE
    * broadcast per base version ([[graft.plans.SlicedBloomProbe]]'s
    * contract: plan renders the id, executors fetch the blocks once
    * and keep them across ticks). One entry per artifact (the newest
    * base wins); a stale entry is never served because the snapshot
    * dir is compared first, and a racing fold at worst re-derives
    * once.
    *
    * THE BOUND IS BYTES, not entry count (r15 finding: an entry's
    * size is the loop's PROVISIONED bitmap bytes — ~120 MB at 100 M
    * items, ~1.2 GB at 10⁹ — so an entry-count LRU "bound" could pin
    * multiple GBs): the serialized filter bytes are known at insert,
    * accumulate per entry, and eviction walks LRU order until the
    * budget (`graft.accept.cacheBytes`, default 2 GiB) holds; a
    * small entry-count cap rides along so thousands of KB-provisioned
    * loops cannot crowd the map either. The NEWEST entry always
    * survives even alone over budget — evicting the loop that is
    * ticking right now would re-collect the provisioned bytes EVERY
    * tick, the exact cost the cache exists to avoid (an operator who
    * provisions past the budget sees the gauge's `last_cache_bytes`).
    *
    * Broadcast lifecycle: a SUPERSEDED same-artifact broadcast (a
    * fold published a new base) is `destroy()`ed at replacement —
    * per-artifact ticks are serialized (the foreachBatch contract),
    * so no in-flight plan can still hold it, and waiting for the
    * ContextCleaner would let a fold-heavy loop at full provisioning
    * race GBs ahead of the cleaner. A BYTE-EVICTED entry belongs to a
    * DIFFERENT, possibly mid-tick artifact, so it gets
    * `unpersist(blocking = false)` + reference drop instead: executor
    * blocks free now, the driver copy survives for any in-flight
    * task to re-fetch, and the ContextCleaner completes reclamation
    * when the last plan reference dies.
    *
    * The build (collect + deserialize + broadcast — potentially the
    * provisioned bytes) runs OUTSIDE the JVM-global lock
    * (double-checked: read under lock, build unlocked, re-check-and-
    * put under lock), so concurrent loops on different artifacts do
    * not serialize behind one loop's base load; a racing duplicate
    * build of the SAME snapshot is harmless — the loser destroys its
    * never-published broadcast and adopts the winner's.
    *
    * A hit additionally requires the entry's SparkContext to be THIS
    * session's and still alive — a broadcast survives in the map
    * across a session restart in the same JVM, but its blocks do not.
    */
  private[streaming] object BloomCache {
    private final case class Entry(snapDir: String,
        ctx: org.apache.spark.SparkContext,
        bc: org.apache.spark.broadcast.Broadcast[
          Array[org.apache.spark.util.sketch.BloomFilter]],
        slices: Long, bytes: Long)
    private val MaxEntries = 64
    private def maxBytes: Long =
      sys.props.get("graft.accept.cacheBytes")
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
        .filter(_ >= 1).getOrElse(2L << 30)
    private val cache =
      new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)

    private def releaseSuperseded(e: Entry,
        ctx: org.apache.spark.SparkContext): Unit =
      // destroy only a broadcast of THIS live context (per-artifact
      // serialization is what makes destroy safe; a foreign-context
      // entry's blocks are unreachable anyway — just drop it)
      if ((e.ctx eq ctx) && !e.ctx.isStopped)
        { scala.util.Try(e.bc.destroy()); () }

    private def releaseEvicted(e: Entry): Unit =
      if (!e.ctx.isStopped)
        { scala.util.Try(e.bc.unpersist(false)); () }

    /** (broadcast, non-empty-slice count, cache hit?, entry bytes,
      * total cached bytes after).
      */
    def get(spark: SparkSession, artifactDir: String, snapDir: String,
        slices: Int, frame: => DataFrame)
        : (org.apache.spark.broadcast.Broadcast[
            Array[org.apache.spark.util.sketch.BloomFilter]],
          Long, Boolean, Long, Long) = {
      def live(e: Entry): Boolean = e != null && e.snapDir == snapDir &&
        (e.ctx eq spark.sparkContext) && !e.ctx.isStopped
      val hit = cache.synchronized {
        val cur = cache.get(artifactDir)
        if (live(cur)) Some((cur.bc, cur.slices, true, cur.bytes,
          totalBytesLocked))
        else None
      }
      hit.getOrElse {
        // build OUTSIDE the lock (the r15 advisory: this is ~the
        // provisioned bytes of collect + deserialize at full
        // provisioning — holding the global lock here serialized
        // every other loop's tick behind it)
        val arr =
          new Array[org.apache.spark.util.sketch.BloomFilter](slices)
        var bytes = 0L
        val t0 = System.nanoTime
        frame.collect().foreach { r =>
          val bf = r.getAs[Array[Byte]]("bf")
          require(bf != null,
            "bloomparts base snapshot holds a non-filter row — the " +
              "rebuild and fold both emit per-slice filters; a hash " +
              "row in base means the artifact was written by " +
              "incompatible code")
          val s = r.getLong(0).toInt
          require(s >= 0 && s < slices,
            s"bloomparts base holds slice $s outside 0..${slices - 1}" +
              " — the artifact was written with different slicing")
          bytes += bf.length.toLong
          val f = readFilter(bf)
          if (arr(s) == null) arr(s) = f else arr(s).mergeInPlace(f)
        }
        val tCollect = (System.nanoTime - t0) / 1000000L
        val n = arr.count(_ != null).toLong
        val t1 = System.nanoTime
        val bc = spark.sparkContext.broadcast(arr)
        val tBcast = (System.nanoTime - t1) / 1000000L
        if (traceTick) AcceptStats.record(artifactDir, sums = Map.empty,
          lasts = Map("last_ms_base_collect" -> tCollect,
            "last_ms_base_bcast" -> tBcast))
        cache.synchronized {
          val cur = cache.get(artifactDir)
          if (live(cur)) {
            // a racing duplicate build won; ours never reached a plan
            scala.util.Try(bc.destroy())
            (cur.bc, cur.slices, false, cur.bytes,
              totalBytesLocked)
          } else {
            if (cur != null) releaseSuperseded(cur, spark.sparkContext)
            cache.put(artifactDir,
              Entry(snapDir, spark.sparkContext, bc, n, bytes))
            // budget eviction in LRU order; the just-inserted entry
            // survives even alone over budget (see class doc)
            var total = totalBytesLocked
            val it = cache.entrySet().iterator()
            while ((total > maxBytes || cache.size() > MaxEntries) &&
                cache.size() > 1 && it.hasNext) {
              val e = it.next()
              if (e.getKey != artifactDir) {
                releaseEvicted(e.getValue)
                total -= e.getValue.bytes
                it.remove()
              }
            }
            (bc, n, false, bytes, total)
          }
        }
      }
    }
    /** Callers hold `cache`'s monitor. */
    private def totalBytesLocked: Long = {
      var t = 0L
      cache.values.forEach(e => t += e.bytes)
      t
    }
    private[streaming] def entryCount: Int =
      cache.synchronized(cache.size())
    private[streaming] def cachedBytes: Long =
      cache.synchronized(totalBytesLocked)
    private[streaming] def cachedArtifacts: Seq[String] =
      cache.synchronized {
        import scala.jdk.CollectionConverters._
        cache.keySet().asScala.toSeq
      }
    private[streaming] def reset(): Unit =
      cache.synchronized(cache.clear())
  }

  /** The exact-screen pieces, shared by both artifact families:
    * (id, fp, _ib) digests fold-clustered by fp, plus the sliced
    * Bloom screen (per-slice filters in base, raw per-generation
    * fingerprint hashes in delta; the fold promotes hashes into the
    * filters — see the class doc).
    */
  private def exactPieces(idCol: String, expectedItems: Long): Seq[Piece] = {
    val slices = slicesFor(expectedItems)
    val per = perSliceFor(expectedItems)
    Seq(
      Piece("digests", (docs, _) =>
        docs.select(col(idCol), col("fp"), col("_ib")),
        // cluster by fp: a short capped-In residue probe prunes row
        // groups (only up to inFilterThreshold fps — class doc)
        fold = Some(_.repartition(col("fp"))
          .sortWithinPartitions("fp", "_ib"))),
      Piece("bloomparts", (docs, ctx) => {
        graft.plans.GraftFunctions.ensureRegistered(docs.sparkSession)
        val h = xxhash64(col("fp"))
        val bySlice = docs.groupBy(pmod(h, lit(slices.toLong)).as("slice"))
        if (ctx.isRebuild)
          // whole corpus: build the per-slice filters DISTRIBUTED —
          // one slice-keyed Bloom aggregate, never a driver-side
          // corpus-sized putLong loop
          bySlice.agg(call_function("graft_bloom_agg", h,
              lit(per), lit(bloomBits(per))).as("bf"))
            .select(col("slice"), col("bf"),
              lit(null).cast(ArrayType(LongType)).as("hs"))
        else
          // one generation: raw hashes only (batch-sized); emitting
          // slice-capacity bitmaps here would write ~the provisioned
          // bits per tick
          bySlice.agg(collect_list(h).as("hs"))
            .select(col("slice"), lit(null).cast(BinaryType).as("bf"),
              col("hs"))
      },
        fold = Some { df =>
          // promote accumulated hashes into the per-slice filters
          // (driver-side: ≤ compactEvery generations of batch-sized
          // hash lists + the existing slice filters)
          val rows = df.collect()
          val filters = scala.collection.mutable.Map[
            Long, org.apache.spark.util.sketch.BloomFilter]()
          rows.foreach { r =>
            val bf = r.getAs[Array[Byte]]("bf")
            if (bf != null) {
              val f = readFilter(bf)
              filters.get(r.getLong(0)) match {
                case Some(e) => e.mergeInPlace(f); ()
                case None => filters(r.getLong(0)) = f
              }
            }
          }
          rows.foreach { r =>
            val hs = r.getAs[scala.collection.Seq[Long]]("hs")
            if (hs != null) {
              val f = filters.getOrElseUpdate(r.getLong(0),
                newSliceFilter(per))
              hs.foreach(f.putLong)
            }
          }
          import scala.jdk.CollectionConverters._
          val out = filters.toSeq.sortBy(_._1).map { case (s, f) =>
            Row(s, filterBytes(f), null)
          }
          df.sparkSession.createDataFrame(out.asJava, partsSchema)
        }))
  }

  /** Stored screen artifact of the accepted corpus (exact mode).
    * `expectedItems` AND the derived slice count are part of the key
    * — partials merge only at identical sizing, so changing either
    * keys a fresh build instead of corrupting the merge.
    */
  private def digestHandle(corpusPath: String, idCol: String,
      textCol: String, expectedItems: Long) =
    IncrementalDocArtifact(corpusPath,
      s"accept_${idCol}_${textCol}_e${expectedItems}_s${slicesFor(expectedItems)}",
      exactPieces(idCol, expectedItems),
      compactEvery = acceptCompactEvery)

  /** THE exact screen: rows of `inBatch` (already in-batch-deduped,
    * fp attached) whose fingerprint no STRICTLY-EARLIER batch
    * accepted. One implementation for both modes — per-slice Bloom
    * probe (cached base filters + unfolded recent hashes), capped-In
    * exact residue on the fp-clustered digest fold, `_ib < batchId`
    * anchor. The probe flag evaluates ONCE (pinned), so the filter
    * literals embed once per serialized plan.
    */
  private def exactScreen(h: IncrementalDocArtifact.Handle,
      spark: SparkSession, inBatch: DataFrame, batchId: Long,
      expectedItems: Long): DataFrame = {
    val slices = slicesFor(expectedItems)
    val (baseHalf, deltaHalf) = h.serveBaseDelta(spark, "bloomparts")
    val (baseBc, baseSlices, cacheHit, baseBytes, cacheBytes) =
      baseHalf match {
        case Some((snap, frame)) =>
          BloomCache.get(spark, h.artifactDir, snap, slices, frame)
        case None => (null, 0L, false, 0L, BloomCache.cachedBytes)
      }
    // the unfolded tail's SIZE decides how it is probed, BEFORE any
    // collect pays for it: per-row list sizes of the (row-count ≤
    // slices × live-generations) delta frame in one job, summed on the
    // driver (an aggregate is two jobs under AQE). The same pass
    // asserts the no-filter-rows-in-delta invariant the collect used
    // to check row by row.
    val tailCount: Long = deltaHalf match {
      case Some(d) =>
        val rows = d.select(size(col("hs")), col("bf").isNotNull).collect()
        require(!rows.exists(_.getBoolean(1)),
          "bloomparts delta holds a filter row — generations emit raw " +
            "hashes; a filter in delta means the artifact was written " +
            "by incompatible code")
        rows.iterator.filterNot(_.isNullAt(0)).map(_.getInt(0).max(0).toLong).sum
      case None => 0L
    }
    val distributedTail = tailCount > recentCollectMax
    val recent: Array[Long] =
      if (distributedTail) Array.empty[Long]
      else deltaHalf match {
        case Some(d) => d.collect().flatMap { r =>
          val hs = r.getAs[scala.collection.Seq[Long]]("hs")
          if (hs == null) Seq.empty[Long] else hs
        }
        case None => Array.empty[Long]
      }
    val h64 = xxhash64(col("fp"))
    val recentOverCap = tailCount > recentCap
    // a null hash must claim "maybe" (exactness first); an ABSENT
    // slice proves novelty (no seen fp hashes there — the
    // empty-slice lemma). The probe expression holds the filters
    // behind a BROADCAST ([[graft.plans.SlicedBloomProbe]] — a
    // byte literal of the provisioned bitmap is untenable in the
    // plan, measured §9.37)
    def sliceProbe: Column =
      if (baseSlices == 0L) lit(false)
      else coalesce(
        graft.plans.SlicedBloomProbe.column(h64, slices, baseBc),
        lit(true))
    // ONE evaluation of the probe (and ONE embedding of the filter
    // literals in a serialized plan): the probed frame is pinned and
    // both branches read the precomputed flag. The pin is LAZY: its
    // first consumer is the full-scan `fps` distinct below, which
    // materializes it inside a job that runs anyway
    val probed = Pin.lazily(
      if (distributedTail) {
        // the tail is too large to collect at all (a stalled
        // maintenance plane or a backfill burst between folds —
        // r15 What's-wrong #2): probe it DISTRIBUTED — mark each
        // batch row by a hash join against the exploded delta
        // hashes (exact membership, so strictly tighter than any
        // filter; the residue join downstream stays the decider) —
        // and queue an immediate detached fold so the tail itself
        // shrinks (single-flight; no-op when folding is disabled,
        // which is the probe's maintenance-stalled construction)
        h.compactDetached(spark)
        val deltaHashes = deltaHalf.get
          .select(explode(col("hs")).as("_h64t")).distinct()
        inBatch.withColumn("_h64", h64)
          .join(deltaHashes, col("_h64") === col("_h64t"), "left_outer")
          .withColumn("_might", sliceProbe || col("_h64t").isNotNull)
          .drop("_h64", "_h64t")
      } else {
        val might =
          if (baseSlices == 0L && recent.isEmpty)
            // pathological (screen piece present but empty): claim
            // "maybe" for every row — exactness first, the residue
            // join decides
            lit(true)
          else {
            val recentProbe =
              if (recent.isEmpty) lit(false)
              else if (!recentOverCap)
                // exact membership literal — small by the fold cadence
                // (≤ compactEvery generations of batch-sized hash sets)
                h64.isInCollection(recent.toSeq)
              else {
                // backfill-sized unfolded tail (still under the
                // collect cap): an ephemeral tick-local filter sized
                // to the actual count (probe-only — never merged, so
                // its sizing is free); per-tick broadcast, reclaimed
                // by the ContextCleaner when the tick's plan becomes
                // unreachable
                val f = org.apache.spark.util.sketch.BloomFilter.create(
                  recent.length.toLong, bloomBits(recent.length.toLong))
                recent.foreach(f.putLong)
                coalesce(graft.plans.SlicedBloomProbe.column(h64, 1,
                  spark.sparkContext.broadcast(Array(f))), lit(true))
              }
            sliceProbe || recentProbe
          }
        inBatch.withColumn("_might", might)
      })
    val definitelyNew = probed.filter(!col("_might")).drop("_might")
    val maybe = probed.filter(col("_might")).drop("_might")
    // the replay anchor: strictly-earlier batches only (class doc)
    val seen = h.serve(spark, "digests").where(col("_ib") < batchId)
    val cap = residueCap
    val fps = maybe.select("fp").distinct()
      .limit(cap + 1).collect().map(_.getString(0))
    val seenSide =
      (if (fps.length <= cap)
        // capped-In probe: the residue never pays a full join build;
        // row groups prune only up to inFilterThreshold (10) fps —
        // past it the scan reads every digest row (class doc)
        seen.where(col("fp").isInCollection(fps.toSeq))
      else seen).select("fp")
    AcceptStats.record(h.artifactDir,
      sums = Map("sum_ticks" -> 1L,
        "sum_residue_fallbacks" -> (if (fps.length > cap) 1L else 0L),
        "sum_recent_over_caps" -> (if (recentOverCap) 1L else 0L),
        "sum_recent_distributed" -> (if (distributedTail) 1L else 0L)),
      lasts = Map("last_base_slices" -> baseSlices,
        "last_base_cache_hit" -> (if (cacheHit) 1L else 0L),
        "last_base_bytes" -> baseBytes,
        "last_cache_bytes" -> cacheBytes,
        "last_recent_hashes" -> tailCount,
        "last_residue_fps" -> fps.length.toLong))
    definitelyNew.unionByName(
      maybe.join(seenSide, Seq("fp"), "left_anti"))
  }

  /** In-batch first-wins dedup (min id per fingerprint — the
    * [[graft.dedup.ExactDedup]] convention, deterministic under
    * replay), fp attached. NOT pinned here: every tick path evaluates
    * it exactly once into a downstream pin (the probed frame, or the
    * survivor/exact-fresh checkpoint on a fresh corpus).
    */
  private def inBatchDedup(batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = Window.partitionBy("fp").orderBy(col(idCol))
    batch.withColumn("fp", fpCol(textCol))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Verification signature: 32 INDEPENDENT-seed MinHash components.
    * Independence is the REQUIREMENT (r14 finding: the banding
    * signature's linear seeded family — b1 + s*b2 over one base pair
    * — correlates across seeds: one globally-small shingle attains
    * the min for every seed at once, and ~40% of bucket-colliding
    * J~0 pairs estimated >= 0.75). The FAMILY is the seeded-mix one
    * (min over shingles of splitmix64(xxhash64(shingle) ^ seed_v)):
    * the r14 per-seed concat+xxhash64 form was estimator-sound but
    * measured as the near tick's single largest stage (a UTF8String
    * allocation per seed per shingle row, §9.37); the mix family is
    * pure codegen long arithmetic with MEASURED estimator quality
    * (`probe_mix_estimator`). Independent components are i.i.d.
    * Bernoulli(J) — the textbook estimator — so a threshold actually
    * separates near-dups from collisions.
    */
  private val VerK = 32

  private def verSigCol: Column =
    array((0 until VerK).map(v => col(s"v$v")): _*).as("sig")

  /** Both signature families (banding h0..h7 + verification v0..v31)
    * from ONE explode, ONE xxhash64 per shingle row and ONE per-id
    * aggregate — the doc-sized fused table is what gets pinned, never
    * the exploded shingle frame (measured trade, §9.37). Batch-side
    * form: keyed by id alone (per-batch id uniqueness is enforced
    * before this runs).
    */
  private def fusedSigTable(docs: DataFrame, idCol: String,
      norm: Column): DataFrame =
    graft.dedup.MinHashLSH.mixedSignatureTableFromShingles(
      graft.dedup.MinHashLSH.shingleRows(docs, idCol, norm),
      idCol, verK = VerK)

  /** Artifact-side form: keyed PER ACCEPTED INSTANCE (id, _ib). Ids
    * are unique within a batch (enforced) but NOT across batches —
    * and a REBUILD (or a multi-batch catch-up generation after
    * crashes between landing and advance) hands every instance to one
    * build, where grouping by id alone would merge two documents'
    * shingles into one signature that matches neither text (silent
    * near-screen corruption). The struct key keeps each instance's
    * signature and band rows separate; the `_ib` the stored pieces
    * need comes out of the key, so the builders no longer join back
    * to docs for it.
    */
  private def fusedInstanceSigTable(docs: DataFrame, idCol: String,
      norm: Column): DataFrame = {
    val keyed = docs.withColumn("_iid", struct(col(idCol), col("_ib")))
    graft.dedup.MinHashLSH.mixedSignatureTableFromShingles(
      graft.dedup.MinHashLSH.shingleRows(keyed, "_iid", norm),
      "_iid", verK = VerK)
  }

  /** Optional per-stage tick tracing (`graft.accept.tickTrace=1`):
    * wall ms per stage lands as `last_ms_*` gauge values. OFF by
    * default — the standing gauge stays counts-only; a probe flips
    * this on to LOCATE a tick's constant instead of guessing at it
    * (§9.37: the "obvious" double-shingle fix measured ~0).
    */
  private def traceTick: Boolean =
    sys.props.get("graft.accept.tickTrace").contains("1")

  private def traced[A](key: String, stage: String)(a: => A): A =
    if (!traceTick) a
    else {
      val t0 = System.nanoTime
      val r = a
      AcceptStats.record(key, sums = Map.empty,
        lasts = Map(s"last_ms_$stage" ->
          ((System.nanoTime - t0) / 1000000L)))
      r
    }

  /** Columns the loop owns or uses as tick-internal scratch. */
  private val Reserved = Seq("fp", "_ib", "_rn", "_might")

  private def requireCleanColumns(batch: DataFrame): Unit = {
    val hit = Reserved.filter(batch.columns.contains)
    require(hit.isEmpty,
      s"the ingested frame must not carry ${hit.mkString("/")} — the " +
        s"accept loop owns ${Reserved.mkString("/")} (fp and _ib land " +
        "with the rows; the rest are tick-internal)")
  }

  // ---- one mode per outDir, enforced (see class doc) ----

  private def modePath(outDir: String) = Paths.get(outDir, "_accept_mode")

  private def modeOf(outDir: String): Option[String] = {
    val p = modePath(outDir)
    if (!Files.exists(p)) None
    else {
      val m = Files.readString(p).trim
      // cannot happen through the atomic stamp below — an empty
      // marker means hand-editing or a foreign writer; refusing BOTH
      // modes forever with no explanation would brick the sink
      if (m.isEmpty) throw new IllegalStateException(
        s"corrupt (empty) accept-mode marker at $p — delete it and " +
          "re-run the intended mode's door to re-stamp")
      Some(m)
    }
  }

  private def refuseMode(outDir: String, cur: String, mode: String): Nothing =
    throw new IllegalStateException(
      s"$outDir is a $cur-mode accept sink — refusing the $mode-mode " +
        "entry point: interleaving modes would silently build and " +
        "maintain a second full screen-artifact family over the whole " +
        s"corpus; use one mode per outDir (marker: ${modePath(outDir)})")

  private def stampOrRequireMode(outDir: String, mode: String): Unit =
    modeOf(outDir) match {
      case Some(cur) => if (cur != mode) refuseMode(outDir, cur, mode)
      case None =>
        // atomic publish (content never observable half-written); a
        // lost race returns the winner's mode — re-check against it
        val won = CorpusLanding.stampMarker(modePath(outDir), mode)
        if (won != mode) refuseMode(outDir, won, mode)
    }

  /** Accessor-side check: refuse a marked mismatch; a pre-marker
    * corpus (stamped by an older build) is served as addressed.
    */
  private def requireModeIfMarked(outDir: String, mode: String): Unit =
    modeOf(outDir).foreach(cur => if (cur != mode)
      refuseMode(outDir, cur, mode))

  /** Accept one batch: in-batch dedup, screen vs earlier batches,
    * land survivors, advance the screen artifact. The manual /
    * backfill door, and the micro-batch body of [[start]].
    *
    * @param expectedItems Bloom sizing for the seen side — the
    *   accepted-corpus cardinality this loop is provisioned for
    *   (part of the artifact key; change = fresh screen build).
    *   Capacity scales by slice count, so any value provisions at
    *   the default runtime-bloom confs.
    */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, outDir: String, parts: Int = 1,
      expectedItems: Long = 4000000L): Unit = {
    if (batch.isEmpty) return
    requireCleanColumns(batch)
    val spark = batch.sparkSession
    graft.plans.GraftFunctions.ensureRegistered(spark)
    requireBloomCapacity(spark, expectedItems)
    val corpus = corpusDir(outDir)
    CorpusLanding.requireLocal(outDir)
    stampOrRequireMode(outDir, "exact")
    val inBatch = inBatchDedup(batch, idCol, textCol)
    val fresh =
      if (CorpusLanding.hasData(corpus))
        exactScreen(digestHandle(corpus, idCol, textCol, expectedItems),
          spark, inBatch, batchId, expectedItems)
      else inBatch
    // pinned: the emptiness check and the landing must read ONE
    // evaluation of the screen (not re-run the probe + residue join);
    // the count that checks emptiness is the job that materializes it
    val (survivors, n) =
      Pin.loop().pinCount(fresh.withColumn("_ib", lit(batchId)), "")
    // survivors can be empty (an all-duplicate batch): nothing lands,
    // nothing advances — the replay of such a batch is trivially
    // idempotent (same screen, same empty survivor set)
    if (n > 0) {
      CorpusLanding.land(survivors, batchId, corpus, hashCol = "fp",
        parts = parts)
      // tick: advance the screen artifact over the landed generation
      digestHandle(corpus, idCol, textCol, expectedItems).advance(spark)
    }
  }

  def start(docs: DataFrame, idCol: String, textCol: String,
      outDir: String, checkpoint: String, trigger: Trigger,
      expectedItems: Long = 4000000L): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, outDir,
          expectedItems = expectedItems)
      }
      .start()

  // -----------------------------------------------------------------
  // NEAR-DUP accept mode: exact screen + MinHash near-dup screen
  // against everything previously accepted. Its own artifact family
  // (`acceptnear_…`) — an exact-only sink never pays band/signature
  // maintenance; one mode per outDir (marker-enforced).
  // -----------------------------------------------------------------

  /** Screen artifact for the near mode: the exact pieces (digests +
    * bloomparts) PLUS per-doc MinHash signatures (id-clustered — the
    * verification lookup pushes a capped In) and the banded LSH index
    * ((band, bucket)-clustered — the probe pushes the batch's
    * (band, bucket) pairs). All additive: bands/signatures derive per
    * doc from the landed text — and from ONE shared shingle pass per
    * advanced generation: both builders read one memoized, pinned
    * signature table of the advance. Rebuilds skip the pin — a
    * whole-corpus shingle materialization is exactly the thing a
    * streamed rebuild must not hold.
    */
  private def nearHandle(corpusPath: String, idCol: String,
      textCol: String, expectedItems: Long) = {
    val norm = TextFunctions.normalize(col(textCol))
    // ONE shingle pass per advanced generation, shared by the sigs
    // and bands builders: a ctx memo of the PINNED FUSED SIGNATURE
    // TABLE (doc-sized — never the exploded shingle frame, measured
    // trade §9.37) collapses the two passes into one, released when
    // the advance ends. Rebuilds skip the pin — each piece streams its
    // own pass over the whole corpus instead of materializing any of it.
    def fusedOf(docs: DataFrame,
        ctx: IncrementalDocArtifact.AdvanceCtx): DataFrame =
      if (ctx.isRebuild) fusedInstanceSigTable(docs, idCol, norm)
      else ctx.memo("fused")(ctx.pin(fusedInstanceSigTable(docs, idCol, norm)))
    // the stored rows carry (id, _ib) flattened back out of the
    // instance key
    def unkey(df: DataFrame): DataFrame =
      df.select((df.columns.filterNot(_ == "_iid").map(col) ++ Seq(
        col("_iid").getField(idCol).as(idCol),
        col("_iid").getField("_ib").as("_ib"))): _*)
    // _m1 = the seeded-mix signature family: a family change re-keys
    // the artifact (stored sigs/bands from another family would
    // estimate garbage against fresh batch signatures)
    IncrementalDocArtifact(corpusPath,
      s"acceptnear_${idCol}_${textCol}_e${expectedItems}_s${slicesFor(expectedItems)}_m1",
      exactPieces(idCol, expectedItems) ++ Seq(
      Piece("sigs", (docs, ctx) =>
        unkey(fusedOf(docs, ctx).select(col("_iid"), verSigCol)),
        fold = Some(df => df.repartition(col(idCol))
          .sortWithinPartitions(idCol))),
      Piece("bands", (docs, ctx) =>
        unkey(graft.dedup.MinHashLSH
          .bandedIndexFromSignatures(fusedOf(docs, ctx), "_iid")),
        fold = Some(df => df.repartition(col("band"), col("bucket"))
          .sortWithinPartitions("band", "bucket")))),
      compactEvery = acceptCompactEvery)
  }

  /** [[applyBatch]] with a SECOND screen: a doc is rejected if its
    * ESTIMATED Jaccard (matching INDEPENDENT-SEED MinHash components
    * / 32 — the textbook estimator, see [[VerK]] for why the
    * banding signature cannot be used here) against ANY
    * previously-accepted doc, or any surviving smaller-id doc of its
    * own batch, reaches `threshold`. Candidates come from
    * the stored banded index (probe pushes the batch's (band, bucket)
    * pairs as a capped per-band In on the (band, bucket)-clustered
    * fold — the probe key, so the prune matches the clustering;
    * verification pushes candidate ids on the id-clustered signature
    * fold — the tick never scans the stored index). The batch's
    * banding signature AND verification signature come out of ONE
    * explode + ONE per-id aggregate, pinned at doc granularity (the
    * near tick's dominant constant was paying the shingle explode
    * and its shuffle once per signature family — and pinning the
    * EXPLODED rows instead measured WORSE than the recompute, §9.37).
    * `maxIndexPerBucket` is the candidate-volume knob
    * ([[StreamingLshDedup]]'s): hot buckets keep their earliest
    * witnesses, so a genuinely-new doc colliding with a crowd still
    * verifies against the crowd's representatives; a near-dup whose
    * only similar witness was capped out can slip through (documented
    * trade, raise the cap for exactness).
    *
    * IDS MUST BE UNIQUE per batch (refused loudly): the per-doc
    * signature groups shingles by `idCol`, so duplicate ids would
    * merge into one bogus signature, and the id-keyed candidate joins
    * plus the final anti-join would drop or keep the shared rows
    * together. Across batches a re-used id is harmless — each
    * accepted instance keeps its own (id, _ib)-keyed signature and
    * band rows and verifies independently.
    *
    * Replay discipline is [[applyBatch]]'s: the exact residue AND the
    * near-dup screen anchor on `_ib < batchId`, so a crashed
    * attempt's own partial landing never changes the replay's
    * survivor set; in-batch near-dups resolve deterministically
    * (a doc drops iff it estimates ≥ threshold against a SMALLER-id
    * surviving-exact doc of the batch — id order, not arrival order).
    */
  def applyBatchNear(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, outDir: String, threshold: Double,
      parts: Int = 1, expectedItems: Long = 4000000L,
      maxIndexPerBucket: Int = 64): Unit = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    if (batch.isEmpty) return
    requireCleanColumns(batch)
    val spark = batch.sparkSession
    graft.plans.GraftFunctions.ensureRegistered(spark)
    requireBloomCapacity(spark, expectedItems)
    val corpus = corpusDir(outDir)
    CorpusLanding.requireLocal(outDir)
    stampOrRequireMode(outDir, "near")
    val h = nearHandle(corpus, idCol, textCol, expectedItems)
    val inBatch = inBatchDedup(batch, idCol, textCol)
    val hasPrior = CorpusLanding.hasData(corpus)
    // exact screen first (ONE implementation with applyBatch), pinned:
    // the signature table AND the final anti-join both read it — an
    // unpinned frame would re-run the bloom probe + residue join
    val exactFresh = traced(h.artifactDir, "exact_screen") {
      Pin(if (hasPrior) exactScreen(h, spark, inBatch, batchId, expectedItems)
      else inBatch)
    }
    val dupId = traced(h.artifactDir, "dup_id_check") {
      exactFresh.groupBy(col(idCol)).count()
        .where(col("count") > 1).limit(1).collect()
    }
    if (dupId.nonEmpty) throw new IllegalArgumentException(
      s"near-mode accept requires unique $idCol values per batch " +
        s"(duplicate: ${dupId.head.get(0)}) — duplicate ids would merge " +
        "into one bogus MinHash signature and the id-keyed joins would " +
        "drop or keep the shared rows together; re-key the batch")
    // ---- near screen over the exact survivors ----
    // candidates from the loop's seeded-mix banding (same k=8/r=2
    // band structure as the engine default); VERIFICATION by the
    // independent-seed signature — both signature families from
    // ONE explode + ONE per-id aggregate, and the PIN is the
    // doc-sized fused table (every consumer below re-derives its
    // cheap projection/posexplode from it)
    val norm = TextFunctions.normalize(col(textCol))
    val sigTable = traced(h.artifactDir, "sig_table") {
      Pin(fusedSigTable(exactFresh, idCol, norm))
    }
    val batchSigs = sigTable.select(col(idCol), verSigCol)
    val batchBands = graft.dedup.MinHashLSH
      .bandedIndexFromSignatures(sigTable, idCol)
    def estimate(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / lit(VerK.toDouble)
    // vs the ACCEPTED index (anchored): capped (band, bucket)-pair
    // probe, then capped id lookup on the signature fold, then the
    // estimator
    val dupVsAccepted: DataFrame =
      if (hasPrior) {
        val pairRows = traced(h.artifactDir, "pair_collect") {
          batchBands.select(col("band"), col("bucket"))
            .distinct().limit(residueCap + 1).collect()
        }
        val storedBands0 = h.serve(spark, "bands")
          .where(col("_ib") < batchId)
        val pairsOverCap = pairRows.length > residueCap
        val storedBands =
          if (!pairsOverCap) {
            // per-band bucket In, OR'd: the fold clusters by
            // (band, bucket), so pruning on the composite probe key
            // skips row groups a bucket-only In would still read
            // (identical bucket digests occur across bands); an EMPTY
            // probe (all-exact-dup batch) filters to nothing — never
            // scan the stored index against no probes
            val pred = pairRows.groupBy(_.getInt(0)).map { case (b, rs) =>
              col("band") === lit(b) &&
                col("bucket").isInCollection(
                  rs.map(_.getString(1)).toSeq)
            }.reduceOption(_ || _).getOrElse(lit(false))
            storedBands0.where(pred)
          } else storedBands0
        val cands = traced(h.artifactDir, "cand_probe") {
          Pin(graft.dedup.MinHashLSH.probeCandidatesBanded(
            storedBands.select(col(idCol), col("band"), col("bucket")),
            batchBands, idCol, maxIndexPerBucket))
        }
        val candIds = traced(h.artifactDir, "cand_ids") {
          cands.select("id_index").distinct()
            .limit(residueCap + 1).collect().map(_.get(0))
        }
        val sigs0 = h.serve(spark, "sigs").where(col("_ib") < batchId)
        val storedSigs =
          (if (candIds.length <= residueCap)
            sigs0.where(col(idCol).isInCollection(candIds.toSeq))
          else sigs0).select(col(idCol).as("id_index"),
            col("sig").as("sig_a"))
        AcceptStats.record(h.artifactDir,
          sums = Map(
            "sum_band_over_caps" -> (if (pairsOverCap) 1L else 0L),
            "sum_cand_over_caps" ->
              (if (candIds.length > residueCap) 1L else 0L)),
          lasts = Map("last_band_pairs" -> pairRows.length.toLong,
            "last_cand_ids" -> candIds.length.toLong))
        cands.join(storedSigs, "id_index")
          .join(batchSigs.select(col(idCol).as("id_probe"),
            col("sig").as("sig_b")), "id_probe")
          .where(estimate(col("sig_a"), col("sig_b")) >= threshold)
          .select(col("id_probe").as(idCol)).distinct()
      } else exactFresh.limit(0).select(col(idCol))
    // vs SMALLER-ID batch peers (deterministic in-batch resolution)
    // capped like the stored-index probe: a boilerplate-heavy batch
    // colliding in one bucket must not expand quadratically — the
    // kept witnesses are the smallest ids (same deterministic
    // truncation semantics as maxIndexPerBucket)
    val peerPairs = graft.dedup.PairGen.pairsWithin(
        batchBands.select(col("band"), col("bucket"), col(idCol)),
        Seq("band", "bucket"), col(idCol), maxIndexPerBucket)
      .select(col("a"), col("b")).distinct()
    val dupVsPeers = peerPairs
      .join(batchSigs.select(col(idCol).as("a"), col("sig").as("sig_a")), "a")
      .join(batchSigs.select(col(idCol).as("b"), col("sig").as("sig_b")), "b")
      .where(estimate(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("b").as(idCol)).distinct() // b is the larger id
    val fresh = exactFresh
      .join(dupVsAccepted.unionByName(dupVsPeers).distinct(),
        Seq(idCol), "left_anti")
    val survivors = traced(h.artifactDir, "verify_and_pin") {
      Pin(fresh.withColumn("_ib", lit(batchId)))
    }
    if (!survivors.isEmpty) {
      traced(h.artifactDir, "land") {
        CorpusLanding.land(survivors, batchId, corpus, hashCol = "fp",
          parts = parts)
      }
      traced(h.artifactDir, "advance") {
        h.advance(spark)
      }
    }
  }

  /** [[start]] in near-dup mode. */
  def startNear(docs: DataFrame, idCol: String, textCol: String,
      outDir: String, checkpoint: String, trigger: Trigger,
      threshold: Double, expectedItems: Long = 4000000L): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatchNear(batch, batchId, idCol, textCol, outDir,
          threshold, expectedItems = expectedItems)
      }
      .start()

  /** The accepted corpus — every surviving document row (original
    * columns + `fp` + `_ib`). This IS a corpus directory: any
    * corpus-keyed store pointed at it maintains itself over the
    * accepted set.
    */
  def accepted(spark: SparkSession, outDir: String): DataFrame = {
    val corpus = corpusDir(outDir)
    if (!CorpusLanding.hasData(corpus)) throw new IllegalStateException(
      s"no accepted documents under $outDir — start the stream (or " +
        "point at its outDir) before reading")
    spark.read.parquet(corpus)
  }

  /** The accepted corpus AS OF ingest batch `batchId` — the
    * reproducible-training-data read ("which documents had been
    * accepted when shard build k ran"). Free and exact: landings are
    * append-only and every row carries its `_ib`, so the as-of view
    * is one pushed-down filter — no snapshot machinery needed (the
    * screen ARTIFACT's versions travel through the store's own
    * `serveVersion` door).
    */
  def acceptedAsOf(spark: SparkSession, outDir: String,
      batchId: Long): DataFrame =
    accepted(spark, outDir).where(col("_ib") <= batchId)

  /** The corpus directory path of this loop's accepted set — the
    * address to hand other corpus-keyed stores.
    */
  def acceptedCorpusPath(outDir: String): String = corpusDir(outDir)

  /** The EXACT-mode screen artifact's storage directory — the
    * address for inspection ([[AcceptStats]] keys on it) and teardown
    * (drop it to force a fresh screen build from the corpus).
    * Mode-checked like every mode-specific accessor: against a
    * near-mode sink this would silently return a path that does not
    * exist — a teardown script would delete nothing and gauge
    * lookups would read as "no ticks ran".
    */
  def screenArtifactDir(outDir: String, idCol: String, textCol: String,
      expectedItems: Long = 4000000L): String = {
    requireModeIfMarked(outDir, "exact")
    digestHandle(corpusDir(outDir), idCol, textCol, expectedItems)
      .artifactDir
  }

  /** [[screenArtifactDir]] for a near-mode sink. */
  def screenArtifactDirNear(outDir: String, idCol: String,
      textCol: String, expectedItems: Long = 4000000L): String = {
    requireModeIfMarked(outDir, "near")
    nearHandle(corpusDir(outDir), idCol, textCol, expectedItems)
      .artifactDir
  }

  /** Stored digest view (id, fp, _ib) of the EXACT-mode screen
    * artifact (near-mode sinks: [[digestsNear]] — the families are
    * separate, and the mode marker refuses the wrong accessor
    * before it would build a redundant second screen).
    */
  def digests(spark: SparkSession, outDir: String, idCol: String,
      textCol: String, expectedItems: Long = 4000000L): DataFrame = {
    requireModeIfMarked(outDir, "exact")
    digestHandle(corpusDir(outDir), idCol, textCol, expectedItems)
      .serve(spark, "digests")
  }

  /** [[digests]] for a near-mode sink. */
  def digestsNear(spark: SparkSession, outDir: String, idCol: String,
      textCol: String, expectedItems: Long = 4000000L): DataFrame = {
    requireModeIfMarked(outDir, "near")
    nearHandle(corpusDir(outDir), idCol, textCol, expectedItems)
      .serve(spark, "digests")
  }

  /** Join any in-flight detached fold of the EXACT-mode screen
    * artifact (the distributed-tail path queues one) — the
    * determinism hook for specs, probes and shutdown paths.
    */
  def awaitScreenMaintenance(outDir: String, idCol: String,
      textCol: String, expectedItems: Long = 4000000L): Unit = {
    requireModeIfMarked(outDir, "exact")
    digestHandle(corpusDir(outDir), idCol, textCol, expectedItems)
      .awaitMaintenance()
  }

  /** [[awaitScreenMaintenance]] for a near-mode sink. */
  def awaitScreenMaintenanceNear(outDir: String, idCol: String,
      textCol: String, expectedItems: Long = 4000000L): Unit = {
    requireModeIfMarked(outDir, "near")
    nearHandle(corpusDir(outDir), idCol, textCol, expectedItems)
      .awaitMaintenance()
  }

  /** Fold the EXACT-mode screen artifact now (also runs on the store
    * cadence); near-mode sinks: [[compactNear]].
    */
  def compact(spark: SparkSession, outDir: String, idCol: String,
      textCol: String, expectedItems: Long = 4000000L): Unit = {
    requireModeIfMarked(outDir, "exact")
    digestHandle(corpusDir(outDir), idCol, textCol, expectedItems)
      .compact(spark)
  }

  /** [[compact]] for a near-mode sink (folds digests, bloom partials,
    * signatures and the banded index together).
    */
  def compactNear(spark: SparkSession, outDir: String, idCol: String,
      textCol: String, expectedItems: Long = 4000000L): Unit = {
    requireModeIfMarked(outDir, "near")
    nearHandle(corpusDir(outDir), idCol, textCol, expectedItems)
      .compact(spark)
  }
}
