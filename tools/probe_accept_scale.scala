// S9.35 input: the accept-ingest loop's per-batch cost as the
// ACCEPTED CORPUS grows. Exact global dedup needs the full seen set,
// but the per-batch tick must not re-read it: the screen is the
// fp-hash-SLICED stored Bloom (per-slice filters in the base
// snapshot, cached driver-side by snapshot identity; per-generation
// raw-hash deltas; each row probes only its own slice) plus a
// capped exact residue on the fp-clustered digest fold. Per-batch
// cost must be FLAT in accepted size; the naive form (rebuild the
// bloom from the digest table + full anti-join build per batch) is
// O(accepted) per tick by construction. Phase 2 re-runs the exact
// loop provisioned for 100M items (25 slices at the DEFAULT
// runtime-bloom confs -- the provisioning the round-14 single-filter
// design REFUSED) and prints the AcceptStats gauge; task-binary
// sizes come from the console grep recorded next to this plog. Run:
//   /opt/spark/bin/spark-shell --master 'local[32]' \
//     --driver-class-path /root/repo/target/scala-2.13/classes \
//     --driver-memory 16g -i tools/probe_accept_scale.scala
import java.io.{PrintWriter, FileWriter}
import org.apache.spark.sql.functions._

val plog = new PrintWriter(new FileWriter("/root/repo/target/probe_accept_scale.plog", true), true)
plog.println("=== accept-loop scale probe " + java.time.Instant.now)
spark.conf.set("spark.sql.shuffle.partitions", 32)

val out = "/tmp/accept_scale_probe"
new java.lang.ProcessBuilder("rm", "-rf", out).start().waitFor()

// 60 batches x 8k offered docs: 75% globally-new texts, 25% re-offers
// of texts from EARLIER batches (uniform over the whole accepted
// history, so the residue join's seen-side pruning is what's probed,
// not a lucky recent-only pattern). Accepted corpus grows ~60x.
val nBatches = 60
val perBatch = 8000
val newPer = perBatch * 3 / 4

// dup texts must reproduce an EARLIER batch's exact text, so they
// are sampled from the accepted corpus itself (deterministic
// hash-order sample, uniform over the whole history -- probing the
// residue's seen-side pruning, not a lucky recent-only pattern).
def dupsFrom(b: Int) = {
  val n = perBatch - newPer
  graft.streaming.StreamingAcceptIngest.accepted(spark, out)
    .select(col("text"), col("fp"))
    .orderBy(pmod(hash(col("fp"), lit(b)), lit(1000000)), col("fp"))
    .limit(n)
    .withColumn("doc_id", monotonically_increasing_id()
      + b.toLong * perBatch + 600000000L)
    .select("doc_id", "text")
}

val walls = new Array[Double](nBatches)
for (b <- 0 until nBatches) {
  val fresh = spark.range(newPer).select(
    (col("id") + b.toLong * newPer + 1000000L).as("doc_id"),
    concat(lit("doc "), col("id") + b.toLong * newPer, lit(" body "),
      pmod(hash(col("id") + b * 7919), lit(1000))).as("text"))
  val df = (if (b == 0) fresh
    else fresh.unionByName(dupsFrom(b))).localCheckpoint()
  val t0 = System.nanoTime
  graft.streaming.StreamingAcceptIngest.applyBatch(
    df, b.toLong, "doc_id", "text", out, expectedItems = 1000000L)
  walls(b) = (System.nanoTime - t0) / 1e9
}
for (d <- 0 until nBatches / 10) {
  val w = walls.slice(d * 10, d * 10 + 10)
  plog.println(f"decade $d batches ${d*10}-${d*10+9}: mean=${w.sum / w.length}%.2f s max=${w.max}%.2f s")
}
plog.println(f"batch0 (bootstrap)=${walls(0)}%.2f s; batch1=${walls(1)}%.2f s")
val acc = graft.streaming.StreamingAcceptIngest.accepted(spark, out)
val nAcc = acc.count()
val nDistinct = acc.select("fp").distinct().count()
plog.println(s"accepted=$nAcc distinct_fp=$nDistinct (must be equal)")
plog.println("accept stats (1M provisioning): " +
  graft.streaming.StreamingAcceptIngest.AcceptStats.snapshot)
plog.println("maint: " + graft.sources.IncrementalDocArtifact.Maintenance.snapshot)

// ---- 100M provisioning: the sliced screen past one filter's cap ----
// 25 slices of 4M at the DEFAULT runtime-bloom confs; same batch
// shape, 30 batches. What must hold: the capacity guard ACCEPTS the
// provisioning (the single-filter design refused it), per-batch cost
// stays flat (the 120MB of base filter bitmaps are collected ONCE
// into the driver cache, not per tick), and the gauge shows
// base_slices=25 with steady-state cache hits.
graft.streaming.StreamingAcceptIngest.AcceptStats.reset()
val outB = "/tmp/accept_scale_probe_100m"
new java.lang.ProcessBuilder("rm", "-rf", outB).start().waitFor()
val nBatchesB = 30
def dupsFromB(b: Int) = {
  val n = perBatch - newPer
  graft.streaming.StreamingAcceptIngest.accepted(spark, outB)
    .select(col("text"), col("fp"))
    .orderBy(pmod(hash(col("fp"), lit(b)), lit(1000000)), col("fp"))
    .limit(n)
    .withColumn("doc_id", monotonically_increasing_id()
      + b.toLong * perBatch + 600000000L)
    .select("doc_id", "text")
}
val wallsB = new Array[Double](nBatchesB)
for (b <- 0 until nBatchesB) {
  val fresh = spark.range(newPer).select(
    (col("id") + b.toLong * newPer + 1000000L).as("doc_id"),
    concat(lit("doc "), col("id") + b.toLong * newPer, lit(" body "),
      pmod(hash(col("id") + b * 7919), lit(1000))).as("text"))
  val df = (if (b == 0) fresh
    else fresh.unionByName(dupsFromB(b))).localCheckpoint()
  val t0 = System.nanoTime
  graft.streaming.StreamingAcceptIngest.applyBatch(
    df, b.toLong, "doc_id", "text", outB, expectedItems = 100000000L)
  wallsB(b) = (System.nanoTime - t0) / 1e9
}
for (d <- 0 until nBatchesB / 10) {
  val w = wallsB.slice(d * 10, d * 10 + 10)
  plog.println(f"100M decade $d batches ${d*10}-${d*10+9}: mean=${w.sum / w.length}%.2f s max=${w.max}%.2f s")
}
val accB = graft.streaming.StreamingAcceptIngest.accepted(spark, outB)
plog.println(s"100M accepted=${accB.count()} distinct_fp=" +
  s"${accB.select("fp").distinct().count()} (must be equal)")
plog.println("accept stats (100M provisioning): " +
  graft.streaming.StreamingAcceptIngest.AcceptStats.snapshot)

// ---- NEAR mode: per-batch cost as the accepted corpus grows ----
// smaller batches (signature + banding work per doc is heavier), 30
// batches, ~20% near-dup re-offers (sampled accepted texts with a
// tail perturbation) + a few exact re-offers. Cost must stay flat:
// the batch's (band, bucket) pairs cut the stored bands and the
// candidate ids cut the stored signatures, each through the loop's
// one probe form (literal In only at or under the parquet In-pushdown
// threshold, a broadcast Bloom of the keys' hashes up to the cap).
val outN = "/tmp/accept_scale_probe_near"
new java.lang.ProcessBuilder("rm", "-rf", outN).start().waitFor()
val nBatchesN = 30
val perBatchN = 3000
val newPerN = perBatchN * 4 / 5

def nearDupsFrom(b: Int) = {
  val n = perBatchN - newPerN
  graft.streaming.StreamingAcceptIngest.accepted(spark, outN)
    .select(col("text"), col("fp"))
    .orderBy(pmod(hash(col("fp"), lit(b)), lit(1000000)), col("fp"))
    .limit(n)
    .withColumn("text", concat(col("text"), lit(" zz"), lit(b)))
    .withColumn("doc_id", monotonically_increasing_id()
      + b.toLong * perBatchN + 700000000L)
    .select("doc_id", "text")
}

// fresh docs must NOT near-dup each other, at SHINGLE level (three
// earlier cuts of this probe failed that, each visible in the
// accepted count: shared boilerplate; "w<digits>" words whose tiny
// character alphabet shared most 5-char shingles; and a LINEAR word
// hash xxhash64(gid + i*7919) that put docs on a stride-7919 lattice
// sharing 19/20 words with their stride siblings): 20 hex words per
// doc from a NON-LINEAR (gid, i) hash.
val wallsN = new Array[Double](nBatchesN)
for (b <- 0 until nBatchesN) {
  val gid = col("id") + b.toLong * newPerN
  val fresh = spark.range(newPerN).select(
    (gid + 2000000L).as("doc_id"),
    concat_ws(" ", (0 until 20).map(i =>
      lower(hex(xxhash64(concat(gid.cast("string"),
        lit(s"_$i")))))): _*)
      .as("text"))
  val df = (if (b == 0) fresh
    else fresh.unionByName(nearDupsFrom(b))).localCheckpoint()
  val t0 = System.nanoTime
  graft.streaming.StreamingAcceptIngest.applyBatchNear(
    df, b.toLong, "doc_id", "text", outN, threshold = 0.7,
    expectedItems = 1000000L)
  wallsN(b) = (System.nanoTime - t0) / 1e9
}
for (d <- 0 until nBatchesN / 10) {
  val w = wallsN.slice(d * 10, d * 10 + 10)
  plog.println(f"NEAR decade $d batches ${d*10}-${d*10+9}: mean=${w.sum / w.length}%.2f s max=${w.max}%.2f s")
}
val accN = graft.streaming.StreamingAcceptIngest.accepted(spark, outN)
plog.println(s"NEAR accepted=${accN.count()} of offered=${nBatchesN.toLong * perBatchN - (perBatchN - newPerN)}")
plog.println("=== done")
plog.close()
System.exit(0)
