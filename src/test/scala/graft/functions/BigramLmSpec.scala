package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BigramLmSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the hat"),
    (3L, "the dog ran in the park"),
    (4L, "colorless green ideas sleep furiously tonight")).toDF("doc_id", "text")

  test("KN interpolation telescopes to a proper distribution: sums to 1 per context") {
    // re-derive the model tables exactly as scoreDocs does and check
    // sum over the FULL following-vocab of P(w2|w1) = 1 per context
    val arr = split(TextFunctions.normalize(col("text")), " ")
    val sz = org.apache.spark.sql.functions.size _
    val bg = docs.select(arr.as("a"))
      .select(explode(transform(sequence(lit(1), sz(col("a")) - 1),
        i => struct(element_at(col("a"), i).as("w1"),
          element_at(col("a"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val cw1 = bc.groupBy("w1").agg(sum("c").as("ctx"), count(lit(1)).as("n1f"))
    val pc = bc.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val t = bc.count().toDouble
    val w2s = pc.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val ctxs = cw1.collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val counts = bc.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    for ((w1, (ctx, n1f)) <- ctxs) {
      val total = w2s.keys.toSeq.map { w2 =>
        val c = counts.getOrElse((w1, w2), 0L)
        math.max(c - 0.75, 0.0) / ctx + ((0.75 * n1f) / ctx) * (w2s(w2) / t)
      }.sum
      total shouldBe 1.0 +- 1e-9
    }
  }

  test("fluent repeats outscore one-off word salad; counts correct") {
    val out = BigramLm.scoreDocs(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val byId = out.map(t => t._1 -> t).toMap
    byId(1L)._2 shouldBe 5L // 6 tokens -> 5 bigrams
    // docs 1/2 share most bigrams (seen twice) => higher mean logprob
    // than doc 4, whose bigrams occur once each
    assert(byId(1L)._3 > byId(4L)._3)
    assert(byId(2L)._3 > byId(4L)._3)
  }

  test("short docs (< 2 tokens) are omitted, not crashed on") {
    val d = Seq((1L, "single"), (2L, ""), (3L, "two tokens")).toDF("doc_id", "text")
    val out = BigramLm.scoreDocs(d, "doc_id", col("text"))
      .select("doc_id").as[Long].collect().toSet
    out shouldBe Set(3L)
  }

  test("building the scorer runs no action: the bigram table checkpoints lazily") {
    // count only THIS thread's jobs (the job group is thread-local, so
    // suites running beside this one on the shared session can't
    // pollute). AQE materializes a checkpointed plan's shuffle-map
    // stage at build time whether the checkpoint is eager or lazy; an
    // eager checkpoint ALSO runs a count — the only result tasks a
    // build could run
    val sc = spark.sparkContext
    val group = s"bigram-lazy-${java.util.UUID.randomUUID()}"
    val barrier = s"$group-barrier"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val resultTasks = new java.util.concurrent.atomic.AtomicInteger()
    val seenBarrier = new java.util.concurrent.atomic.AtomicBoolean()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        if (g.contains(group)) e.stageIds.foreach(stages.add)
        if (g.contains(barrier)) seenBarrier.set(true)
      }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskType == "ResultTask")
          resultTasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val scored = try {
      sc.setJobGroup(group, "build scoreDocs")
      val df = BigramLm.scoreDocs(docs, "doc_id", col("text"))
      // the bus delivers in order: once the barrier job's start is
      // seen, so is every task of the build
      sc.setJobGroup(barrier, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seenBarrier.get && System.currentTimeMillis() < deadline)
        Thread.sleep(20L)
      df
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    seenBarrier.get shouldBe true
    resultTasks.get shouldBe 0
    // the lazily pinned table still serves every consumer
    scored.select("doc_id").as[Long].collect().toSet shouldBe
      Set(1L, 2L, 3L, 4L)
  }
}
