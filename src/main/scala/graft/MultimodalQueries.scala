package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.multimodal.{Media, MediaScreen}

/** Multimodal-plumbing queries. The driver testdata has no real media
  * files, so a deterministic media catalog is DERIVED from
  * `documents` (payload = utf8 bytes of the text, metadata arithmetic
  * on doc_id/n_chars) — identical derivation in the DuckDB oracle.
  * The byte-decode step itself is the StubCodec (no image/audio libs
  * in this build); its query is declared WITHOUT an oracle (driver
  * records the weaker rows-only check) since fake features are
  * JVM-side only.
  */
object MultimodalQueries {

  /** Spark-side synthetic media catalog (see oracle CTE `media`). */
  def mediaCatalog(s: SparkSession, dir: String): DataFrame = {
    val mod = when(col("doc_id") % 3 === 0, "image")
      .when(col("doc_id") % 3 === 1, "audio").otherwise("video")
    Tables.load(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      mod.as("modality"),
      col("text").cast("binary").as("bytes"),
      when(mod === "image", "png").when(mod === "audio", "wav")
        .otherwise("mp4").as("format"),
      when(mod =!= "audio", (lit(320) + col("doc_id") % 13 * 160).cast("int"))
        .otherwise(lit(0)).as("width"),
      when(mod =!= "audio", (lit(240) + col("doc_id") % 7 * 120).cast("int"))
        .otherwise(lit(0)).as("height"),
      when(mod === "audio", 16000).otherwise(0).as("sample_rate"),
      when(mod =!= "image", col("n_chars") * 40L).otherwise(lit(0L))
        .as("duration_ms"))
  }

  /** DuckDB rendering of the same catalog. */
  private val mediaCte =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |    encode(text) AS bytes,
      |    CASE WHEN doc_id % 3 = 0 THEN 'png'
      |         WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'mp4' END AS format,
      |    CASE WHEN doc_id % 3 <> 1 THEN (320 + doc_id % 13 * 160)::INT ELSE 0 END AS width,
      |    CASE WHEN doc_id % 3 <> 1 THEN (240 + doc_id % 7 * 120)::INT ELSE 0 END AS height,
      |    CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS sample_rate,
      |    CASE WHEN doc_id % 3 <> 0 THEN n_chars * 40 ELSE 0 END AS duration_ms
      |  FROM documents)""".stripMargin

  val all: Seq[GraftQuery] = Seq(

    // Catalog projection: typed metadata columns over opaque payloads.
    GraftQuery(
      "m1_media_catalog",
      s"""$mediaCte
         |SELECT media_id, modality, format, octet_length(bytes) AS n_bytes,
         |       width, height, sample_rate, duration_ms
         |FROM media ORDER BY media_id""".stripMargin) { (s, dir) =>
      mediaCatalog(s, dir)
        .select(col("media_id"), col("modality"), col("format"),
          length(col("bytes")).cast("long").as("n_bytes"),
          col("width"), col("height"), col("sample_rate"), col("duration_ms"))
        .orderBy("media_id")
    },

    // Frame-sampling plan: one row per 1000 ms frame offset per video
    // — metadata-only explode; the decoder later seeks exactly here.
    GraftQuery(
      "m2_frame_sample",
      s"""$mediaCte
         |SELECT media_id, unnest(generate_series(0, greatest(duration_ms - 1, 0), 1000)) AS frame_ms
         |FROM media WHERE modality = 'video'
         |ORDER BY media_id, frame_ms""".stripMargin) { (s, dir) =>
      Media.sampleFrames(mediaCatalog(s, dir), everyMs = 1000L)
        .orderBy("media_id", "frame_ms")
    },

    // Resize plan: aspect-preserving bounded-box targets, metadata
    // arithmetic only.
    GraftQuery(
      "m3_resize_plan",
      s"""$mediaCte
         |SELECT media_id, width, height,
         |  floor(width * least(512.0 / greatest(width, 1),
         |                      512.0 / greatest(height, 1), 1.0))::INT AS target_w,
         |  floor(height * least(512.0 / greatest(width, 1),
         |                       512.0 / greatest(height, 1), 1.0))::INT AS target_h
         |FROM media WHERE modality IN ('image', 'video')
         |ORDER BY media_id""".stripMargin) { (s, dir) =>
      Media.resizePlan(mediaCatalog(s, dir), maxSide = 512)
        .orderBy("media_id")
    },

    // Partition-wise stub decode → features, fully oracle-checked: the
    // stub derives feature j from md5(payload ++ ":" ++ j) (first 24
    // bits / 2^24 — exact in float32 and double, so sums are
    // order-independent), which DuckDB re-derives from the same text.
    GraftQuery(
      "m4_stub_features", {
        val hx = "instr('0123456789abcdef', substring(h, %d, 1)) - 1"
        val v = (1 to 6).map(i => s"(${hx.format(i)}) * ${1L << (4 * (6 - i))}")
          .mkString("(", " + ", ") / 16777216.0")
        s"""WITH f AS (
           |  SELECT doc_id AS media_id, t.j, md5(text || ':' || t.j) AS h
           |  FROM documents CROSS JOIN range(0, 16) t(j)),
           |sums AS (
           |  SELECT media_id, round(sum($v), 4) AS feat_sum
           |  FROM f GROUP BY media_id)
           |SELECT m.media_id, m.modality, octet_length(m.bytes) AS n_bytes,
           |       16 AS feat_dim, s.feat_sum
           |FROM (${mediaCte.replace("WITH media AS (", "").dropRight(1)}) m
           |JOIN sums s ON m.media_id = s.media_id
           |ORDER BY m.media_id""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val media = mediaCatalog(s, dir).as[Media.MediaRow]
      Media.extractFeatures(media, dim = 16).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"),
          size(col("feature")).as("feat_dim"),
          round(aggregate(col("feature"), lit(0.0d), (a, x) => a + x.cast("double")), 4)
            .as("feat_sum"))
        .orderBy("media_id")
    },

    // Cross-modal time alignment — the A/V-to-transcript pairing step
    // of a multimodal training pipeline: each sampled video frame is
    // joined to the transcript chunk(s) whose TIME SPAN covers it.
    // Chunk spans come from the t7 chunker (64-token windows every 48)
    // mapped onto the clip timeline at a constant tokens-per-ms rate,
    // all in exact integer division; the point-in-interval match runs
    // through RangeJoin's bucketized equi-join (one shuffle, no theta
    // join). Frames inside a window overlap match BOTH covering
    // chunks — by construction, the same overlap the chunker encodes.
    GraftQuery(
      "m5_frame_alignment",
      s"""$mediaCte,
         |n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
         |      FROM documents),
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS a FROM n),
         |meta AS (
         |  SELECT m.media_id, m.duration_ms, len(t.a)::BIGINT AS n_tot
         |  FROM media m JOIN tk t ON t.doc_id = m.media_id
         |  WHERE m.modality = 'video'),
         |off AS (SELECT doc_id, a,
         |          unnest(generate_series(
         |            0, ((greatest(len(a) - 64, 0) + 47) // 48) * 48, 48)) AS o
         |        FROM tk),
         |ch AS (SELECT doc_id, o // 48 AS chunk_idx, o,
         |          len(a[o + 1 : o + 64])::BIGINT AS ct FROM off),
         |iv AS (
         |  SELECT m.media_id, c.chunk_idx,
         |         (c.o * m.duration_ms) // m.n_tot AS s_ms,
         |         ((c.o + c.ct) * m.duration_ms) // m.n_tot AS e_ms
         |  FROM ch c JOIN meta m ON m.media_id = c.doc_id),
         |fr AS (
         |  SELECT media_id,
         |         unnest(generate_series(0, greatest(duration_ms - 1, 0), 1000))
         |           AS frame_ms
         |  FROM media WHERE modality = 'video')
         |SELECT f.media_id AS media_id, f.frame_ms, i.chunk_idx
         |FROM fr f JOIN iv i
         |  ON i.media_id = f.media_id
         | AND i.s_ms <= f.frame_ms AND f.frame_ms < i.e_ms
         |ORDER BY f.media_id, f.frame_ms, i.chunk_idx""".stripMargin) { (s, dir) =>
      import graft.functions.{TextFunctions, TextOps}
      import graft.operators.RangeJoin
      val d = Tables.load(s, dir, "documents")
      val cat = mediaCatalog(s, dir)
      val meta = cat.filter(col("modality") === "video")
        .select(col("media_id"), col("duration_ms"))
      val docTok = d.select(col("doc_id"),
        TextFunctions.tokenCount(TextFunctions.normalize(col("text")))
          .cast("long").as("n_tot"))
      val iv = TextOps.chunkRows(d, "doc_id", col("text"), window = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx").cast("long") * 48L).as("o"), col("n_tok"))
        .join(docTok, "doc_id")
        .join(meta, col("doc_id") === col("media_id"))
        .select(col("media_id"), col("chunk_idx"),
          expr("(o * duration_ms) div n_tot").as("s_ms"),
          expr("((o + n_tok) * duration_ms) div n_tot").as("e_ms"))
      val frames = Media.sampleFrames(cat, everyMs = 1000L)
      RangeJoin.join(frames, iv, Seq("media_id"), "frame_ms", "s_ms", "e_ms",
          bucketWidth = 4096L)
        .select("media_id", "frame_ms", "chunk_idx")
        .orderBy("media_id", "frame_ms", "chunk_idx")
    },

    // Perceptual-hash near-dup: mean-thresholded feature bits → 16-bit
    // pHash → 2×8-bit pigeonhole blocks → bucket-local pairs → exact
    // Hamming refine. The multimodal dedup step (image near-dup in a
    // real pipeline; the stub codec stands in for the DCT).
    GraftQuery(
      "m6_phash_neardup", {
        val hx = "strpos('0123456789abcdef', substr(h, %d, 1)) - 1"
        val v = (1 to 6).map(i => s"(${hx.format(i)}) * ${1L << (4 * (6 - i))}")
          .mkString("(", " + ", ") / 16777216.0")
        s"""WITH f AS (
           |  SELECT doc_id AS media_id, t.j, md5(text || ':' || t.j) AS h
           |  FROM documents CROSS JOIN range(0, 16) t(j)),
           |fv AS (SELECT media_id, j, $v AS v FROM f),
           |m AS (SELECT media_id, sum(v) / 16.0 AS mu FROM fv GROUP BY media_id),
           |sig AS (
           |  SELECT fv.media_id,
           |    sum(CASE WHEN fv.v > m.mu THEN (1::BIGINT << fv.j) ELSE 0 END)::BIGINT AS sig
           |  FROM fv JOIN m ON m.media_id = fv.media_id
           |  GROUP BY fv.media_id)
           |SELECT a.media_id AS id_a, b.media_id AS id_b,
           |       bit_count(xor(a.sig, b.sig))::INT AS hamming
           |FROM sig a JOIN sig b ON a.media_id < b.media_id
           | AND (a.sig % 256 = b.sig % 256 OR a.sig // 256 = b.sig // 256)
           |WHERE bit_count(xor(a.sig, b.sig)) <= 1
           |ORDER BY id_a, id_b""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val media = mediaCatalog(s, dir).as[Media.MediaRow]
      val hashed = Media.perceptualHash(
        Media.extractFeatures(media, dim = 16).toDF())
      Media.phashNearDups(hashed, maxDist = 1)
        .orderBy("id_a", "id_b")
    },

    // The ≥10^6-item form of m6 — SimHash's §9.6 width law applies to
    // media hashes identically: 62 feature bits, 2×31-bit pigeonhole
    // blocks keep 2^blockBits ahead of corpus size so bucket sharing
    // neither explodes the pair space nor drops true pairs. The
    // payload set replicates ids ≥ 400 from id % 400 (a re-uploaded
    // image fixture — the testdata has no byte-identical payloads),
    // so every replica pair surfaces at Hamming 0 and NOTHING else
    // collides at 62 bits.
    GraftQuery(
      "m7_phash_wide", {
        val hx = "strpos('0123456789abcdef', substr(h, %d, 1)) - 1"
        val v = (1 to 6).map(i => s"(${hx.format(i)}) * ${1L << (4 * (6 - i))}")
          .mkString("(", " + ", ") / 16777216.0")
        s"""WITH pay AS (
           |  SELECT a.doc_id AS media_id, b.text
           |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 400),
           |f AS (
           |  SELECT media_id, t.j, md5(text || ':' || t.j) AS h
           |  FROM pay CROSS JOIN range(0, 62) t(j)),
           |fv AS (SELECT media_id, j, $v AS v FROM f),
           |m AS (SELECT media_id, sum(v) / 62.0 AS mu FROM fv GROUP BY media_id),
           |sig AS (
           |  SELECT fv.media_id,
           |    sum(CASE WHEN fv.v > m.mu THEN (1::BIGINT << fv.j) ELSE 0 END)::BIGINT AS sig
           |  FROM fv JOIN m ON m.media_id = fv.media_id
           |  GROUP BY fv.media_id)
           |SELECT a.media_id AS id_a, b.media_id AS id_b,
           |       bit_count(xor(a.sig, b.sig))::INT AS hamming
           |FROM sig a JOIN sig b ON a.media_id < b.media_id
           | AND (a.sig % 2147483648 = b.sig % 2147483648
           |   OR a.sig // 2147483648 = b.sig // 2147483648)
           |WHERE bit_count(xor(a.sig, b.sig)) <= 1
           |ORDER BY id_a, id_b""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val d = Tables.load(s, dir, "documents")
      // spread the NARROW id frame to the session's parallelism before
      // the payload attaches (guide §8: decide/spread on small rows,
      // move heavy bytes once): the single-file scan leaves 1-2
      // partitions, the broadcast payload join preserves them, and the
      // whole per-row codec decode downstream would run 2-wide. The
      // r16 measured-wrong fanOut shuffled the PAYLOAD-carrying rows;
      // this spreads 16-byte id rows and lets the broadcast attach the
      // payload in place. The broadcast side keeps only the ids `_src`
      // can take (doc_id % 400 < 400), so it stays 400 rows at any
      // corpus size.
      val media = graft.operators.SkewTools.spreadByKey(
          d.select(col("doc_id").as("media_id"),
            (col("doc_id") % 400).as("_src")), col("media_id"))
        .join(broadcast(d.filter(col("doc_id") < 400)
            .select(col("doc_id").as("_src"), col("text"))),
          "_src")
        .select(col("media_id"), lit("image").as("modality"),
          col("text").cast("binary").as("bytes"), lit("png").as("format"),
          lit(64).as("width"), lit(64).as("height"),
          lit(0).as("sample_rate"), lit(0L).as("duration_ms"))
        .as[Media.MediaRow]
      val hashed = Media.perceptualHash(
        Media.extractFeatures(media, dim = 62).toDF(), dim = 62)
      Media.phashNearDups(hashed, maxDist = 1, blockBits = 31)
        .orderBy("id_a", "id_b")
    },

    // Media ingest screen against STORED perceptual-hash state — the
    // multimodal twin of d21: batch ids ≥ 250 (ids ≥ 300 re-upload
    // id % 300's payload), stored corpus = ids < 250; re-uploads
    // surface as exact_dup with their one stored witness, 250-299
    // (own payloads, not in the corpus) come back fresh.
    GraftQuery(
      "m8_media_ingest_screen", {
        val hx = "strpos('0123456789abcdef', substr(h, %d, 1)) - 1"
        val v = (1 to 6).map(i => s"(${hx.format(i)}) * ${1L << (4 * (6 - i))}")
          .mkString("(", " + ", ") / 16777216.0")
        def sigChain(src: String, p: String) =
          s"""${p}f AS (
             |  SELECT media_id, t.j, md5(text || ':' || t.j) AS h
             |  FROM $src CROSS JOIN range(0, 62) t(j)),
             |${p}fv AS (SELECT media_id, j, $v AS v FROM ${p}f),
             |${p}m AS (SELECT media_id, sum(v) / 62.0 AS mu
             |          FROM ${p}fv GROUP BY media_id),
             |${p}sig AS (
             |  SELECT fv.media_id,
             |    sum(CASE WHEN fv.v > m.mu THEN (1::BIGINT << fv.j) ELSE 0 END)::BIGINT AS sig
             |  FROM ${p}fv fv JOIN ${p}m m ON m.media_id = fv.media_id
             |  GROUP BY fv.media_id)""".stripMargin
        s"""WITH stored AS (
           |  SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 250),
           |batch AS (
           |  SELECT a.doc_id AS media_id, b.text
           |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 300
           |  WHERE a.doc_id >= 250),
           |${sigChain("stored", "s")},
           |${sigChain("batch", "b")},
           |sfp AS (SELECT DISTINCT md5(text) AS fp FROM stored),
           |bfp AS (SELECT media_id, md5(text) AS fp FROM batch),
           |ex AS (SELECT DISTINCT bfp.media_id FROM bfp JOIN sfp USING (fp)),
           |near AS (
           |  SELECT b.media_id, count(DISTINCT s.media_id) AS w
           |  FROM bsig b JOIN ssig s
           |    ON (b.sig % 2147483648 = s.sig % 2147483648
           |     OR b.sig // 2147483648 = s.sig // 2147483648)
           |   AND bit_count(xor(b.sig, s.sig)) <= 1
           |  GROUP BY b.media_id)
           |SELECT bb.media_id,
           |  CASE WHEN ex.media_id IS NOT NULL THEN 'exact_dup'
           |       WHEN near.w IS NOT NULL THEN 'near_dup'
           |       ELSE 'fresh' END AS status,
           |  coalesce(near.w, 0) AS n_near_witnesses
           |FROM batch bb
           |LEFT JOIN ex ON ex.media_id = bb.media_id
           |LEFT JOIN near ON near.media_id = bb.media_id
           |ORDER BY bb.media_id""".stripMargin
      }) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      // same narrow-side spread as m7: ids spread wide FIRST, the
      // payload attaches via a broadcast bounded to the 300 ids `_src`
      // can take, the batch decode runs at the session's parallelism
      val batch = graft.operators.SkewTools.spreadByKey(
          d.filter(col("doc_id") >= 250)
            .select(col("doc_id").as("media_id"),
              (col("doc_id") % 300).as("_src")), col("media_id"))
        .join(broadcast(d.filter(col("doc_id") < 300)
            .select(col("doc_id").as("_src"), col("text"))),
          "_src")
        .select(col("media_id"), col("text").cast("binary").as("bytes"))
      MediaScreen.screen(s, dir, "documents", batch,
          corpusFilter = col("media_id") < 250)
        .orderBy("media_id")
    },

    // Media near-dup CLUSTERS: CC over the m6 pHash pair graph —
    // the deterministic keep-group resolution for re-uploaded media
    // (what d25 is for text), every item labelled with the smallest
    // reachable media_id. Pairs are exact under the 2-block
    // pigeonhole (maxDist 1 < 2 blocks); the oracle closes the same
    // graph with a recursive CTE.
    GraftQuery(
      "m9_phash_clusters", {
        val hx = "strpos('0123456789abcdef', substr(h, %d, 1)) - 1"
        val v = (1 to 6).map(i => s"(${hx.format(i)}) * ${1L << (4 * (6 - i))}")
          .mkString("(", " + ", ") / 16777216.0")
        s"""WITH RECURSIVE f AS (
           |  SELECT doc_id AS media_id, t.j, md5(text || ':' || t.j) AS h
           |  FROM documents CROSS JOIN range(0, 16) t(j)),
           |fv AS (SELECT media_id, j, $v AS v FROM f),
           |m AS (SELECT media_id, sum(v) / 16.0 AS mu FROM fv GROUP BY media_id),
           |sig AS (
           |  SELECT fv.media_id,
           |    sum(CASE WHEN fv.v > m.mu THEN (1::BIGINT << fv.j) ELSE 0 END)::BIGINT AS sig
           |  FROM fv JOIN m ON m.media_id = fv.media_id
           |  GROUP BY fv.media_id),
           |pairs AS (
           |  SELECT a.media_id AS id_a, b.media_id AS id_b
           |  FROM sig a JOIN sig b ON a.media_id < b.media_id
           |   AND (a.sig % 256 = b.sig % 256 OR a.sig // 256 = b.sig // 256)
           |  WHERE bit_count(xor(a.sig, b.sig)) <= 1),
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs),
           |cc AS (
           |  SELECT media_id AS id, media_id AS lbl FROM sig
           |  UNION
           |  SELECT e.dst AS id, cc.lbl
           |  FROM cc JOIN edges e ON cc.id = e.src)
           |SELECT id AS media_id, min(lbl) AS cluster_id
           |FROM cc GROUP BY id ORDER BY media_id""".stripMargin
      }) { (s, dir) =>
      // STORE-SERVED (MediaClusterStore): decode + hash + signature-
      // contracted CC ran at build/advance time; the serve is a
      // (media_id, cluster_id) scan — the d25 pattern for media. The
      // oracle still re-derives the whole chain from scratch.
      graft.multimodal.MediaClusterStore.clusters(s, dir, "documents")
        .orderBy("media_id")
    }
  )
}
