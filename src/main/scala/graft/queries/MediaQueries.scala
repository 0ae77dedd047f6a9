package graft
package queries

import graft.ops.{Dedup, Multimodal}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Media: image, audio and video decode statistics and perceptual near-duplicates.
  */
object MediaQueries extends QueryFamily {

  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.describe(Multimodal.synthesize(docs(s, dir), "doc_id", "text"))
  query("multimodal_meta", multimodalMeta, Shuffles(0))(
    """SELECT doc_id AS item_id,
      |  octet_length(encode(text)) AS payload_bytes,
      |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
      |  (['raw','wav','mp4'])[CAST(doc_id % 3 AS INT) + 1] AS format,
      |  CAST(doc_id % 640 + 32 AS INT) AS width,
      |  CAST(doc_id % 480 + 32 AS INT) AS height,
      |  CAST(doc_id % 30 + 1 AS INT) AS n_frames
      |FROM documents""".stripMargin)

  /** REAL ImageIO roundtrip: generate a deterministic PNG per doc, decode
    * it back, report dims + per-channel pixel sums. The oracle recomputes
    * the sums from the closed-form pixel formula — no image stack needed.
    */
  private def imageStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageStats(s,
      Multimodal.synthesizeImages(s, docs(s, dir).select("doc_id"), "doc_id"))
  query("image_stats", imageStats, Shuffles(0))(
    // the decoded-pixel sums of a REAL PNG encode→decode roundtrip,
    // recomputed here from the closed-form pixel formula (PNG is
    // lossless, so decoded bytes must equal the generator's arithmetic)
    """WITH d AS (SELECT doc_id,
      |    CAST(doc_id % 16 + 8 AS INT) AS w, CAST(doc_id % 12 + 8 AS INT) AS h
      |  FROM documents),
      |px AS (SELECT doc_id, w, h, x.range AS x, y.range AS y
      |  FROM d, range(0, 24) x, range(0, 20) y
      |  WHERE x.range < w AND y.range < h)
      |SELECT doc_id AS item_id, w AS width, h AS height,
      |  CAST(sum((((x * 2654435761 + y * 40503001 + 11) % 65536) *
      |    ((doc_id * 1099087573) % 65521 + 3) // 256) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((((x * 2246822519 + y * 2654435761 + 7) % 65536) *
      |    ((doc_id * 97002721) % 65521 + 5) // 256) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((((x * 3266489917 + y * 97002721 + 13) % 65536) *
      |    ((doc_id * 2246822519) % 65521 + 7) // 256) % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY 1, 2, 3""".stripMargin)

  /** Perceptual near-dup over REAL PNG payloads: the base corpus plus
    * re-encoded twins (identity nearest-neighbor resize — lossless, so
    * dHash-identical, hamming 0) plus mildly-resized twins (w+4, h+2 — the
    * composed integer nearest-neighbor mapping), with every 9th BASE
    * payload truncated below PNG header size (corrupt ⇒ decode drops it ⇒
    * it appears in no pair, even where its twin survives). maxBucket is
    * set inert so candidate generation is the pure 4-chunk pigeonhole and
    * the result is EXACTLY all pairs within hamming 3 — which the oracle
    * replays arithmetically from the closed-form pixels, no image stack.
    */
  private[queries] def imageNearDupMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // TWO consumers (the corrupted branch and the twin derivation) hang off
    // the synthesized corpus: without the lazy checkpoint the union executes
    // the per-row PNG synthesis twice (the capstone multi-consumer lesson)
    val base = Multimodal.synthesizeImages(s, docs(s, dir).select("doc_id"), "doc_id")
      .select(col("item_id"), col("payload"),
        col("meta.width").as("w"), col("meta.height").as("h"))
      .localCheckpoint(false)
    // twins derive from the CLEAN payloads (a real pipeline's copies were
    // made before the original rotted); %7 wins when both rules match
    val twins = base
      .filter(col("item_id") % 7 === 0 || col("item_id") % 11 === 0)
      .as[(Long, Array[Byte], Int, Int)]
      .map { case (id, p, w, h) =>
        if (id % 7 == 0) (id + 10000000L, Multimodal.ImageIoCodec.resizeNearest(p, w, h).get)
        else (id + 20000000L, Multimodal.ImageIoCodec.resizeNearest(p, w + 4, h + 2).get)
      }
      .toDF("item_id", "payload")
    val corrupted = base.select(col("item_id"),
      when(col("item_id") % 9 === 0, expr("substring(payload, 1, 20)"))
        .otherwise(col("payload")).as("payload"))
    corrupted.unionByName(twins)
  }

  // planted corpus + tokenization, shared by all three window-dedup
  // oracles (one definition so the replays cannot drift)
  // the image dHash populations (base + re-encoded + resized twins,
  // corrupt originals excluded) replayed arithmetically from the
  // closed-form pixels; ends in CTE `sig` (id, sig) — shared by
  // image_neardup and pipeline_image_dedup so the replays cannot drift
  private[queries] lazy val imageHashCtes =
    """pop AS (
      |  SELECT doc_id AS id, doc_id AS src,
      |    CAST(doc_id % 16 + 8 AS BIGINT) AS w, CAST(doc_id % 12 + 8 AS BIGINT) AS h,
      |    CAST(doc_id % 16 + 8 AS BIGINT) AS w0, CAST(doc_id % 12 + 8 AS BIGINT) AS h0
      |  FROM documents WHERE doc_id % 9 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id,
      |    doc_id % 16 + 8, doc_id % 12 + 8, doc_id % 16 + 8, doc_id % 12 + 8
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, doc_id,
      |    doc_id % 16 + 12, doc_id % 12 + 10, doc_id % 16 + 8, doc_id % 12 + 8
      |  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
      |g AS (SELECT id, src, gx.range AS gx, gy.range AS gy,
      |    ((gx.range * w) // 9) * w0 // w AS sx,
      |    ((gy.range * h) // 8) * h0 // h AS sy
      |  FROM pop, range(0, 9) gx, range(0, 8) gy),
      |lum AS (SELECT id, gx, gy,
      |    (77 * ((((sx * 2654435761 + sy * 40503001 + 11) % 65536) *
      |      ((src * 1099087573) % 65521 + 3) // 256) % 256)
      |   + 150 * ((((sx * 2246822519 + sy * 2654435761 + 7) % 65536) *
      |      ((src * 97002721) % 65521 + 5) // 256) % 256)
      |   + 29 * ((((sx * 3266489917 + sy * 97002721 + 13) % 65536) *
      |      ((src * 2246822519) % 65521 + 7) // 256) % 256)) // 256 AS lum
      |  FROM g),
      |sig AS (SELECT a.id,
      |    CAST(sum(CASE WHEN b.lum > a.lum THEN
      |      CASE WHEN a.gy * 8 + a.gx = 63 THEN (-9223372036854775807 - 1)
      |           ELSE (1::BIGINT << CAST(a.gy * 8 + a.gx AS INT)) END
      |      ELSE 0 END) AS BIGINT) AS sig
      |  FROM lum a JOIN lum b ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 8 GROUP BY 1)""".stripMargin

  private def imageNearDupQ(s: SparkSession, dir: String): DataFrame =
    ops.Dedup.imageNearDup(s, imageNearDupMedia(s, dir),
      maxHamming = 3, maxBucket = 1000000)
  // same checkpointed signature frame as dedup_simhash (the shared
  // hammingNearDupPairs engine), plus the decode pass feeding it
  query("image_neardup", imageNearDupQ, BuiltByJobs)(
    // the dHash of a REAL PNG decode, replayed arithmetically: a 9x8
    // nearest-neighbor luma grid over the closed-form pixels (composed
    // through the twin resize for the resized population), 64
    // neighbor-brightness bits, then the all-pairs hamming<=3 join (the
    // inert-cap pigeonhole makes Spark's banded join exactly that).
    // Corrupt originals (doc_id%9=0) are excluded here BY the oracle —
    // the corrupt-drop contract — while their twins still participate
    s"""WITH $imageHashCtes
       |SELECT a.id AS a_id, b.id AS b_id,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.id < b.id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin)

  /** Video near-dup over REAL containers: base corpus + TRIMMED twins
    * (every 6th video cut to its first frame through a real decode →
    * container re-encode — the leading frame rides bit-identical, so the
    * representative-frame dHash pairs them at hamming 0) with every 9th
    * BASE payload truncated below the container header (corrupt ⇒
    * dropped). The oracle replays frame-0 dHashes arithmetically (the
    * `+19f/+23f/+29f` frame terms vanish at f = 0) and takes the all-pairs
    * hamming ≤ 3 join at inert cap.
    */
  private def videoNearDupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // corrupted + twins both read the synthesized corpus — checkpoint so
    // the per-row container synthesis runs once, not twice
    val base = Multimodal.synthesizeVideos(s, docs(s, dir).select("doc_id"), "doc_id")
      .select(col("item_id"), col("payload"))
      .localCheckpoint(false)
    val twins = base.filter(col("item_id") % 6 === 0)
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        val frames = Multimodal.FrameContainer.decode(p).get
        (id + 10000000L, Multimodal.FrameContainer.encode(frames.take(1)))
      }
      .toDF("item_id", "payload")
    val corrupted = base.select(col("item_id"),
      when(col("item_id") % 9 === 0, expr("substring(payload, 1, 6)"))
        .otherwise(col("payload")).as("payload"))
    ops.Dedup.videoNearDup(s, corrupted.unionByName(twins),
      maxHamming = 3, maxBucket = 1000000)
  }
  // same checkpointed signature frame as dedup_simhash (the shared
  // hammingNearDupPairs engine), plus the decode pass feeding it
  query("video_neardup", videoNearDupQ, BuiltByJobs)(
          // frame-0 dHashes replayed arithmetically (f = 0 kills the frame
    // terms; trim twins keep the leading frame bit-identical, so their
    // hash rows are the same formulas), then the all-pairs hamming join;
    // corrupt originals (doc_id%9=0) excluded BY the oracle while their
    // twins participate
    """WITH pop AS (
      |  SELECT doc_id AS id, doc_id AS src,
      |    CAST(doc_id % 8 + 12 AS BIGINT) AS w, CAST(doc_id % 6 + 10 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 9 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id, doc_id % 8 + 12, doc_id % 6 + 10
      |  FROM documents WHERE doc_id % 6 = 0),
      |g AS (SELECT id, src, gx.range AS gx, gy.range AS gy,
      |    (gx.range * w) // 9 AS sx, (gy.range * h) // 8 AS sy
      |  FROM pop, range(0, 9) gx, range(0, 8) gy),
      |lum AS (SELECT id, gx, gy,
      |    (77 * ((((sx * 2654435761 + sy * 40503001 + 11) % 65536) *
      |      ((src * 1099087573) % 65521 + 3) // 256) % 256)
      |   + 150 * ((((sx * 2246822519 + sy * 2654435761 + 7) % 65536) *
      |      ((src * 97002721) % 65521 + 5) // 256) % 256)
      |   + 29 * ((((sx * 3266489917 + sy * 97002721 + 13) % 65536) *
      |      ((src * 2246822519) % 65521 + 7) // 256) % 256)) // 256 AS lum
      |  FROM g),
      |sig AS (SELECT a.id,
      |    CAST(sum(CASE WHEN b.lum > a.lum THEN
      |      CASE WHEN a.gy * 8 + a.gx = 63 THEN (-9223372036854775807 - 1)
      |           ELSE (1::BIGINT << CAST(a.gy * 8 + a.gx AS INT)) END
      |      ELSE 0 END) AS BIGINT) AS sig
      |  FROM lum a JOIN lum b ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 8 GROUP BY 1)
      |SELECT a.id AS a_id, b.id AS b_id,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.id < b.id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin)

  /** Audio near-dup over REAL WAVs: base corpus + re-encoded twins
    * (decode → encode, sample-identical, hamming 0) + HALF-VOLUME twins
    * (every sample truncation-halved — the envelope comparisons mostly
    * cancel the gain, landing within a few bits: the invariance the
    * fingerprint exists for), with every 10th BASE payload truncated below
    * the RIFF header (corrupt ⇒ dropped). The oracle replays the
    * 65-window energy envelope and both twin transforms arithmetically.
    */
  private def audioNearDupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // corrupted + twins both read the synthesized corpus — checkpoint so
    // the per-row WAV synthesis runs once, not twice
    val base = Multimodal.synthesizeAudio(s, docs(s, dir).select("doc_id"), "doc_id")
      .select(col("item_id"), col("payload"))
      .localCheckpoint(false)
    val twins = base
      .filter(col("item_id") % 7 === 0 || col("item_id") % 11 === 0)
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        val d = Multimodal.WavCodec.decode(p).get
        if (id % 7 == 0)
          (id + 10000000L, Multimodal.WavCodec.encodeWav(d.sampleRate, d.samples))
        else
          (id + 20000000L, Multimodal.WavCodec.encodeWav(d.sampleRate,
            d.samples.map(v => (v / 2).toShort))) // truncation toward zero
      }
      .toDF("item_id", "payload")
    val corrupted = base.select(col("item_id"),
      when(col("item_id") % 10 === 0, expr("substring(payload, 1, 20)"))
        .otherwise(col("payload")).as("payload"))
    ops.Dedup.audioNearDup(s, corrupted.unionByName(twins),
      maxHamming = 3, maxBucket = 1000000)
  }
  // same checkpointed signature frame as dedup_simhash (the shared
  // hammingNearDupPairs engine), plus the decode pass feeding it
  query("audio_neardup", audioNearDupQ, BuiltByJobs)(
    // the 65-window energy envelope of REAL WAV decodes replayed
    // arithmetically — window of sample i is the bounds-partition
    // inverse (65i+64)//n, half-volume twins truncate toward zero like
    // the JVM's integer division — then the all-pairs hamming join;
    // corrupt originals (doc_id%10=0) excluded BY the oracle
    """WITH pop AS (
      |  SELECT doc_id AS id, doc_id AS src, 1 AS hv FROM documents
      |  WHERE doc_id % 10 <> 0
      |  UNION ALL SELECT doc_id + 10000000, doc_id, 1 FROM documents
      |  WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 20000000, doc_id, 2 FROM documents
      |  WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
      |sm AS (SELECT id, hv, CAST((src % 7) * 65 + 130 AS BIGINT) AS n, i.range AS i,
      |    ((i.range * 2654435761 + 11) % 65536) *
      |      ((src * 1099087573) % 65521 + 3) // 16 % 65536 - 32768 AS s0
      |  FROM pop, range(0, 520) i WHERE i.range < (src % 7) * 65 + 130),
      |sv AS (SELECT id, n, i,
      |    CASE WHEN hv = 1 THEN s0 WHEN s0 >= 0 THEN s0 // 2
      |         ELSE -((-s0) // 2) END AS s
      |  FROM sm),
      |en AS (SELECT id, CAST((65 * i + 64) // n AS INT) AS w,
      |    CAST(sum(abs(s)) AS BIGINT) AS e
      |  FROM sv GROUP BY 1, 2),
      |sig AS (SELECT a.id,
      |    CAST(sum(CASE WHEN b.e > a.e THEN
      |      CASE WHEN a.w = 63 THEN (-9223372036854775807 - 1)
      |           ELSE (1::BIGINT << a.w) END ELSE 0 END) AS BIGINT) AS sig
      |  FROM en a JOIN en b ON a.id = b.id AND b.w = a.w + 1
      |  WHERE a.w < 64 GROUP BY 1)
      |SELECT a.id AS a_id, b.id AS b_id,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.id < b.id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin)

  /** Real WAV encode→decode roundtrip over the closed-form synthetic
    * signals, with every 10th payload TRUNCATED to 20 bytes (shorter than a
    * RIFF header — undecodable by construction): corrupt rows must drop,
    * decoded rows must match the generator arithmetic the oracle replays.
    */
  private def audioStats(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal
      .synthesizeAudio(s, docs(s, dir).select("doc_id"), "doc_id")
      .withColumn("payload",
        when(col("item_id") % 10 === 0, expr("substring(payload, 1, 20)"))
          .otherwise(col("payload")))
    Multimodal.audioStats(s, media)
  }
  query("audio_stats", audioStats, Shuffles(0))(
    // the decoded-sample stats of a REAL WAV encode→decode roundtrip,
    // recomputed from the closed-form integer signal (WAV PCM16 is
    // lossless, so decoded samples must equal the generator arithmetic);
    // every 10th payload is truncated below header size and must be
    // absent — the corrupt-drop contract in the oracle itself
    """WITH d AS (SELECT doc_id, CAST((doc_id % 7) * 65 + 130 AS BIGINT) AS n,
      |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate
      |  FROM documents WHERE doc_id % 10 <> 0),
      |sm AS (SELECT doc_id, n, sample_rate,
      |    ((i.range * 2654435761 + 11) % 65536) *
      |      ((doc_id * 1099087573) % 65521 + 3) // 16 % 65536 - 32768 AS v
      |  FROM d, range(0, 520) i WHERE i.range < n)
      |SELECT doc_id AS item_id, sample_rate, n AS n_samples,
      |  CAST(sum(v) AS BIGINT) AS sum_val,
      |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
      |  CAST(max(abs(v)) AS BIGINT) AS max_abs
      |FROM sm GROUP BY 1, 2, 3""".stripMargin)

  /** Real frame-container roundtrip over the closed-form synthetic videos,
    * with every 9th payload truncated to 6 bytes (shorter than the
    * container header — structurally undecodable): corrupt rows must drop,
    * decoded rows must match the per-(frame, pixel) generator arithmetic
    * the oracle replays.
    */
  private def videoStats(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal
      .synthesizeVideos(s, docs(s, dir).select("doc_id"), "doc_id")
      .withColumn("payload",
        when(col("item_id") % 9 === 0, expr("substring(payload, 1, 6)"))
          .otherwise(col("payload")))
    Multimodal.videoStats(s, media)
  }
  query("video_stats", videoStats, Shuffles(0))(
    // the decoded-frame sums of a REAL container-parse + per-frame PNG
    // decode roundtrip, recomputed from the closed-form (id, frame, x, y)
    // pixel formula; every 9th payload truncated below header size must
    // be absent — the corrupt-drop contract in the oracle itself
    """WITH v AS (SELECT doc_id, CAST(doc_id % 5 + 2 AS BIGINT) AS nf,
      |    CAST(doc_id % 8 + 12 AS INT) AS w, CAST(doc_id % 6 + 10 AS INT) AS h
      |  FROM documents WHERE doc_id % 9 <> 0),
      |px AS (SELECT doc_id, nf, w, h, f.range AS f, x.range AS x, y.range AS y
      |  FROM v, range(0, 7) f, range(0, 20) x, range(0, 16) y
      |  WHERE f.range < nf AND x.range < w AND y.range < h)
      |SELECT doc_id AS item_id, nf AS n_frames, w AS width, h AS height,
      |  CAST(sum((((x * 2654435761 + y * 40503001 + 11) % 65536) *
      |    ((doc_id * 1099087573 + f * 668265263) % 65521 + 3) // 256) % 256)
      |    AS BIGINT) AS sum_r,
      |  CAST(sum((((x * 2246822519 + y * 2654435761 + 7) % 65536) *
      |    ((doc_id * 97002721 + f * 40503001) % 65521 + 5) // 256) % 256)
      |    AS BIGINT) AS sum_g,
      |  CAST(sum((((x * 3266489917 + y * 97002721 + 13) % 65536) *
      |    ((doc_id * 2246822519 + f * 2654435761) % 65521 + 7) // 256) % 256)
      |    AS BIGINT) AS sum_b
      |FROM px GROUP BY 1, 2, 3, 4""".stripMargin)
}
