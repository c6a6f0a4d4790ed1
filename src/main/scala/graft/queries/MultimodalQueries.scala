package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.MultimodalOps
import org.apache.spark.sql.functions._

/** Multimodal-column queries: binary payload feature extraction and
  * frame sampling (decode is a documented deterministic stub — the
  * Spark plumbing is the tested surface).
  *
  * Because the synthetic payloads are UTF-8 of an ASCII corpus, every
  * byte equals the character's codepoint and the stub's byte statistics
  * are exactly expressible in DuckDB (`ord` over positions) — so the
  * mapPartitions decode path gets a REAL oracle, not a rows-only check.
  */
object MultimodalQueries {

  /** The `kind` derivation of [[MultimodalOps.mediaFromDocuments]] in SQL. */
  private val kindSql =
    """CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END""".stripMargin

  val q_media_features = QueryDef(
    "q_media_features",
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, $kindSql AS kind, text
       |  FROM documents),
       |bytes AS (
       |  SELECT media_id, ord(substr(text, CAST(g AS INT), 1)) AS b
       |  FROM m CROSS JOIN UNNEST(range(1, len(text) + 1)) t(g)),
       |n AS (
       |  SELECT media_id, COUNT(*) AS n, AVG(CAST(b AS DOUBLE)) AS mean
       |  FROM bytes GROUP BY 1),
       |hist AS (
       |  SELECT media_id, b // 16 AS nib, COUNT(*) AS c
       |  FROM bytes GROUP BY 1, 2),
       |ent AS (
       |  SELECT h.media_id AS media_id,
       |    -SUM((CAST(h.c AS DOUBLE) / n.n) * ln(CAST(h.c AS DOUBLE) / n.n)) AS e
       |  FROM hist h JOIN n ON n.media_id = h.media_id GROUP BY h.media_id)
       |SELECT m.media_id AS media_id, m.kind,
       |  CAST(COALESCE(n.n, 0) AS BIGINT) AS n_bytes,
       |  CAST(CASE WHEN len(m.text) = 0 THEN 0
       |       ELSE 16 + ord(substr(m.text, 1, 1)) % 128 END AS BIGINT) AS width,
       |  CAST(CASE WHEN len(m.text) = 0 THEN 0
       |       ELSE 16 + ord(substr(m.text, len(m.text), 1)) % 128 END AS BIGINT)
       |    AS height,
       |  ROUND(COALESCE(n.mean, 0.0), 4) AS mean_byte,
       |  ROUND(COALESCE(ent.e, 0.0), 4) AS entropy_proxy
       |FROM m
       |LEFT JOIN n ON n.media_id = m.media_id
       |LEFT JOIN ent ON ent.media_id = m.media_id
       |ORDER BY m.media_id""".stripMargin) { (spark, dir) =>
    // codegen'd byte_stats expression (bit-identical to the
    // mapPartitions decodeStub, which MultimodalOpsSpec asserts): the
    // stats loop runs inside whole-stage codegen instead of paying a
    // Dataset-encoder round trip per payload
    MultimodalOps.mediaFromDocuments(Tables.documents(spark, dir))
      .select(col("media_id"), col("kind"),
        MultimodalOps.byteStats(col("payload")).as("bs"))
      .select(col("media_id"), col("kind"),
        col("bs.n_bytes").cast("long").as("n_bytes"),
        col("bs.width").cast("long").as("width"),
        col("bs.height").cast("long").as("height"),
        round(col("bs.mean_byte"), 4).as("mean_byte"),
        round(col("bs.entropy_proxy"), 4).as("entropy_proxy"))
      .orderBy(col("media_id"))
  }

  /** Frame sampling: payload split into 8 chunks, every 2nd kept; the
    * oracle reproduces the slice arithmetic from the text length. */
  val q_media_frames = QueryDef(
    "q_media_frames",
    s"""WITH m AS (SELECT doc_id AS media_id, len(text) AS n FROM documents),
       |f AS (
       |  SELECT media_id, CAST(g AS BIGINT) AS frame_idx, n,
       |    GREATEST(n // 8, 1) AS sz
       |  FROM m CROSS JOIN UNNEST([0, 2, 4, 6]) t(g)
       |  WHERE n > 0)
       |SELECT media_id, frame_idx,
       |  CAST(LEAST((frame_idx + 1) * sz, n) - LEAST(frame_idx * sz, n) AS BIGINT)
       |    AS frame_len
       |FROM f
       |WHERE LEAST((frame_idx + 1) * sz, n) - LEAST(frame_idx * sz, n) > 0
       |ORDER BY media_id, frame_idx""".stripMargin) { (spark, dir) =>
    MultimodalOps.sampleFrames(
      MultimodalOps.mediaFromDocuments(Tables.documents(spark, dir)),
      frames = 8, stride = 2)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame_bytes")).cast("long").as("frame_len"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Resize-stub certification: deterministic byte-stride resampling
    * to a 32×16 "pixel" budget (512 bytes). The oracle rebuilds the
    * exact resampled byte string in SQL (same `i·(n/budget)` truncated
    * index math via a LATERAL position scan) and compares md5 — so the
    * partition-local resample loop, not just its row count, is
    * certified.
    */
  val q_media_resize = QueryDef(
    "q_media_resize",
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, $kindSql AS kind, text, len(text) AS n
       |  FROM documents),
       |resized AS (
       |  SELECT m.media_id, m.kind,
       |    CASE WHEN m.n <= 512 THEN m.text ELSE r.s END AS rtext
       |  FROM m LEFT JOIN LATERAL (
       |    SELECT string_agg(substr(m.text,
       |        1 + CAST(FLOOR(CAST(i AS BIGINT) * (m.n / CAST(512 AS DOUBLE))) AS INT),
       |        1), '' ORDER BY i) AS s
       |    FROM UNNEST(range(0, 512)) t(i)) r ON TRUE)
       |SELECT media_id, kind, CAST(32 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
       |  CAST(len(rtext) AS BIGINT) AS out_len, md5(rtext) AS payload_md5
       |FROM resized ORDER BY media_id""".stripMargin) { (spark, dir) =>
    MultimodalOps.resizeStub(
      MultimodalOps.mediaFromDocuments(Tables.documents(spark, dir)), 32, 16)
      .select(col("media_id"), col("kind"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        length(col("payload")).cast("long").as("out_len"),
        md5(col("payload")).as("payload_md5"))
      .orderBy(col("media_id"))
  }

  /** REAL image decode certification: payloads are genuine PNG/JPEG
    * bytes (JDK ImageIO encode of a deterministic gray pattern), decoded
    * back with ImageIO in the mapPartitions path. The oracle computes
    * the expected decode output in closed form from the generator
    * formula — PNG is lossless so exact integer pixel sums certify the
    * raster content; JPEG is lossy so only its dimensions are certified
    * (pixel sums masked NULL on both sides; content checked within a
    * tolerance band in ImageCodecSpec instead).
    */
  val q_image_decode = QueryDef(
    "q_image_decode",
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
      |    8 + (doc_id % 8) * 2 AS w,
      |    8 + ((doc_id // 8) % 8) * 2 AS h
      |  FROM documents),
      |px AS (
      |  SELECT media_id, SUM(g) AS s, SUM(g * g) AS sq FROM (
      |    SELECT m.media_id AS media_id,
      |      ((i % m.w) * 31 + (i // m.w) * 17 + m.media_id * 7) % 256 AS g
      |    FROM m CROSS JOIN UNNEST(range(0, m.w * m.h)) t(i))
      |  GROUP BY 1)
      |SELECT m.media_id AS media_id, m.fmt AS fmt,
      |  CAST(m.w AS BIGINT) AS width, CAST(m.h AS BIGINT) AS height,
      |  CASE WHEN m.fmt = 'png' THEN CAST(px.s AS BIGINT) END AS px_sum,
      |  CASE WHEN m.fmt = 'png' THEN CAST(px.sq AS BIGINT) END AS px_sqsum
      |FROM m JOIN px ON px.media_id = m.media_id
      |ORDER BY m.media_id""".stripMargin) { (spark, dir) =>
    val decoded = MultimodalOps.decodeImages(
      MultimodalOps.imageFixtures(Tables.documents(spark, dir)))
    decoded.select(
      col("media_id"), col("fmt"), col("width"), col("height"),
      // JPEG decode is real but lossy — its pixel sums aren't a pure
      // function of the pattern, so the certificate masks them NULL
      when(col("fmt") === "png", col("px_sum")).as("px_sum"),
      when(col("fmt") === "png", col("px_sqsum")).as("px_sqsum"))
      .orderBy(col("media_id"))
  }

  /** REAL image resize certification: PNG fixtures decoded, 2×2
    * box-averaged, re-encoded as PNG, decoded again — emitted pixel sums
    * must equal the oracle's closed-form box-average of the generator
    * pattern, certifying the whole decode→resample→encode→decode loop.
    */
  val q_image_resize = QueryDef(
    "q_image_resize",
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    (8 + (doc_id % 8) * 2) // 2 AS ow,
      |    (8 + ((doc_id // 8) % 8) * 2) // 2 AS oh
      |  FROM documents WHERE doc_id % 2 = 0),
      |px AS (
      |  SELECT media_id, SUM(g) AS s, SUM(g * g) AS sq FROM (
      |    SELECT m.media_id AS media_id,
      |      (((2 * (i % m.ow)) * 31 + (2 * (i // m.ow)) * 17 + m.media_id * 7) % 256
      |       + ((2 * (i % m.ow) + 1) * 31 + (2 * (i // m.ow)) * 17 + m.media_id * 7) % 256
      |       + ((2 * (i % m.ow)) * 31 + (2 * (i // m.ow) + 1) * 17 + m.media_id * 7) % 256
      |       + ((2 * (i % m.ow) + 1) * 31 + (2 * (i // m.ow) + 1) * 17 + m.media_id * 7) % 256
      |      ) // 4 AS g
      |    FROM m CROSS JOIN UNNEST(range(0, m.ow * m.oh)) t(i))
      |  GROUP BY 1)
      |SELECT m.media_id AS media_id,
      |  CAST(m.ow AS BIGINT) AS width, CAST(m.oh AS BIGINT) AS height,
      |  CAST(px.s AS BIGINT) AS px_sum, CAST(px.sq AS BIGINT) AS px_sqsum
      |FROM m JOIN px ON px.media_id = m.media_id
      |ORDER BY m.media_id""".stripMargin) { (spark, dir) =>
    MultimodalOps.resizeImagesHalf(
      MultimodalOps.imageFixtures(Tables.documents(spark, dir))
        .where(col("fmt") === "png"))
      .select(col("media_id"), col("width"), col("height"),
        col("px_sum"), col("px_sqsum"))
      .orderBy(col("media_id"))
  }

  /** REAL multi-frame (animated GIF) decode certification: each
    * document becomes a genuine 2–4-frame GIF89a payload (JDK sequence
    * writer, identity-gray palette → lossless), decoded frame-by-frame
    * with ImageIO in the mapPartitions path. The oracle reproduces every
    * frame's exact pixel sums in closed form from the generator formula
    * — frame COUNT is certified by row multiplicity, frame CONTENT by
    * the per-frame `53·f` pattern term (reading only the first frame, or
    * compositing, cannot pass). Reference contract: frame-sampled video
    * feature extraction ahead of embedding
    * (`embedding_consumer.py:215-243`).
    */
  val q_gif_frames = QueryDef(
    "q_gif_frames",
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    6 + (doc_id % 6) * 2 AS w,
      |    6 + ((doc_id // 6) % 6) * 2 AS h,
      |    2 + doc_id % 3 AS nf
      |  FROM documents),
      |f AS (
      |  SELECT media_id, w, h, CAST(g AS BIGINT) AS frame_idx
      |  FROM m CROSS JOIN UNNEST(range(0, 4)) t(g)
      |  WHERE g < nf),
      |px AS (
      |  SELECT media_id, frame_idx, SUM(g) AS s, SUM(g * g) AS sq FROM (
      |    SELECT f.media_id AS media_id, f.frame_idx AS frame_idx,
      |      ((i % f.w) * 31 + (i // f.w) * 17 + f.media_id * 7
      |       + f.frame_idx * 53) % 256 AS g
      |    FROM f CROSS JOIN UNNEST(range(0, f.w * f.h)) t(i))
      |  GROUP BY 1, 2)
      |SELECT f.media_id AS media_id, f.frame_idx AS frame_idx,
      |  CAST(f.w AS BIGINT) AS width, CAST(f.h AS BIGINT) AS height,
      |  CAST(px.s AS BIGINT) AS px_sum, CAST(px.sq AS BIGINT) AS px_sqsum
      |FROM f JOIN px ON px.media_id = f.media_id AND px.frame_idx = f.frame_idx
      |ORDER BY media_id, frame_idx""".stripMargin) { (spark, dir) =>
    MultimodalOps.decodeGifFrames(
      MultimodalOps.gifFixtures(Tables.documents(spark, dir)))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** REAL audio decode certification: each document becomes a genuine
    * 16-bit PCM mono WAV payload (JDK `javax.sound.sampled` writer —
    * real RIFF header + little-endian frames on the wire), decoded back
    * with the JDK parser in the mapPartitions path. PCM is lossless, so
    * the oracle reproduces exact sample sums, min/max, and the
    * zero-crossing count in closed form from the generator formula.
    * Reference contract: media feature extraction ahead of embedding
    * (`embedding_consumer.py:215-243`).
    */
  val q_audio_decode = QueryDef(
    "q_audio_decode",
    """WITH m AS (
      |  SELECT doc_id AS media_id, 256 + (doc_id % 16) * 32 AS n
      |  FROM documents),
      |s AS (
      |  SELECT media_id, CAST(i AS BIGINT) AS i,
      |    (i * 131 + media_id * 7919) % 4001 - 2000 AS v
      |  FROM m CROSS JOIN UNNEST(range(0, m.n)) t(i)),
      |lagged AS (
      |  SELECT *, LAG(v) OVER (PARTITION BY media_id ORDER BY i) AS pv
      |  FROM s),
      |agg AS (
      |  SELECT media_id, COUNT(*) AS n, SUM(v) AS s_sum,
      |    SUM(v * v) AS s_sqsum, MIN(v) AS s_min, MAX(v) AS s_max,
      |    SUM(CASE WHEN (pv < 0 AND v > 0) OR (pv > 0 AND v < 0)
      |        THEN 1 ELSE 0 END) AS zc
      |  FROM lagged GROUP BY 1)
      |SELECT media_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples, CAST(s_sum AS BIGINT) AS s_sum,
      |  CAST(s_sqsum AS BIGINT) AS s_sqsum, CAST(s_min AS BIGINT) AS s_min,
      |  CAST(s_max AS BIGINT) AS s_max, CAST(zc AS BIGINT) AS zero_cross
      |FROM agg ORDER BY media_id""".stripMargin) { (spark, dir) =>
    MultimodalOps.decodeAudio(
      MultimodalOps.audioFixtures(Tables.documents(spark, dir)))
      .orderBy(col("media_id"))
  }

  /** Frame-level audio energy (VAD/speech-featurization shape): decode,
    * split into complete 160-sample frames, per-frame square-sums. The
    * oracle rebuilds every frame's energy from the signal formula —
    * frame COUNT certified by row multiplicity, CONTENT by the sums.
    */
  val q_audio_frames = QueryDef(
    "q_audio_frames",
    """WITH m AS (
      |  SELECT doc_id AS media_id, 256 + (doc_id % 16) * 32 AS n
      |  FROM documents),
      |f AS (
      |  SELECT media_id, CAST(g AS BIGINT) AS frame_idx, n
      |  FROM m CROSS JOIN UNNEST(range(0, 8)) t(g)
      |  WHERE (g + 1) * 160 <= n),
      |px AS (
      |  SELECT media_id, frame_idx, SUM(v * v) AS e FROM (
      |    SELECT f.media_id AS media_id, f.frame_idx AS frame_idx,
      |      ((f.frame_idx * 160 + i) * 131 + f.media_id * 7919) % 4001
      |        - 2000 AS v
      |    FROM f CROSS JOIN UNNEST(range(0, 160)) t(i))
      |  GROUP BY 1, 2)
      |SELECT media_id, frame_idx, CAST(e AS BIGINT) AS energy
      |FROM px ORDER BY media_id, frame_idx""".stripMargin) { (spark, dir) =>
    MultimodalOps.audioFrameEnergy(
      MultimodalOps.audioFixtures(Tables.documents(spark, dir)),
      frameLen = 160)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** REAL audio resample certification: WAV fixtures decoded, 2:1
    * decimated (even-index samples), re-encoded as WAV, decoded again —
    * emitted sums must equal the oracle's closed-form decimated signal,
    * certifying the full decode→decimate→encode→decode loop.
    */
  val q_audio_resample = QueryDef(
    "q_audio_resample",
    """WITH m AS (
      |  SELECT doc_id AS media_id, (256 + (doc_id % 16) * 32) // 2 AS half
      |  FROM documents),
      |s AS (
      |  SELECT media_id, (2 * i * 131 + media_id * 7919) % 4001 - 2000 AS v
      |  FROM m CROSS JOIN UNNEST(range(0, m.half)) t(i)),
      |agg AS (
      |  SELECT media_id, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS sq
      |  FROM s GROUP BY 1)
      |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(s AS BIGINT) AS s_sum, CAST(sq AS BIGINT) AS s_sqsum
      |FROM agg ORDER BY media_id""".stripMargin) { (spark, dir) =>
    MultimodalOps.resampleAudioHalf(
      MultimodalOps.audioFixtures(Tables.documents(spark, dir)))
      .orderBy(col("media_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q_media_features, q_media_frames, q_media_resize,
    q_image_decode, q_image_resize, q_gif_frames,
    q_audio_decode, q_audio_frames, q_audio_resample)
}
