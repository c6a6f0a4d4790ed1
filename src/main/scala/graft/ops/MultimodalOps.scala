package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the training-data pipeline: media
  * payloads travel as opaque `binary` columns beside typed metadata,
  * and per-item decode/feature-extraction runs as a partition-local
  * Dataset transform (the Scala analogue of a `mapInPandas` batch UDF:
  * one JVM call per partition, vectorizable inside, no per-row
  * driver involvement).
  *
  * ==== DECODE BOUNDARY ====
  * Images decode for REAL via the JDK's `javax.imageio`
  * ([[ImageCodec]]): PNG/JPEG payloads yield true raster dimensions and
  * pixel statistics, certified against closed-form oracles
  * (q_image_decode / q_image_resize). Audio/video codecs are not
  * available in this environment, so non-image bytes fall back to
  * [[decodeStub]] — a clearly-marked DETERMINISTIC FAKE deriving
  * pseudo-dimensions and channel statistics from the bytes themselves.
  * The Spark-side contract — schema, binary batching, partition-local
  * execution, deterministic output — is identical on both branches;
  * swapping the fake for an ONNX/javacv decoder changes only the
  * function body.
  */
object MultimodalOps {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      width: Int,
      height: Int,
      mean_byte: Double,
      entropy_proxy: Double)

  /** [[decodeStub]]'s statistics of a `binary` column as one struct,
    * in whole-stage codegen ([[graft.functions.ByteStats]]). */
  def byteStats(payload: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.ByteStats(
      GraftColumnBridge.expression(payload)))
  }

  /** STUB decode: deterministic pseudo-metadata + byte statistics.
    * Replace the body with a real codec at deploy time.
    */
  def decodeStub(r: MediaRow): MediaFeatures = {
    val bytes = r.payload
    val n = bytes.length
    val mean =
      if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).sum / n
    val hist = new Array[Int](16)
    bytes.foreach(b => hist((b & 0xff) >> 4) += 1)
    val entropy =
      if (n == 0) 0.0
      else -hist.filter(_ > 0).map { c =>
        val p = c.toDouble / n
        p * math.log(p)
      }.sum
    MediaFeatures(
      r.media_id, r.kind, n,
      width = if (n == 0) 0 else 16 + (bytes(0) & 0x7f),
      height = if (n == 0) 0 else 16 + (bytes(n - 1) & 0x7f),
      // raw doubles: queries round at the output edge like every other
      // float column, so the oracle's ROUND semantics match
      mean_byte = mean,
      entropy_proxy = entropy)
  }

  /** Real decode first (ImageIO probes magic bytes — arbitrary binary
    * returns None fast), stub statistics for everything else.
    */
  def decodeAny(r: MediaRow): MediaFeatures =
    ImageCodec.decode(r.payload) match {
      case Some(d) =>
        MediaFeatures(
          r.media_id, r.kind, r.payload.length,
          d.width, d.height, d.meanPx, d.entropyProxy)
      case None => decodeStub(r)
    }

  /** Partition-local feature extraction over a binary media column.
    * Input df columns: (media_id long, kind string, payload binary).
    */
  def extractFeatures(df: DataFrame): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions(_.map(decodeAny))
  }

  /** Deterministic frame sampling: split the payload into `frames`
    * equal chunks and keep every `stride`-th chunk (video-frame-
    * sampling shape without a codec).
    */
  def sampleFrames(df: DataFrame, frames: Int, stride: Int): DataFrame = {
    // note: the last n - frames·(n/frames) trailing bytes belong to no
    // chunk (fixed chunk grid, certified by the q_media_frames oracle);
    // stride=0 would throw an opaque Range error deep in the executor
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .flatMap { r =>
        val n = r.payload.length
        if (n == 0 || frames <= 0) Iterator.empty
        else {
          val size = math.max(1, n / frames)
          (0 until frames by stride).iterator
            .map { i =>
              val from = math.min(i * size, n)
              val until = math.min((i + 1) * size, n)
              (r.media_id, i, r.payload.slice(from, until))
            }
            .filter(_._3.nonEmpty)
        }
      }
      .toDF("media_id", "frame_idx", "frame_bytes")
  }

  /** STUB resize: deterministic re-sampling of the payload to a target
    * "pixel" budget (byte stride sampling stands in for real
    * interpolation; metadata carries the declared target dims). The
    * partition-local execution shape is identical to a real resampler.
    */
  def resizeStub(df: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val budget = targetW * targetH
    df.select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
      .mapPartitions(_.map { r =>
        val n = r.payload.length
        val out =
          if (n == 0 || n <= budget) r.payload
          else {
            val step = n.toDouble / budget
            Array.tabulate(budget)(i => r.payload((i * step).toInt))
          }
        (r.media_id, r.kind, targetW, targetH, out)
      })
      .toDF("media_id", "kind", "width", "height", "payload")
  }

  /** Real-image fixture table: one deterministic gray-pattern image per
    * document, alternating PNG/JPEG, dimensions a pure function of the
    * id (even, 8–22 px — small enough to encode thousands per second,
    * large enough that the PNG bytes are genuinely DEFLATE-compressed).
    * The closed-form pattern lets the DuckDB oracle compute the expected
    * decode output without a codec.
    */
  def imageFixtures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 + (id % 8) * 2).toInt
        val h = (8 + ((id / 8) % 8) * 2).toInt
        val fmt = if (id % 2 == 0) "png" else "jpeg"
        (id, fmt, ImageCodec.encode(ImageCodec.renderPattern(w, h, id), fmt))
      })
      .toDF("media_id", "fmt", "payload")
  }

  /** Real ImageIO decode of an image-payload table to exact integer
    * pixel statistics. Input: (media_id long, fmt string, payload
    * binary); undecodable payloads are dropped (None).
    */
  def decodeImages(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("fmt"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, fmt, payload) =>
        ImageCodec.decode(payload).map(d =>
          (id, fmt, d.width.toLong, d.height.toLong, d.pxSum, d.pxSqSum))
      })
      .toDF("media_id", "fmt", "width", "height", "px_sum", "px_sqsum")
  }

  /** Real image resize: decode, exact 2×2 box-average downsample,
    * re-encode as PNG, decode AGAIN for the emitted statistics — so the
    * output certifies the full decode→resample→encode→decode loop, not
    * just the arithmetic. Input rows must be losslessly decodable with
    * even dimensions (the PNG fixtures).
    */
  def resizeImagesHalf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) None
        else {
          val resized = ImageCodec.encode(ImageCodec.boxHalve(img), "png")
          ImageCodec.decode(resized).map(d =>
            (id, d.width.toLong, d.height.toLong, d.pxSum, d.pxSqSum, resized))
        }
      })
      .toDF("media_id", "width", "height", "px_sum", "px_sqsum", "payload")
  }

  /** Animated-GIF fixtures: one REAL multi-frame payload per document
    * (2–4 frames, per-frame-distinct gray pattern). The bytes on the
    * wire are genuine LZW-compressed GIF89a streams produced by the JDK
    * sequence writer — nothing a byte-statistics stub could reproduce.
    */
  def gifFixtures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (6 + (id % 6) * 2).toInt
        val h = (6 + ((id / 6) % 6) * 2).toInt
        val nFrames = (2 + id % 3).toInt
        val frames = (0 until nFrames).map(f =>
          ImageCodec.renderFrame(w, h, id, f))
        (id, ImageCodec.encodeGif(frames))
      })
      .toDF("media_id", "payload")
  }

  /** Real multi-frame decode: explode each animated payload into one
    * row per frame with exact pixel statistics. Same mapPartitions
    * batch shape as the single-image decode — per-payload frame fan-out
    * happens inside the partition, so a 100 TB media table never
    * shuffles undecoded bytes.
    */
  def decodeGifFrames(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        ImageCodec.decodeFrames(payload).iterator.zipWithIndex.map {
          case (d, f) =>
            (id, f.toLong, d.width.toLong, d.height.toLong, d.pxSum, d.pxSqSum)
        }
      })
      .toDF("media_id", "frame_idx", "width", "height", "px_sum", "px_sqsum")
  }

  /** Real-audio fixture table: one deterministic 16-bit PCM mono WAV
    * clip per document (genuine RIFF/WAVE bytes from the JDK writer,
    * `javax.sound.sampled`). Clip length is a pure function of the id;
    * the closed-form signal lets the DuckDB oracle compute the expected
    * decode output without a codec — the audio analogue of
    * [[imageFixtures]].
    */
  def audioFixtures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (256 + (id % 16) * 32).toInt
        (id, AudioCodec.renderClip(n, id))
      })
      .toDF("media_id", "payload")
  }

  /** Real JDK audio decode of a WAV-payload table to exact integer
    * sample statistics (PCM is lossless, so sums certify content).
    * Undecodable payloads are dropped (None) — same contract as
    * [[decodeImages]].
    */
  def decodeAudio(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        AudioCodec.decode(payload).map(d =>
          (id, d.sampleRate.toLong, d.nSamples.toLong, d.sSum, d.sSqSum,
            d.sMin.toLong, d.sMax.toLong, d.zeroCross.toLong))
      })
      .toDF("media_id", "sample_rate", "n_samples", "s_sum", "s_sqsum",
        "s_min", "s_max", "zero_cross")
  }

  /** Frame-level energy extraction (the VAD/speech-featurization
    * shape): decode each clip, split into fixed `frameLen`-sample
    * frames (complete frames only), emit per-frame sample-square sums.
    * Frame fan-out happens inside the partition — a 100 TB audio table
    * never shuffles undecoded bytes, exactly like [[decodeGifFrames]].
    */
  def audioFrameEnergy(df: DataFrame, frameLen: Int): DataFrame = {
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        AudioCodec.decodeSamples(payload).iterator.flatMap { s =>
          (0 until s.length / frameLen).iterator.map { f =>
            var sq = 0L
            var i = f * frameLen
            val end = i + frameLen
            while (i < end) { sq += s(i).toLong * s(i); i += 1 }
            (id, f.toLong, sq)
          }
        }
      })
      .toDF("media_id", "frame_idx", "energy")
  }

  /** Real audio resample: decode, decimate 2:1 (keep even-index
    * samples), re-encode as WAV, decode AGAIN for the emitted
    * statistics — certifying the whole decode→decimate→encode→decode
    * loop, mirroring [[resizeImagesHalf]].
    */
  def resampleAudioHalf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        AudioCodec.decodeSamples(payload).flatMap { s =>
          val dec = Array.tabulate((s.length + 1) / 2)(j => s(2 * j))
          AudioCodec.decode(AudioCodec.encodePcm16(dec)).map(d =>
            (id, d.nSamples.toLong, d.sSum, d.sSqSum))
        }
      })
      .toDF("media_id", "n_samples", "s_sum", "s_sqsum")
  }

  /** Build a synthetic media table from the documents table (UTF-8
    * payloads) — test/bench scaffolding for the binary plumbing.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
      encode(col("text"), "UTF-8").as("payload"))
}
