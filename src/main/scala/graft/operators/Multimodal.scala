package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Decoded-media stats row: nulls mark the non-applicable modality.
  * Top-level (not nested in the object) so the encoder's generated
  * serializer codegen can reference the class — nested it trips a
  * Janino resolution failure and every row falls back to interpreted
  * projection. */
case class MediaStats(media_id: Long, mime: String, n_bytes: Int,
    duration_s: Option[Double], rms: Option[Double], peak: Option[Double],
    zcr: Option[Double], width: Option[Int], height: Option[Int],
    mean_r: Option[Double], mean_g: Option[Double], mean_b: Option[Double])

/** Multimodal (image/audio/video) column plumbing (north star).
  *
  * Media is modeled as opaque `binary` payload columns plus a typed
  * metadata struct. Decoding is REAL for every format a pure JVM can
  * handle — WAV/BMP via hand-written byte codecs and PNG/JPEG/GIF via
  * the JDK's own `javax.imageio` plugins ([[MediaCodec]]); the only
  * remaining unsupported family is compressed AUDIO/VIDEO (MP3,
  * H.264, …), for which the JDK ships no decoder and this container
  * no native libs — those mimes surface as null-stats rows in
  * [[decodeMedia]], never as fabricated values. At cluster scale the
  * same batched mapPartitions shape swaps in a JNI/GPU codec without
  * touching schema, partitioning, or batch contract.
  */
object Multimodal {

  /** Canonical media-row schema: id + payload + mime + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))), nullable = true)))

  /** Fake ingestion: wraps a string column as a binary payload so the
    * pipeline shape can be exercised on the text testdata. */
  def ingestFromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit("application/octet-stream").as("mime"))

  /** Codec-free payload probe: byte length + pseudo-dimensions derived
    * from the payload digest. For pipelines whose payloads are opaque
    * (mimes nothing can decode) this keeps the downstream feature
    * plumbing exercised end-to-end; real decoding lives in
    * [[decodeMedia]]. Deterministic, so oracle-checkable. */
  def decodeStub(df: DataFrame): DataFrame =
    df.withColumn("n_bytes", octet_length(col("payload")))
      .withColumn("fake_width", ascii(substring(md5(col("payload")), 1, 1)))
      .withColumn("fake_height", ascii(substring(md5(col("payload")), 2, 1)))

  /** BATCHED decode + feature extraction: mapPartitions accumulates
    * payloads into batches of `batchSize` and hands each WHOLE BATCH to
    * the codec — the Scala analog of mapInPandas' Arrow-batch contract.
    * In-JVM there is no serialization boundary, but the batch shape is
    * the part that matters at scale: a real JNI/GPU codec amortizes its
    * per-call overhead across the batch, and this function is the
    * drop-in point (replace `stubDecodeBatch` only; ids, ordering, and
    * output schema are the contract).
    *
    * Output: (media_id, n_bytes, feature ARRAY<FLOAT>) — the feature
    * column plugs directly into Similarity.{knnBrute,cosineNearDupPairs}
    * for multimodal near-dup / retrieval. The stub "feature" is the
    * payload's MD5 bytes scaled to [0,1): deterministic, length-8,
    * content-keyed (identical payloads ⇒ identical features ⇒ cosine 1). */
  def decodeFeaturesBatched(df: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // ONE codec invocation per batch — the swap-in point
          val feats = stubDecodeBatch(batch.map(_._2))
          batch.iterator.zip(feats.iterator).map { case ((id, p), f) =>
            (id, if (p == null) 0 else p.length, f)
          }
        }
      }
      .toDF("media_id", "n_bytes", "feature")
  }

  /** Content-fingerprint batch featurizer: 8 floats from the payload's
    * MD5 — the deterministic fallback feature for payloads no codec
    * claims (identical payloads ⇒ identical features ⇒ cosine 1, so
    * exact-duplicate retrieval still works on opaque media). Real
    * image payloads get real decoded features via
    * [[imageFeaturesBatched]]; a production A/V embedding model would
    * slot in here with the same one-call-per-batch contract. */
  private def stubDecodeBatch(payloads: Seq[Array[Byte]]): Seq[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    payloads.map { p =>
      md.reset()
      val d = md.digest(if (p == null) Array.emptyByteArray else p)
      d.take(8).map(b => java.lang.Byte.toUnsignedInt(b) / 255.0f)
    }
  }

  /** REAL decode for every mime type a pure JVM can handle —
    * audio/wav (RIFF PCM-16 via [[MediaCodec.wavDecode]]: duration,
    * RMS, peak, zero-crossing rate), image/bmp
    * ([[MediaCodec.bmpDecode]]) and image/png / image/jpeg / image/gif
    * (JDK `javax.imageio` via [[MediaCodec.imageDecode]]): dimensions
    * + channel means — inside the SAME batched mapPartitions contract
    * as [[decodeFeaturesBatched]]. Mimes with no JVM decoder
    * (compressed A/V) yield a null-stats row rather than failing the
    * batch; a MALFORMED payload of a claimed decodable mime still
    * fails loudly. All stats are doubles computed in double space (no
    * float truncation), so they are oracle-comparable when payloads
    * are synthesized deterministically (PNG losslessly; JPEG up to
    * its quantization error, gated by in-plan bounds). */
  def decodeMedia(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"), col("mime"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, mime) =>
        statsRow(id, payload, mime)
      })
      .toDF()
  }

  /** The one per-row decode+stats kernel shared by [[decodeMedia]] and
    * the decoded-frame fast path [[statsFromDecoded]]. */
  private def statsRow(id: Long, payload: Array[Byte],
      mime: String): MediaStats = {
    val nb = if (payload == null) 0 else payload.length
    mime match {
      case "audio/wav" =>
        val (rate, channels, samples) = MediaCodec.wavDecode(payload)
        val frames = samples.length / channels
        var sumSq = 0.0
        var peak = 0.0
        var crossings = 0L
        var i = 0
        while (i < samples.length) {
          val v = samples(i).toDouble
          sumSq += v * v
          val a = math.abs(v)
          if (a > peak) peak = a
          // per-channel sign changes (interleaved: stride channels)
          if (i >= channels &&
              (samples(i) < 0) != (samples(i - channels) < 0))
            crossings += 1
          i += 1
        }
        val n = samples.length.toDouble
        MediaStats(id, mime, nb,
          duration_s = Some(frames.toDouble / rate),
          // empty data chunk is VALID wav: all stats define to 0,
          // never NaN (0.0/0.0 would poison downstream compares)
          rms = Some(if (samples.isEmpty) 0.0
            else math.sqrt(sumSq / n) / 32768.0),
          peak = Some(peak / 32768.0),
          zcr = Some(if (samples.length > channels)
            crossings.toDouble / (samples.length - channels) else 0.0),
          width = None, height = None,
          mean_r = None, mean_g = None, mean_b = None)
      case "image/bmp" =>
        imageStats(id, mime, nb, MediaCodec.bmpDecode(payload))
      case "image/png" | "image/jpeg" | "image/gif" =>
        imageStats(id, mime, nb, MediaCodec.imageDecode(payload))
      case _ =>
        MediaStats(id, if (mime == null) "unknown" else mime, nb,
          None, None, None, None, None, None, None, None, None)
    }
  }

  /** Nearest-neighbor image resize to (dstW, dstH): decode (BMP via
    * the byte codec, PNG/JPEG/GIF via the JDK), resample with the
    * integer mapping src = dst·srcDim/dstDim (floor — deterministic on
    * any JVM, no filtering kernel ambiguity), re-encode as BMP
    * (lossless and size-predictable, so the resized payload can
    * re-enter [[decodeMedia]] for a full resize→re-encode→re-decode
    * round trip). Same partition-local batch contract as
    * [[decodeMedia]] — a JNI/GPU resampler slots in per batch.
    * Non-image mimes pass through untouched with resized=false. */
  def resizeImages(df: DataFrame, dstW: Int, dstH: Int): DataFrame =
    resizeImagesDecoded(df, dstW, dstH)
      .select(col("media_id"), col("payload"), col("mime"), col("resized"))

  /** [[resizeImages]] that also CARRIES the resized frame's decoded
    * pixels (columns width, height, rgb — null for non-image rows), so
    * a downstream stats/feature stage ([[statsFromDecoded]]) reuses
    * them instead of re-decoding the payload it just encoded: one
    * decode per payload across a resize→stats pipeline. The BMP
    * payload is still emitted (lossless, size-predictable), so the
    * frame can ALSO re-enter any payload-shaped consumer. */
  def resizeImagesDecoded(df: DataFrame, dstW: Int, dstH: Int): DataFrame = {
    require(dstW > 0 && dstH > 0, "target dims must be positive")
    // All index math below runs in Long: x*sw and dstW*dstH*3 overflow
    // Int around 50k-pixel edges, turning into negative indices /
    // array sizes — fail loudly at the boundary instead.
    require(dstW.toLong * dstH * 3 <= Int.MaxValue,
      s"target ${dstW}x$dstH exceeds a JVM byte-array (w*h*3 > 2^31-1)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"), col("mime"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, payload, mime) =>
          val decoded = mime match {
            case "image/bmp" => Some(MediaCodec.bmpDecode(payload))
            case "image/png" | "image/jpeg" | "image/gif" =>
              Some(MediaCodec.imageDecode(payload))
            case _ => None
          }
          decoded match {
            case Some((sw, sh, rgb)) =>
              require(sw.toLong * sh * 3 <= Int.MaxValue,
                s"decoded ${sw}x$sh exceeds a JVM byte-array")
              val out = new Array[Byte](dstW * dstH * 3)
              var y = 0
              while (y < dstH) {
                val sy = (y.toLong * sh / dstH).toInt
                var x = 0
                while (x < dstW) {
                  val sx = (x.toLong * sw / dstW).toInt
                  val si = (sy * sw + sx) * 3
                  val di = (y * dstW + x) * 3
                  out(di) = rgb(si)
                  out(di + 1) = rgb(si + 1)
                  out(di + 2) = rgb(si + 2)
                  x += 1
                }
                y += 1
              }
              (id, MediaCodec.bmpEncode(dstW, dstH, out), "image/bmp", true,
                Some(dstW), Some(dstH), out)
            case None =>
              (id, payload, mime, false, None: Option[Int], None: Option[Int],
                null: Array[Byte])
          }
        }
      }
      .toDF("media_id", "payload", "mime", "resized", "width", "height", "rgb")
  }

  /** [[decodeMedia]]-shaped stats over a frame that may already carry
    * decoded pixels (the width/height/rgb columns of
    * [[resizeImagesDecoded]]): rows with rgb present compute image
    * stats straight from the carried pixels — ZERO codec calls — and
    * only rgb-null rows (audio, passthrough mimes) fall back to the
    * shared decode kernel. `statsFromDecoded(resizeImagesDecoded(x))`
    * is row-identical to `decodeMedia(resizeImages(x))` with half the
    * decodes (MediaCodecSpec pins both claims via the codec's decode
    * counter). */
  def statsFromDecoded(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"), col("mime"),
        col("width").cast("int"), col("height").cast("int"), col("rgb"))
      .as[(Long, Array[Byte], String, Option[Int], Option[Int], Array[Byte])]
      .mapPartitions(_.map {
        case (id, payload, mime, Some(w), Some(h), rgb) if rgb != null =>
          imageStats(id, mime, if (payload == null) 0 else payload.length,
            (w, h, rgb))
        case (id, payload, mime, _, _, _) => statsRow(id, payload, mime)
      })
      .toDF()
  }

  private def imageStats(id: Long, mime: String, nb: Int,
      decoded: (Int, Int, Array[Byte])): MediaStats = {
    val (w, h, rgb) = decoded
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i < rgb.length) {
      sr += rgb(i) & 0xff
      sg += rgb(i + 1) & 0xff
      sb += rgb(i + 2) & 0xff
      i += 3
    }
    val px = (w * h).toDouble
    MediaStats(id, mime, nb, None, None, None, None,
      width = Some(w), height = Some(h),
      mean_r = Some(sr / px), mean_g = Some(sg / px),
      mean_b = Some(sb / px))
  }
}
