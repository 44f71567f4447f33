package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata, plus the decode / feature-extract / resize /
  * frame-sample operator plumbing.
  *
  * Decode is REAL for the formats the JDK ships codecs for —
  * `javax.imageio` (PNG/JPEG/BMP/GIF — including multi-frame animated
  * GIF via the sequence reader, the video path) and
  * `javax.sound.sampled` (WAV/PCM) — producing bucketed-luminance /
  * bucketed-RMS feature vectors and real resize via Graphics2D.
  * Payloads no JDK codec claims (other video containers, corrupt bytes)
  * fall back to a deterministic byte-hash STUB so the Spark-side
  * contract (schema, batch shape, partition-wise execution, null
  * handling) stays exercised end-to-end either way.
  *
  * Scale design: media rows are processed per partition in bounded
  * batches (the Scala analogue of Arrow-batched pandas UDFs), so
  * executor memory is bounded by `batchSize × max media size`, not by
  * partition row count; binary payloads never pass through a shuffle —
  * features are extracted first and only the (key, features) projection
  * moves.
  */
object Multimodal {

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      sha_prefix: String,
      decode_status: String, // "decoded" (real codec) | "stub" (fallback)
      features: Array[Float])

  /** STUB decode (fallback + video): a deterministic feature vector from
    * the content hash, so downstream plumbing (similarity search, dedup
    * on `features`) is exercised even for undecodable payloads. */
  private[graft] def decodeStub(content: Array[Byte], dim: Int): Array[Float] =
    stubFromMd5(java.security.MessageDigest.getInstance("MD5").digest(
      if (content == null) Array.emptyByteArray else content), dim)

  /** The stub feature kernel over an already-computed content md5 — so
    * callers that hash the payload anyway (extractFeatures' sha_prefix)
    * never digest the same bytes twice. */
  private def stubFromMd5(md: Array[Byte], dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      val b = md(i % md.length)
      (b.toInt * (i + 1) % 251) / 251.0f
    }

  /** REAL image decode (JDK ImageIO: PNG/JPEG/BMP/GIF): bucketed mean
    * luminance over `dim` raster-order buckets — deterministic and
    * resolution-independent. None when the payload isn't a decodable
    * image. */
  private[graft] def decodeImage(content: Array[Byte], dim: Int)
      : Option[(Int, Int, Array[Float])] =
    try {
      if (content == null) return None
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      if (img == null || img.getWidth == 0 || img.getHeight == 0) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val feats = new Array[Float](dim)
        val counts = new Array[Int](dim)
        // bulk row reads: per-pixel getRGB(x, y) does a color-model
        // conversion per call — the slow path on this hot decode loop
        val rowBuf = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, rowBuf, 0, w)
          var x = 0
          while (x < w) {
            val rgb = rowBuf(x)
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            val b = ((y.toLong * w + x) * dim / (w.toLong * h)).toInt
            feats(b) += lum / 255.0f
            counts(b) += 1
            x += 1
          }
          y += 1
        }
        var i = 0
        while (i < dim) { if (counts(i) > 0) feats(i) /= counts(i); i += 1 }
        Some((w, h, feats))
      }
    } catch { case _: Exception => None }

  /** REAL audio decode (JDK javax.sound: WAV/AIFF PCM): bucketed RMS
    * amplitude over `dim` time buckets of the 16-bit samples, plus
    * sample rate and duration. None when the payload isn't decodable. */
  private[graft] def decodeAudio(content: Array[Byte], dim: Int)
      : Option[(Int, Long, Array[Float])] =
    try {
      if (content == null) return None
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val fmt = in.getFormat
        // only the encodings this kernel actually interprets correctly:
        // 16/8-bit signed and 8-bit unsigned PCM. Anything else (float,
        // 24/32-bit, compressed) returns None -> the hash stub, instead
        // of silently mis-reading sample bytes (an 8-bit UNSIGNED silent
        // file read as signed decodes to full-scale noise).
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        if (!((signed && (bits == 16 || bits == 8)) || (unsigned && bits == 8)))
          return None
        val bytes = in.readAllBytes()
        val bytesPerSample = math.max(bits / 8, 1)
        val n = bytes.length / bytesPerSample
        if (n == 0) return None
        val sq = new Array[Double](dim)
        val counts = new Array[Int](dim)
        val be = fmt.isBigEndian
        var i = 0
        while (i < n) {
          val v =
            if (bytesPerSample == 2) {
              val o = i * 2
              val (lo, hi) = if (be) (bytes(o + 1), bytes(o)) else (bytes(o), bytes(o + 1))
              ((hi << 8) | (lo & 0xFF)).toDouble / 32768.0
            } else if (signed) bytes(i).toDouble / 128.0
            else ((bytes(i) & 0xFF) - 128).toDouble / 128.0
          val b = (i.toLong * dim / n).toInt
          sq(b) += v * v
          counts(b) += 1
          i += 1
        }
        val feats = Array.tabulate(dim)(b =>
          if (counts(b) > 0) math.sqrt(sq(b) / counts(b)).toFloat else 0.0f)
        val durationMs =
          (n.toLong / math.max(fmt.getChannels, 1)) * 1000 / fmt.getSampleRate.toLong
        Some((fmt.getSampleRate.toInt, durationMs, feats))
      } finally in.close()
    } catch { case _: Exception => None }

  /** Mean luminance of one decoded frame, in [0, 1]. */
  private def meanLum(img: java.awt.image.BufferedImage): Float = {
    val w = img.getWidth; val h = img.getHeight
    if (w == 0 || h == 0) return 0.0f
    val rowBuf = new Array[Int](w)
    var sum = 0.0; var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, rowBuf, 0, w)
      var x = 0
      while (x < w) {
        val rgb = rowBuf(x)
        sum += (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
        x += 1
      }
      y += 1
    }
    (sum / (w.toLong * h) / 255.0).toFloat
  }

  /** REAL video decode for ImageIO-readable frame sequences (animated
    * GIF — the one multi-frame container the JDK ships a codec for):
    * per-frame mean luminance via the sequence reader
    * (`ImageReader.read(i)`). None when no reader claims the payload or
    * it holds zero frames. */
  private[graft] def decodeGifFrames(content: Array[Byte]): Option[IndexedSeq[Float]] =
    decodeGifFrames(content, 1).map(_.map(_._2))

  /** Decode every `step`-th frame ONLY — frame decode dominates the
    * per-row cost, so a sampler must never read the frames it skips.
    * Returns (frame index, mean luminance) pairs. */
  private[graft] def decodeGifFrames(content: Array[Byte], step: Int)
      : Option[IndexedSeq[(Int, Float)]] =
    try {
      if (content == null) return None
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else Some((0 until n by step).map(i => i -> meanLum(reader.read(i))))
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: Exception => None }

  /** Video features: frame mean-luminances folded into `dim` time
    * buckets (the temporal analogue of the audio RMS buckets). */
  private[graft] def decodeVideo(content: Array[Byte], dim: Int)
      : Option[(Int, Array[Float])] =
    decodeGifFrames(content).map { lums =>
      val n = lums.length
      val feats = new Array[Float](dim)
      val counts = new Array[Int](dim)
      var i = 0
      while (i < n) {
        val b = (i.toLong * dim / n).toInt
        feats(b) += lums(i); counts(b) += 1; i += 1
      }
      var b = 0
      while (b < dim) { if (counts(b) > 0) feats(b) /= counts(b); b += 1 }
      (n, feats)
    }

  /** Minimal multi-frame GIF encoder via the JDK's ImageIO sequence
    * writer — lets specs and the q67 gate build deterministic animated
    * payloads without external codecs. */
  def encodeGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Decode dispatch: real codec per kind, hash-stub fallback — and a
    * TYPED status saying which branch ran ("decoded" | "stub"), so a
    * run at scale can report its real decode coverage instead of
    * silently mixing stub vectors into the feature space. */
  /** Real-codec dispatch: Some(features) when a JDK codec claims the
    * payload, None when it falls to the hash stub. */
  private def realFeatures(kind: String, content: Array[Byte],
      dim: Int): Option[Array[Float]] = kind match {
    case "image" => decodeImage(content, dim).map(_._3)
    case "audio" => decodeAudio(content, dim).map(_._3)
    // video: animated GIF is the JDK-decodable container; anything
    // the sequence reader can't claim falls back to the hash stub
    case _ => decodeVideo(content, dim).map(_._2)
  }

  private[graft] def decodeFeaturesStatus(kind: String, content: Array[Byte],
      dim: Int): (String, Array[Float]) =
    realFeatures(kind, content, dim)
      .map(("decoded", _)).getOrElse(("stub", decodeStub(content, dim)))

  /** Decode dispatch without the status (kept for feature-only callers). */
  private[graft] def decodeFeatures(kind: String, content: Array[Byte],
      dim: Int): Array[Float] = decodeFeaturesStatus(kind, content, dim)._2

  /** REAL resize for decodable images (Graphics2D bilinear); identity
    * for anything the JDK cannot decode. The output is ALWAYS
    * PNG-encoded (normalize-on-resize: PNG is lossless and carries
    * alpha, which is preserved via an ARGB canvas — never flattened);
    * callers tracking a mime column should set it to image/png for
    * resized rows. */
  private[graft] def resize(content: Array[Byte], w: Int, h: Int): Array[Byte] =
    (try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))
        .map { img =>
          val outType =
            if (img.getColorModel.hasAlpha) java.awt.image.BufferedImage.TYPE_INT_ARGB
            else java.awt.image.BufferedImage.TYPE_INT_RGB
          val out = new java.awt.image.BufferedImage(w, h, outType)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          bos.toByteArray
        }
    } catch { case _: Exception => None }).getOrElse(content)

  /** Feature extraction over a media DataFrame: partition-wise, bounded
    * batches, binary never shuffled. Output: (media_id, kind, n_bytes,
    * sha_prefix, decode_status, features) — `decode_status` is
    * "decoded" when a real JDK codec claimed the payload, "stub" when
    * the deterministic hash fallback ran, so decode coverage is a
    * one-groupBy report at any scale. */
  def extractFeatures(media: DataFrame, dim: Int = 16,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaFeatures] = media
      .select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // one digest per PARTITION (digest() resets it per call), and
        // one full-payload hash per ROW: the sha_prefix digest is
        // reused by the stub feature kernel instead of hashing the
        // identical bytes a second time on every undecodable payload
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.grouped(batchSize).flatMap { batch =>
          // batch boundary = the memory bound; a real codec would also
          // amortize model/codec init across the batch here.
          batch.iterator.map { case (id, kind, content) =>
            val bytes = if (content == null) 0L else content.length.toLong
            // a REAL content fingerprint (md5 of the payload bytes,
            // first 16 hex chars) — the field's provenance contract;
            // deriving it from the leading feature values would
            // collide for distinct payloads with equal feature heads
            val md = digest.digest(
              if (content == null) Array.empty[Byte] else content)
            val sha = md.take(8).map(b => f"${b & 0xff}%02x").mkString
            val (status, feats) = realFeatures(kind, content, dim)
              .map(("decoded", _)).getOrElse(("stub", stubFromMd5(md, dim)))
            MediaFeatures(id, kind, bytes, sha, status, feats)
          }
        }
      }
    ds.toDF()
  }

  case class FrameSample(
      media_id: Long, frame_no: Int, decoded: Boolean, mean_lum: Option[Float])

  /** Frame sampling for video rows: every `everyNth` frame. Payloads the
    * JDK sequence reader can decode (animated GIF) yield GENUINE frames
    * — real frame indices plus the decoded frame's mean luminance
    * (`decoded = true`). Undecodable payloads keep the synthetic
    * duration-based frame references (`decoded = false`, null
    * luminance), so the sampling contract holds for codec-less formats.
    * Runs partition-wise; binary payloads never shuffle — only the
    * (media_id, frame_no, mean_lum) projection moves. */
  def sampleFrames(media: DataFrame, everyNth: Int = 10): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val step = math.max(everyNth, 1)
    media.where(col("kind") === "video")
      .select(col("media_id"), col("content"),
        greatest((coalesce(col("meta.duration_ms"), lit(0L)) / 1000).cast("int"),
          lit(0)).as("dur_s"))
      .as[(Long, Array[Byte], Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, content, durS) =>
          // the step is pushed INTO the decode (decodeGifFrames only
          // reads every step-th frame): decoding all frames and then
          // discarding (step-1)/step of them would waste the dominant
          // per-row cost on exactly the frames sampling skips
          decodeGifFrames(content, step) match {
            case Some(samples) =>
              samples.map { case (i, lum) =>
                FrameSample(id, i, decoded = true, Some(lum)) }
            case None =>
              (0 to durS by step).map(i =>
                FrameSample(id, i, decoded = false, None))
          }
        }
      }
      .toDF()
  }

  case class DHashRow(media_id: Long, dhash: Long, decode_status: String)

  /** 64-bit perceptual difference hash (dHash — Krawetz's public
    * gradient-hash algorithm, hackerfactor 2013): mean-luminance
    * resample to a 9×8 grid, bit (row·8 + col) set iff
    * lum(col, row) < lum(col+1, row). Row-wise brightness-monotone
    * (a global brightness shift preserves every comparison) and
    * resolution-independent (bucketed means), so resized/re-encoded
    * copies land within a few bits — pair with
    * [[Dedup.hammingNearDupPairs]] for image near-dup at corpus scale:
    * hash once per image partition-wise, then only 8 bytes per image
    * ever shuffle. Non-decodable payloads hash to the deterministic
    * md5 stub with decode_status = "stub" (the q49 coverage
    * convention). */
  def dHash(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition digest, same rationale as extractFeatures
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.grouped(batchSize).flatMap(_.iterator.map { case (id, content) =>
          dHashKernel(content) match {
            case Some(h) => DHashRow(id, h, "decoded")
            case None =>
              val md = digest.digest(
                if (content == null) Array.emptyByteArray else content)
              val h = (0 until 8).foldLeft(0L)((acc, i) =>
                (acc << 8) | (md(i) & 0xFFL))
              DHashRow(id, h, "stub")
          }
        })
      }
      .toDF()
  }

  private[graft] def dHashKernel(content: Array[Byte]): Option[Long] =
    try {
      if (content == null) return None
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      if (img == null || img.getWidth == 0 || img.getHeight == 0) None
      else {
        val (gw, gh) = (9, 8)
        val w = img.getWidth; val h = img.getHeight
        val sums = Array.ofDim[Long](gh, gw)
        val counts = Array.ofDim[Long](gh, gw)
        val rowBuf = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, rowBuf, 0, w)
          val gy = math.min((y.toLong * gh / h).toInt, gh - 1)
          var x = 0
          while (x < w) {
            val rgb = rowBuf(x)
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            val gx = math.min((x.toLong * gw / w).toInt, gw - 1)
            sums(gy)(gx) += lum
            counts(gy)(gx) += 1
            x += 1
          }
          y += 1
        }
        var bits = 0L
        var gy = 0
        while (gy < gh) {
          var gx = 0
          while (gx < gw - 1) {
            // integer cross-multiplied mean compare — no float, exact
            val left = sums(gy)(gx) * math.max(counts(gy)(gx + 1), 1L)
            val right = sums(gy)(gx + 1) * math.max(counts(gy)(gx), 1L)
            if (left < right) bits |= 1L << (gy * (gw - 1) + gx)
            gx += 1
          }
          gy += 1
        }
        Some(bits)
      }
    } catch { case _: Exception => None }

  /** Synthesize a deterministic media table from the documents testdata
    * (text bytes as payload) — lets every multimodal operator run and be
    * asserted on without codecs. */
  def syntheticMediaFromDocs(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables(spark, dir, "documents").select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        lit(64).as("width"), lit(64).as("height"),
        (col("n_chars") * 100).cast("long").as("duration_ms")).as("meta"))
  }
}
