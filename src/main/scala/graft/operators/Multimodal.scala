package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, plus decode / feature-extract / frame-sample / resize
  * operators.
  *
  * Two codec modes behind ONE mapPartitions seam:
  *  - [[StubCodec]] — deterministic fake (shape derived from byte
  *    length), the oracle-checkable mode every text-payload query uses;
  *  - [[ImageIoCodec]] — REAL image decode/resize over `javax.imageio`
  *    (JDK-only), used by [[decodeImageMeta]]/[[resizeImages]] and
  *    driver-checked end-to-end by [[imageRoundTrip]].
  * Everything around the codec — binary column handling, schema,
  * partition-preserving mapPartitions batching, sampling stride — is the
  * same Spark plumbing in both modes.
  */
object Multimodal {

  /** A decoded media frame's metadata (what a real codec would return). */
  final case class MediaMeta(docId: Long, nBytes: Long, width: Int,
      height: Int, channels: Int)

  /** STUB codec: the oracle-checkable deterministic mode (dimensions
    * derived from the byte length so SQL twins can predict them). The
    * REAL codec is [[ImageIoCodec]] — same seam, swapped by call site.
    */
  object StubCodec {
    def decodeMeta(docId: Long, bytes: Array[Byte]): MediaMeta = {
      // real codec: ImageIoCodec.decodeMeta; deterministic fake below
      val n = bytes.length.toLong
      MediaMeta(docId, n, (1 + n % 64).toInt, (1 + (n / 64) % 64).toInt, 3)
    }
  }

  /** REAL image kernels over `javax.imageio` (JDK-public, zero extra
    * dependencies) — the production codec the stub stands in for. PNG
    * (and any other ImageIO-registered format) in, PNG out. Decode
    * returns None for payloads that aren't images — the ingest-filtering
    * contract: corrupt media must DROP, not crash the task.
    */
  object ImageIoCodec {
    // In-memory ImageIO streams only: the default disk-backed
    // ImageInputStream cache creates a temp FILE per read/write and
    // serializes concurrent kernels on filesystem + registry locks.
    // Payloads here are byte arrays; the memory-cached stream is
    // bit-identical. The ImageIO kernels (imageRoundTrip,
    // phashFingerprints, imageEmbeddings) are widened with Width.spread,
    // which pays only with this switch; the audio and video kernels
    // measured slower widened and stay narrow (OPTIMIZATION_r18.md §13).
    javax.imageio.ImageIO.setUseCache(false)

    def decodeMeta(docId: Long, bytes: Array[Byte]): Option[MediaMeta] =
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        .map(i => MediaMeta(docId, bytes.length.toLong, i.getWidth,
          i.getHeight, i.getColorModel.getNumComponents))

    /** Shrink-to-fit-in-box resize. Target dims use INTEGER floor
      * arithmetic (`side·maxDim / maxSide`, min 1; never upscales) so an
      * oracle can recompute them exactly; bilinear resample; PNG
      * re-encode (lossless, so a re-decode sees the resampled pixels
      * bit-for-bit). None for non-image payloads.
      */
    def resize(bytes: Array[Byte], maxDim: Int): Option[Array[Byte]] = {
      require(maxDim >= 1, s"resize requires maxDim >= 1, got $maxDim")
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        .map { src =>
          val side = math.max(src.getWidth, src.getHeight)
          val (w, h) =
            if (side <= maxDim) (src.getWidth, src.getHeight)
            else (math.max(1, (src.getWidth.toLong * maxDim / side).toInt),
              math.max(1, (src.getHeight.toLong * maxDim / side).toInt))
          val dst = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val g = dst.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, w, h, null)
          g.dispose()
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", out)
          out.toByteArray
        }
    }
  }

  val EmbedDims = 8

  /** STUB feature extractor: a real build would run an image/audio
    * encoder here and return a unit-scale embedding. Deterministic fake:
    * dim i hashes the i-th 7-char window of the payload (md5 nibble →
    * [−0.5, 0.5]), so the SQL twin reproduces it bit-for-bit.
    *
    * Windows are taken by Unicode CODE POINTS, not UTF-16 code units —
    * Spark's `substring` and DuckDB's `substr` both count code points, so
    * the bit-for-bit parity with [[mediaEmbedding]] holds on astral-plane
    * text too (String.drop/take would split surrogate pairs).
    */
  private[graft] def embedStub(text: String): Array[Double] = {
    val cps = text.codePoints().toArray
    Array.tabulate(EmbedDims) { i =>
      val from = math.min(i * 7, cps.length)
      val until = math.min(from + 7, cps.length)
      val window = new String(cps, from, until - from)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(window.getBytes("UTF-8"))
      val d = f"${digest(0) & 0xff}%02x".charAt(0).toInt
      (d - (if (d >= 97) 87 else 48)).toDouble / 15.0 - 0.5
    }
  }

  final case class MediaEmbedding(docId: Long, embedding: Array[Double])

  /** Batched feature extraction via mapPartitions — same seam as
    * [[decodeMeta]] (encoder init once per partition, row batches
    * inside); output feeds the Similarity ANN operators directly.
    */
  def extractFeatures(documents: DataFrame): Dataset[MediaEmbedding] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // per-partition encoder init would happen here
        it.map { case (id, text) => MediaEmbedding(id, embedStub(text)) }
      }
  }

  /** Pure-Catalyst twin of the stub feature extraction — scalar columns
    * (floor-scaled BIGINTs) so the driver compare can hash them.
    */
  def mediaEmbedding(documents: DataFrame): DataFrame = {
    val dims = (0 until EmbedDims).map { i =>
      val d = ascii(substring(md5(
        substring(col("text"), 1 + i * 7, 7).cast("binary")), 1, 1))
      floor(((d - when(d >= 97, 87).otherwise(48)).cast("double") / 15.0
        - 0.5) * 1000000.0).as(s"e$i")
    }
    documents.select(col("doc_id") +: dims: _*).orderBy(col("doc_id"))
  }

  /** documents.text → opaque binary "media" column + metadata. In a real
    * pipeline this is the raw image/audio payload column.
    */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text").cast("binary").as("media"))

  /** Batched decode via mapPartitions over the typed Dataset — the shape a
    * vectorized decode UDF takes (one codec init per partition, row-batch
    * loop inside). Partitioning is preserved; no shuffle.
    */
  def decodeMeta(documents: DataFrame): Dataset[MediaMeta] = {
    val spark = documents.sparkSession
    import spark.implicits._
    mediaTable(documents).as[(Long, Array[Byte])].mapPartitions { it =>
      // per-partition codec init would happen here
      it.map { case (id, bytes) => StubCodec.decodeMeta(id, bytes) }
    }
  }

  /** Thumbnail "resize" through the same stub-codec seam as
    * [[decodeMeta]]: binary payload in, resized binary payload out (here
    * reported as byte counts + an md5 of the output payload — the scalar
    * stand-in convention for binary results). A real resize kernel slots
    * into the marked line; the deterministic stub keeps the first
    * `maxUnits` Unicode code points of the payload (code points, not
    * UTF-16 units, so parity with the DuckDB twin holds on astral-plane
    * content — the [[embedStub]] contract). The plumbing is the real
    * part: per-partition kernel init, row-batch loop, binary in/out,
    * partitioning preserved, no shuffle.
    */
  def resizeMedia(documents: DataFrame, maxUnits: Int = 64): DataFrame = {
    require(maxUnits >= 1, "maxUnits must be >= 1")
    val spark = documents.sparkSession
    import spark.implicits._
    mediaTable(documents).as[(Long, Array[Byte])].mapPartitions { it =>
      // per-partition resize-kernel init would happen here
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, bytes) =>
        // ??? <- real resize kernel goes here; deterministic stub below
        val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        val nUnits = s.codePointCount(0, s.length)
        val keep = math.min(maxUnits, nUnits)
        val thumb = s.substring(0, s.offsetByCodePoints(0, keep))
        val tb = thumb.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val hex = md.digest(tb).map(b => f"$b%02x").mkString
        (id, bytes.length.toLong, nUnits.toLong, keep.toLong,
          tb.length.toLong, hex)
      }
    }.toDF("doc_id", "n_bytes", "n_units", "out_units", "out_bytes",
        "thumb_md5")
      .orderBy(col("doc_id"))
  }

  /** REAL decode through the same partition-preserving mapPartitions seam
    * as [[decodeMeta]] — the codec is the only swapped piece. Input: a
    * media table with (`doc_id` long, `media` binary). Non-image rows
    * drop (flatMap), per the [[ImageIoCodec]] corrupt-media contract.
    */
  def decodeImageMeta(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) => ImageIoCodec.decodeMeta(id, b) })
  }

  /** REAL resize: binary in → PNG thumbnail binary out, same seam as
    * [[resizeMedia]]'s stub. Non-image rows drop. Output partitioning is
    * inherited from the scan — no shuffle.
    */
  def resizeImages(media: DataFrame, maxDim: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        ImageIoCodec.resize(b, maxDim).map(out => (id, out))
      }).toDF("doc_id", "thumb")
  }

  /** The REAL kernels driver-checked end-to-end (the `ann_ivf_trained`
    * accuracy-contract pattern): per doc_id, synthesize a solid-color
    * `(1 + id%16) × (1 + id%9)` PNG, decode it with [[ImageIoCodec]],
    * resize into a `maxDim` box, re-decode the thumbnail, and emit the
    * DECODED dimensions plus an all-pixels color check. The oracle
    * recomputes the expected dims from doc_id with the same integer
    * arithmetic and emits literal TRUE — a broken decode, resize, or
    * re-encode flips a value and fails the hash gate. Solid color is the
    * fixture trick: bilinear resampling of a constant image is exact, so
    * the pixel check has no tolerance band.
    */
  def imageRoundTrip(documents: DataFrame, maxDim: Int = 4): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    Width.spread(documents.select(col("doc_id").cast("long")), "doc_id")
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = (1 + id % 16).toInt
          val h = (1 + id % 9).toInt
          val rgb = (((id % 256) << 16) | (((id * 7) % 256) << 8) |
            ((id * 13) % 256)).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var x = 0
          while (x < w) {
            var y = 0
            while (y < h) { img.setRGB(x, y, rgb); y += 1 }
            x += 1
          }
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", buf)
          val png = buf.toByteArray
          val meta = ImageIoCodec.decodeMeta(id, png).get
          val thumb = ImageIoCodec.resize(png, maxDim).get
          val out = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(thumb))
          var colorOk = true
          var xx = 0
          while (xx < out.getWidth) {
            var yy = 0
            while (yy < out.getHeight) {
              colorOk &&= (out.getRGB(xx, yy) & 0xffffff) == rgb
              yy += 1
            }
            xx += 1
          }
          (id, meta.width.toLong, meta.height.toLong,
            out.getWidth.toLong, out.getHeight.toLong, colorOk)
        }
      }.toDF("doc_id", "w", "h", "out_w", "out_h", "color_ok")
      .orderBy(col("doc_id"))
  }

  /** A decoded audio payload's metadata (what a real audio codec returns). */
  final case class AudioMeta(docId: Long, nBytes: Long, sampleRate: Int,
      channels: Int, bits: Int, nFrames: Long)

  /** REAL audio metadata kernel over `javax.sound.sampled` (JDK-public,
    * zero extra dependencies — the [[ImageIoCodec]] posture for audio).
    * WAV/AIFF/AU headers decode to format metadata; payloads that aren't
    * audio return None — the corrupt-media drop contract. The
    * deterministic [[mediaMeta]] stub remains the oracle mode; this is
    * the production kernel behind the same seam.
    */
  object WavCodec {
    def decodeMeta(docId: Long, bytes: Array[Byte]): Option[AudioMeta] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val f = in.getFormat
          Some(AudioMeta(docId, bytes.length.toLong, f.getSampleRate.toInt,
            f.getChannels, f.getSampleSizeInBits, in.getFrameLength))
        } finally in.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException                               => None
      }
  }

  /** REAL audio-metadata decode through the partition-preserving
    * mapPartitions seam — identical plumbing to [[decodeImageMeta]], only
    * the codec differs. Non-audio rows drop (flatMap).
    */
  def decodeAudioMeta(media: DataFrame): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) => WavCodec.decodeMeta(id, b) })
  }

  /** The REAL audio kernel driver-checked end-to-end (the
    * [[imageRoundTrip]] pattern): per doc_id, synthesize a deterministic
    * 16-bit mono PCM WAV (`1 + id%32` frames, sample i =
    * `(id·31 + i·17) mod 65536 − 32768`), decode its header with
    * [[WavCodec]], then re-decode the full stream and compare the PCM
    * payload byte-for-byte (PCM in a WAV container is lossless, so the
    * check has no tolerance band). The oracle recomputes the expected
    * format from doc_id with the same integer arithmetic and emits
    * literal TRUE for the payload check — a broken header writer, header
    * parser, or stream decode flips a value and fails the hash gate.
    */
  def audioRoundTrip(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nFrames = (1 + id % 32).toInt
          val pcm = new Array[Byte](nFrames * 2)
          var i = 0
          while (i < nFrames) {
            val s = (((id * 31 + i * 17) % 65536) - 32768).toShort
            pcm(2 * i) = (s & 0xff).toByte          // little-endian PCM
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
            true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
          val buf = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
          val wav = buf.toByteArray
          val meta = WavCodec.decodeMeta(id, wav).get
          val back = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(wav))
          val decoded = try back.readAllBytes() finally back.close()
          (id, meta.sampleRate.toLong, meta.channels.toLong,
            meta.bits.toLong, meta.nFrames,
            java.util.Arrays.equals(decoded, pcm))
        }
      }.toDF("doc_id", "sample_rate", "channels", "bits", "n_frames",
        "pcm_ok")
      .orderBy(col("doc_id"))
  }

  /** A decoded video payload's metadata (what a real demuxer returns). */
  final case class VideoMeta(docId: Long, nBytes: Long, width: Int,
      height: Int, nFrames: Long)

  /** REAL video kernels over the YUV4MPEG2 (Y4M) container — a public,
    * dependency-free format: one ASCII header line
    * (`YUV4MPEG2 W<w> H<h> F<num>:<den> … [C420]`), then per frame a
    * `FRAME[ params]\n` marker followed by a raw 4:2:0 plane dump
    * (w·h luma bytes + 2·(w/2)·(h/2) chroma bytes). A pure-JVM parser —
    * the [[ImageIoCodec]]/[[WavCodec]] zero-dependency posture extended
    * to video. Malformed payloads (bad magic, odd dims, truncated frame,
    * non-C420 color space) return None — the corrupt-media drop
    * contract shared by all three real codecs.
    */
  object Y4mCodec {
    private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

    private def indexOfByte(bytes: Array[Byte], b: Byte, from: Int): Int = {
      var i = from
      while (i < bytes.length && bytes(i) != b) i += 1
      if (i < bytes.length) i else -1
    }

    /** (width, height, per-frame luma-plane offsets), or None. */
    private[graft] def parse(bytes: Array[Byte]): Option[(Int, Int, Vector[Int])] = {
      val nl = indexOfByte(bytes, '\n'.toByte, 0)
      if (nl <= 0) return None
      val toks = new String(bytes, 0, nl, Ascii).split(" ")
      if (toks.isEmpty || toks(0) != "YUV4MPEG2") return None
      // ≤7 digits keeps the value — and every w·h·3/2 frame size —
      // safely inside Int; a 20-digit W must DROP (None), not throw
      def num(tag: Char): Option[Int] = toks.iterator.drop(1).collectFirst {
        case t if t.length > 1 && t.length <= 8 && t.charAt(0) == tag &&
          t.drop(1).forall(_.isDigit) => t.drop(1).toInt
      }
      // C420 is the only subsampling this kernel lays out; absent C
      // defaults to 4:2:0 per the format spec
      if (toks.iterator.drop(1).exists(t => t.startsWith("C") && t != "C420"))
        return None
      (num('W'), num('H')) match {
        case (Some(w), Some(h))
            if w > 0 && h > 0 && w % 2 == 0 && h % 2 == 0 &&
              w.toLong * h <= 100000000L => // 100 MP: frame size stays Int
          val frameBytes = w * h * 3 / 2
          val offsets = Vector.newBuilder[Int]
          var pos = nl + 1
          var ok = true
          while (ok && pos < bytes.length) {
            val e = indexOfByte(bytes, '\n'.toByte, pos)
            if (e < pos + 5 ||
                new String(bytes, pos, 5, Ascii) != "FRAME" ||
                e + 1 + frameBytes > bytes.length) ok = false
            else { offsets += e + 1; pos = e + 1 + frameBytes }
          }
          if (ok) Some((w, h, offsets.result())) else None
        case _ => None
      }
    }

    def decodeMeta(docId: Long, bytes: Array[Byte]): Option[VideoMeta] =
      parse(bytes).map { case (w, h, frames) =>
        VideoMeta(docId, bytes.length.toLong, w, h, frames.length.toLong)
      }

    /** Every `stride`-th frame's (index, luma sum, pixel count) — the
      * real counterpart of [[sampleFrames]]'s token stand-in. Integer
      * luma sums keep the result oracle-exact (no float resample band).
      */
    def sampleLuma(bytes: Array[Byte], stride: Int)
        : Option[Seq[(Long, Long, Long)]] =
      parse(bytes).map { case (w, h, frames) =>
        val nPx = w * h
        (frames.indices by stride).map { idx =>
          val off = frames(idx)
          var s = 0L
          var i = 0
          while (i < nPx) { s += (bytes(off + i) & 0xff); i += 1 }
          (idx.toLong, s, nPx.toLong)
        }
      }
  }

  /** REAL video-metadata decode through the same partition-preserving
    * mapPartitions seam as [[decodeImageMeta]]/[[decodeAudioMeta]] — the
    * codec is the only swapped piece. Non-Y4M rows drop (flatMap).
    */
  def decodeVideoMeta(media: DataFrame): Dataset[VideoMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) => Y4mCodec.decodeMeta(id, b) })
  }

  /** The REAL video kernel driver-checked end-to-end (the
    * [[imageRoundTrip]]/[[audioRoundTrip]] pattern): per doc_id,
    * synthesize a deterministic C420 Y4M stream — `2·(1 + id%8)` ×
    * `2·(1 + id%5)` pixels, `1 + id%6` frames, frame f a CONSTANT luma
    * plane of `16 + (id·7 + f·13) mod 220` with 128 chroma — demux it
    * with [[Y4mCodec]], sample every 2nd frame, and emit the decoded
    * dims, frame count, and per-sampled-frame mean luma plus an
    * exact-plane check (constant planes make the mean integer-exact, the
    * solid-color fixture trick). The oracle recomputes everything from
    * doc_id with the same integer arithmetic and emits literal TRUE for
    * the plane check — a broken header writer, parser, frame walk, or
    * luma read flips a value and fails the hash gate.
    */
  def videoRoundTrip(documents: DataFrame, stride: Int = 2): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val w = (2 * (1 + id % 8)).toInt
          val h = (2 * (1 + id % 5)).toInt
          val nFrames = (1 + id % 6).toInt
          val frameBytes = w * h * 3 / 2
          val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n"
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val marker = "FRAME\n"
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val buf = java.nio.ByteBuffer.allocate(
            header.length + nFrames * (marker.length + frameBytes))
          buf.put(header)
          var f = 0
          while (f < nFrames) {
            buf.put(marker)
            val luma = (16 + (id * 7 + f * 13) % 220).toByte
            var i = 0
            while (i < w * h) { buf.put(luma); i += 1 }
            while (i < frameBytes) { buf.put(128.toByte); i += 1 }
            f += 1
          }
          val y4m = buf.array()
          val meta = Y4mCodec.decodeMeta(id, y4m).get
          Y4mCodec.sampleLuma(y4m, stride).get.map {
            case (idx, lumaSum, nPx) =>
              val expected = 16 + (id * 7 + idx * 13) % 220
              (id, meta.width, meta.height, meta.nFrames, idx,
                lumaSum / nPx, lumaSum == expected * nPx)
          }
        }
      }.toDF("doc_id", "w", "h", "n_frames", "frame_idx", "luma",
        "plane_ok")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Frame sampling as row explosion: one output row per sampled "frame"
    * (every `stride`-th token of the payload stands in for a decoded
    * video frame), carrying the original frame index, a content
    * signature, and a stub thumbnail width (where a resize kernel would
    * run). This is the fan-out shape a real frame sampler produces —
    * per-row generation, no shuffle, output partitioning inherited from
    * the scan.
    */
  def sampleFrames(documents: DataFrame, stride: Int = 4): DataFrame = {
    val toks = split(col("text"), " ")
    val frames = filter(
      transform(sequence(lit(1), size(toks)),
        i => struct((i - 1).cast("long").as("idx"),
          element_at(toks, i).as("frame"))),
      s => s.getField("idx") % stride === 0)
    documents.select(col("doc_id"), explode(frames).as("fr"))
      .select(col("doc_id"),
        col("fr.idx").as("frame_idx"),
        md5(col("fr.frame").cast("binary")).as("frame_sig"),
        (lit(1) + length(col("fr.frame")) % 16).cast("int").as("thumb_w"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Pure-Catalyst twin of the stub decode + frame sampling — the
    * oracle-checkable surface. n_frames samples every `stride`-th token
    * ("frame") of the payload; head_sig fingerprints the first 64 bytes.
    */
  def mediaMeta(documents: DataFrame, stride: Int = 4): DataFrame = {
    // BYTE length (matches StubCodec's bytes.length on non-ASCII text),
    // not character length
    val n = length(col("text").cast("binary")).cast("long")
    val toks = split(col("text"), " ")
    documents.select(
        col("doc_id"),
        n.as("n_bytes"),
        (lit(1) + n % 64).cast("int").as("width"),
        (lit(1) + (n / 64).cast("long") % 64).cast("int").as("height"),
        lit(3).as("channels"),
        size(filter(sequence(lit(1), size(toks)),
          i => (i - 1) % stride === 0)).as("n_frames"),
        md5(substring(col("text"), 1, 64).cast("binary")).as("head_sig"))
      .orderBy(col("doc_id"))
  }

  /** dHash geometry: a 9×8 grayscale thumbnail yields 8 horizontal
    * gradient comparisons per row × 8 rows = a 64-bit fingerprint.
    * Public: the oracle twin derives its pixel/bit layout from these. */
  val HashW = 9
  val HashH = 8

  /** Pixels per thumbnail (the downsample denominator on both engines). */
  val PhashPixels: Int = HashW * HashH

  /** 64-bit difference-hash (dHash — the public perceptual-hash family:
    * downscale, then hash the GRADIENT signs, so the fingerprint survives
    * re-encoding/brightness shifts that byte hashing never would) image
    * fingerprints, computed through the REAL `javax.imageio` codec:
    * each document's payload is rendered as a [[HashW]]×[[HashH]]
    * grayscale PNG (pixel k samples the text byte at the downsampled
    * position `k·len/72` — the resize step of a real pHash pipeline,
    * applied to the text-as-image payload the way [[imageRoundTrip]]
    * synthesizes its fixtures), PNG-encoded, DECODED back via ImageIO,
    * and hashed from the DECODED raster — the hash provably runs on
    * codec output (PNG grayscale is lossless, which is what lets an SQL
    * oracle replay the byte math bit-for-bit while the engine exercises
    * the real decode path). Bit y·8+x is set iff pixel(x+1,y) >
    * pixel(x,y); the 64 bits ship as 4×16-bit chunk columns c0..c3 —
    * [[graft.operators.Dedup.pairsFromSimhash]]'s fingerprint layout, so
    * image near-dup reuses the exact chunk-blocked Hamming band join
    * (equi-join on a shared 16-bit chunk, never all-pairs) that text
    * SimHash dedup runs at scale.
    *
    * Corpus contract: single-byte (ASCII) text, non-empty — the same
    * char-positional parity contract as [[mediaEmbedding]]/langIdNgram.
    */
  def phashFingerprints(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (hw, hh) = (HashW, HashH)
    Width.spread(documents.select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // see ImageIoCodec note
        it.map { case (id, text) =>
          val t = if (text == null) "" else text
          val n = hw * hh
          val img = new java.awt.image.BufferedImage(hw, hh,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val r = img.getRaster
          var k = 0
          while (k < n) {
            // downsample across the WHOLE payload (integer floor, exact
            // in the oracle): position k*len/72 of the text
            // Long intermediate: k * length overflows Int past ~30 M chars
            val v = if (t.isEmpty) 0
              else t.charAt(math.min(k.toLong * t.length / n,
                t.length - 1L).toInt) & 0xff
            r.setSample(k % hw, k / hw, 0, v)
            k += 1
          }
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", buf)
          // REAL decode: the hash reads the codec's raster, not our bytes
          val dec = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(buf.toByteArray))
          val dr = dec.getRaster
          var bits = 0L
          var y = 0
          while (y < hh) {
            var x = 0
            while (x < hw - 1) {
              if (dr.getSample(x + 1, y, 0) > dr.getSample(x, y, 0))
                bits |= 1L << (y * (hw - 1) + x)
              x += 1
            }
            y += 1
          }
          (id, bits & 0xffffL, (bits >>> 16) & 0xffffL,
            (bits >>> 32) & 0xffffL, (bits >>> 48) & 0xffffL)
        }
      }.toDF("doc_id", "c0", "c1", "c2", "c3")
  }

  /** Image near-dup pairs over [[phashFingerprints]] — dedup's missing
    * modality leg: the SAME chunk-blocked Hamming candidate join as text
    * SimHash ([[graft.operators.Dedup.pairsFromSimhash]] verbatim —
    * the dedup family is generator-agnostic, this plugs a perceptual
    * image fingerprint into it). Emits (doc_a, doc_b, hamming) for pairs
    * within `maxHamming` of 64 bits that share at least one 16-bit chunk.
    */
  def phashPairs(documents: DataFrame, maxHamming: Int = 12): DataFrame =
    Dedup.pairsFromSimhash(phashFingerprints(documents), maxHamming)

  /** The BOUNDED image near-dup product — `simhash_partners`' image
    * twin through the same generator-agnostic core
    * ([[graft.operators.Dedup.partnersFromFingerprints]]): per image,
    * its `k` nearest dHash partners, with hot band buckets capped at
    * `maxBucket` members before the candidate self-join. Pair
    * ENUMERATION ([[phashPairs]]) is the bounded-scale audit surface;
    * this is the relation a 100 TB image-curation pipeline serves (both
    * axes bounded — see the simhashPartners scaladoc for the measured
    * x100 arithmetic).
    */
  def phashPartners(documents: DataFrame, maxHamming: Int = 12,
      k: Int = 5, maxBucket: Int = 64): DataFrame =
    Dedup.partnersFromFingerprints(phashFingerprints(documents),
      maxHamming, k, maxBucket)

  /** Embedding geometry for [[imageEmbeddings]]: an 8×8 grayscale
    * thumbnail (same positional downsample as [[phashFingerprints]]'
    * 9×8), split into 2×2 quadrants of 4×4 pixels. Public so the oracle
    * derives its pixel layout from the same constants. */
  val EmbedImgSide = 8

  /** REAL image embeddings — the classic pre-CNN patch descriptor
    * (quadrant luminance + quadrant gradient energy, the GIST/HOG
    * family's cheapest member), computed from a DECODED raster through
    * the real `javax.imageio` codec: render the payload as an
    * [[EmbedImgSide]]² grayscale PNG (pixel k samples the text byte at
    * the downsampled position `k·len/64` — the same resize step as
    * [[phashFingerprints]]), PNG-encode, DECODE back via ImageIO, and
    * compute all 8 features from the CODEC's raster. PNG grayscale is
    * lossless, so an SQL oracle can replay the byte math bit-for-bit
    * while the engine provably runs the decode path — the `phash_pairs`
    * discipline, graduated from fingerprints to a feature vector.
    *
    * Features (all exact integer sums, so the 8-dim cosine's IEEE
    * operands are reproducible cross-engine): per quadrant q (2×2 grid
    * of 4×4 pixel patches), `f_q` = Σ luminance and `f_{4+q}` =
    * Σ |horizontal gradient| within the quadrant (x pairs that stay
    * inside the patch — 12 pairs per quadrant). Emitted as
    * `(vec_id, embedding)` — directly composable into every
    * [[Similarity]] serving shape ([[imageAnnPartners]] is the bounded
    * k-NN join over exactly this relation).
    *
    * Corpus contract: single-byte (ASCII) text, non-empty — the
    * [[phashFingerprints]] parity contract.
    */
  def imageEmbeddings(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val side = EmbedImgSide
    Width.spread(documents.select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // see ImageIoCodec note
        it.map { case (id, text) =>
          val t = if (text == null) "" else text
          val n = side * side
          val img = new java.awt.image.BufferedImage(side, side,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val r = img.getRaster
          var k = 0
          while (k < n) {
            val v = if (t.isEmpty) 0
              else t.charAt(math.min(k.toLong * t.length / n,
                t.length - 1L).toInt) & 0xff
            r.setSample(k % side, k / side, 0, v)
            k += 1
          }
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", buf)
          // REAL decode: every feature reads the codec's raster
          val dr = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(buf.toByteArray)).getRaster
          val f = new Array[Double](8)
          var y = 0
          while (y < side) {
            var x = 0
            while (x < side) {
              val q = (y / 4) * 2 + (x / 4)
              val p = dr.getSample(x, y, 0)
              f(q) += p
              // horizontal gradient pairs that stay inside the 4×4 patch
              if (x % 4 < 3)
                f(4 + q) += math.abs(dr.getSample(x + 1, y, 0) - p)
              x += 1
            }
            y += 1
          }
          (id, f)
        }
      }.toDF("vec_id", "embedding")
  }

  /** The multimodal retrieval loop with ZERO stub in the path: real
    * codec decode → patch-descriptor embedding ([[imageEmbeddings]]) →
    * the bounded embedding k-NN JOIN
    * ([[graft.operators.Similarity.annPartners]]: IVF-cell blocked,
    * index side capped per cell, both cut axes map-side
    * WindowGroupLimit). Image curation's "find each image's k nearest"
    * served by the same scale-certified core as the text and raw-vector
    * modalities.
    */
  def imageAnnPartners(documents: DataFrame, k: Int = 5,
      numCentroids: Int = 16, maxCell: Int = 256): DataFrame =
    Similarity.annPartners(decodedOnce(imageEmbeddings(documents)),
      k, numCentroids, maxCell)

  /** Decode-once discipline for the real-codec ANN legs: annPartners
    * consumes its embedding input three times (centroid sample, query
    * side, capped index side), and for these legs every consumption
    * re-runs the per-doc codec kernel — the dominant cost (measured:
    * audio_ann_partners spent ~2/3 of its x10 wall-clock re-decoding).
    * One scoped DISK_ONLY persist makes the decode run once; results
    * are unchanged.
    */
  private def decodedOnce(embeddings: DataFrame): DataFrame =
    CacheScope.persist(embeddings,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** Video-fingerprint geometry: [[videoPhashFingerprints]] synthesizes
    * `VideoFpFrames` constant-luma C420 frames per doc (one more frame
    * than fingerprint bits — 64 temporal gradients need 65 samples);
    * frame f's luma is `16 + (doc_id·7 + f·13) mod 220` — pure integer
    * arithmetic, so the oracle can replay every bit from doc_id alone
    * (the [[videoRoundTrip]] fixture discipline). */
  val VideoFpFrames = 65
  val VideoFpW = 4
  val VideoFpH = 2

  /** Per-VIDEO temporal dHash through the REAL Y4M demux — the video leg
    * of the perceptual-fingerprint family: synthesize a deterministic
    * C420 stream per doc_id ([[videoRoundTrip]]'s fixture recipe, 65
    * frames), demux it with [[Y4mCodec]] (header parse + frame walk +
    * luma-plane read — the real seam), take each frame's mean luma
    * (constant planes make it integer-exact), and hash the TEMPORAL
    * gradient signs: bit f is set iff mean_luma(f+1) > mean_luma(f) —
    * dHash's "gradient survives re-encoding" idea applied along time
    * instead of space, the standard shot-level video fingerprint shape.
    * The 64 bits ship as the family's 4×16-bit chunk layout (c0..c3), so
    * video near-dup plugs into the exact chunk-blocked machinery text
    * SimHash and image dHash already ride. A broken header writer,
    * parser, frame walk, or luma read flips fingerprint bits and fails
    * the hash gate — the oracle recomputes them from doc_id.
    */
  def videoPhashFingerprints(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val lumas = videoMeanLumas(id)
          var bits = 0L
          var b = 0
          while (b < lumas.length - 1) {
            if (lumas(b + 1) > lumas(b)) bits |= 1L << b
            b += 1
          }
          (id, bits & 0xffffL, (bits >>> 16) & 0xffffL,
            (bits >>> 32) & 0xffffL, (bits >>> 48) & 0xffffL)
        }
      }.toDF("doc_id", "c0", "c1", "c2", "c3")
  }

  /** The Y4M synth→demux→mean-luma kernel shared by the video
    * fingerprint and video embedding legs: every consumer's features
    * read the PARSER's frame offsets and luma sums (constant planes
    * make the means integer-exact, which is what keeps the
    * doc_id-arithmetic oracles exact).
    */
  private def videoMeanLumas(id: Long): Array[Long] = {
    val (w, h, nFrames) = (VideoFpW, VideoFpH, VideoFpFrames)
    val frameBytes = w * h * 3 / 2
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val marker = "FRAME\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val buf = java.nio.ByteBuffer.allocate(
      header.length + nFrames * (marker.length + frameBytes))
    buf.put(header)
    var f = 0
    while (f < nFrames) {
      buf.put(marker)
      val luma = (16 + (id * 7 + f * 13) % 220).toByte
      var i = 0
      while (i < w * h) { buf.put(luma); i += 1 }
      while (i < frameBytes) { buf.put(128.toByte); i += 1 }
      f += 1
    }
    // REAL demux, stride 1: read the parser's offsets, never the buffer
    Y4mCodec.sampleLuma(buf.array(), 1).get
      .map { case (_, s, n) => s / n }.toArray
  }

  /** The BOUNDED video near-dup product — `simhash_partners`/
    * `phash_partners`' video twin through the same generator-agnostic
    * capped core ([[graft.operators.Dedup.partnersFromFingerprints]]):
    * per video, its `k` nearest temporal-dHash partners over
    * hot-bucket-capped chunk bands. Closes the partners relation across
    * every fingerprint modality the engine carries.
    */
  def videoPhashPartners(documents: DataFrame, maxHamming: Int = 12,
      k: Int = 5, maxBucket: Int = 64): DataFrame =
    Dedup.partnersFromFingerprints(videoPhashFingerprints(documents),
      maxHamming, k, maxBucket)

  /** Audio-fingerprint geometry: 65 constant-amplitude windows of
    * [[AudioFpWinSamples]] 16-bit mono PCM samples each (64 temporal
    * gradients need 65 windows — [[VideoFpFrames]]' arithmetic); window
    * w's sample value is `(doc_id·11 + w·17) mod 199` — pure integer
    * arithmetic, so the oracle replays every bit from doc_id alone. */
  val AudioFpWindows = 65
  val AudioFpWinSamples = 4

  /** Per-AUDIO temporal fingerprint through the REAL WAV codec — the
    * audio leg of the perceptual-fingerprint family (Haitsma–Kalker's
    * "energy-band gradient signs survive re-encoding" shape, applied to
    * window energies along time): synthesize a deterministic 16-bit mono
    * PCM clip per doc_id ([[audioRoundTrip]]'s fixture discipline),
    * ENCODE it into a WAV container with `javax.sound.sampled`, decode
    * it back through `AudioSystem.getAudioInputStream` (RIFF header
    * parse + stream decode — the real seam), read the DECODED
    * little-endian samples, and hash the gradient signs of consecutive
    * window sums: bit w is set iff sum(w+1) > sum(w). PCM-in-WAV is
    * lossless, so the oracle can replay the byte math bit-for-bit while
    * the engine exercises the real encode→decode path — a broken header
    * writer, parser, or sample decode flips bits and fails the hash
    * gate. The 64 bits ship as the family's 4×16-bit chunk layout
    * (c0..c3), so audio near-dup plugs into the same chunk-blocked
    * machinery as text SimHash, image dHash, and video temporal dHash.
    */
  def audioPhashFingerprints(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val sums = audioWindowSums(id)
          var bits = 0L
          var w = 0
          while (w < sums.length - 1) {
            if (sums(w + 1) > sums(w)) bits |= 1L << w
            w += 1
          }
          (id, bits & 0xffffL, (bits >>> 16) & 0xffffL,
            (bits >>> 32) & 0xffffL, (bits >>> 48) & 0xffffL)
        }
      }.toDF("doc_id", "c0", "c1", "c2", "c3")
  }

  /** The WAV synth→encode→RIFF-parse→stream-decode→window-sum kernel
    * shared by the audio fingerprint and audio embedding legs: every
    * consumer's features read the CODEC's decoded samples (PCM-in-WAV
    * is lossless, which is what keeps the doc_id-arithmetic oracles
    * exact).
    */
  private def audioWindowSums(id: Long): Array[Long] = {
    val (nWin, winLen) = (AudioFpWindows, AudioFpWinSamples)
    val n = nWin * winLen
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = ((id * 11 + (i / winLen) * 17) % 199).toShort
      pcm(2 * i) = (s & 0xff).toByte          // little-endian PCM
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
      true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    // REAL decode: every consumer reads the codec's output samples,
    // never our write buffer
    val back = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(buf.toByteArray))
    val dec = try back.readAllBytes() finally back.close()
    val sums = new Array[Long](nWin)
    var j = 0
    while (j < n) {
      val lo = dec(2 * j) & 0xff
      val hi = dec(2 * j + 1).toInt
      sums(j / winLen) += (hi << 8) | lo
      j += 1
    }
    sums
  }

  /** The BOUNDED audio near-dup product — the last modality leg of the
    * partners family, through the same generator-agnostic capped core
    * ([[graft.operators.Dedup.partnersFromFingerprints]]): per clip, its
    * `k` nearest fingerprint partners over hot-bucket-capped chunk
    * bands. Text, image, video, audio, and embedding
    * ([[graft.operators.Similarity.annPartners]]) now all serve the
    * same bounded "this item's nearest duplicates" relation.
    */
  def audioPhashPartners(documents: DataFrame, maxHamming: Int = 12,
      k: Int = 5, maxBucket: Int = 64): DataFrame =
    Dedup.partnersFromFingerprints(audioPhashFingerprints(documents),
      maxHamming, k, maxBucket)

  /** REAL audio embeddings — the energy-profile descriptor over the
    * DECODED samples (the Haitsma–Kalker energy bands, kept as
    * magnitudes instead of reduced to gradient signs): the 64 leading
    * window sums from the shared WAV encode→decode kernel
    * ([[audioWindowSums]]) grouped into 8 per-group energy features.
    * All-integer sums, so the 8-dim cosine's IEEE operands are
    * cross-engine reproducible and the oracle replays every value from
    * doc_id arithmetic alone.
    */
  def audioEmbeddings(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val sums = audioWindowSums(id)
          // the 64 leading windows (= AudioFpWindows − 1, the same
          // usable count the fingerprint gradients consume), 8 per group
          val n = AudioFpWindows - 1
          val f = new Array[Double](8)
          var w = 0
          while (w < n) { f(w * 8 / n) += sums(w); w += 1 }
          (id, f)
        }
      }.toDF("vec_id", "embedding")
  }

  /** REAL video embeddings — the temporal luma profile over the DEMUXED
    * frames: 64 leading mean-luma values from the shared Y4M kernel
    * ([[videoMeanLumas]]) grouped into 8 per-group sums. Same integer
    * contract as [[audioEmbeddings]].
    */
  def videoEmbeddings(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val lumas = videoMeanLumas(id)
          // the 64 leading frames (= VideoFpFrames − 1), 8 per group
          val n = VideoFpFrames - 1
          val f = new Array[Double](8)
          var b = 0
          while (b < n) { f(b * 8 / n) += lumas(b); b += 1 }
          (id, f)
        }
      }.toDF("vec_id", "embedding")
  }

  /** decode → embed → bounded k-NN join for the AUDIO modality — the
    * [[imageAnnPartners]] shape over [[audioEmbeddings]], through the
    * same capped [[graft.operators.Similarity.annPartners]] core. With
    * this and [[videoAnnPartners]], every modality the engine carries
    * (text fingerprints, images, audio, video, raw embeddings) serves
    * BOTH bounded near-dup products: Hamming partners over fingerprints
    * and cosine partners over real-codec feature vectors.
    */
  def audioAnnPartners(documents: DataFrame, k: Int = 5,
      numCentroids: Int = 16, maxCell: Int = 256): DataFrame =
    Similarity.annPartners(decodedOnce(audioEmbeddings(documents)),
      k, numCentroids, maxCell)

  /** decode → embed → bounded k-NN join for the VIDEO modality (see
    * [[audioAnnPartners]]). */
  def videoAnnPartners(documents: DataFrame, k: Int = 5,
      numCentroids: Int = 16, maxCell: Int = 256): DataFrame =
    Similarity.annPartners(decodedOnce(videoEmbeddings(documents)),
      k, numCentroids, maxCell)
}
