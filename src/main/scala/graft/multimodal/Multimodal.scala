package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageInputStream
import javax.sound.sampled.{AudioFormat, AudioSystem}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Multimodal column plumbing (SURVEY.md §2.12): image/audio/video as
  * opaque BINARY columns with typed metadata, processed per-partition
  * in batch shape — the Scala analogue of a Pandas-UDF `mapInPandas`
  * stage (typed `Dataset.mapPartitions`: one iterator per partition,
  * so per-batch setup like codec init happens once per partition, not
  * per row).
  *
  * ALL THREE modality decodes are REAL (pure JDK, no external
  * codec): payloads that carry a decodable image (BMP/PNG/anything
  * the `javax.imageio` registry reads) go through
  * [[Multimodal.decodeImage]] — actual pixel decode, 16-bin luminance
  * histogram; WAV payloads through [[Multimodal.decodeAudio]]
  * (`javax.sound.sampled` PCM frame decode, 16-bin sample histogram);
  * and multi-frame animated GIFs through [[Multimodal.decodeVideo]]
  * (frame-by-frame `javax.imageio` GIF decode with keyframe-style
  * stride sampling, 16-bin luminance histogram over the SAMPLED
  * frames' pixels — the closest thing to a video container a
  * codec-less JDK can genuinely decode, and the real shape of the
  * operation: seek, decode every Nth frame, feature-extract).
  * [[Multimodal.decodeStub]] (deterministic 16-bin byte histogram)
  * remains only as the fallback for undecodable payloads of any
  * kind — the production posture for a dirty corpus. The routing is
  * per-row inside the same partition-batched stage, so the Spark-side
  * plumbing — schema, batch shape, fallback — is exactly what a
  * production pipeline keeps while swapping codecs.
  */
object Multimodal {

  /** Opaque payload + typed metadata — the layout a 100 TB multimodal
    * lakehouse table would use (payload pruned unless selected). */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                           histogram: Array[Long], frames_sampled: Int,
                           frames_total: Int, checksum: Long)

  /** FALLBACK for undecodable payloads of any kind (all three
    * modality decodes are real — [[decodeImage]], [[decodeAudio]],
    * [[decodeVideo]]; what lands here is the dirty-corpus residue:
    * wrong magic, truncated containers, hostile headers).
    * Deterministic: 16-bin histogram over payload bytes. */
  def decodeStub(payload: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](16)
    var i = 0
    while (i < payload.length) { hist((payload(i) & 0xff) >> 4) += 1L; i += 1 }
    hist
  }

  /** Cheap magic-byte gate so the per-row decode attempt touches only
    * payloads that can possibly be images (BMP "BM", PNG signature) —
    * at 100 TB you do not hand every text-shaped payload to a codec
    * registry scan just to learn it is not an image. */
  def looksLikeImage(p: Array[Byte]): Boolean =
    (p.length > 54 && p(0) == 'B'.toByte && p(1) == 'M'.toByte) ||
    (p.length > 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P'.toByte &&
      p(2) == 'N'.toByte && p(3) == 'G'.toByte)

  /** Declared header dimensions of a magic-gated payload (BMP:
    * little-endian ints at offsets 18/22; PNG: big-endian IHDR at
    * 16/20), or None if the header is malformed. */
  private def declaredDims(p: Array[Byte]): Option[(Int, Int)] =
    try
      if (p(0) == 'B'.toByte) {
        val b = java.nio.ByteBuffer.wrap(p, 18, 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        // negative BMP height = top-down row order, |h| rows
        Some((b.getInt, math.abs(b.getInt)))
      } else {
        val b = java.nio.ByteBuffer.wrap(p, 16, 8)
        Some((b.getInt, b.getInt))
      }
    catch { case _: RuntimeException => None }

  private val MaxPixels = 1 << 24 // 16 MPix — far above any sane test payload

  /** Luminance (r+g+b)/3 of a packed 0xRRGGBB pixel, 0..255. */
  private def luminance(rgb: Int): Int =
    (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3

  /** Count every pixel of `img` into the 16-bin luminance histogram. */
  private def addLuminance(img: BufferedImage, hist: Array[Long]): Unit = {
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { hist(luminance(img.getRGB(x, y)) >> 4) += 1L; x += 1 }
      y += 1
    }
  }

  /** The one still-image (BMP/PNG — whatever the JDK registry reads)
    * decode: `f` of the decoded image, or None when the payload fails
    * a gate or the codec.
    *   - Magic bytes ([[looksLikeImage]]) before any registry scan.
    *   - Declared dimensions at most [[MaxPixels]], read from the
    *     header in eight byte reads: a codec allocates buffers from the
    *     DECLARED dims before reading a single pixel, so a corrupt
    *     header claiming a 757-megapixel image would OOM the task — and
    *     `OutOfMemoryError` is not `NonFatal`.
    *   - ANY codec failure is None, not just IOException: the JDK
    *     readers throw RuntimeExceptions on malformed headers.
    *   - Reads through an explicit MemoryCacheImageInputStream: the
    *     default ImageIO path spools every InputStream to a disk-backed
    *     temp file, a per-row create/write/delete that has no business
    *     in a hot path whose source is already an in-memory array.
    *   - Stream ownership: `ImageIO.read` over an ImageInputStream closes
    *     the stream itself on success AND on reader throw, but NOT on the
    *     null return (no registered reader claims the payload), so the
    *     walker closes it on that branch only — a finally-close would
    *     double-close the successful path (MemoryCacheImageInputStream
    *     throws IOException("closed")) and turn every decode into None. */
  private def stillImage[A](payload: Array[Byte])(f: BufferedImage => A): Option[A] =
    if (!looksLikeImage(payload) || !declaredDims(payload).exists { case (w, h) =>
          w >= 1 && h >= 1 && w.toLong * h <= MaxPixels }) None
    else
      try {
        val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(payload))
        val img = ImageIO.read(iis)
        if (img == null) { iis.close(); None } else Some(f(img))
      } catch { case NonFatal(_) => None }

  /** REAL image decode — pure JDK (`javax.imageio`, no external
    * codec): the 16-bin luminance ((r+g+b)/3) histogram of the DECODED
    * PIXELS, so it sums to the pixel count, not the byte count — which
    * is how a caller (and MultimodalSpec) can tell the real decode ran
    * and not the byte-histogram stub. None for anything [[stillImage]]
    * rejects; the caller falls back to the stub, the production shape
    * for a dirty corpus where a "jpg" column is 0.1% garbage. */
  def decodeImage(payload: Array[Byte]): Option[Array[Long]] =
    stillImage(payload) { img =>
      val hist = new Array[Long](16)
      addLuminance(img, hist)
      hist
    }

  /** Deterministic 24-bit uncompressed BMP encoder (pure JDK, no
    * codec): `rgb` is row-major top-down 0xRRGGBB. Exists so tests
    * and demo pipelines can synthesize REAL decodable image payloads
    * from document bytes — the encode half of the decode path's
    * round-trip proof. */
  def encodeBmp(width: Int, height: Int, rgb: Array[Int]): Array[Byte] = {
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    require(rgb.length == width * height,
      s"rgb length ${rgb.length} != ${width * height}")
    val rowBytes = width * 3
    val pad = (4 - rowBytes % 4) % 4
    val dataSize = (rowBytes + pad) * height
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize).putInt(0).putInt(54)
    buf.putInt(40).putInt(width).putInt(height)
    buf.putShort(1).putShort(24)
    buf.putInt(0).putInt(dataSize)
    buf.putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = height - 1 // BMP rows are stored bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val c = rgb(y * width + x)
        buf.put((c & 0xff).toByte)
          .put(((c >> 8) & 0xff).toByte)
          .put(((c >> 16) & 0xff).toByte)
        x += 1
      }
      var p = 0
      while (p < pad) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Cheap magic-byte gate for WAV payloads (RIFF container, WAVE
    * form type) — same role as [[looksLikeImage]]: only plausibly-WAV
    * payloads reach the audio system's provider scan. */
  def looksLikeWav(p: Array[Byte]): Boolean =
    p.length > 44 &&
      p(0) == 'R'.toByte && p(1) == 'I'.toByte &&
      p(2) == 'F'.toByte && p(3) == 'F'.toByte &&
      p(8) == 'W'.toByte && p(9) == 'A'.toByte &&
      p(10) == 'V'.toByte && p(11) == 'E'.toByte

  /** Walks the RIFF chunk list to the `data` chunk and returns its
    * declared size, or None when the chunk structure is malformed —
    * a fixed offset-40 read would misparse standards-valid WAVs with
    * an 18-byte fmt chunk or a LIST chunk before the data. Bounded to
    * 16 chunks so a hostile chunk list cannot loop. */
  private def riffDataSize(p: Array[Byte]): Option[Int] = {
    // LONG cursor: a hostile declared size near Int.MaxValue would
    // wrap an int cursor negative and index the array out of bounds
    var pos = 12L
    var hops = 0
    while (pos + 8 <= p.length && hops < 16) {
      val i = pos.toInt
      val id = new String(p, i, 4, "US-ASCII")
      val size = java.nio.ByteBuffer.wrap(p, i + 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (size < 0) return None
      // the data chunk's declared size must fit inside the actual
      // payload FROM ITS OWN OFFSET (not a fixed 44-byte header
      // assumption — an 18-byte fmt chunk shifts it)
      if (id == "data")
        return if (pos + 8L + size <= p.length) Some(size) else None
      // RIFF chunks are word-aligned: odd sizes carry one pad byte
      pos += 8L + size + (size & 1)
      hops += 1
    }
    None
  }

  /** The one WAV decode: streams the PCM samples of a WAV payload
    * through `start(n)`, where n is the declared sample count, and
    * returns n — or None when the payload fails a gate or the codec.
    *   - Magic bytes ([[looksLikeWav]]) before any provider scan.
    *   - [[riffDataSize]]: a bounded walk of the real chunk structure
    *     to a data chunk whose declared size fits the payload, BEFORE
    *     any provider touches the stream — the audio analogue of the
    *     image dimension-bomb gate. n comes from that size, never from
    *     buffering.
    *   - PCM layout: only 8-bit unsigned and 16-bit signed
    *     little-endian, the two layouts the sample conversion below
    *     knows; anything else (a 24-bit stream, a PCM_UNSIGNED 16-bit
    *     one) would be silently misread, so it is None.
    *   - ANY codec failure is None; the stream is closed in `finally`.
    * Samples are handed over centered on the signed 16-bit scale (an
    * 8-bit sample is recentered and shifted left by 8), one
    * `Long => Unit` call each — `Function1` is specialized for it, so
    * no sample is boxed. The read is stream-bounded over the in-memory
    * array, so a hostile header can never cause an allocation beyond
    * the real payload. */
  private def pcmSamples(payload: Array[Byte])(start: Long => Long => Unit): Option[Long] =
    if (!looksLikeWav(payload)) None
    else riffDataSize(payload).flatMap { dataBytes =>
      try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
        try {
          val f = ais.getFormat
          val width = f.getSampleSizeInBits / 8
          val unsigned8 = width == 1 && f.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED
          val signed16 = width == 2 && f.getEncoding == AudioFormat.Encoding.PCM_SIGNED
          if (!unsigned8 && !signed16) None
          else {
            val n = (dataBytes / width).toLong
            val visit = start(n)
            val buf = new Array[Byte](4096 * width)
            var got = ais.read(buf)
            while (got > 0) {
              var i = 0
              while (i + width <= got) {
                visit(
                  if (unsigned8) ((buf(i) & 0xff) - 128L) << 8
                  else ((buf(i) & 0xff) | (buf(i + 1) << 8)).toLong)
                i += width
              }
              got = ais.read(buf)
            }
            Some(n)
          }
        } finally ais.close()
      } catch { case NonFatal(_) => None }
    }

  /** REAL audio decode — pure JDK (`javax.sound.sampled`, no external
    * codec): the 16-bin histogram of the decoded PCM SAMPLES on the
    * unsigned 8-bit scale (8-bit: the sample value; 16-bit: the high
    * byte shifted to unsigned), so it counts samples, not payload
    * bytes — which is how a caller (and MultimodalSpec / the
    * q_media_audio oracle) can tell the real decode ran and not the
    * byte-histogram stub (the stub would also count the RIFF header).
    * None for anything [[pcmSamples]] rejects; the caller falls back
    * to the stub, the dirty-corpus production shape. */
  def decodeAudio(payload: Array[Byte]): Option[Array[Long]] = {
    val hist = new Array[Long](16)
    pcmSamples(payload)(_ => v => hist((((v >> 8) + 128) >> 4).toInt) += 1L)
      .map(_ => hist)
  }

  /** Deterministic 8-bit unsigned PCM mono WAV encoder (pure JDK, no
    * codec): each input byte becomes one sample, value = the byte
    * read unsigned. Exists so tests and demo pipelines can synthesize
    * REAL decodable audio payloads from document bytes — the encode
    * half of [[decodeAudio]]'s round-trip proof, exactly the
    * [[encodeBmp]] pattern for images. */
  def encodeWav(samples: Array[Byte], sampleRate: Int = 16000): Array[Byte] = {
    require(samples.nonEmpty, "empty sample array")
    require(sampleRate >= 1, s"sampleRate must be >= 1, got $sampleRate")
    val buf = java.nio.ByteBuffer.allocate(44 + samples.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1)                    // PCM
    buf.putShort(1)                    // mono
    buf.putInt(sampleRate)
    buf.putInt(sampleRate)             // byte rate = rate × 1 × 1
    buf.putShort(1)                    // block align
    buf.putShort(8)                    // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(samples.length)
    buf.put(samples)
    buf.array()
  }

  /** Cheap magic-byte gate for GIF payloads ("GIF87a"/"GIF89a") —
    * same role as [[looksLikeImage]]/[[looksLikeWav]]: only
    * plausibly-GIF payloads reach the reader. 13 bytes = header +
    * logical screen descriptor, the minimum before any frame. */
  def looksLikeGif(p: Array[Byte]): Boolean =
    p.length > 13 &&
      p(0) == 'G'.toByte && p(1) == 'I'.toByte && p(2) == 'F'.toByte &&
      p(3) == '8'.toByte && (p(4) == '7'.toByte || p(4) == '9'.toByte) &&
      p(5) == 'a'.toByte

  /** Declared logical-screen dimensions of a magic-gated GIF
    * (little-endian uint16 at offsets 6/8). */
  private def declaredGifDims(p: Array[Byte]): (Int, Int) =
    (((p(7) & 0xff) << 8) | (p(6) & 0xff), ((p(9) & 0xff) << 8) | (p(8) & 0xff))

  private val MaxFrames = 4096 // bounds the frame-count scan on hostile payloads

  /** The one multi-frame GIF decode: hands every `stride`-th frame
    * (0, stride, 2·stride, …) to `visit` in order — keyframe-style
    * sampling, the reader seeks past unsampled frames — and returns
    * the container's frame count, or None when the payload fails a
    * gate or the codec (then `visit` may have seen a prefix of the
    * frames; callers discard what it built).
    *   - `stride ≥ 1` and magic bytes ([[looksLikeGif]]).
    *   - Declared logical-screen dimensions at most [[MaxPixels]], in
    *     four byte reads BEFORE the reader allocates a frame buffer.
    *   - 1 ≤ frame count ≤ [[MaxFrames]].
    *   - Per-frame dimensions at most [[MaxPixels]] on every sampled
    *     frame, before it decodes: a sub-frame's declared dims can
    *     exceed the logical screen on a hostile payload.
    *   - ANY codec failure is None.
    *   - Stream ownership: unlike `ImageIO.read`, the reader API never
    *     closes the input itself, so the reader is disposed and the
    *     stream closed in a plain `finally` on every branch. */
  private def gifFrames(payload: Array[Byte], stride: Int)(
      visit: BufferedImage => Unit): Option[Int] =
    if (stride < 1 || !looksLikeGif(payload)) None
    else {
      val (w, h) = declaredGifDims(payload)
      if (w < 1 || h < 1 || w.toLong * h > MaxPixels) None
      else
        try {
          val readers = ImageIO.getImageReadersByFormatName("gif")
          if (!readers.hasNext) None
          else {
            val reader = readers.next()
            val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(payload))
            try {
              // seekForwardOnly = false: frame sampling needs random
              // access across the image sequence
              reader.setInput(iis, false, true)
              val nf = reader.getNumImages(true)
              if (nf < 1 || nf > MaxFrames) None
              else {
                var i = 0
                while (i < nf && reader.getWidth(i).toLong * reader.getHeight(i) <= MaxPixels) {
                  visit(reader.read(i))
                  i += stride
                }
                if (i >= nf) Some(nf) else None
              }
            } finally {
              reader.dispose()
              iis.close()
            }
          }
        } catch { case NonFatal(_) => None }
    }

  /** REAL video decode — pure JDK (`javax.imageio`'s GIF reader, no
    * external codec): decodes every `stride`-th frame of a multi-frame
    * animated GIF and histograms the SAMPLED frames' pixel luminance
    * ((r+g+b)/3, 16 bins). Returns (histogram, total frames in the
    * container, frames sampled), or None for anything [[gifFrames]]
    * rejects; the caller falls back to the stub, the dirty-corpus
    * production shape. The histogram counts PIXELS of sampled frames,
    * not payload bytes, which is how a caller (and the q_media_video
    * oracle) can tell the real frame decode ran: a byte histogram
    * would count the GIF header, palette and LZW code stream. */
  def decodeVideo(payload: Array[Byte], stride: Int): Option[(Array[Long], Int, Int)] = {
    val hist = new Array[Long](16)
    var sampled = 0
    gifFrames(payload, stride) { img => addLuminance(img, hist); sampled += 1 }
      .map(nf => (hist, nf, sampled))
  }

  /** Deterministic multi-frame grayscale animated-GIF encoder (pure
    * JDK: `javax.imageio`'s GIF writer in sequence mode): each frame
    * is `width`×`height` 8-bit gray pixels, written through an
    * explicit 256-entry gray `IndexColorModel` so the GIF palette IS
    * the identity ramp and the pixel→palette→decode round trip is
    * LOSSLESS (gray luminance ≡ the input byte read unsigned). Exists
    * so tests and demo pipelines can synthesize REAL decodable
    * multi-frame payloads from document bytes — the encode half of
    * [[decodeVideo]]'s round-trip proof, exactly the [[encodeBmp]] /
    * [[encodeWav]] pattern for the third modality. */
  def encodeGifGray(width: Int, height: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    // GIF logical-screen/image dims are UNSIGNED 16-BIT fields; the
    // JDK writer fails opaquely past 65535, so reject loudly at the
    // source (round-13 ADVICE — callers gate or chunk before encode)
    require(width <= 65535 && height <= 65535,
      s"GIF dims are unsigned 16-bit, got ${width}x$height")
    require(frames.nonEmpty, "empty frame sequence")
    frames.foreach(f => require(f.length == width * height,
      s"frame length ${f.length} != ${width * height}"))
    val ramp = Array.tabulate[Byte](256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
    require(writers.hasNext, "JDK GIF writer missing from the ImageIO registry")
    val writer = writers.next()
    // interlace (GIF's "progressive mode") must be DISABLED: the JDK
    // writer's default interlaced output does not round-trip through
    // the JDK's own reader (rows come back permuted/dropped — measured
    // on JDK 17: a 16×4 frame decodes as [row0, row3, row1, zeros]),
    // and sequential row order is what the lossless-round-trip
    // contract of this encoder promises anyway
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (f <- frames) {
        val img = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        img.getRaster.setDataElements(0, 0, width, height, f)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Fold one decoded frame into the shared 8×8 average-hash cell
    * accumulators: pixel (x, y) of a w×h frame lands in cell
    * ((y·8)/h, (x·8)/w) — the exact box partition for dims ≥ 8, and a
    * clamped degenerate mapping below (tiny frames leave some cells
    * empty; [[finishAverageHash]] scores empty cells 0 on every
    * variant, so they can never flip between an asset and its
    * re-encode). Luminance = (r+g+b)/3, the [[decodeImage]] scale. */
  private def accumulateHashCells(img: BufferedImage,
                                  sum: Array[Long], cnt: Array[Long]): Unit = {
    val w = img.getWidth
    val h = img.getHeight
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val c = cy * 8 + x * 8 / w
        sum(c) += luminance(img.getRGB(x, y))
        cnt(c) += 1
        x += 1
      }
      y += 1
    }
  }

  /** Pack the accumulated 8×8 cells into the 64-bit average hash:
    * bit c = 1 iff cell c's mean luminance exceeds the GLOBAL mean
    * pixel luminance — compared as the exact integer cross product
    * sum_c·N > total·cnt_c (BigInt: a 4096-frame 16-MPix GIF
    * overflows the Long product), never a float division. Exactness
    * buys two algebraic INVARIANCES, not just robustness: a uniform
    * brightness shift +δ turns the comparison into
    * (sum_c+δ·cnt_c)·N > (total+δ·N)·cnt_c, which cancels back to
    * the original, and integer upscaling (pixel duplication) scales
    * both sides by the same factor — so the two perturbations a
    * re-encoded asset actually carries leave the signature
    * bit-identical, with no float-tie edge cases. (Upscale exactness
    * additionally needs the cell partition to align — dims multiples
    * of 8, where a duplicated pixel provably lands in its source's
    * cell; off-alignment dims shift a boundary row/column of pixels
    * between cells and the hash may move a few bits, which the
    * Hamming radius absorbs.) Empty cells (frames smaller than 8×8)
    * score 0 on every variant. */
  private def finishAverageHash(sum: Array[Long], cnt: Array[Long]): Long = {
    var total = 0L
    var n = 0L
    var c = 0
    while (c < 64) { total += sum(c); n += cnt(c); c += 1 }
    var sig = 0L
    c = 0
    while (c < 64) {
      if (cnt(c) > 0 && BigInt(sum(c)) * n > BigInt(total) * cnt(c))
        sig |= 1L << c
      c += 1
    }
    sig
  }

  /** PERCEPTUAL fingerprint (average hash) of a decodable media
    * payload — the near-dup content key exact-MD5 dedup cannot be:
    * a re-encoded (BMP → GIF), brightness-shifted, or
    * integer-upscaled copy of an asset keeps the same (or a
    * ≤-few-bit) 64-bit signature, because the hash ranks 8×8
    * box-averaged luminance cells against their own mean instead of
    * hashing bytes. Images (BMP/PNG) hash their full pixel grid;
    * multi-frame GIFs hash the TEMPORAL AVERAGE of every `stride`-th
    * frame's cells (the keyframe-sampling shape of [[decodeVideo]]).
    * Returns None for undecodable payloads — the q_media_dedup
    * pipeline falls back to exact-digest identity for those, never a
    * fake signature.
    *
    * Pairing at corpus scale: feed the signatures to
    * [[graft.Graft.nearDupPairsHamming]] (16-bit band buckets +
    * blocked self-join + exact bit_count verify — the SimHash
    * machinery, which this signature deliberately shares its width
    * with). Row-local; the signature is 8 bytes however large the
    * asset. */
  def perceptualHash(payload: Array[Byte], stride: Int = 1): Option[Long] = {
    val sum = new Array[Long](64)
    val cnt = new Array[Long](64)
    val decoded =
      if (looksLikeGif(payload)) gifFrames(payload, stride)(accumulateHashCells(_, sum, cnt))
      else stillImage(payload)(accumulateHashCells(_, sum, cnt))
    decoded.map(_ => finishAverageHash(sum, cnt))
  }

  /** Per-frame perceptual signature SEQUENCE of a decodable
    * multi-frame GIF: one 64-bit average hash PER FRAME, in frame
    * order, instead of [[perceptualHash]]'s single temporal-average
    * signature. The temporal average is order-invariant and
    * mass-weighted, so a TRIMMED clip moves the whole signature (the
    * near-dup is MISSED) and a REORDERED clip at sampling stride 1
    * leaves it bit-identical (the clips are indistinguishable) —
    * per-frame signatures carry the sequence, so a banded (frame-hash,
    * position-bucket) subsequence match catches both, the video face
    * of [[audioFingerprint]]'s time-framed bands. Each frame's hash has
    * the [[finishAverageHash]] exactness invariances (lossless
    * re-encode, uniform brightness shift, integer upscale →
    * bit-identical per frame). None for undecodable payloads (the
    * caller falls back to exact-digest identity). Row-local; the
    * signature is 8 bytes/frame however large the frames. */
  def videoFrameHashes(payload: Array[Byte]): Option[Array[Long]] =
    videoSignatures(payload).map(_._2)

  /** One-decode-pass combination of [[perceptualHash]] (stride 1) and
    * [[videoFrameHashes]]: (temporal-average hash, per-frame hash
    * sequence). The global 8×8 cell accumulators are EXACTLY the sum
    * of the per-frame ones (integer addition is associative), so the
    * first component is bit-identical to `perceptualHash(payload)` —
    * pinned in MultimodalSpec — while the payload is parsed and every
    * frame decoded ONCE instead of twice (measured: the q_media_videofp
    * signature build is codec-bound, and the fused pass halves it). */
  def videoSignatures(payload: Array[Byte]): Option[(Long, Array[Long])] = {
    val frameHashes = Array.newBuilder[Long]
    val gSum = new Array[Long](64)
    val gCnt = new Array[Long](64)
    gifFrames(payload, 1) { img =>
      val sum = new Array[Long](64)
      val cnt = new Array[Long](64)
      accumulateHashCells(img, sum, cnt)
      frameHashes += finishAverageHash(sum, cnt)
      var c = 0
      while (c < 64) { gSum(c) += sum(c); gCnt(c) += cnt(c); c += 1 }
    }.map(_ => (finishAverageHash(gSum, gCnt), frameHashes.result()))
  }

  /** PERCEPTUAL audio fingerprint, extending the [[perceptualHash]]
    * family to the WAV modality: a 64-bit spectral-energy-delta hash
    * in the chromaprint SHAPE — the decoded PCM stream is cut into 8
    * equal TIME FRAMES, each frame's signal is measured through 8
    * DIFFERENCE-LAG BANDS (band b's energy = Σ (x_t − x_{t−(b+1)})²
    * over the frame — a crude comb filterbank: small lags respond to
    * high-frequency content, large lags to low), and bit (b·8 + f)
    * is the SIGN of the temporal energy delta
    * E[f][b] > E[(f+1) mod 8][b]. A gain change scales every cell by
    * g² and a DC offset cancels in the differences, so the two
    * perturbations a re-mastered copy actually carries — volume
    * shift, container/sample-rate swap — leave the signature
    * bit-identical (exactly when the gain is arithmetic-exact;
    * integer rounding of a real gain shift moves a few bits, which
    * the Hamming radius absorbs — the [[perceptualHash]] upscale
    * stance); an 8-bit and a 16-bit copy of the same content match,
    * since [[pcmSamples]] puts both on one scale. MD5 catches neither.
    *
    * Streaming and allocation-bounded: samples fold into the 8×8 cell
    * accumulators through an 8-sample ring buffer — no sample array
    * is ever materialized, so a multi-GB WAV fingerprints in O(1)
    * memory; the frame partition uses the declared sample count.
    * Returns None for anything that is not a decodable 8/16-bit PCM
    * WAV with at least one sample — the caller falls back to
    * exact-digest identity ([[perceptualHash]]'s contract).
    *
    * Pairing at corpus scale: [[graft.Graft.nearDupPairsHamming]] —
    * the same 16-bit band machinery as SimHash text and perceptual
    * image signatures, which this hash deliberately shares its
    * 64-bit width with. */
  def audioFingerprint(payload: Array[Byte]): Option[Long] = {
    // energy[f][b]: time frame f × lag band b; BigInt-free — a square
    // (x_t − x_{t−k})² is at most 2³², so a Long overflows only past
    // 2³¹ samples in one frame, and a RIFF data size (an Int) holds
    // fewer than that
    val energy = Array.ofDim[Long](8, 8)
    val ring = new Array[Long](8) // last 8 samples
    var t = 0L
    pcmSamples(payload) { n => v =>
      val frame = math.min(7L, t * 8 / n).toInt
      var b = 0
      while (b < 8) {
        val lag = b + 1
        if (t >= lag) {
          val d = v - ring(((t - lag) % 8).toInt)
          energy(frame)(b) += d * d
        }
        b += 1
      }
      ring((t % 8).toInt) = v
      t += 1
    }.filter(_ >= 1).map { _ =>
      var sig = 0L
      var b = 0
      while (b < 8) {
        var fr = 0
        while (fr < 8) {
          if (energy(fr)(b) > energy((fr + 1) % 8)(b))
            sig |= 1L << (b * 8 + fr)
          fr += 1
        }
        b += 1
      }
      sig
    }
  }

  /** Frame sampling: treat the payload as fixed-size frames, keep every
    * `stride`-th — the shape of video keyframe extraction. */
  def sampleFrames(payload: Array[Byte], frameSize: Int, stride: Int): Seq[Array[Byte]] =
    payload.grouped(frameSize).zipWithIndex
      .collect { case (f, i) if i % stride == 0 => f }.toSeq

  /** Resize: downsample a histogram 16 → `bins` (the stand-in for
    * image resize: aggregate fixed input cells into output cells). */
  def resize(hist: Array[Long], bins: Int): Array[Long] = {
    val out = new Array[Long](bins)
    val ratio = hist.length / bins
    var i = 0
    while (i < hist.length) { out(i / ratio) += hist(i); i += 1 }
    out
  }

  /** The mapInPandas-analogue stage: per-partition batched feature
    * extraction over the opaque payload column. */
  def extractFeatures(media: Dataset[MediaRow], frameSize: Int = 64,
                      stride: Int = 4): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition (per-batch) setup happens here, once — in a real
      // pipeline this is codec/context initialization
      rows.map { r =>
        // frame COUNTS are pure arithmetic — materializing the actual
        // frame copies (sampleFrames) just to count them allocated
        // O(payload) per row on the hot path (review catch)
        val byteFramesTotal = (r.payload.length + frameSize - 1) / frameSize
        val byteFramesSampled = (byteFramesTotal + stride - 1) / stride
        // all three modalities decode for REAL (pixel-luminance /
        // PCM-sample / sampled-frame-luminance histograms via the
        // pure-JDK codecs); undecodable payloads fall back to the
        // byte-histogram stub with byte-frame accounting. For a real
        // video decode the frame counts are CONTAINER frames (total
        // in the GIF, every stride-th decoded), not byte frames.
        val (hist, sampled, total) = r.kind match {
          case "image" =>
            (decodeImage(r.payload).getOrElse(decodeStub(r.payload)),
              byteFramesSampled, byteFramesTotal)
          case "audio" =>
            (decodeAudio(r.payload).getOrElse(decodeStub(r.payload)),
              byteFramesSampled, byteFramesTotal)
          case "video" =>
            decodeVideo(r.payload, stride)
              .map { case (h, nf, ns) => (h, ns, nf) }
              .getOrElse((decodeStub(r.payload), byteFramesSampled, byteFramesTotal))
          case _ =>
            (decodeStub(r.payload), byteFramesSampled, byteFramesTotal)
        }
        MediaFeatures(r.media_id, r.kind, r.payload.length, hist,
                      sampled, total,
                      java.util.Arrays.hashCode(r.payload).toLong)
      }
    }
  }

  /** Demo source: wraps documents as fake media rows (text bytes as
    * payload) so the plumbing is drivable against the testdata. */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("media_id"), lit("text").as("kind"),
              col("text").cast("binary").as("payload"),
              lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"))
      .as[MediaRow]
  }
}
