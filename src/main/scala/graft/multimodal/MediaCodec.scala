package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

/** REAL image codec paths, JDK-only (`javax.imageio`) — no native or
  * third-party libraries. PNG/JPEG/BMP/GIF bytes decode for real here;
  * the deterministic fakes in [[MediaStubs]] remain only for the
  * modalities the JDK cannot decode (audio/video).
  *
  * Reference frame: the reference ships media as opaque Kafka record
  * values and leaves interpretation to the consumer; this layer is the
  * consumer-side decode a training-data pipeline needs.
  */
object MediaCodec {

  // ImageIO defaults to spilling every ImageInputStream through a temp
  // FILE on disk; for the in-memory byte arrays a pipeline decodes that
  // is pure overhead (a create/write/delete per record). Keep the cache
  // in memory — per-JVM, applies once per executor.
  ImageIO.setUseCache(false)

  /** Real header decode: (width, height, format) sniffed by the JDK's
    * registered ImageReaders WITHOUT decoding the full raster — the
    * reader parses the actual container header (PNG IHDR / JPEG SOF),
    * so truncated or fake bytes return None. */
  def imageMeta(bytes: Array[Byte]): Option[(Int, Int, String)] = {
    if (bytes == null || bytes.isEmpty) return None
    // createImageInputStream returns null when no SPI accepts the stream
    // (or the cache dir is unusable) — a null here must mean None, not an
    // NPE out of the finally
    val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    if (in == null) return None
    try {
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          Some((r.getWidth(0), r.getHeight(0), r.getFormatName.toLowerCase))
        } catch { case _: Exception => None }
        finally r.dispose()
      }
    } catch { case _: Exception => None }
    finally in.close()
  }

  /** Real full decode to block-averaged luminance features: the image
    * rasterizes through the JDK codec, then a `gridDim × gridDim` grid of
    * mean luma values (0..1) — the shape a vision-model preprocessing
    * stage produces. Returns None when no registered reader accepts the
    * bytes. */
  def decodeLumaGrid(bytes: Array[Byte], gridDim: Int): Option[Array[Float]] = {
    val img =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      val sums = new Array[Double](gridDim * gridDim)
      val counts = new Array[Long](gridDim * gridDim)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          val luma = (((rgb >> 16) & 0xff) * 299L + ((rgb >> 8) & 0xff) * 587L +
            (rgb & 0xff) * 114L) / 1000.0 / 255.0
          val cell = math.min(gridDim - 1, y * gridDim / h) * gridDim +
            math.min(gridDim - 1, x * gridDim / w)
          sums(cell) += luma; counts(cell) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(gridDim * gridDim)(i =>
        if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
    }
  }

  /** Real nearest-neighbor resize of a decoded raster: target pixel
    * (x, y) copies source pixel (x·w₀ ÷ W, y·h₀ ÷ H) — integer floor
    * sampling, so the result is bit-deterministic across JVMs (unlike
    * `Graphics2D.drawImage` scaling, whose interpolation is
    * implementation-defined). The vision-preprocessing resize step:
    * decode → resize → re-encode, all through the real JDK codec. */
  def resizeNearest(bytes: Array[Byte], tw: Int, th: Int): Option[Array[Byte]] = {
    val img =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          out.setRGB(x, y, im.getRGB(x * w / tw, y * h / th) & 0xffffff)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
  }

  /** Sum of the blue-channel byte of every pixel — the cheap raster
    * checksum the resize oracle mirrors arithmetically. */
  def rasterChecksum(bytes: Array[Byte]): Option[Long] = {
    val img =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { im =>
      var sum = 0L
      var y = 0
      while (y < im.getHeight) {
        var x = 0
        while (x < im.getWidth) { sum += im.getRGB(x, y) & 0xff; x += 1 }
        y += 1
      }
      sum
    }
  }

  /** Real PNG encode of a deterministic test pattern: a `w × h` image
    * whose pixel (x, y) carries a value derived from `seed` — the
    * in-pipeline source of REAL image bytes for specs and the
    * q_multimodal_real_meta round-trip (the sandbox has no image files
    * on disk; a production job reads bytes from its object store
    * instead). */
  def encodePng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (seed + x * 31L + y * 17L) & 0xff
        im.setRGB(x, y, (v << 16 | v << 8 | v).toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    ImageIO.write(im, "png", out)
    out.toByteArray
  }

  /** Row-major gray values (low byte, matching [[rasterChecksum]]) of a
    * raster decoded through the REAL imageio path — the pixel accessor
    * perceptual hashing builds on. None when decode fails. */
  def rasterGray(bytes: Array[Byte]): Option[Array[Int]] = {
    val img =
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { im =>
      val out = new Array[Int](im.getWidth * im.getHeight)
      var y = 0
      while (y < im.getHeight) {
        var x = 0
        while (x < im.getWidth) {
          out(y * im.getWidth + x) = im.getRGB(x, y) & 0xff
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Sum of |gray(a) − gray(b)| over all pixels of two same-size
    * rasters, decoded through the REAL imageio path (gray = low byte,
    * matching [[rasterChecksum]]) — the frame-difference kernel of a
    * scene-cut detector. None when either blob fails decode or the
    * dimensions differ. */
  def rasterAbsDiff(a: Array[Byte], b: Array[Byte]): Option[Long] = {
    def read(x: Array[Byte]) =
      try Option(ImageIO.read(new ByteArrayInputStream(x)))
      catch { case _: Exception => None }
    for {
      ia <- read(a)
      ib <- read(b)
      if ia.getWidth == ib.getWidth && ia.getHeight == ib.getHeight
    } yield {
      var sum = 0L
      var y = 0
      while (y < ia.getHeight) {
        var x = 0
        while (x < ia.getWidth) {
          sum += math.abs((ia.getRGB(x, y) & 0xff) - (ib.getRGB(x, y) & 0xff))
          x += 1
        }
        y += 1
      }
      sum
    }
  }

  // ---- REAL audio (JDK `javax.sound.sampled` — WAV/AIFF/AU are JDK
  // codecs the same way PNG/JPEG are for imageio; still no third-party
  // or native libraries)

  /** RIFF/WAVE PCM16LE mono encode — the in-pipeline source of REAL
    * audio bytes (the sandbox has no media files; production reads from
    * the object store). PCM is lossless, so the decode round-trip is
    * sample-exact and oracles can mirror the signal arithmetically. */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** REAL audio header decode: (sampleRate, channels, frameLength) parsed
    * by the JDK's registered audio file readers from the actual RIFF/
    * AIFF/AU container — truncated or fake bytes return None. */
  def audioMeta(bytes: Array[Byte]): Option[(Int, Int, Long)] =
    try {
      val f = javax.sound.sampled.AudioSystem
        .getAudioFileFormat(new ByteArrayInputStream(bytes))
      Some((f.getFormat.getSampleRate.toInt, f.getFormat.getChannels,
        f.getFrameLength.toLong))
    } catch { case _: Exception => None }

  /** One-pass REAL decode: header meta AND the PCM16 samples from a
    * single JDK `getAudioInputStream` call (r15, guide §1.2 per-task
    * work: the energy path called `audioMeta` + `decodePcm16`, paying the
    * AudioSystem provider scan and RIFF parse twice per asset — the
    * stream's own format/frameLength carry the identical meta).
    *
    * r16 (ADVICE r15 low): a stream that OPENS but fails the 16-bit /
    * mono / little-endian check reports the decoded format in a distinct
    * Left instead of collapsing into the reader-rejected case — the
    * caller's diagnostics can name the actual channel count again. */
  def decodePcm16WithMeta(bytes: Array[Byte]): Either[String, (Int, Int, Long, Array[Short])] =
    try {
      val in = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
            fmt.isBigEndian)
          Left(s"unsupported decoded format: ${fmt.getSampleSizeInBits}-bit, " +
            s"${fmt.getChannels} channel(s), bigEndian=${fmt.isBigEndian}")
        else {
          val raw = in.readAllBytes()
          val out = new Array[Short](raw.length / 2)
          var i = 0
          while (i < out.length) {
            out(i) = ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort
            i += 1
          }
          Right((fmt.getSampleRate.toInt, fmt.getChannels, in.getFrameLength,
            out))
        }
      } finally in.close()
    } catch { case e: Exception =>
      Left(s"JDK audio reader rejected the bytes: ${e.getClass.getSimpleName}") }

  /** REAL PCM decode through the JDK codec: every 16-bit LE mono sample.
    * None when no audio reader accepts the bytes or the format isn't
    * 16-bit mono little-endian PCM ([[decodePcm16WithMeta]] says which). */
  def decodePcm16(bytes: Array[Byte]): Option[Array[Short]] =
    decodePcm16WithMeta(bytes).toOption.map(_._4)

  // ---- frame container (MJPEG-style concatenated REAL image frames;
  // the container framing is ours — the JDK has no video demuxer — but
  // every frame inside decodes through the real imageio path)

  private val FrameMagic = "GRFV".getBytes("US-ASCII")

  /** Length-prefixed container of encoded image frames:
    * "GRFV" + int32 count + (int32 len + bytes)* — big-endian. */
  def encodeFrameContainer(frames: Seq[Array[Byte]]): Array[Byte] = {
    val size = 8 + frames.map(_.length + 4).sum
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.put(FrameMagic).putInt(frames.length)
    frames.foreach { f => bb.putInt(f.length); bb.put(f) }
    bb.array()
  }

  /** Parse the container; None on bad magic / truncation (a real demuxer
    * must reject torn blobs, not throw). */
  def decodeFrameContainer(bytes: Array[Byte]): Option[Seq[Array[Byte]]] =
    try {
      if (bytes == null || bytes.length < 8 ||
          !bytes.take(4).sameElements(FrameMagic)) None
      else {
        val bb = java.nio.ByteBuffer.wrap(bytes, 4, bytes.length - 4)
        val n = bb.getInt
        if (n < 0 || n > 1000000) None
        else {
          val out = Seq.newBuilder[Array[Byte]]
          var i = 0
          var ok = true
          while (i < n && ok) {
            if (bb.remaining() < 4) ok = false
            else {
              val len = bb.getInt
              if (len < 0 || bb.remaining() < len) ok = false
              else {
                val f = new Array[Byte](len)
                bb.get(f)
                out += f
              }
            }
            i += 1
          }
          if (ok) Some(out.result()) else None
        }
      }
    } catch { case _: Exception => None }
}
