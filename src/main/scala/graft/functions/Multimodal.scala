package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}

/** Multimodal column plumbing (BASELINE.json mandate): image/audio/video
  * travel as opaque `binary` columns with typed metadata; decode /
  * feature-extract runs batched per partition on executors.
  *
  * The image path is REAL: `syntheticPng` renders deterministic RGB
  * images and encodes them with the JDK's `javax.imageio` PNG writer;
  * `decodePng` / `resizePng` decode those bytes back and compute pixel
  * statistics / a box-filter downsample. Because PNG is lossless and
  * the pixel function is closed-form in (doc_id, x, y), a SQL oracle
  * can state the expected output WITHOUT decoding — the gate match
  * proves the whole encode→bytes→decode roundtrip is pixel-exact.
  *
  * The audio path is REAL the same way: `syntheticWav` renders
  * deterministic stereo 16-bit PCM and encodes a RIFF/WAVE container
  * with `javax.sound.sampled` (ships in every JDK); `decodeWav` parses
  * it back and computes per-channel energy/zero-crossing/peak features
  * the SQL oracle states analytically from the closed-form samples.
  *
  * The video path is REAL via the JDK's animated-GIF sequence
  * writer/reader: `syntheticGif` encodes N closed-form grayscale
  * frames into one multi-frame GIF container; `sampleFrames` counts
  * the container's frames and decodes only every step-th one
  * (keyframe sampling — skipped frames are never rasterized). GIF's
  * 256-entry palette holds 8-bit grayscale losslessly, so the
  * roundtrip is pixel-exact and the oracle states it analytically.
  */
object Multimodal {

  /** Decoded image: dimensions + per-channel pixel sums. */
  case class DecodedImage(doc_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  // ---- ImageIO codec instances, resolved ONCE per thread: every
  // `ImageIO.read`/`write`/`createImage{In,Out}putStream`/`getImage
  // {Readers,Writers}ByFormatName` call scans the IIORegistry behind
  // per-category locks, which serializes 32 executor threads encoding/
  // decoding small payloads (the WAV path measured 2.3× on exactly this
  // pattern; the GIF sequence writer paid it PER CLIP plus a default-
  // metadata build PER FRAME). Reader/writer instances are not
  // thread-safe but are reusable: `setInput`/`setOutput` (+ `reset`
  // for the stateful GIF sequence writer) re-arm them with no registry
  // traffic, and the codec work stays the JDK's. ----
  private val pngWriter = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
  }
  private val pngReader = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader =
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
  }
  private val gifWriter = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
  }
  private val gifReader = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader =
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
  }

  /** Registry-free decode of one image payload with the given
    * thread-local reader (`MemoryCacheImageInputStream` is constructed
    * directly — `ImageIO.createImageInputStream` would consult the
    * stream-SPI registry per call).
    */
  private def readOne(reader: javax.imageio.ImageReader,
      payload: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    // setInput(null) before close — the sampleFrames discipline: a
    // thread-local reader left holding the closed stream pins the
    // payload byte array for the executor thread's lifetime (one
    // arbitrary image per thread after the stage ends)
    try { reader.setInput(iis); reader.read(0) }
    finally { reader.setInput(null); iis.close() }
  }

  /** Deterministic synthetic image dimensions/channels for doc `id` —
    * the closed form the SQL oracle restates. All arithmetic stays in
    * Long and every term is non-negative, so `%` is a true mod.
    */
  def imgWidth(id: Long): Int = (16 + id % 17).toInt
  def imgHeight(id: Long): Int = (16 + (id * 7) % 13).toInt
  def red(id: Long, x: Int, y: Int): Int = ((id + 31L * x + 7L * y) % 256).toInt
  def green(id: Long, x: Int, y: Int): Int = ((3 * id + 5L * x + 11L * y) % 256).toInt
  def blue(id: Long, x: Int, y: Int): Int = ((7 * id + 13L * x + 3L * y) % 256).toInt

  /** REAL PNG bytes for doc `id` (fixture generator, runs on executors):
    * renders the closed-form RGB image and encodes it with the JDK
    * ImageIO PNG writer. In production this column arrives from
    * storage; here the generator doubles as the proof fixture.
    */
  def syntheticPng(id: Long): Array[Byte] = {
    val (w, h) = (imgWidth(id), imgHeight(id))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (red(id, x, y) << 16) | (green(id, x, y) << 8) | blue(id, x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(w * h / 2 + 128)
    val writer = pngWriter.get()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally { writer.reset(); ios.close() }
    bos.toByteArray
  }

  /** REAL image decode over (doc_id, payload) binary PNG columns —
    * `javax.imageio` per partition batch (ImageIO disk cache off: an
    * executor thread must never stage decodes through temp files), rows
    * streamed, fixed-schema features out, no driver involvement.
    */
  def decodePng(df: DataFrame): Dataset[DecodedImage] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val reader = pngReader.get()
        it.map { case (id, payload) =>
          val img = readOne(reader, payload)
          require(img != null, s"doc $id: payload is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >>> 16) & 0xff; sg += (rgb >>> 8) & 0xff
              sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          DecodedImage(id, w, h, sr, sg, sb)
        }
      }
  }

  /** Box-filter resize output: `target`×`target` red-channel pixels in
    * row-major order.
    */
  case class Resized(doc_id: Long, out_w: Int, out_h: Int, pixels: Seq[Int])

  /** REAL box-filter downsample of the decoded red channel to a fixed
    * `target`×`target` grid: output (j,i) is the floored mean of the
    * source block [i·w/t,(i+1)·w/t) × [j·h/t,(j+1)·h/t). Integer
    * arithmetic end-to-end so any engine can restate it exactly.
    * Requires source dimensions ≥ `target` (the synthetic fixtures'
    * minimum 16×16 with the default target 8).
    */
  def resizePng(df: DataFrame, target: Int = 8): Dataset[Resized] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val reader = pngReader.get()
        it.map { case (id, payload) =>
          val img = readOne(reader, payload)
          require(img != null, s"doc $id: payload is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          // enforce the documented precondition with context — a
          // sub-target image would otherwise die mid-task on a bare
          // "/ by zero" (some blocks get x0 == x1)
          require(w >= target && h >= target,
            s"doc $id: image ${w}x$h smaller than resize target $target")
          val px = for {
            j <- 0 until target
            i <- 0 until target
          } yield {
            val (x0, x1) = (i * w / target, (i + 1) * w / target)
            val (y0, y1) = (j * h / target, (j + 1) * h / target)
            var sum = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) { sum += (img.getRGB(x, y) >>> 16) & 0xff; x += 1 }
              y += 1
            }
            (sum / ((x1 - x0).toLong * (y1 - y0))).toInt
          }
          Resized(id, target, target, px)
        }
      }
  }

  // ---- REAL audio: PCM WAV via javax.sound.sampled (ships in every
  // JDK — no container codec needed, the same move that made the image
  // path real) ----

  /** Decoded audio features, one row per clip: stereo 16-bit PCM →
    * per-channel energy (Σ s²), zero-crossing count and peak |s|.
    */
  case class AudioFeatures(doc_id: Long, n_samples: Int, sample_rate: Int,
      energy0: Long, energy1: Long, zc0: Int, zc1: Int, peak0: Int, peak1: Int)

  /** Closed-form 16-bit sample for (clip, channel, frame) — the formula
    * the SQL oracle restates analytically. Long arithmetic with
    * non-negative terms, so `%` is a true mod.
    */
  def audioSample(id: Long, ch: Int, t: Int): Int =
    ((id * 31 + ch * 17 + t.toLong * 7919) % 65536 - 32768).toInt

  /** Frames per clip (~25-32 ms at 8 kHz, varies per doc). */
  def audioFrames(id: Long): Int = (200 + id % 57).toInt

  /** The JDK's own WAVE reader/writer SPI providers, resolved ONCE per
    * thread instead of per clip: `AudioSystem.write`/`getAudioInput
    * Stream` re-scan the provider registry behind a process-global lock
    * on EVERY call, which serializes 32 executor threads decoding small
    * clips (measured 2.3× on the decode pass alone). Same classes the
    * registry would return — the codec work stays the JDK's.
    */
  private val wavWriter =
    new ThreadLocal[javax.sound.sampled.spi.AudioFileWriter] {
      override def initialValue(): javax.sound.sampled.spi.AudioFileWriter = {
        val it = java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
        while (it.hasNext) {
          val w = it.next()
          if (w.isFileTypeSupported(
              javax.sound.sampled.AudioFileFormat.Type.WAVE)) return w
        }
        throw new IllegalStateException("no WAVE AudioFileWriter SPI")
      }
    }
  private val wavReader =
    new ThreadLocal[javax.sound.sampled.spi.AudioFileReader] {
      override def initialValue(): javax.sound.sampled.spi.AudioFileReader = {
        val it = java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
        while (it.hasNext) {
          val r = it.next()
          if (r.getClass.getSimpleName == "WaveFileReader") return r
        }
        throw new IllegalStateException("no WAVE AudioFileReader SPI")
      }
    }

  /** REAL WAV bytes for doc `id` (fixture generator, runs on
    * executors): renders the closed-form stereo PCM and encodes a
    * RIFF/WAVE container with the JDK's `javax.sound.sampled` writer.
    * In production this column arrives from storage; here the generator
    * doubles as the proof fixture — the gate's hash match proves the
    * encode→bytes→parse→decode roundtrip is sample-exact.
    */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = audioFrames(id)
    val pcm = new Array[Byte](n * 4) // 2 ch × 16-bit LE, interleaved
    var t = 0
    while (t < n) {
      val s0 = audioSample(id, 0, t)
      val s1 = audioSample(id, 1, t)
      pcm(4 * t) = s0.toByte;     pcm(4 * t + 1) = (s0 >> 8).toByte
      pcm(4 * t + 2) = s1.toByte; pcm(4 * t + 3) = (s1 >> 8).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2,
      /*signed=*/ true, /*bigEndian=*/ false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n)
    val bos = new java.io.ByteArrayOutputStream(pcm.length + 64)
    wavWriter.get().write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode over (doc_id, payload) binary WAV columns —
    * `javax.sound.sampled` parses the RIFF header and streams PCM per
    * partition batch; per-channel energy / zero-crossings / peak out,
    * no driver involvement. Zero-crossing convention: a sign flip
    * between consecutive frames, sign(s) = s ≥ 0.
    */
  def decodeWav(df: DataFrame): Dataset[AudioFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val ais = wavReader.get().getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 2 &&
            !fmt.isBigEndian && fmt.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            s"doc $id: expected 16-bit LE signed stereo PCM, got $fmt")
          val bytes = ais.readAllBytes()
          val n = bytes.length / 4
          var (e0, e1) = (0L, 0L)
          var (z0, z1) = (0, 0)
          var (p0, p1) = (0, 0)
          var (prev0, prev1) = (0, 0)
          var t = 0
          while (t < n) {
            val s0 = ((bytes(4 * t) & 0xff) | (bytes(4 * t + 1) << 8)).toShort.toInt
            val s1 = ((bytes(4 * t + 2) & 0xff) | (bytes(4 * t + 3) << 8)).toShort.toInt
            e0 += s0.toLong * s0; e1 += s1.toLong * s1
            if (t > 0) {
              if ((s0 >= 0) != (prev0 >= 0)) z0 += 1
              if ((s1 >= 0) != (prev1 >= 0)) z1 += 1
            }
            if (math.abs(s0) > p0) p0 = math.abs(s0)
            if (math.abs(s1) > p1) p1 = math.abs(s1)
            prev0 = s0; prev1 = s1
            t += 1
          }
          AudioFeatures(id, n, fmt.getSampleRate.toInt, e0, e1, z0, z1, p0, p1)
        }
      }
  }

  /** Per-clip channel-0 frame energies (full `frameLen`-sample frames
    * only; the trailing partial frame is dropped) — the decode half of
    * energy-based voice-activity detection, the silence-trim pass an
    * ASR/audio corpus runs before training. REAL decode, same container
    * contract as [[decodeWav]]; map-only, one small array per clip out.
    */
  case class FrameEnergies(doc_id: Long, fe: Array[Long])

  def wavFrameEnergies(df: DataFrame, frameLen: Int)
      : Dataset[FrameEnergies] = {
    require(frameLen > 0, s"frameLen must be positive, got $frameLen")
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val ais = wavReader.get().getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 2 &&
            !fmt.isBigEndian && fmt.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            s"doc $id: expected 16-bit LE signed stereo PCM, got $fmt")
          val bytes = ais.readAllBytes()
          val nF = (bytes.length / 4) / frameLen
          val fe = new Array[Long](nF)
          var f = 0
          while (f < nF) {
            var e = 0L
            var t = f * frameLen
            val end = t + frameLen
            while (t < end) {
              val s0 =
                ((bytes(4 * t) & 0xff) | (bytes(4 * t + 1) << 8)).toShort.toInt
              e += s0.toLong * s0
              t += 1
            }
            fe(f) = e
            f += 1
          }
          FrameEnergies(id, fe)
        }
      }
  }

  // ---- REAL video: multi-frame animated GIF via javax.imageio (the
  // GIF sequence writer/reader ship in every JDK — no external codec
  // needed, the same move that made the image and audio paths real).
  // GIF is a genuine video container here: N distinct frames, palette
  // encoding, LZW compression — and because the frames are 8-bit
  // grayscale the 256-entry palette preserves them losslessly, so the
  // roundtrip is pixel-exact and an analytic oracle can state it. ----

  /** One sampled (decoded) video frame: index + pixel statistics. */
  case class SampledFrame(doc_id: Long, frame_idx: Int, n_frames: Int,
      px_sum: Long)

  /** Closed-form video geometry + 8-bit gray pixel for (clip, frame,
    * x, y) — the formulas the SQL oracle restates. Non-negative Long
    * terms, so `%` is a true mod.
    */
  val VidW = 16
  val VidH = 12
  def vidFrames(id: Long): Int = (6 + id % 5).toInt
  def gray(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f.toLong * 101 + y.toLong * VidW + x.toLong * 7) % 256).toInt

  /** REAL animated-GIF bytes for doc `id` (fixture generator, runs on
    * executors): renders the closed-form grayscale frames and encodes a
    * multi-frame GIF sequence with the JDK ImageIO writer. In
    * production this column arrives from storage; here the generator
    * doubles as the proof fixture — the gate's hash match proves the
    * frame-sequence encode→bytes→decode roundtrip frame- and
    * pixel-exact.
    */
  /** Identity 256-gray palette, built once: frames render as
    * TYPE_BYTE_INDEXED over this palette so the GIF writer encodes the
    * raster DIRECTLY — a TYPE_BYTE_GRAY input forced the writer through
    * per-frame palette derivation + color conversion, the dominant cost
    * of the encode profile (and a lock-contended one across 32 executor
    * threads: 5000-clip encode measured 2.6 s on 32 threads vs 6.5 s of
    * single-thread CPU — ~13× serialization). Palette entry i decodes
    * to gray i, so decoded pixels are bit-identical to the former
    * grayscale path (the oracle checks decoded pixels, not container
    * bytes).
    */
  private val grayPalette: java.awt.image.IndexColorModel = {
    val ramp = Array.tabulate[Byte](256)(i => i.toByte)
    new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Per-thread reusable frame buffer + its cached GIF stream metadata:
    * clip geometry is constant (VidW×VidH), so one indexed BufferedImage
    * per thread serves every frame of every clip (writeToSequence
    * encodes synchronously before returning), and the default image
    * metadata — formerly rebuilt per clip — is constant for the fixed
    * image type.
    */
  private val gifFrame = new ThreadLocal[(java.awt.image.BufferedImage,
      Array[Byte], javax.imageio.metadata.IIOMetadata)] {
    override def initialValue()
        : (java.awt.image.BufferedImage, Array[Byte],
           javax.imageio.metadata.IIOMetadata) = {
      val img = new java.awt.image.BufferedImage(VidW, VidH,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
      val data = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      val writer = gifWriter.get()
      val md = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img),
        writer.getDefaultWriteParam)
      (img, data, md)
    }
  }

  def syntheticGif(id: Long): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val writer = gifWriter.get()
    val (img, data, md) = gifFrame.get()
    val bos = new java.io.ByteArrayOutputStream(VidW * VidH + 512)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      val p = writer.getDefaultWriteParam
      var f = 0
      val n = vidFrames(id)
      while (f < n) {
        // fill the reused indexed raster directly (row-major, stride =
        // VidW for this constructor); palette index i IS gray level i
        var y = 0
        while (y < VidH) {
          var x = 0
          while (x < VidW) {
            data(y * VidW + x) = gray(id, f, x, y).toByte; x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), p)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      // reset, NOT dispose: the instance is thread-local and reused; the
      // GIF sequence writer is stateful, so reset clears the sequence
      // state along with the output
      writer.reset()
      ios.close()
    }
    bos.toByteArray
  }

  /** REAL video keyframe sampling over (doc_id, payload) binary
    * animated-GIF columns: `javax.imageio`'s GIF reader counts the
    * container's frames and decodes ONLY every `step`-th one (frame 0
    * always included) — the decoder is random-access by frame index,
    * so skipped frames are never rasterized, which is the point of
    * keyframe sampling at scale. Per partition batch, fixed-schema
    * pixel statistics out, no driver involvement.
    */
  /** Per-clip sum-of-absolute-differences between CONSECUTIVE sampled
    * frames (stride `step`) — the decode half of shot/scene-cut
    * detection, the segmentation pass a video corpus runs before frame
    * sampling (cut the clip at visual discontinuities, then sample
    * within shots). REAL decode, same container contract as
    * [[sampleFrames]]; map-only, one small SAD array per clip out
    * (entry k compares sampled frames k and k+1).
    */
  case class SceneSads(doc_id: Long, sad: Array[Long])

  /** Gray values of a decoded GIF frame, row-major — semantics of
    * `getRGB(x, y) & 0xff` (the blue channel) for ANY palette, via one
    * bulk raster read + a palette LUT instead of a per-pixel
    * ColorModel conversion (getRGB builds an sRGB int per pixel through
    * two virtual calls; the bulk path measured ~1.5× faster even on
    * these small frames and touches no per-pixel allocation).
    */
  private def grayPixels(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Int](w * h)
    img.getColorModel match {
      case icm: java.awt.image.IndexColorModel =>
        val blues = new Array[Byte](icm.getMapSize)
        icm.getBlues(blues)
        img.getRaster.getSamples(0, 0, w, h, 0, out)
        var i = 0
        while (i < out.length) { out(i) = blues(out(i)) & 0xff; i += 1 }
      case _ =>
        var y = 0; var i = 0
        while (y < h) {
          var x = 0
          while (x < w) { out(i) = img.getRGB(x, y) & 0xff; x += 1; i += 1 }
          y += 1
        }
    }
    out
  }

  /** JIT warm of the GIF encode+decode kernel path (r16): the JDK GIF
    * writer/reader's many small methods run at C1/interpreter speed
    * until they cross compile thresholds — the first heavy gate use
    * measured ~4-30× its steady-state CPU. One driver-thread loop over
    * `n` clips (encode → frame count → decode every 3rd frame → pixel
    * read) exercises exactly the gate kernels; callers run it untimed
    * (the mm gates' prepare). Returns a checksum so the work cannot be
    * dead-code-eliminated.
    */
  def warmGifCodec(n: Int): Long = {
    javax.imageio.ImageIO.setUseCache(false)
    val reader = gifReader.get()
    var acc = 0L
    var i = 0L
    while (i < n) {
      val p = syntheticGif(i)
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(p))
      try {
        reader.setInput(iis)
        val nf = reader.getNumImages(true)
        var f = 0
        while (f < nf) {
          val px = grayPixels(reader.read(f))
          acc += px(0) + px(px.length - 1)
          f += 3
        }
      } finally { reader.setInput(null); iis.close() }
      i += 1
    }
    acc
  }

  def sceneSads(df: DataFrame, step: Int = 3): Dataset[SceneSads] = {
    require(step > 0, s"step must be positive, got $step")
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val reader = gifReader.get()
        it.map { case (id, payload) =>
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(/*allowSearch=*/ true)
            val sampled = (0 until n by step).toArray
            val sads = new Array[Long](math.max(0, sampled.length - 1))
            var prev: Array[Int] = null
            var k = 0
            while (k < sampled.length) {
              val cur = grayPixels(reader.read(sampled(k)))
              if (prev != null) {
                require(prev.length == cur.length,
                  s"doc $id: frame geometry changed mid-clip")
                var s = 0L
                var i = 0
                while (i < cur.length) {
                  s += math.abs(cur(i) - prev(i)); i += 1
                }
                sads(k - 1) = s
              }
              prev = cur
              k += 1
            }
            SceneSads(id, sads)
          } finally {
            reader.setInput(null)
            iis.close()
          }
        }
      }
  }

  def sampleFrames(df: DataFrame, step: Int = 3): Dataset[SampledFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val reader = gifReader.get()
        it.flatMap { case (id, payload) =>
          // deterministic stream close per clip (same discipline as
          // readOne): without it the thread-local reader retains the
          // LAST clip's stream + payload for the executor thread's
          // lifetime, and intermediate streams wait for GC. The frame
          // map below is STRICT (Range.map), so every decode completes
          // before the finally runs.
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(/*allowSearch=*/ true)
            (0 until n by step).map { f =>
              val px = grayPixels(reader.read(f))
              var sum = 0L
              var i = 0
              while (i < px.length) { sum += px(i); i += 1 }
              SampledFrame(id, f, n, sum)
            }
          } finally {
            // release the reader's grip on this clip before closing: a
            // closed-but-still-set input would fail a hypothetical later
            // read and pins the byte array regardless
            reader.setInput(null)
            iis.close()
          }
        }
      }
  }
}
