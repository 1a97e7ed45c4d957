package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column processing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded in partition-sized batches.
  *
  * The decode kernels are REAL:
  *   - image: PNG encode/decode via the JDK's javax.imageio (no external
  *     codecs needed) — features come from actual decoded pixels;
  *   - audio: RIFF/WAVE with 16-bit PCM mono — header parse + sample
  *     decode, per-segment RMS features;
  *   - video: a length-prefixed PNG-frame container (frame count + one
  *     length-prefixed PNG per frame) — the kernel parses the container,
  *     samples every k-th frame, PNG-decodes ONLY the sampled frames
  *     (the frame-sampling contract: decode cost scales with sampled
  *     frames, not stored frames).
  *
  * Everything is deterministic: payloads are pure functions of media_id, so
  * any partitioning yields identical rows, and specs assert exact feature
  * values for planted solid-color images / constant-amplitude audio.
  *
  * At scale: payloads dominate row size, so decode runs in `mapPartitions`
  * (one iterator per partition, per-batch codec setup amortized — the Scala
  * analogue of PySpark's mapInPandas), the kernel never collects, and only
  * the small feature rows shuffle afterwards — never the binaries.
  */
object Multimodal {

  final case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      width: Int,
      height: Int,
      sample_rate: Int,
      n_frames: Int)

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      frames_sampled: Int,
      features: Array[Float])

  private def mix(x: Long): Long = graft.kg.CorpusGen.mix(x)

  // Per-thread PNG codec instances over MEMORY-cache streams. The
  // ImageIO.read/write conveniences (a) look the codec up in the service
  // registry per call and (b) wrap the stream in a FILE-cache
  // ImageInputStream/OutputStream (ImageIO.getUseCache defaults true) —
  // one temp FILE on java.io.tmpdir per encode/decode, which is
  // DISK-backed in this sandbox: the multimodal query paid ~13k temp-file
  // create/write/delete cycles per run. Same codec classes, same default
  // write params (writer.write(img) ≡ ImageIO.write's doWrite with a null
  // param), so encoded bytes and decoded pixels are bit-identical — the
  // planted-image specs and the scalar-oracle hash compare gate this.
  private val pngReader =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next())
  private val pngWriter =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("png").next())

  // ------------------------------------------------------------- synthesis

  /** Deterministic opaque RGB pixel of (media_id, x, y). */
  private def pixel(id: Long, x: Int, y: Int): Int =
    (mix(id * 1000003L + y.toLong * 131L + x) & 0xFFFFFF).toInt

  /** Real PNG bytes of a deterministic w×h image. The pixel array is
    * written straight into the TYPE_INT_RGB raster's backing int[] —
    * per-pixel setRGB goes through ColorModel.getDataElements + a
    * per-call raster write and is ~10× slower for the same stored ints
    * (INT_RGB data elements ARE the 0xRRGGBB values `pixel` produces, so
    * the encoded PNG bytes are identical).
    */
  def pngBytes(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { data(y * w + x) = pixel(id, x, y); x += 1 }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    val wr = pngWriter.get()
    wr.setOutput(ios)
    wr.write(img)
    ios.close() // flushes the memory cache into baos
    baos.toByteArray
  }

  /** Real RIFF/WAVE bytes: 16-bit PCM mono, deterministic samples. */
  def wavBytes(id: Long, nSamples: Int, sampleRate: Int): Array[Byte] = {
    val data = new Array[Short](nSamples)
    var i = 0
    while (i < nSamples) {
      data(i) = (((mix(id * 7919L + i) >>> 40) % 16384L) - 8192L).toShort
      i += 1
    }
    wavOf(data, sampleRate)
  }

  /** WAV container around raw 16-bit mono samples (spec plants known data). */
  def wavOf(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Frame container: int32-BE frame count, then per frame int32-BE length
    * + PNG bytes.
    */
  def videoBytes(id: Long, nFrames: Int, w: Int, h: Int): Array[Byte] = {
    val frames = Array.tabulate(nFrames)(f => pngBytes(id * 31L + f, w, h))
    val bb = ByteBuffer.allocate(4 + frames.map(_.length + 4).sum)
    bb.putInt(nFrames)
    frames.foreach { fr => bb.putInt(fr.length); bb.put(fr) }
    bb.array()
  }

  private def kindOf(id: Long): String =
    (mix(id) % 3).abs match {
      case 0 => "image"
      case 1 => "audio"
      case _ => "video"
    }

  /** One deterministic media row of `id` — shared by the distributed
    * synthesis UDF and the single-threaded oracle replay.
    */
  def synthRow(id: Long): MediaRow = kindOf(id) match {
    case k @ "image" =>
      val w = 8 + (mix(id * 3 + 1) % 24).abs.toInt
      val h = 8 + (mix(id * 3 + 2) % 16).abs.toInt
      MediaRow(id, k, pngBytes(id, w, h), w, h, 0, 1)
    case k @ "audio" =>
      val n = 256 + (mix(id * 3 + 1) % 512).abs.toInt
      MediaRow(id, k, wavBytes(id, n, 16000), 0, 0, 16000, 1)
    case k =>
      val nf = 2 + (mix(id * 3 + 1) % 6).abs.toInt
      MediaRow(id, k, videoBytes(id, nf, 8, 8), 8, 8, 0, nf)
  }

  private val synthUdf = udf((id: Long) => synthRow(id))

  /** Synthesize a media table from documents: one REAL payload per doc
    * (PNG / WAV-PCM / frame container), metadata consistent with it.
    */
  def synthesize(docs: DataFrame): DataFrame =
    docs.select(synthUdf(col("doc_id")).as("m")).select(col("m.*"))

  // ---------------------------------------------------------------- decode

  /** 8 features from decoded pixels: mean R/G/B (normalized) + mean
    * luminance of the 4 quadrants + aspect ratio. Pure function of the
    * DECODED image, so it proves the bytes round-tripped the codec.
    */
  def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    var r = 0L; var g = 0L; var b = 0L
    val quad = new Array[Long](4)
    // one bulk getRGB: identical ints to the per-pixel calls (same
    // ColorModel conversion), without a method call + bounds setup per
    // pixel — the decode feature loop is the multimodal hot path
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var y = 0
    while (y < h) {
      val qRow = if (y * 2 >= h) 2 else 0
      var x = 0
      while (x < w) {
        val p = px(y * w + x)
        val pr = (p >> 16) & 0xFF; val pg = (p >> 8) & 0xFF; val pb = p & 0xFF
        r += pr; g += pg; b += pb
        quad(qRow + (if (x * 2 >= w) 1 else 0)) += (pr + pg + pb) / 3
        x += 1
      }
      y += 1
    }
    val n = (w * h).toFloat
    // per-quadrant pixel counts: for odd width/height the four quadrants
    // are NOT equal-sized, so each mean divides by its actual count
    val qw0 = w / 2; val qh0 = h / 2 // "low" half sizes (x*2 < w ⇔ x < ceil(w/2))
    val qw = Array(w - qw0, qw0, w - qw0, qw0) // cols in quadrants 0..3
    val qh = Array(h - qh0, h - qh0, qh0, qh0) // rows in quadrants 0..3
    def qmean(i: Int): Float =
      if (qw(i) * qh(i) == 0) 0f
      else quad(i) / (qw(i) * qh(i)).toFloat / 255f
    Array(
      r / n / 255f, g / n / 255f, b / n / 255f,
      qmean(0), qmean(1), qmean(2), qmean(3),
      w.toFloat / h.toFloat)
  }

  def decodeImage(payload: Array[Byte]): Array[Float] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(payload))
    val img = try {
      val r = pngReader.get()
      r.setInput(iis, true, true) // seek-forward-only, no metadata: as ImageIO.read
      r.read(0) // ≡ ImageIO.read's reader.read(0, null)
    } finally iis.close()
    imageFeatures(img)
  }

  /** Parse the RIFF header, decode the 16-bit PCM samples, RMS per eighth
    * (8 features, amplitude-normalized to [0,1]).
    */
  def decodeAudio(payload: Array[Byte]): Array[Float] = {
    val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.getInt(0) == 0x46464952, "not RIFF") // 'RIFF' LE
    val dataLen = bb.getInt(40)
    val n = dataLen / 2
    val feats = new Array[Float](8)
    if (n == 0) return feats
    var seg = 0
    while (seg < 8) {
      val from = (n.toLong * seg / 8).toInt
      val until = (n.toLong * (seg + 1) / 8).toInt
      var acc = 0.0
      var i = from
      while (i < until) { val s = bb.getShort(44 + 2 * i).toDouble; acc += s * s; i += 1 }
      feats(seg) =
        if (until > from) (math.sqrt(acc / (until - from)) / 32768.0).toFloat else 0f
      seg += 1
    }
    feats
  }

  /** Parse the frame container, PNG-decode every `sampleEvery`-th frame
    * only, average the per-frame image features.
    */
  def decodeVideo(payload: Array[Byte], sampleEvery: Int): (Int, Array[Float]) = {
    val bb = ByteBuffer.wrap(payload)
    val nFrames = bb.getInt
    // malformed container: a non-positive frame count would NaN the feature
    // averages (divide by sampled.length == 0) or corrupt the offset parse
    if (nFrames <= 0) return (0, new Array[Float](8))
    val offsets = new Array[(Int, Int)](nFrames) // (offset, len)
    var pos = 4
    var f = 0
    while (f < nFrames) {
      val len = bb.getInt(pos)
      offsets(f) = (pos + 4, len)
      pos += 4 + len
      f += 1
    }
    val step = math.max(1, sampleEvery)
    val sampled = (0 until nFrames by step).toArray
    val acc = new Array[Float](8)
    sampled.foreach { fi =>
      val (off, len) = offsets(fi)
      val feats = decodeImage(java.util.Arrays.copyOfRange(payload, off, off + len))
      var j = 0
      while (j < 8) { acc(j) += feats(j); j += 1 }
    }
    var j = 0
    while (j < 8) { acc(j) /= sampled.length; j += 1 }
    (sampled.length, acc)
  }

  /** Partition-batched decode/feature-extract (mapInPandas analogue): one
    * iterator per partition; a real deployment would init its codec pool
    * once per partition here (ImageIO is static, so nothing to init).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame,
      sampleEvery: Int = 10): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"), col("n_frames"))
      .as[(Long, String, Array[Byte], Int)]
      .mapPartitions { it =>
        it.map { case (id, kind, payload, _) =>
          kind match {
            case "image" =>
              MediaFeatures(id, kind, payload.length, 1, decodeImage(payload))
            case "audio" =>
              MediaFeatures(id, kind, payload.length, 1, decodeAudio(payload))
            case _ =>
              val (sampled, feats) = decodeVideo(payload, sampleEvery)
              MediaFeatures(id, kind, payload.length, sampled, feats)
          }
        }
      }
  }

  /** Demo query: synthesize → batch-decode → per-kind feature stats. */
  def featureStats(spark: SparkSession, docs: DataFrame): DataFrame =
    extractFeatures(spark, synthesize(docs)).toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("frames_sampled")), 4).as("avg_frames"),
        round(avg(element_at(col("features"), 1)), 4).as("avg_f0"))
      .orderBy(col("kind"))
}
