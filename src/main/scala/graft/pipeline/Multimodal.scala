package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Real decoded image features (javax.imageio path): dimensions read
  * from the decoded raster, format sniffed from the bytes, and an exact
  * integer luminance sum over the pixels. */
case class ImageFeature(
    doc_id: Long,
    format: String,
    width: Int,
    height: Int,
    n_px: Long,
    lum_sum: Long)

/** Real decoded audio features (javax.sound.sampled path): sample rate
  * from the decoded WAV header, exact integer sums over the PCM
  * samples. */
case class AudioFeature(
    doc_id: Long,
    sample_rate: Int,
    n_samples: Long,
    abs_sum: Long,
    peak: Long)

/** Decoded per-item features for the synthetic-payload path (generic
  * plumbing with a deterministic stand-in decode; see decodeFeatures). */
case class MediaFeature(
    doc_id: Long,
    format: String,
    width: Int,
    height: Int,
    n_bytes: Long,
    brightness: Double)

/** Multimodal columns: image/audio/video as opaque `binary` columns with a
  * typed metadata struct, plus a batched decode→feature-extract stage.
  *
  * Two decode tiers: REAL codec paths for all three modalities —
  * javax.imageio PNG/BMP for images (encodeImages/decodeImageFeatures,
  * oracled by pipe_multimodal_decode), javax.sound.sampled 16-bit PCM
  * WAV for audio (encodeAudio/decodeAudioFeatures,
  * pipe_multimodal_audio), and the JDK's multi-frame GIF codec for
  * video-like frame sequences (encodeVideo/decodeVideoFrames,
  * pipe_multimodal_video) — plus a deterministic synthetic path
  * exercising the generic plumbing shape
  * (withSyntheticMedia/decodeFeatures).
  *
  * Design for 100 TB: payloads stay columnar binary in parquet (never
  * stringified), metadata is a pruned-friendly struct, and decoding runs
  * `mapPartitions` so each task amortizes decoder setup over a whole
  * partition — the Scala analogue of `mapInPandas` batch shape. Repartition
  * count controls decode parallelism independently of file layout.
  */
object Multimodal {

  /** Render REAL image bytes per row with javax.imageio: a grayscale
    * raster whose pixels are a pure function of the id —
    * g(x, y) = (id*31 + x*7 + y*13) mod 256, w = 1 + id mod 8,
    * h = 1 + id mod 6 — encoded as PNG (even ids) or BMP (odd ids),
    * both lossless, so a decode must reproduce the exact pixels and an
    * external oracle can recompute the pixel stats from the id alone.
    * Same mapPartitions batch shape as the decode: encoder setup (and at
    * scale, any codec context) amortizes over a whole partition. */
  def encodeImages(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        val writers = new ImageWriterPool // once per task (r14)
        ids.map { id =>
          // floorMod, not %: a negative id would yield width 0 (crash)
          // while the pmod-computed metadata below claims 8
          val w = 1 + java.lang.Math.floorMod(id, 8L).toInt
          val h = 1 + java.lang.Math.floorMod(id, 6L).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val g = java.lang.Math.floorMod(id * 31 + x * 7 + y * 13, 256L).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val fmt = if (id % 2 == 0) "png" else "bmp"
          (id, fmt, writers.write(img, fmt, id))
        }
      }
      .toDF("doc_id", "format", "media")
      .select(col("doc_id"), col("media"), struct(
        col("format"),
        (lit(1) + pmod(col("doc_id"), lit(8))).cast("int").as("width"),
        (lit(1) + pmod(col("doc_id"), lit(6))).cast("int").as("height"),
        length(col("media")).cast("long").as("n_bytes")).as("media_meta"))
  }

  /** REAL codec decode: sniff the container format from the bytes
    * (ImageIO reader introspection — the metadata struct is NOT
    * consulted), decode the raster, and measure width/height plus an
    * exact integer luminance sum (red channel of the grayscale pixels).
    * Everything downstream of the bytes goes through the actual PNG/BMP
    * codecs, so a corrupt payload or a lossy roundtrip breaks the
    * oracle match. */
  def decodeImageFeatures(
      df: DataFrame, parallelism: Int = 0): Dataset[ImageFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sized = if (parallelism > 0) df.repartition(parallelism) else df
    sized.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val readers = new ImageReaderPool // once per task (r14)
        rows.map { case (id, bytes) =>
          val (fmt, img) = readers.withImage(bytes, id)(r =>
            (r.getFormatName.toLowerCase, r.read(0)))
          ImageFeature(id, fmt, img.getWidth, img.getHeight,
            img.getWidth.toLong * img.getHeight, lumSum(img))
        }
      }
  }

  /** Per-TASK image reader pool (r14 optimization). The old per-row
    * helper called ImageIO.getImageReaders for every payload — a scan
    * of the GLOBAL IIORegistry, whose iteration synchronizes on the
    * registry, so concurrent codec tasks over tiny payloads serialize
    * on that lock (measured at sf0.1: a 32-way decode of the ≤8×6
    * rasters ran slower than near-serial). Each task now materializes
    * the reader-SPI list ONCE, sniffs every payload against it — still
    * from the BYTES; the metadata struct stays unconsulted — and
    * reuses one reader instance per format via setInput. The JDK
    * PNG/BMP/GIF readers are plain JVM objects; they drop with the
    * task, so the per-row dispose() is not needed.
    * `f` must fully materialize what it needs before returning. */
  private final class ImageReaderPool {
    import javax.imageio.spi.{IIORegistry, ImageReaderSpi}
    import scala.jdk.CollectionConverters._
    private val spis = IIORegistry.getDefaultInstance
      .getServiceProviders(classOf[ImageReaderSpi], true).asScala.toList
    private val pool = scala.collection.mutable
      .Map.empty[ImageReaderSpi, javax.imageio.ImageReader]
    def withImage[A](bytes: Array[Byte], id: Long)(
        f: javax.imageio.ImageReader => A): A = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val spi = spis.find { s =>
          iis.mark(); try s.canDecodeInput(iis) finally iis.reset()
        }.getOrElse(throw new IllegalArgumentException(
          s"Multimodal decode: no codec for doc $id"))
        val reader = pool.getOrElseUpdate(spi, spi.createReaderInstance())
        reader.setInput(iis)
        // reset(), not setInput(null) (r14 ADVICE): restores the
        // documented post-construction state — listeners/locale included
        // — for ANY SPI, at the same cost
        try f(reader) finally reader.reset()
      } finally iis.close()
    }
  }

  /** Per-TASK image writer pool — the encode-side twin of
    * [[ImageReaderPool]]: ImageIO.write does a registry lookup per
    * call AND (with the default cache setting) routes the output
    * through a DISK-backed FileCacheImageOutputStream — one temp file
    * per encoded image. One writer per format per task, memory-backed
    * output streams. */
  private final class ImageWriterPool {
    private val pool = scala.collection.mutable
      .Map.empty[String, javax.imageio.ImageWriter]
    def write(img: java.awt.image.RenderedImage, fmt: String,
        id: Long): Array[Byte] = {
      val writer = pool.getOrElseUpdate(fmt, {
        val it = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
        // a sniffed format can be reader-only on some JREs — fail HERE
        // with the doc id, not later in the decode stage (r13 review)
        if (!it.hasNext) throw new IllegalArgumentException(
          s"Multimodal encode: no encoder for format '$fmt' (doc $id)")
        it.next()
      })
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), null)
        ios.flush()
      } finally { writer.setOutput(null); ios.close() }
      bos.toByteArray
    }
  }

  /** Per-TASK audio SPI pool — the javax.sound twin of the image
    * pools (r14): AudioSystem.write / getAudioInputStream consult the
    * JDK's SYNCHRONIZED provider cache on every call, so concurrent
    * audio-codec tasks over tiny clips serialize on it. Each task
    * loads the reader/writer SPI lists once; the reader that matched
    * last is tried first (the corpus is single-format, and the
    * non-matching providers signal via thrown
    * UnsupportedAudioFileException — exception control flow the JDK
    * path pays too, per provider per row). */
  private final class AudioIoPool {
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}
    import scala.jdk.CollectionConverters._
    private val readers = java.util.ServiceLoader
      .load(classOf[AudioFileReader]).asScala.toList
    private val writers = java.util.ServiceLoader
      .load(classOf[AudioFileWriter]).asScala.toList
    private var preferred: AudioFileReader = null
    def read(bytes: Array[Byte], id: Long)
        : javax.sound.sampled.AudioInputStream = {
      val in = new java.io.ByteArrayInputStream(bytes)
      val ordered =
        if (preferred == null) readers
        else preferred :: readers.filterNot(_ eq preferred)
      ordered.iterator.flatMap { r =>
        in.reset()
        try { val ais = r.getAudioInputStream(in); preferred = r; Some(ais) }
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
        }
      }.nextOption().getOrElse(throw new IllegalArgumentException(
        s"Multimodal audio decode: no codec for doc $id"))
    }
    def write(ais: javax.sound.sampled.AudioInputStream,
        tpe: javax.sound.sampled.AudioFileFormat.Type,
        out: java.io.OutputStream, id: Long): Unit =
      writers.find(_.isFileTypeSupported(tpe, ais))
        .getOrElse(throw new IllegalArgumentException(
          s"Multimodal audio encode: no $tpe writer (doc $id)"))
        .write(ais, tpe, out)
  }

  /** Exact integer luminance sum (red channel of grayscale pixels). */
  private def lumSum(img: java.awt.image.BufferedImage): Long = {
    var lum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        lum += (img.getRGB(x, y) >> 16) & 0xff
        x += 1
      }
      y += 1
    }
    lum
  }

  /** Render REAL WAV bytes per row with javax.sound.sampled: 16-bit
    * signed little-endian mono PCM at 8 kHz, n = 200 + id mod 57
    * samples with s(i) = ((id*2654435761 + i*40503) mod 65536) - 32768
    * — a pure integer function of the id, so an external oracle can
    * recompute every sample without touching the bytes. The WAV
    * container (RIFF header + PCM payload) is written by the actual
    * AudioSystem encoder. */
  def encodeAudio(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        val fmt = new javax.sound.sampled.AudioFormat(
          8000f, 16, 1, true, false)
        val pool = new AudioIoPool // once per task (r14)
        ids.map { id =>
          val n = 200 + java.lang.Math.floorMod(id, 57L).toInt
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s = (java.lang.Math.floorMod(
              id * 2654435761L + i * 40503L, 65536L) - 32768L).toInt
            pcm(2 * i) = (s & 0xff).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          try pool.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos, id)
          finally ais.close()
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "media")
      .select(col("doc_id"), col("media"), struct(
        lit("wav").as("format"),
        lit(8000).as("sample_rate"),
        (lit(200) + pmod(col("doc_id"), lit(57))).cast("long")
          .as("n_samples"),
        length(col("media")).cast("long").as("n_bytes")).as("media_meta"))
  }

  /** REAL WAV decode: parse the container with AudioSystem (header is
    * NOT trusted from metadata), stream the PCM frames, and measure
    * exact integer stats — sample count, sum of absolute amplitudes,
    * peak. A corrupt payload or header breaks the oracle match. */
  def decodeAudioFeatures(
      df: DataFrame, parallelism: Int = 0): Dataset[AudioFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sized = if (parallelism > 0) df.repartition(parallelism) else df
    sized.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val pool = new AudioIoPool // once per task (r14)
        rows.map { case (id, bytes) =>
          val ais = pool.read(bytes, id)
          val (rate, pcm) =
            try {
              val f = ais.getFormat
              require(f.getSampleSizeInBits == 16 && !f.isBigEndian &&
                f.getChannels == 1,
                s"decodeAudioFeatures: unexpected format $f for doc $id")
              (f.getSampleRate.toInt, ais.readAllBytes())
            } finally ais.close()
          var absSum = 0L
          var peak = 0L
          var i = 0
          while (i + 1 < pcm.length) {
            val s = ((pcm(i) & 0xff) | (pcm(i + 1) << 8)).toShort.toLong
            val a = math.abs(s)
            absSum += a
            if (a > peak) peak = a
            i += 2
          }
          AudioFeature(id, rate, pcm.length / 2, absSum, peak)
        }
      }
  }

  /** Render REAL multi-frame video-like containers with the JRE's GIF
    * codec (the one bundled multi-frame format): 2 + id mod 4 grayscale
    * frames, each 4×3 with g(f, x, y) = (id*17 + f*29 + x*7 + y*13)
    * mod 256 — lossless for grayscale (the palette holds all 256
    * grays), so decoded frames must reproduce exact pixels. */
  def encodeVideo(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        // per-partition setup (amortized over all rows): the 256-gray
        // palette — GIF stores it verbatim, making the roundtrip
        // lossless (TYPE_BYTE_GRAY would get re-quantized to the
        // writer's default palette) — the writer itself, and the
        // non-progressive param (the JDK GIF writer interlaces by
        // default, and the reader mis-deinterlaces heights this small:
        // rows shift, data drops)
        val grays = Array.tabulate[Byte](256)(i => i.toByte)
        val icm = new java.awt.image.IndexColorModel(8, 256,
          grays, grays, grays)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("gif").next()
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(
          javax.imageio.ImageWriteParam.MODE_DISABLED)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => writer.dispose()))
        ids.map { id =>
          val nFrames = 2 + java.lang.Math.floorMod(id, 4L).toInt
          val bos = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nFrames) {
              val img = new java.awt.image.BufferedImage(
                4, 3, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
              var y = 0
              while (y < 3) {
                var x = 0
                while (x < 4) {
                  val g = java.lang.Math.floorMod(
                    id * 17 + f * 29 + x * 7 + y * 13, 256L).toInt
                  img.getRaster.setSample(x, y, 0, g)
                  x += 1
                }
                y += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, null), param)
              f += 1
            }
            writer.endWriteSequence()
          } finally ios.close() // writer disposed once per task (above)
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "media")
      .select(col("doc_id"), col("media"), struct(
        lit("gif").as("format"),
        (lit(2) + pmod(col("doc_id"), lit(4))).cast("int").as("n_frames"),
        lit(4).as("width"), lit(3).as("height"),
        length(col("media")).cast("long").as("n_bytes")).as("media_meta"))
  }

  /** REAL multi-frame decode + frame sampling in one pass: open the
    * container with the actual GIF reader, count the frames it holds
    * (header not trusted), decode every `everyNth`-th frame, and emit
    * one row per SAMPLED frame with exact pixel stats — the bounded
    * 1→N explode shape of frame sampling at scale (fan-out capped by
    * the container's frame count / everyNth). */
  def decodeVideoFrames(
      df: DataFrame, everyNth: Int = 2, parallelism: Int = 0): DataFrame = {
    require(everyNth > 0, "decodeVideoFrames: everyNth must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val sized = if (parallelism > 0) df.repartition(parallelism) else df
    sized.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val readers = new ImageReaderPool // once per task (r14)
        rows.flatMap { case (id, bytes) =>
          readers.withImage(bytes, id) { reader =>
            val n = reader.getNumImages(true)
            // .map materializes before the reader's input is released
            (0 until n by everyNth).map { f =>
              val img = reader.read(f)
              (id, n, f, img.getWidth, img.getHeight, lumSum(img))
            }
          }
        }
      }
      .toDF("doc_id", "n_frames", "frame_idx", "width", "height", "lum_sum")
  }

  /** Attach a deterministic synthetic binary payload + metadata struct to
    * each row (stands in for real image bytes; derived from the id so
    * every engine/run agrees). */
  def withSyntheticMedia(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("media",
        unhex(concat(Seq.range(0, 8).map(i =>
          md5(concat(col(idCol).cast("string"), lit(s"_chunk$i")))): _*)))
      .withColumn("media_meta", struct(
        when(pmod(col(idCol), lit(3)) === 0, "png")
          .when(pmod(col(idCol), lit(3)) === 1, "jpeg")
          .otherwise("wav").as("format"),
        (pmod(col(idCol), lit(64)) * 16 + 64).cast("int").as("width"),
        (pmod(col(idCol), lit(48)) * 16 + 64).cast("int").as("height"),
        length(col("media")).cast("long").as("n_bytes")))

  /** Batched decode + feature extraction over the binary column.
    *
    * The decoder body is a deterministic STUB (??? would be a codec call):
    * it "decodes" by folding payload bytes — byte-identical results
    * everywhere, so tests can assert on values. Partition count = decode
    * parallelism at scale.
    */
  def decodeFeatures(
      df: DataFrame, parallelism: Int = 0): Dataset[MediaFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sized = if (parallelism > 0) df.repartition(parallelism) else df
    sized
      .select(col("doc_id"), col("media"), col("media_meta"))
      .as[(Long, Array[Byte], (String, Int, Int, Long))]
      .mapPartitions { rows =>
        // per-partition decoder setup happens once here (stub: nothing)
        rows.map { case (id, bytes, (fmt, w, h, n)) =>
          // STUB decode: real impl would decompress and measure pixels.
          // Modular fold (no wrapping overflow) so an external engine
          // can reproduce the value exactly — the pipe_multimodal
          // oracle recomputes this in DuckDB from the hex payload.
          var acc = 0L
          var i = 0
          while (i < bytes.length) {
            acc = (acc * 31 + (bytes(i) & 0xff)) % 1000000007L
            i += 1
          }
          val brightness = (acc % 1000000) / 1000000.0
          MediaFeature(id, fmt, w, h, n, brightness)
        }
      }
  }

  /** REAL image resize through the actual codecs (r13 — retires the
    * former resizeStub): decode via the same sniff-and-open path as
    * [[decodeImageFeatures]], nearest-neighbor resample with the EXACT
    * integer source mapping src = ⌊dst·srcDim/dstDim⌋ (no fp, no
    * area-averaging — every output pixel is one input pixel, so an
    * external oracle recomputes resized pixel stats from the id
    * formula alone), re-encode in the sniffed format. Output keeps the
    * (doc_id, media, media_meta) shape of [[encodeImages]], so it
    * chains straight into decodeImageFeatures — the roundtrip the
    * pipe_multimodal_resize oracle checks end-to-end. Same
    * mapPartitions batch shape as every codec stage: decoder/encoder
    * setup amortizes over a partition, payloads stay binary. */
  def resizeImages(
      df: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0,
      s"resize target must be positive, got ${targetW}x$targetH")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val readers = new ImageReaderPool // once per task (r14)
        val writers = new ImageWriterPool
        rows.map { case (id, bytes) =>
          val (fmt, src) = readers.withImage(bytes, id)(r =>
            (r.getFormatName.toLowerCase, r.read(0)))
          val out = new java.awt.image.BufferedImage(
            targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val w = src.getWidth; val h = src.getHeight
          var y = 0
          while (y < targetH) {
            val sy = (y.toLong * h / targetH).toInt
            var x = 0
            while (x < targetW) {
              out.setRGB(x, y, src.getRGB((x.toLong * w / targetW).toInt, sy))
              x += 1
            }
            y += 1
          }
          // the writer pool fails LOUDLY with the doc id on a
          // reader-only sniffed format (r13 review), same contract as
          // the old write()-returns-false check
          (id, fmt, writers.write(out, fmt, id))
        }
      }
      .toDF("doc_id", "format", "media")
      .select(col("doc_id"), col("media"), struct(
        col("format"),
        lit(targetW).as("width"),
        lit(targetH).as("height"),
        length(col("media")).cast("long").as("n_bytes")).as("media_meta"))
  }

  /** Frame-sample plumbing for video-like payloads: split the payload
    * into `frameBytes` chunks, keep every `everyNth`-th chunk up to
    * `maxFrames` — the bounded 1→N explode shape real frame sampling
    * has at scale (fan-out is capped per row, so a shuffle after this
    * stage is ≤ maxFrames× the input rows, never payload-proportional). */
  def sampleFrames(
      df: DataFrame, frameBytes: Int = 16, everyNth: Int = 2,
      maxFrames: Int = 4): DataFrame = {
    require(frameBytes > 0 && everyNth > 0 && maxFrames > 0)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          bytes.grouped(frameBytes).zipWithIndex
            .filter { case (_, idx) => idx % everyNth == 0 }
            .take(maxFrames)
            .map { case (frame, idx) => (id, idx, frame) }
        }
      }
      .toDF("doc_id", "frame_idx", "frame")
  }

  /** End-to-end demo behind `pipe_multimodal`: synth media → decode →
    * per-format feature aggregate. */
  def featureSummary(docs: DataFrame): DataFrame = {
    val media = withSyntheticMedia(docs.select(col("doc_id")), "doc_id")
    decodeFeatures(media, parallelism = 8).toDF()
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("brightness")) + 1e-9, 4).as("avg_brightness"),
        max(col("width")).cast("long").as("max_w"),
        max(col("height")).cast("long").as("max_h"))
      .orderBy(col("format"))
  }
}
