package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.DocGen

/** Multimodal column plumbing: media content as opaque `binary` columns with
  * typed metadata, decoded in batch inside `mapPartitions` (the Scala
  * analogue of mapInPandas batches).
  *
  * The default paths decode REAL bytes with the JDK's own codecs (zero
  * external deps — PNG/TIFF/BMP/GIF/JPEG readers ship with the JVM):
  *
  *   - [[decodePng]] / [[resizePng]]: single-image assets as staged PNG
  *     payloads — `ImageIO.read`, real nearest-neighbor pixel resampling,
  *     value-checked against stage-time PRE-ENCODE expectations
  *   - [[tiffFeatures]] / [[sampleTiffFrames]]: multi-frame ("video") assets
  *     as staged multi-page TIFF payloads — real frame counting + per-frame
  *     pixel digests via the ImageIO reader sequence API
  *
  * [[StubDecoder]] remains ONLY as an explicit test seam for the
  * decoder-boundary type ([[MediaDecoder]]) — no query defaults to it.
  */
object Multimodal {

  final case class MediaRow(doc_id: String, media_ref: String, caption: String,
                            offset: Int, payload: Array[Byte])
  final case class MediaFeatures(doc_id: String, media_ref: String, width: Int,
                                 height: Int, n_frames: Int, feature: Array[Float])

  /** media spans → (doc, ref) — one row per span OCCURRENCE (a ref used
    * twice in a corpus yields two rows), the join-back side for per-asset
    * decode results.
    */
  def mediaSpans(spark: SparkSession, sfDir: String): DataFrame =
    DocGen.docs(spark, sfDir).toDF()
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .where(col("s.kind") === "media")
      .select(col("doc_id"), col("s.media_ref").as("media_ref"))

  /** media spans with a SYNTHETIC payload (md5 bytes of the ref) — the input
    * table of the [[MediaDecoder]] test seam; production assets arrive as
    * fetched bytes instead.
    */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    DocGen.docs(spark, sfDir).toDF()
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .where(col("s.kind") === "media")
      .select(col("doc_id"), col("s.media_ref").as("media_ref"),
        col("s.text").as("caption"), col("s.offset").as("offset"),
        unhex(md5(col("s.media_ref"))).as("payload"))

  /** The codec boundary AS A TYPE: a real pipeline passes an implementation
    * wrapping its image/audio/video libraries; everything on the Spark side
    * (binary column, mapPartitions batching, output schema) is independent of
    * which decoder rides the broadcast closure. Must be Serializable — one
    * instance is shipped to every task.
    */
  trait MediaDecoder extends Serializable {
    /** payload bytes → (width, height, n_frames, feature[8]) */
    def decode(payload: Array[Byte]): (Int, Int, Int, Array[Float])
  }

  /** TEST-SEAM decoder (no query defaults to this since the real ImageIO
    * paths landed): deterministic pseudo-metadata + 8-dim feature vector from
    * the payload bytes, for exercising the [[MediaDecoder]] plumbing without
    * staged image fixtures.
    */
  object StubDecoder extends MediaDecoder {
    def decode(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      def u(i: Int): Int = payload(i % payload.length) & 0xff
      val width = 64 + (u(0) << 2)
      val height = 64 + (u(1) << 2)
      val frames = 1 + u(2) % 32
      val feature = Array.tabulate(8)(i => (u(3 + i) - 128) / 128.0f)
      (width, height, frames, feature)
    }
  }

  /** 8-dim feature from REAL pixels: mean-centered red channel of the first 8
    * pixels in row-major order — shared by the distributed decode paths and
    * the stage-time pre-encode expectation, so oracle equality witnesses
    * actual pixel decoding. Exact in float (values are k/128 for integer k).
    */
  def featureOf(img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    Array.tabulate(8) { i =>
      val p = img.getRGB(i % w, (i / w) % h)
      (((p >> 16) & 0xff) - 128) / 128.0f
    }
  }

  // --------------------------------------------------------- real PNG path

  /** REAL image decode via JDK ImageIO (zero external deps — PNG/BMP/GIF/JPEG
    * codecs ship with the JVM). The staged `media_png.parquet` table carries
    * actual PNG-encoded payloads (KgStage generates tiny deterministic images
    * and encodes them with `ImageIO.write` at stage time, recording the
    * expected (width, height, pixel_md5) from the RAW pixels before
    * encoding); the distributed query reads ONLY (media_ref, png), decodes
    * with `ImageIO.read` inside mapPartitions, and must reproduce the
    * expected metadata + pixel digest — PNG is lossless, so any decode error
    * breaks the hash.
    */
  object ImageCodec {

    // ImageIO's default ImageInputStream is FILE-cache backed: every
    // ImageIO.read(InputStream) writes the payload to a temp file first —
    // one disk file create/write/delete PER IMAGE, and under 32 concurrent
    // decode tasks the temp-dir churn both slows the steady state and causes
    // multi-second stalls (measured: mm_decode_png 4.8-8 s erratic vs ~1 s
    // with the memory cache). Decoded pixels are identical either way — this
    // only switches the byte-source plumbing to MemoryCacheImageInputStream.
    javax.imageio.ImageIO.setUseCache(false)
    private[ops] def ensureInit(): Unit = ()

    /** cheap deterministic pixel mix (splitmix-style) — only the stage-time
      * GENERATORS use it; the decode side never recomputes pixels
      */
    private[ops] def mix(seed: Long, x: Int, y: Int): Int = {
      var z = seed + (x * 0x9e3779b97f4a7c15L) + (y * 0xbf58476d1ce4e5b9L)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) & 0xffffff).toInt
    }

    /** deterministic RGB image for (seed, w, h) — shared by the PNG and TIFF
      * frame generators
      */
    private[ops] def render(seed: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, mix(seed, x, y))
      img
    }

    /** tiny deterministic RGB image for a media ref (4..19 px per side) */
    def genImage(ref: String): java.awt.image.BufferedImage = {
      val seed = graft.core.Rng.streamKey(s"png#$ref")
      render(seed, 4 + (seed & 0xf).toInt, 4 + ((seed >>> 8) & 0xf).toInt)
    }

    def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** md5 over the decoded RGB bytes in row-major order — the cross-path
      * pixel-equality witness (identical for the pre-encode and post-decode
      * image iff the codec round-trips losslessly)
      */
    def pixelMd5(img: java.awt.image.BufferedImage): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val buf = new Array[Byte](3)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        buf(0) = ((rgb >> 16) & 0xff).toByte
        buf(1) = ((rgb >> 8) & 0xff).toByte
        buf(2) = (rgb & 0xff).toByte
        d.update(buf)
      }
      graft.kg.GoldRef.bytesToHex(d.digest())
    }

    final case class Decoded(width: Int, height: Int, pixel_md5: String)

    def decodePng(bytes: Array[Byte]): Decoded = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "ImageIO could not decode payload")
      Decoded(img.getWidth, img.getHeight, pixelMd5(img))
    }

    /** fit (w, h) inside a maxSide box preserving aspect ratio → (out_w,
      * out_h, scale rounded to 6dp). One Scala implementation shared by the
      * distributed resize and the stage-time expectation, so the oracle
      * equality can't drift on rounding.
      */
    def fitBox(w: Int, h: Int, maxSide: Int): (Int, Int, Double) = {
      val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
      val outW = math.max(1, math.round(w * scale).toInt)
      val outH = math.max(1, math.round(h * scale).toInt)
      val scale6 = BigDecimal(scale).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (outW, outH, scale6)
    }

    /** deterministic nearest-neighbor resample (integer floor source lookup)
      * — the REAL pixel transform behind mm_resize; the resized image's
      * pixelMd5 is the decode+resample witness
      */
    def resampleNearest(img: java.awt.image.BufferedImage,
                        outW: Int, outH: Int): java.awt.image.BufferedImage = {
      val w = img.getWidth
      val h = img.getHeight
      val out = new java.awt.image.BufferedImage(outW, outH,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < outH) {
        val sy = (y.toLong * h / outH).toInt
        var x = 0
        while (x < outW) {
          out.setRGB(x, y, img.getRGB((x.toLong * w / outW).toInt, sy))
          x += 1
        }
        y += 1
      }
      out
    }
  }

  // ------------------------------------------------- real multi-frame path

  /** Multi-frame ("video") assets as multi-page TIFF — the JDK's TIFF plugin
    * (JEP 262, since JDK 9) reads and writes lossless uncompressed RGB image
    * SEQUENCES, so frame counting and per-frame pixel digests exercise a real
    * container format end-to-end. Stage-time generates deterministic frames
    * (fixed dims per asset, 2..9 frames) and records per-frame pre-encode
    * digests; the distributed side decodes the byte payload only.
    */
  object FrameCodec {

    ImageCodec.ensureInit() // memory-cache ImageInputStreams (see ImageCodec)

    def frameCount(ref: String): Int = {
      val seed = graft.core.Rng.streamKey(s"tif#$ref")
      2 + ((seed >>> 16) & 0x7).toInt
    }

    /** deterministic frames for a ref: fixed (w, h) per asset, per-frame
      * seeded pixels
      */
    def genFrames(ref: String): Vector[java.awt.image.BufferedImage] = {
      val seed = graft.core.Rng.streamKey(s"tif#$ref")
      val w = 4 + (seed & 0xf).toInt
      val h = 4 + ((seed >>> 8) & 0xf).toInt
      (0 until frameCount(ref)).map { i =>
        ImageCodec.render(graft.core.Rng.streamKey(s"tif#$ref#f$i"), w, h)
      }.toVector
    }

    /** frames → one multi-page TIFF byte payload (ImageIO sequence writer,
      * default = uncompressed, lossless)
      */
    def tiffBytes(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val writers = javax.imageio.ImageIO.getImageWritersByFormatName("tiff")
      require(writers.hasNext, "JDK TIFF writer missing")
      val writer = writers.next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        frames.foreach(f =>
          writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      bos.toByteArray
    }

    /** one TIFF payload → all frames (real sequence decode) */
    def readFrames(bytes: Array[Byte]): Vector[java.awt.image.BufferedImage] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "ImageIO could not identify payload")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        require(n > 0, "empty image sequence")
        (0 until n).map(reader.read).toVector
      } finally {
        reader.dispose()
        iis.close()
      }
    }
  }

  /** ImageIO-backed [[MediaDecoder]]: payload bytes are a real encoded image;
    * metadata and the 8-dim feature come from actual pixel decoding.
    */
  object ImageIoDecoder extends MediaDecoder {
    ImageCodec.ensureInit() // memory-cache ImageInputStreams (see ImageCodec)
    def decode(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "ImageIO could not decode payload")
      (img.getWidth, img.getHeight, 1, featureOf(img))
    }
  }

  final case class PngRow(media_ref: String, png: Array[Byte])
  final case class PngDecoded(media_ref: String, width: Int, height: Int, pixel_md5: String)

  /** widen a staged single-file payload scan to the executor cores before
    * per-row codec work — the staged tables are written coalesce(1), so
    * without this every decode mapPartitions runs on ONE core. Measured at
    * sf0.1: mm_media_features 5.0 → 3.0 s and mm_frame_sample 5.8 → 2.9 s
    * steady state; the residual is the doc-span scan on the join-back side,
    * not decode.
    */
  private def widened(df: DataFrame): DataFrame = graft.core.SparkUtil.widen(df)

  /** Distributed PNG decode over the staged payload table: reads ONLY
    * (media_ref, png) — column pruning keeps the staged expectation columns
    * out of the scan — and emits real decoded metadata. The driver oracle
    * compares against the stage-time pre-encode values.
    */
  def decodePng(spark: SparkSession, pngTable: String): DataFrame = {
    import spark.implicits._
    widened(spark.read.parquet(pngTable)
      .select(col("media_ref"), col("png"))).as[PngRow]
      .mapPartitions(_.map { r =>
        val d = ImageCodec.decodePng(r.png)
        PngDecoded(r.media_ref, d.width, d.height, d.pixel_md5)
      }).toDF()
  }

  /** context tokens one media asset expands to in an interleaved training
    * sequence (vision-LM patch-token budget), and the window size the
    * sequence is cut into. */
  val ImgTokens = 32
  val InterleaveWindow = 256

  /** Interleaved-sequence token budgeting (Alayrac et al. 2022 Flamingo §A;
    * every interleaved text+media loader): a media span does not cost one
    * token — it expands to [[ImgTokens]] patch tokens when the sequence is
    * assembled. Per document: text-token count, media count, the true
    * interleaved sequence length, and how many [[InterleaveWindow]]-token
    * context windows the doc occupies. The budget drives packing, sharding,
    * and cost estimates for multimodal pretraining.
    *
    * Scale: ZERO shuffle — the counts come from `size(filter(spans, ...))`
    * over each row's own span array, a codegen'd projection on the doc
    * scan; nothing is exploded or re-grouped.
    */
  def interleaveBudget(spark: SparkSession, sfDir: String): DataFrame = {
    graft.kg.DocGen.docs(spark, sfDir).toDF()
      .select(col("doc_id"),
        size(filter(col("spans"), s => s.getField("kind") === "text"))
          .as("n_text_tokens"),
        size(filter(col("spans"), s => s.getField("kind") === "media"))
          .as("n_media"))
      .withColumn("seq_tokens",
        col("n_text_tokens") + lit(ImgTokens) * col("n_media"))
      .withColumn("n_windows",
        ceil(col("seq_tokens") / lit(InterleaveWindow.toDouble)).cast("int"))
  }

  final case class VariantRow(media_ref: String, variant: String, payload: Array[Byte])
  final case class VariantDecoded(media_ref: String, variant: String, pixel_md5: String)

  /** Pixel-level media dedup over the staged variants table: decodes every
    * payload (`ImageIO.read` sniffs the container, so the PNG and TIFF
    * variants go through the same code path), digests the RAW pixels, and
    * groups by the digest — catching byte-different re-encodes and
    * cross-asset pixel copies that byte/hash dedup (dedup_exact on payload
    * md5) structurally cannot. Emits one row per payload with its duplicate
    * group's size, distinct-asset count, and a deterministic keeper flag
    * (lexicographic min of media_ref#variant).
    *
    * Scale shape: decode is mapPartitions over the widened payload scan
    * (zero shuffle); the group stats are ONE two-phase hash aggregation
    * keyed by the pixel digest (uniform — a crypto hash); the join back is
    * keyed by the same digest so the exchange is reused, and a
    * pathologically hot digest (one image in millions of copies) is AQE
    * skew-split. Payload bytes never shuffle — only (ref, variant, digest)
    * triples do.
    */
  def dedupPixels(spark: SparkSession, variantsTable: String): DataFrame = {
    import spark.implicits._
    // persist the slim digest triples: they feed BOTH the group aggregation
    // and the join-back, and an unpersisted lineage would re-decode every
    // payload a second time
    val decoded = widened(spark.read.parquet(variantsTable)
      .select(col("media_ref"), col("variant"), col("payload"))).as[VariantRow]
      .mapPartitions(_.map { r =>
        VariantDecoded(r.media_ref, r.variant, ImageCodec.decodePng(r.payload).pixel_md5)
      }).toDF().persist()
    val groups = decoded.groupBy("pixel_md5")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct("media_ref").as("n_assets"),
        min(concat_ws("#", col("media_ref"), col("variant"))).as("keeper"))
    val out = decoded.join(groups, Seq("pixel_md5"))
      .select(col("media_ref"), col("variant"), col("pixel_md5"),
        col("n_copies"), col("n_assets"),
        (concat_ws("#", col("media_ref"), col("variant")) === col("keeper"))
          .cast("int").as("is_keeper"))
    graft.core.SparkUtil.materialize(out, decoded)
  }

  /** the box side mm_resize fits into — smaller than most staged assets
    * (4..19 px), so real downscales happen; shared with the stage-time
    * expectation
    */
  val ResizeMaxSide = 8

  final case class ResizedRow(media_ref: String, width: Int, height: Int,
                              out_width: Int, out_height: Int, scale: Double,
                              resized_md5: String)

  /** REAL resize over the staged PNG payloads: `ImageIO.read`, aspect-fit box
    * math, nearest-neighbor pixel resample, md5 of the RESIZED pixels — then
    * a broadcast join back onto the doc-span occurrences (assets ≪
    * occurrences; the decoded side is one slim row per distinct asset, far
    * under broadcast limits by construction). The oracle compares against
    * stage-time expectations computed from the pre-encode image with the same
    * shared fitBox/resample, so a pass witnesses actual pixel decoding AND
    * resampling.
    */
  def resizePng(spark: SparkSession, sfDir: String, pngTable: String,
                maxSide: Int = ResizeMaxSide): DataFrame = {
    import spark.implicits._
    val decoded = widened(spark.read.parquet(pngTable)
      .select(col("media_ref"), col("png"))).as[PngRow]
      .mapPartitions(_.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.png))
        require(img != null, "ImageIO could not decode payload")
        val (ow, oh, scale) = ImageCodec.fitBox(img.getWidth, img.getHeight, maxSide)
        ResizedRow(r.media_ref, img.getWidth, img.getHeight, ow, oh, scale,
          ImageCodec.pixelMd5(ImageCodec.resampleNearest(img, ow, oh)))
      }).toDF()
    mediaSpans(spark, sfDir).join(broadcast(decoded), Seq("media_ref"))
      .select(col("doc_id"), col("media_ref"), col("width"), col("height"),
        col("out_width"), col("out_height"), col("scale"), col("resized_md5"))
  }

  final case class TiffRow(media_ref: String, tiff: Array[Byte])
  final case class TiffFeatures(media_ref: String, width: Int, height: Int,
                                n_frames: Int, feature: Array[Float])
  final case class FrameRow(media_ref: String, n_frames: Int, frame_idx: Int,
                            frame_md5: String)

  /** REAL feature extraction over the staged multi-frame TIFF payloads:
    * decode the sequence, count frames (real container metadata), features
    * from frame 0's actual pixels; broadcast-joined back to doc-span
    * occurrences. Value-checked against per-asset pre-encode expectations.
    */
  def tiffFeatures(spark: SparkSession, sfDir: String, tiffTable: String): DataFrame = {
    import spark.implicits._
    val decoded = widened(spark.read.parquet(tiffTable)
      .select(col("media_ref"), col("tiff"))).as[TiffRow]
      .mapPartitions(_.map { r =>
        val frames = FrameCodec.readFrames(r.tiff)
        val f0 = frames.head
        TiffFeatures(r.media_ref, f0.getWidth, f0.getHeight, frames.length, featureOf(f0))
      }).toDF()
    mediaSpans(spark, sfDir).join(broadcast(decoded), Seq("media_ref"))
      .select(col("doc_id"), col("media_ref"), col("width"), col("height"),
        col("n_frames"), col("feature"))
  }

  /** REAL frame sampling: decode the TIFF sequence, take every `stride`-th
    * frame, digest each sampled frame's actual pixels. Fan-out stays
    * ceil(n/stride) per asset; the per-frame md5s are value-checked against
    * the stage-time pre-encode digests of the same frames.
    */
  def sampleTiffFrames(spark: SparkSession, sfDir: String, tiffTable: String,
                       stride: Int = 4): DataFrame = {
    import spark.implicits._
    val decoded = widened(spark.read.parquet(tiffTable)
      .select(col("media_ref"), col("tiff"))).as[TiffRow]
      .mapPartitions(_.flatMap { r =>
        val frames = FrameCodec.readFrames(r.tiff)
        (0 until frames.length by stride).map(i =>
          FrameRow(r.media_ref, frames.length, i, ImageCodec.pixelMd5(frames(i))))
      }).toDF()
    mediaSpans(spark, sfDir).join(broadcast(decoded), Seq("media_ref"))
      .select(col("doc_id"), col("media_ref"), col("n_frames"), col("frame_idx"),
        concat(col("media_ref"), lit("#f"), col("frame_idx")).as("frame_ref"),
        col("frame_md5"))
  }

  /** generic decoder-seam feature extraction over binary media columns —
    * batched per partition; callers choose the decoder explicitly (specs use
    * [[StubDecoder]]/custom seams, production wraps its codec libraries).
    */
  def mediaFeatures(spark: SparkSession, sfDir: String,
                    decoder: MediaDecoder): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir).as[MediaRow].mapPartitions { it =>
      it.map { m =>
        val (w, h, f, feat) = decoder.decode(m.payload)
        MediaFeatures(m.doc_id, m.media_ref, w, h, f, feat)
      }
    }.toDF()
  }
}
