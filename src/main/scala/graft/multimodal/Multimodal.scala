package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: images/audio/video travel as opaque
  * `binary` columns with a typed metadata struct; decode/feature steps
  * run per-partition in batches.
  *
  * Image decode is REAL: [[decodeImages]] reads the binary column with
  * `javax.imageio` (JDK built-in — PNG/JPEG/GIF/BMP) and emits actual
  * format/width/height plus a pixel-luminance histogram feature.
  * Audio decode is REAL too: [[decodeAudio]] parses WAV containers with
  * `javax.sound.sampled` (JDK built-in) — true encoding/sample-rate/
  * channels/bit-depth/frame-count plus RMS and amplitude histogram
  * from the actual PCM frames. Video is REAL for the MJPEG-AVI
  * subset: [[toAviAssets]]/[[sampleVideoFrames]] write and walk the
  * RIFF container and decode the per-frame baseline JPEGs with
  * ImageIO. Inter-frame codecs (H.264/VP9/AV1) and compressed audio
  * are not in the JDK, so [[stubDecode]] remains as the documented
  * stand-in for THOSE only: it derives deterministic fake features
  * from the bytes while keeping the production contract — schema,
  * batched per-partition execution, partition sizing — identical, so
  * swapping in a real codec (JNI or an Arrow-IPC sidecar process)
  * changes nothing around it.
  */
object Multimodal {

  val assetSchema: StructType = StructType(
    Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true),
      StructField(
        "meta",
        StructType(
          Seq(
            StructField("mime", StringType, nullable = true),
            StructField("n_bytes", IntegerType, nullable = true),
            StructField("source", StringType, nullable = true),
          )
        ),
      ),
    )
  )

  /** Wrap any (id, text, source) frame as a binary-asset frame — the
    * ingest step a real pipeline does when landing media blobs.
    */
  def asAssets(df: DataFrame, idCol: String, payloadCol: String, sourceCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      encode(col(payloadCol), "UTF-8").as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        length(encode(col(payloadCol), "UTF-8")).as("n_bytes"),
        col(sourceCol).as("source"),
      ).as("meta"),
    )

  val featureSchema: StructType = StructType(
    Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = true),
      StructField("checksum", LongType, nullable = true),
      StructField("feature", ArrayType(DoubleType), nullable = true),
    )
  )

  val imageFeatureSchema: StructType = StructType(
    Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_bytes", IntegerType, nullable = true),
      StructField("luma_hist", ArrayType(DoubleType), nullable = true),
    )
  )

  /** Deterministically render each asset's bytes as a real PNG: pixels
    * are the payload bytes laid out row-major as 8-bit grayscale,
    * `width` columns wide, truncated at `maxPixels`. This is the
    * ingest-side encode a media pipeline performs when normalizing
    * blobs, and it makes [[decodeImages]] a genuine codec round-trip
    * (ImageIO PNG write → read) rather than a fixture-only path.
    */
  def toPngAssets(assets: DataFrame, width: Int = 32, maxPixels: Int = 4096): DataFrame = {
    val spark = assets.sparkSession
    val w = width
    val cap = maxPixels
    val rdd = assets.select(col("asset_id"), col("content"), col("meta.source")).rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // no executor-local temp files
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val n = math.min(math.max(bytes.length, 1), cap)
        val h = (n + w - 1) / w
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0
        while (i < w * h) {
          raster.setSample(i % w, i / w, 0, if (i < bytes.length) bytes(i) & 0xff else 0)
          i += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Row(id, out.toByteArray, Row("image/png", out.size(), r.getString(2)))
      }
    }
    spark.createDataFrame(rdd, assetSchema)
  }

  val phashSchema: StructType = StructType(
    Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
    )
  )

  /** DCT-II basis for the 32-point pHash transform, precomputed once
    * per JVM: C(k, x) = cos(π·(2x+1)·k / 64). Fixed table + fixed loop
    * order make the transform bit-identical on every run/partitioning.
    */
  @transient private lazy val dctBasis: Array[Array[Double]] =
    Array.tabulate(32, 32)((k, x) => math.cos(math.Pi * (2 * x + 1) * k / 64.0))

  /** Perceptual image hash (pHash, the DCT scheme of Zauner 2010 —
    * LAION-style image dedup's workhorse): REAL decode → integer
    * 32×32 box resize (raw raster samples, like [[resizeImages]]) →
    * 2D DCT-II → the 8×8 low-frequency block minus DC, thresholded at
    * its median → a 63-bit signature. Per-row compiled loop, no
    * shuffle; undecodable blobs hash to null. Near-identical images
    * differ in a few bits; unrelated images in ~half.
    */
  def perceptualHash(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = assets.sparkSession
    val rdd = assets.select(col("asset_id"), col("content")).rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val id = r.getLong(0)
          val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
          readImage(bytes) match {
            case None => Row(id, null, null, null)
            case Some((_, img)) =>
              val (w, h) = (img.getWidth, img.getHeight)
              // integer box means onto a fixed 32×32 grid (clipped blocks)
              val g = Array.ofDim[Double](32, 32)
              val fx = math.max(1, (w + 31) / 32)
              val fy = math.max(1, (h + 31) / 32)
              var by = 0
              while (by < 32) {
                var bx = 0
                while (bx < 32) {
                  var sum = 0L
                  var cnt = 0L
                  var y = math.min(by * fy, h - 1)
                  val yEnd = math.min((by + 1) * fy, h)
                  while (y < yEnd) {
                    var x = math.min(bx * fx, w - 1)
                    val xEnd = math.min((bx + 1) * fx, w)
                    while (x < xEnd) {
                      sum += lumaAt(img, x, y)
                      cnt += 1
                      x += 1
                    }
                    y += 1
                  }
                  g(by)(bx) = sum.toDouble / math.max(cnt, 1L)
                  bx += 1
                }
                by += 1
              }
              // 2D DCT-II, low-frequency 8×8 block only (fixed order)
              val dct = Array.ofDim[Double](8, 8)
              var u = 0
              while (u < 8) {
                var v = 0
                while (v < 8) {
                  var acc = 0.0
                  var y = 0
                  while (y < 32) {
                    var x = 0
                    while (x < 32) {
                      acc += g(y)(x) * dctBasis(u)(y) * dctBasis(v)(x)
                      x += 1
                    }
                    y += 1
                  }
                  dct(u)(v) = acc
                  v += 1
                }
                u += 1
              }
              val coeffs = (for { u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0 } yield dct(u)(v)).toArray
              val median = coeffs.sorted.apply(coeffs.length / 2)
              var hash = 0L
              var i = 0
              while (i < coeffs.length) {
                if (coeffs(i) > median) hash |= 1L << i
                i += 1
              }
              Row(id, hash, w, h)
          }
        }
      }
    }
    spark.createDataFrame(rdd, phashSchema)
  }

  /** Near-duplicate image pairs from perceptual hashes:
    * [[graft.functions.HammingJoin.pairs]] at the image trade — 8
    * bands of 8 bits (exact-distance budget 7), true distance
    * recomputed by the survivor filter. The image twin of the SimHash
    * path.
    *
    * `maxDf` > 0 drops band buckets shared by more than `maxDf`
    * assets BEFORE the join — flat/near-blank images (AC block at or
    * under the median everywhere) all land in bucket 0 of every
    * band, and that one bucket alone makes the join quadratic on a
    * crawl-scale corpus; 0 disables the cap (exact).
    */
  def phashPairs(hashes: DataFrame, maxHamming: Int = 7, maxDf: Long = 0L): DataFrame =
    graft.functions.HammingJoin
      .pairs(hashes, "asset_id", "phash", bands = 8, maxHamming = maxHamming, maxDf = maxDf)
      .select(col("id_a").as("asset_a"), col("id_b").as("asset_b"), col("hamming"))

  /** REAL image decode: `javax.imageio` over the binary column, batched
    * per partition (the Scala analog of `mapInPandas`). Emits the
    * container format, true pixel dimensions, and a 4-bin luminance
    * histogram computed from the decoded raster. Bytes that no
    * installed reader recognizes produce a null format/dims row rather
    * than failing the task — at 100 TB some blobs are always corrupt.
    */
  def decodeImages(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = assets.sparkSession
    val rdd = assets
      .select(col("asset_id"), col("content"))
      .rdd
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // keep decode in-memory on executors
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
            decodeOne(bytes) match {
              case Some((fmt, wd, ht, hist)) => Row(id, fmt, wd, ht, bytes.length, hist.toSeq)
              case None => Row(id, null, null, null, bytes.length, null)
            }
          }
        }
      }
    spark.createDataFrame(rdd, imageFeatureSchema)
  }

  /** Decode one blob: format name from the matching ImageReader, dims +
    * luminance histogram from the decoded BufferedImage. Returns None
    * when no reader claims the bytes or the decode throws.
    */
  private def decodeOne(bytes: Array[Byte]): Option[(String, Int, Int, Array[Double])] =
    readImage(bytes).map { case (fmt, img) =>
      val (w, h) = (img.getWidth, img.getHeight)
      val hist = new Array[Double](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          // integer Rec.601 luma — deterministic across platforms
          val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
          hist(math.min(luma / 64, 3)) += 1.0
          x += 1
        }
        y += 1
      }
      val total = (w.toLong * h).toDouble
      (fmt, w, h, hist.map(_ / total))
    }

  /** REAL image resize — the normalization step every multimodal
    * training pipeline runs before feature extraction. Decodes with
    * `javax.imageio`, downscales by an integer box filter (plain mean
    * of each `f × f` pixel block in integer arithmetic — unlike
    * Graphics2D interpolation hints, identical on every JVM and
    * platform), re-encodes as PNG, and emits an asset frame, so the
    * output composes with [[decodeImages]] into a decode → resize →
    * decode chain that is a genuine double codec round trip. `f` is
    * chosen per image as the smallest factor bringing both dimensions
    * within `maxDim` (already-small images pass through f = 1, still
    * re-encoded). Output dims are ⌈w/f⌉ × ⌈h/f⌉ — a pure function of
    * the input dims, which the oracle exploits. Undecodable blobs pass
    * through with null content.
    */
  def resizeImages(assets: DataFrame, maxDim: Int = 16, batchSize: Int = 64): DataFrame = {
    val spark = assets.sparkSession
    val cap = maxDim
    val rdd = assets.select(col("asset_id"), col("content"), col("meta.source")).rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val id = r.getLong(0)
          val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
          readImage(bytes) match {
            case None => Row(id, null, Row(null, null, r.getString(2)))
            case Some((_, img)) =>
              val (w, h) = (img.getWidth, img.getHeight)
              val f = math.max(1, math.max((w + cap - 1) / cap, (h + cap - 1) / cap))
              val (nw, nh) = ((w + f - 1) / f, (h + f - 1) / f)
              val small = new java.awt.image.BufferedImage(nw, nh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
              val raster = small.getRaster
              var by = 0
              while (by < nh) {
                var bx = 0
                while (bx < nw) {
                  // integer mean of the f×f block (clipped at the edges)
                  var sum = 0L
                  var cnt = 0L
                  var y = by * f
                  while (y < math.min((by + 1) * f, h)) {
                    var x = bx * f
                    while (x < math.min((bx + 1) * f, w)) {
                      sum += lumaAt(img, x, y)
                      cnt += 1
                      x += 1
                    }
                    y += 1
                  }
                  raster.setSample(bx, by, 0, (sum / math.max(cnt, 1L)).toInt)
                  bx += 1
                }
                by += 1
              }
              val out = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(small, "png", out)
              Row(id, out.toByteArray, Row("image/png", out.size(), r.getString(2)))
          }
        }
      }
    }
    spark.createDataFrame(rdd, assetSchema)
  }

  /** Pixel luminance for resize/frame math. Single-band (grayscale)
    * rasters read the RAW sample: `getRGB` on TYPE_BYTE_GRAY routes
    * through the ICC gray→sRGB conversion (7 → 46, 100 → 168 —
    * measured), which would make payload↔pixel arithmetic inexact and
    * ICC-profile-dependent. Multi-band images use the integer Rec.601
    * luma of the sRGB value, like [[decodeImages]].
    */
  private def lumaAt(img: java.awt.image.BufferedImage, x: Int, y: Int): Int =
    if (img.getRaster.getNumBands == 1) img.getRaster.getSample(x, y, 0)
    else {
      val rgb = img.getRGB(x, y)
      (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
    }

  /** Decode one blob into (formatName, BufferedImage), or None when no
    * installed reader claims the bytes.
    */
  private def readImage(bytes: Array[Byte]): Option[(String, java.awt.image.BufferedImage)] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            Some((reader.getFormatName.toLowerCase, reader.read(0)))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case _: Exception => None }

  val frameFeatureSchema: StructType = StructType(
    Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("mean_luma", DoubleType, nullable = true),
    )
  )

  /** Deterministically render each asset's bytes as a REAL multi-frame
    * TIFF (the JDK's only multi-page image container — the stand-in
    * for a video clip): payload bytes are cut into `frameW × frameH`
    * 8-bit grayscale frames (last frame zero-padded), written with
    * `ImageWriter.writeToSequence`. Frame count =
    * ⌈min(max(len,1),maxPixels·maxFrames)/ (frameW·frameH)⌉ — a pure
    * function of payload length, which the oracle exploits. Like
    * [[toPngAssets]]/[[toWavAssets]], this is the ingest normalization
    * that makes [[sampleFrames]] a genuine container round trip.
    */
  def toTiffAssets(assets: DataFrame, frameW: Int = 16, frameH: Int = 16, maxFrames: Int = 16): DataFrame = {
    val spark = assets.sparkSession
    val (fw, fh, cap) = (frameW, frameH, maxFrames)
    val rdd = assets.select(col("asset_id"), col("content"), col("meta.source")).rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val pixelsPerFrame = fw * fh
        val n = math.min(math.max(bytes.length, 1), pixelsPerFrame * cap)
        val nFrames = (n + pixelsPerFrame - 1) / pixelsPerFrame
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
        val out = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(out)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var fi = 0
          while (fi < nFrames) {
            val img = new java.awt.image.BufferedImage(fw, fh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val raster = img.getRaster
            var i = 0
            while (i < pixelsPerFrame) {
              val gi = fi * pixelsPerFrame + i
              raster.setSample(i % fw, i / fw, 0, if (gi < bytes.length) bytes(gi) & 0xff else 0)
              i += 1
            }
            writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
            fi += 1
          }
          writer.endWriteSequence()
        } finally {
          writer.dispose()
          ios.close()
        }
        Row(id, out.toByteArray, Row("image/tiff", out.size(), r.getString(2)))
      }
    }
    spark.createDataFrame(rdd, assetSchema)
  }

  /** REAL frame sampling over a multi-frame container — the video
    * frame-sample verb, realized on multi-page TIFF (the container the
    * JDK can truly decode): `ImageReader.getNumImages` walks the
    * directory, every `everyN`-th frame (from `offset`) is actually
    * decoded, and each sampled frame emits its true dims plus the
    * integer-exact mean luminance of its decoded pixels. Batched
    * per-partition like every decode step; unreadable blobs emit no
    * frames. mean_luma is floor-scaled to 1e-6 (integer sum / pixel
    * count), deterministic on any platform.
    */
  def sampleFrames(assets: DataFrame, everyN: Int = 2, offset: Int = 0, batchSize: Int = 64): DataFrame = {
    require(everyN >= 1, "everyN must be at least 1")
    val spark = assets.sparkSession
    val (stride, off) = (everyN, offset)
    val rdd = assets
      .select(col("asset_id"), col("content"))
      .rdd
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { r =>
            val id = r.getLong(0)
            val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
            try {
              val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
              try {
                val readers = javax.imageio.ImageIO.getImageReaders(iis)
                if (!readers.hasNext) Iterator.empty
                else {
                  val reader = readers.next()
                  try {
                    reader.setInput(iis)
                    val n = reader.getNumImages(true)
                    (off until n by stride).iterator.map { fi =>
                      val img = reader.read(fi)
                      val (w, h) = (img.getWidth, img.getHeight)
                      var sum = 0L
                      var y = 0
                      while (y < h) {
                        var x = 0
                        while (x < w) {
                          sum += lumaAt(img, x, y)
                          x += 1
                        }
                        y += 1
                      }
                      val mean = math.floor(sum.toDouble * 1e6 / (w.toLong * h)) / 1e6
                      Row(id, fi, w, h, mean)
                    }.toVector
                  } finally reader.dispose()
                }
              } finally if (iis != null) iis.close()
            } catch { case _: Exception => Iterator.empty }
          }
        }
      }
    spark.createDataFrame(rdd, frameFeatureSchema)
  }

  /** Deterministically render each asset's bytes as a REAL MJPEG AVI
    * clip — the honest floor of the video arm: the AVI container is
    * RIFF (the same chunk grammar the WAV path walks) and MJPEG frames
    * are baseline JPEGs the JDK encodes/decodes natively, so the whole
    * round trip is real; only inter-frame codecs (H.264/VP9/AV1) stay
    * out of JDK reach. Payload bytes are cut into `frameW × frameH`
    * 8-bit grayscale frames exactly like [[toTiffAssets]] (same frame
    * count formula — a pure function of payload length, which the
    * oracle exploits), each JPEG-encoded and laid out as the standard
    * structure: `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
    * LIST('movi' '00dc'…) idx1)`.
    */
  def toAviAssets(
      assets: DataFrame,
      frameW: Int = 16,
      frameH: Int = 16,
      fps: Int = 10,
      maxFrames: Int = 16,
  ): DataFrame = {
    val spark = assets.sparkSession
    val (fw, fh, rate, cap) = (frameW, frameH, fps, maxFrames)
    val rdd = assets.select(col("asset_id"), col("content"), col("meta.source")).rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val pixelsPerFrame = fw * fh
        val n = math.min(math.max(bytes.length, 1), pixelsPerFrame * cap)
        val nFrames = (n + pixelsPerFrame - 1) / pixelsPerFrame
        val jpegs = (0 until nFrames).map { fi =>
          val img = new java.awt.image.BufferedImage(fw, fh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var i = 0
          while (i < pixelsPerFrame) {
            val gi = fi * pixelsPerFrame + i
            raster.setSample(i % fw, i / fw, 0, if (gi < bytes.length) bytes(gi) & 0xff else 0)
            i += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpeg", out)
          out.toByteArray
        }
        val avi = writeAvi(fw, fh, rate, jpegs)
        Row(id, avi, Row("video/x-msvideo", avi.length, r.getString(2)))
      }
    }
    spark.createDataFrame(rdd, assetSchema)
  }

  /** Serialize MJPEG frames into the AVI RIFF layout. All sizes
    * little-endian; chunk payloads pad to even length per RIFF.
    */
  private def writeAvi(w: Int, h: Int, fps: Int, jpegs: Seq[Array[Byte]]): Array[Byte] = {
    def fourcc(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def le32(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def le16(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(2).order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array()
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = if (payload.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray
      fourcc(id) ++ le32(payload.length) ++ payload ++ pad
    }
    def list(listType: String, payload: Array[Byte]): Array[Byte] =
      fourcc("LIST") ++ le32(payload.length + 4) ++ fourcc(listType) ++ payload

    val maxJpeg = if (jpegs.isEmpty) 0 else jpegs.map(_.length).max
    val avih = le32(1000000 / math.max(fps, 1)) ++ le32(maxJpeg * fps) ++ le32(0) ++
      le32(0x10 /* AVIF_HASINDEX */ ) ++ le32(jpegs.size) ++ le32(0) ++ le32(1) ++ le32(maxJpeg) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fourcc("vids") ++ fourcc("MJPG") ++ le32(0) ++ le16(0) ++ le16(0) ++ le32(0) ++
      le32(1) ++ le32(fps) ++ le32(0) ++ le32(jpegs.size) ++ le32(maxJpeg) ++ le32(-1) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++ fourcc("MJPG") ++
      le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list(
      "hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)),
    )
    val frameChunks = jpegs.map(j => chunk("00dc", j))
    val movi = list("movi", frameChunks.flatten.toArray)
    // idx1: offsets are relative to the 'movi' fourcc (the common
    // convention), one AVIIF_KEYFRAME entry per frame
    val idxEntries = {
      var off = 4
      jpegs.map { j =>
        val e = fourcc("00dc") ++ le32(0x10) ++ le32(off) ++ le32(j.length)
        off += 8 + j.length + (j.length % 2)
        e
      }
    }
    val idx1 = chunk("idx1", idxEntries.flatten.toArray)
    val body = fourcc("AVI ") ++ hdrl ++ movi ++ idx1
    fourcc("RIFF") ++ le32(body.length) ++ body
  }

  /** REAL video frame sampling — the MJPEG-AVI realization of the
    * frame-sample verb: walk the RIFF chunk tree to `LIST('movi')`,
    * take every `everyN`-th `##dc`/`##db` frame chunk (from `offset`),
    * decode each sampled JPEG with ImageIO and emit its true dims plus
    * the integer-exact mean luminance of the DECODED pixels (floor-
    * scaled to 1e-6, like [[sampleFrames]]). Bytes that are not a RIFF
    * AVI, or frames no installed reader decodes, emit no rows rather
    * than failing the task. Batched per partition like every decode
    * step.
    */
  def sampleVideoFrames(assets: DataFrame, everyN: Int = 2, offset: Int = 0, batchSize: Int = 64): DataFrame = {
    require(everyN >= 1, "everyN must be at least 1")
    val spark = assets.sparkSession
    val (stride, off) = (everyN, offset)
    val rdd = assets
      .select(col("asset_id"), col("content"))
      .rdd
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { r =>
            val id = r.getLong(0)
            val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
            val frames =
              try aviFrames(bytes)
              catch { case _: Exception => Vector.empty[Array[Byte]] }
            frames.zipWithIndex.collect {
              case (jpeg, fi) if fi >= off && (fi - off) % stride == 0 =>
                try {
                  val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
                  if (img == null) None
                  else {
                    val (w, h) = (img.getWidth, img.getHeight)
                    var sum = 0L
                    var y = 0
                    while (y < h) {
                      var x = 0
                      while (x < w) { sum += lumaAt(img, x, y); x += 1 }
                      y += 1
                    }
                    val mean = math.floor(sum.toDouble * 1e6 / (w.toLong * h)) / 1e6
                    Some(Row(id, fi, w, h, mean))
                  }
                } catch { case _: Exception => None }
            }.flatten
          }
        }
      }
    spark.createDataFrame(rdd, frameFeatureSchema)
  }

  /** Video frame chunks of one AVI blob, in stream order. RIFF walk:
    * `RIFF('AVI ' …)` at the top, then chunks/LISTs with even-padded
    * payloads; frames are the `##dc`/`##db` chunks inside
    * `LIST('movi')` (including nested `LIST('rec ')` groups).
    */
  private[multimodal] def aviFrames(bytes: Array[Byte]): Vector[Array[Byte]] = {
    if (bytes.length < 12) return Vector.empty
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); buf.get(b)
      new String(b, java.nio.charset.StandardCharsets.US_ASCII)
    }
    if (fourcc() != "RIFF") return Vector.empty
    val riffSize = buf.getInt()
    if (fourcc() != "AVI ") return Vector.empty
    val end = math.min(8L + riffSize, bytes.length.toLong).toInt
    val out = Vector.newBuilder[Array[Byte]]

    def walk(limit: Int, inMovi: Boolean): Unit = {
      while (buf.position() + 8 <= limit) {
        val id = fourcc()
        val size = buf.getInt()
        val dataStart = buf.position()
        val dataEnd = dataStart + size
        if (size < 0 || dataEnd > limit) return // corrupt size: stop
        if (id == "LIST") {
          val listType = fourcc()
          walk(dataEnd, inMovi || listType == "movi")
        } else if (inMovi && size > 0 && id.length == 4 && (id.endsWith("dc") || id.endsWith("db"))) {
          val frame = new Array[Byte](size)
          buf.get(frame)
          out += frame
        }
        // even padding; a truncated final pad byte must not overrun
        buf.position(math.min(dataEnd + (size % 2), limit))
      }
    }
    walk(end, inMovi = false)
    out.result()
  }

  val audioFeatureSchema: StructType = StructType(
    Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("encoding", StringType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("sample_bits", IntegerType, nullable = true),
      StructField("n_frames", LongType, nullable = true),
      StructField("duration_s", DoubleType, nullable = true),
      StructField("rms", DoubleType, nullable = true),
      StructField("amp_hist", ArrayType(DoubleType), nullable = true),
    )
  )

  /** Deterministically render each asset's bytes as a REAL RIFF/WAV
    * blob (PCM signed 16-bit mono little-endian): payload byte i
    * becomes sample `(b − 128) << 8`, truncated at `maxSamples`. Like
    * [[toPngAssets]] this is the ingest-side normalization step, and it
    * makes [[decodeAudio]] a genuine `javax.sound.sampled` round trip
    * (WAV write → header parse → PCM frame read), not a fixture path.
    */
  def toWavAssets(assets: DataFrame, sampleRate: Int = 8000, maxSamples: Int = 16384): DataFrame = {
    val spark = assets.sparkSession
    val rate = sampleRate
    val cap = maxSamples
    val rdd = assets.select(col("asset_id"), col("content"), col("meta.source")).rdd.mapPartitions { rows =>
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        rate.toFloat,
        16,
        1,
        2,
        rate.toFloat,
        false,
      )
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val n = math.min(math.max(bytes.length, 1), cap)
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val sample = ((if (i < bytes.length) bytes(i) & 0xff else 128) - 128) << 8
          pcm(2 * i) = (sample & 0xff).toByte
          pcm(2 * i + 1) = ((sample >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        Row(id, out.toByteArray, Row("audio/wav", out.size(), r.getString(2)))
      }
    }
    spark.createDataFrame(rdd, assetSchema)
  }

  /** Transcode WAV assets to µ-law or a-law through the JDK's own
    * companding codec (`AudioSystem.getAudioInputStream` format
    * conversion, then a WAVE container write with format code 7/6) —
    * a REAL second codec round trip, not a header relabel. Bytes no
    * provider reads pass through unchanged (the junk-tolerant decode
    * contract downstream).
    */
  def transcodeWav(assets: DataFrame, law: String = "ulaw", batchSize: Int = 64): DataFrame = {
    require(law == "ulaw" || law == "alaw", s"law must be ulaw or alaw, got $law")
    val spark = assets.sparkSession
    val useUlaw = law == "ulaw"
    val rdd = assets.select(col("asset_id"), col("content"), col("meta.source")).rdd.mapPartitions { rows =>
      val enc =
        if (useUlaw) javax.sound.sampled.AudioFormat.Encoding.ULAW
        else javax.sound.sampled.AudioFormat.Encoding.ALAW
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val id = r.getLong(0)
          val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
          val out =
            try {
              val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
              try {
                val fmt = ais.getFormat
                val lawFmt = new javax.sound.sampled.AudioFormat(
                  enc, fmt.getSampleRate, 8, fmt.getChannels, fmt.getChannels, fmt.getSampleRate, false)
                val converted = javax.sound.sampled.AudioSystem.getAudioInputStream(lawFmt, ais)
                val bos = new java.io.ByteArrayOutputStream()
                javax.sound.sampled.AudioSystem.write(converted, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
                bos.toByteArray
              } finally ais.close()
            } catch { case _: Exception => bytes }
          Row(id, out, Row(s"audio/wav;codec=$law", out.length, r.getString(2)))
        }
      }
    }
    spark.createDataFrame(rdd, assetSchema)
  }

  /** REAL audio decode — JDK-only `javax.sound.sampled` over the binary
    * column, batched per partition like [[decodeImages]]: container
    * header gives encoding/rate/channels/bits/frames, then the PCM
    * frames are actually read for an amplitude RMS + 4-bin |amplitude|
    * histogram (16-bit signed little-endian path; other PCM layouts
    * report header metadata with null amplitude features). Bytes no
    * installed provider recognizes produce a null-metadata row rather
    * than failing the task. Float outputs follow the determinism
    * policy: round(…,6).
    */
  def decodeAudio(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = assets.sparkSession
    val rdd = assets
      .select(col("asset_id"), col("content"))
      .rdd
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
            decodeWav(bytes) match {
              case Some((enc, rate, ch, bits, frames, dur, rms, hist)) =>
                Row(id, enc, rate, ch, bits, frames, dur, rms, hist.map(_.toSeq).orNull)
              case None => Row(id, null, null, null, null, null, null, null, null)
            }
          }
        }
      }
    spark.createDataFrame(rdd, audioFeatureSchema)
  }

  private def round6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def decodeWav(
      bytes: Array[Byte]
  ): Option[(String, Int, Int, Int, Long, Double, java.lang.Double, Option[Array[Double]])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        val dur = round6(frames.toDouble / fmt.getSampleRate.toDouble)
        val pcm16Mono = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian
        // companded mono (µ-law/a-law, WAV format codes 7/6): the JDK
        // ships the codec — convert to PCM-16 and compute the SAME
        // amplitude features; header fields keep reporting the original
        // encoding/8-bit width
        val lawMono = (fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.ULAW ||
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.ALAW) && fmt.getChannels == 1
        val (rms, hist) =
          if (!pcm16Mono && !lawMono) (null: java.lang.Double, None)
          else {
            val pcmAis =
              if (pcm16Mono) ais
              else
                javax.sound.sampled.AudioSystem.getAudioInputStream(
                  new javax.sound.sampled.AudioFormat(
                    javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
                    fmt.getSampleRate, 16, 1, 2, fmt.getSampleRate, false,
                  ),
                  ais,
                )
            val data = pcmAis.readAllBytes()
            val n = data.length / 2
            var sumSq = 0.0
            val h = new Array[Double](4)
            var i = 0
            while (i < n) {
              val s = ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff)).toShort.toInt
              val a = s.toDouble / 32768.0
              sumSq += a * a
              h(math.min((math.abs(s) * 4) / 32768, 3)) += 1.0
              i += 1
            }
            val total = math.max(n, 1).toDouble
            (round6(math.sqrt(sumSq / total)): java.lang.Double, Some(h.map(_ / total)))
          }
        Some(
          (
            fmt.getEncoding.toString,
            math.round(fmt.getSampleRate).toInt,
            fmt.getChannels,
            fmt.getSampleSizeInBits,
            frames,
            dur,
            rms,
            hist,
          )
        )
      } finally ais.close()
    } catch { case _: Exception => None }

  val audioFpSchema: StructType = StructType(
    Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("fp", LongType, nullable = false),
    )
  )

  /** Audio fingerprinting (Haitsma & Kalker 2002, "A Highly Robust
    * Audio Fingerprint System" — the classic spectral-band scheme):
    * REAL WAV parse → 1024-sample frames (hop 512) → radix-2 FFT →
    * 33 log-spaced band energies → 32 bits per frame from the sign of
    * the band-energy difference differentiated across consecutive
    * frames. The sign structure is invariant under global gain (all
    * energies scale together) and robust to light distortion — the
    * audio twin of [[perceptualHash]]. Undecodable or non-PCM16-mono
    * blobs emit no rows. Per-row compiled loops, no shuffle.
    */
  def audioFingerprints(assets: DataFrame, frameSize: Int = 1024, batchSize: Int = 64): DataFrame = {
    require(frameSize >= 128 && (frameSize & (frameSize - 1)) == 0, "frameSize must be a power of two >= 128")
    val spark = assets.sparkSession
    val hop = frameSize / 2
    val nBands = 33
    val half = frameSize / 2
    // log-spaced band edges over FFT bins [1, frameSize/2], monotone
    val edges: Array[Int] = {
      val raw = Array.tabulate(nBands + 1)(b => math.round(math.pow(half.toDouble, b.toDouble / nBands)).toInt)
      var last = 0
      raw.map { e => last = math.max(e, last + 1); math.min(last, half) }
    }
    val rdd = assets.select(col("asset_id"), col("content")).rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(0)
          val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
          pcm16Mono(bytes) match {
            case None => Iterator.empty
            case Some(samples) =>
              val nFrames = if (samples.length < frameSize) 0 else (samples.length - frameSize) / hop + 1
              var prev: Array[Double] = null
              (0 until nFrames).iterator.map { f =>
                val re = new Array[Double](frameSize)
                val im = new Array[Double](frameSize)
                var i = 0
                while (i < frameSize) { re(i) = samples(f * hop + i) / 32768.0; i += 1 }
                fft(re, im)
                val e = new Array[Double](nBands)
                var b = 0
                while (b < nBands) {
                  var k = edges(b)
                  var acc = 0.0
                  while (k < edges(b + 1)) { acc += re(k) * re(k) + im(k) * im(k); k += 1 }
                  e(b) = acc
                  b += 1
                }
                var fp = 0L
                var m = 0
                while (m < 32) {
                  val d = e(m) - e(m + 1)
                  val dd = if (prev == null) d else d - (prev(m) - prev(m + 1))
                  if (dd > 0) fp |= 1L << m
                  m += 1
                }
                prev = e
                Row(id, f, fp)
              }
          }
        }
      }
    }
    spark.createDataFrame(rdd, audioFpSchema)
  }

  /** Little-endian PCM16-mono samples from a WAV container, or None. */
  private def pcm16Mono(bytes: Array[Byte]): Option[Array[Short]] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        if (
          fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 || fmt.isBigEndian
        ) None
        else {
          val data = ais.readAllBytes()
          val out = new Array[Short](data.length / 2)
          var i = 0
          while (i < out.length) {
            out(i) = (((data(2 * i + 1) & 0xff) << 8) | (data(2 * i) & 0xff)).toShort
            i += 1
          }
          Some(out)
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** In-place iterative radix-2 FFT (fixed butterfly order —
    * deterministic). Array length must be a power of two.
    */
  private def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    var j = 0
    var i = 1
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang)
      val wi = math.sin(ang)
      var base = 0
      while (base < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(base + k); val ui = im(base + k)
          val vr = re(base + k + len / 2) * cr - im(base + k + len / 2) * ci
          val vi = re(base + k + len / 2) * ci + im(base + k + len / 2) * cr
          re(base + k) = ur + vr; im(base + k) = ui + vi
          re(base + k + len / 2) = ur - vr; im(base + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        base += len
      }
      len <<= 1
    }
  }

  /** Audio near-duplicate pairs through the frame-fingerprint inverted
    * index (the [[graft.functions.DedupFunctions.winnowPairs]] shape at
    * audio grain): assets sharing at least `minShared` distinct frame
    * fingerprints pair up. `maxDf` drops fingerprints present in more
    * than `maxDf` assets BEFORE the join — silence/boilerplate frames
    * are the hot keys of audio corpora, and the cap bounds per-key
    * join fanout at scale.
    */
  def audioFpPairs(fps: DataFrame, minShared: Long = 4L, maxDf: Long = 0L): DataFrame = {
    // consumed by the df cap and both join sides: eager checkpoint,
    // same rationale as DedupFunctions.winnowPairs (the thin maxDf
    // filter on top re-evaluates cheaply; its shuffle dedups via
    // ReuseExchange)
    val distinctFps = graft.functions.Materialize.pin(fps.select(col("asset_id"), col("fp")).distinct())
    val kept =
      if (maxDf <= 0) distinctFps
      else
        distinctFps
          .join(
            distinctFps.groupBy(col("fp")).agg(count(lit(1)).as("__df")).where(col("__df") <= maxDf),
            "fp",
          )
          .drop("__df")
    kept
      .select(col("asset_id").as("asset_a"), col("fp"))
      .join(kept.select(col("asset_id").as("asset_b"), col("fp")), "fp")
      .where(col("asset_a") < col("asset_b"))
      .groupBy(col("asset_a"), col("asset_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .where(col("shared_fp") >= minShared)
  }

  /** STUB decode for codecs the JDK lacks (inter-frame video —
    * H.264/VP9/AV1 — and compressed audio): per-partition batched
    * "decode" producing deterministic fake features (byte-histogram
    * moments). Replace the body with a real decoder; the mapPartitions
    * batching (the Scala analog of `mapInPandas`) and the output
    * schema are the production contract — see [[decodeImages]] for the
    * realized image case and [[sampleVideoFrames]] for the realized
    * MJPEG-AVI video case.
    */
  def stubDecode(assets: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = assets.sparkSession
    val encoderSchema = featureSchema
    val rdd = assets
      .select(col("asset_id"), col("content"))
      .rdd
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // one "batch decode" call, as a codec library would want
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
            val crc = new java.util.zip.CRC32()
            crc.update(bytes)
            val hist = new Array[Long](4)
            bytes.foreach(b => hist((b & 0xff) % 4) += 1)
            val total = math.max(bytes.length, 1).toDouble
            Row(id, bytes.length, crc.getValue, hist.map(_ / total).toSeq)
          }
        }
      }
    spark.createDataFrame(rdd, encoderSchema)
  }
}
