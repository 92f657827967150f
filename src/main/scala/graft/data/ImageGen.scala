package graft.data

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

/** Deterministic synthetic image+caption rows with schema exactly
  * BASELINE.json:15 `input_hint`:
  * (image_id string, bytes binary, w int, h int, fmt string,
  *  caption string, phash long).
  *
  * Everything is a pure function of the row index (seed fixed), so any
  * executor can regenerate any row: the generator is an embarrassingly
  * parallel Spark source (see [[Images.generate]]) and tests can recompute
  * expected values locally. Positions are NOT columns (input_hint): they
  * derive from image_id via [[posOf]], 90% uniform + 10% planted hot-spot
  * clusters for skew (FIXTURES.md §1).
  */
object ImageGen {
  // ImageIO defaults to FileCache streams: every encode/decode round-trips
  // through a temp FILE on disk. These images are KBs — memory-cache
  // streams produce byte-identical output without the per-image file
  // create/write/delete (guide §6: I/O overhead off the hot path).
  ImageIO.setUseCache(false)

  final case class ImageRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                            fmt: String, caption: String, phash: Long)

  // splitmix64 — public-domain PRNG step (Steele et al.), stable across JVMs
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def idOf(i: Long): String = f"img$i%012d"

  /** Stable 64-bit hash of an image_id (FNV-1a over UTF-8 bytes). The
    * UTF8String overload is canonical: it reads bytes in place with zero
    * allocation, which is what Catalyst codegen calls on the headline
    * 10¹²-row tile-assign path (derive_lon/derive_lat). Image ids
    * are ASCII ("img%012d"), so the char-walking String overload is
    * byte-identical for every id this table can contain.
    */
  def idHash(id: org.apache.spark.unsafe.types.UTF8String): Long = {
    var h = 0xCBF29CE484222325L
    val n = id.numBytes()
    var i = 0
    while (i < n) { h ^= (id.getByte(i) & 0xFF).toLong; h *= 0x100000001B3L; i += 1 }
    h
  }

  def idHash(id: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < id.length) { h ^= id.charAt(i).toLong; h *= 0x100000001B3L; i += 1 }
    h
  }

  private val hotCenters = Array( // (lon, lat) — fixed cluster centers
    (-0.125, 51.5), (139.75, 35.5), (-46.5, -23.5), (77.25, 28.5), (151.25, -33.75))

  @inline private def unit(r: Long): Double = (r >>> 11).toDouble / (1L << 53).toDouble // [0,1)

  @inline private def isHot(h: Long): Boolean = java.lang.Long.remainderUnsigned(h, 10) == 0

  // center picked from an INDEPENDENT hash value: h%10==0 implies h%5==0,
  // so using h itself would collapse all hot rows onto hotCenters(0)
  @inline private def hotCenter(h: Long): (Double, Double) =
    hotCenters(java.lang.Long.remainderUnsigned(splitmix64(h ^ 0xC1L), 5).toInt)

  /** Derived longitude from the id hash — primitive-in/primitive-out so the
    * whole headline path (hash → position) runs allocation-free inside
    * WholeStageCodegen. */
  def lonOfHash(h: Long): Double = {
    val r1 = splitmix64(h); val r2 = splitmix64(r1)
    if (isHot(h)) hotCenter(h)._1 + (unit(r1) + unit(r2) - 1.0) * 0.02
    else unit(r1) * 360.0 - 180.0
  }

  /** Derived latitude from the id hash — see [[lonOfHash]]. */
  def latOfHash(h: Long): Double = {
    val r1 = splitmix64(h); val r2 = splitmix64(r1)
    if (isHot(h)) {
      // sum of 4 uniforms ≈ gaussian; range ±0.02°, σ≈0.01°
      val r3 = splitmix64(r2); val r4 = splitmix64(r3)
      hotCenter(h)._2 + (unit(r3) + unit(r4) - 1.0) * 0.02
    } else unit(r2) * 170.0 - 85.0
  }

  /** Zero-allocation overloads for Catalyst codegen
    * ([[graft.sql.GraftKernels.derive_lon]] / `derive_lat`): hash the
    * UTF8String's bytes in place — no per-row
    * String materialization. */
  def posLonOf(id: org.apache.spark.unsafe.types.UTF8String): Double = lonOfHash(idHash(id))
  def posLatOf(id: org.apache.spark.unsafe.types.UTF8String): Double = latOfHash(idHash(id))

  def posLonOf(id: String): Double = lonOfHash(idHash(id))
  def posLatOf(id: String): Double = latOfHash(idHash(id))

  /** Derived position: rows with hash%10==0 cluster gaussian-ish (σ≈0.01°)
    * around one of 5 hot centers; the rest are uniform. */
  def posOf(id: String): (Double, Double) = (posLonOf(id), posLatOf(id))

  private val words = Array("ocean", "float", "drift", "grid", "tile", "swath",
    "buoy", "météo", "观测", "ätna", "salinity", "sst", "chlorophyll", "eddy")

  def captionOf(id: String): String = {
    val h = splitmix64(idHash(id) ^ 0x5CA1AB1EL)
    val w1 = words(((h >>> 8) % words.length).toInt.abs)
    val w2 = words(((h >>> 24) % words.length).toInt.abs)
    s"caption of $id: $w1 $w2 ${h & 0xFFFF}"
  }

  private val wordsU8 = words.map(org.apache.spark.unsafe.types.UTF8String.fromString)
  private val capPrefixU8 = org.apache.spark.unsafe.types.UTF8String.fromString("caption of ")
  private val capColonU8 = org.apache.spark.unsafe.types.UTF8String.fromString(": ")
  private val capSpaceU8 = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Codegen overload of [[captionOf]] ([[graft.sql.GraftKernels.caption_of]]): hashes the id
    * bytes in place and assembles the caption with UTF8String.concat —
    * byte-identical output, no input String materialization. */
  def captionOf(id: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    import org.apache.spark.unsafe.types.UTF8String
    val h = splitmix64(idHash(id) ^ 0x5CA1AB1EL)
    val w1 = wordsU8(((h >>> 8) % wordsU8.length).toInt.abs)
    val w2 = wordsU8(((h >>> 24) % wordsU8.length).toInt.abs)
    UTF8String.concat(capPrefixU8, id, capColonU8, w1, capSpaceU8, w2, capSpaceU8,
      UTF8String.fromString(java.lang.Long.toString(h & 0xFFFF)))
  }

  private val widths = Array(16, 32, 64)
  private val heights = Array(16, 24, 48)
  private val fmts = Array("png", "jpg", "raw")
  def dims(i: Long): (Int, Int) = (widths((i % 3).toInt), heights((i % 3).toInt))
  def fmtOf(i: Long): String = fmts(((i / 3) % 3).toInt)

  /** Deterministic RGB pixels: a solid color band (keeps JPEG PSNR high)
    * plus low-amplitude PRNG noise. Returns row-major RGB triples. */
  def pixelsOf(id: String, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var state = idHash(id)
    val baseR = (splitmix64(state ^ 1) & 0x7F).toInt + 64
    val baseG = (splitmix64(state ^ 2) & 0x7F).toInt + 64
    val baseB = (splitmix64(state ^ 3) & 0x7F).toInt + 64
    var p = 0
    var y = 0
    while (y < h) {
      val band = if (y < h / 2) 0 else 32 // two horizontal bands
      var x = 0
      while (x < w) {
        state = splitmix64(state)
        val n = (state & 0x07).toInt // ±small noise
        out(p) = math.min(255, baseR + band + n).toByte
        out(p + 1) = math.min(255, baseG + band + n).toByte
        out(p + 2) = math.min(255, baseB + band + n).toByte
        p += 3; x += 1
      }
      y += 1
    }
    out
  }

  def toBufferedImage(rgb: Array[Byte], w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // fill the INT_RGB raster array directly: setRGB goes through the
    // ColorModel conversion path per pixel and dominates encode time for
    // these small images; the packed int written here is byte-identical
    val data = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
    var p = 0
    var i = 0
    val n = w * h
    while (i < n) {
      data(i) = ((rgb(p) & 0xFF) << 16) | ((rgb(p + 1) & 0xFF) << 8) | (rgb(p + 2) & 0xFF)
      p += 3; i += 1
    }
    img
  }

  /** Encode pixels per fmt; "raw" = the RGB bytes themselves (lossless).
    * JPEG uses explicit quality 0.95 so the PSNR ≥ 40 dB invariant is
    * satisfiable (default quality lands ≈38 dB on noisy pixels). */
  // one writer per thread, reused across rows: the per-image
  // getImageWritersByFormatName registry walk + writer construction is
  // pure overhead in the generator's per-partition loop. Output bytes are
  // those of the same plugin writer, unchanged.
  private val jpgWriterLocal = ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
    ImageIO.getImageWritersByFormatName("jpg").next())
  private val pngWriterLocal = ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
    ImageIO.getImageWritersByFormatName("png").next())

  private def encodeWith(writer: javax.imageio.ImageWriter,
                         params: javax.imageio.ImageWriteParam,
                         img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.setOutput(null)
    ios.close()
    bos.toByteArray
  }

  def encodeBytes(rgb: Array[Byte], w: Int, h: Int, fmt: String): Array[Byte] = fmt match {
    case "raw" => rgb
    case "jpg" =>
      val writer = jpgWriterLocal.get()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.95f)
      encodeWith(writer, params, toBufferedImage(rgb, w, h))
    case _ =>
      encodeWith(pngWriterLocal.get(), null, toBufferedImage(rgb, w, h))
  }

  /** Decode stored bytes back to row-major RGB (inverse of [[encodeBytes]]). */
  def decodeBytes(bytes: Array[Byte], w: Int, h: Int, fmt: String): Array[Byte] = fmt match {
    case "raw" => bytes
    case _ =>
      val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "imageio failed to decode")
      val out = new Array[Byte](w * h * 3)
      var p = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val px = img.getRGB(x, y)
          out(p) = ((px >> 16) & 0xFF).toByte
          out(p + 1) = ((px >> 8) & 0xFF).toByte
          out(p + 2) = (px & 0xFF).toByte
          p += 3; x += 1
        }
        y += 1
      }
      out
  }

  /** 64-bit average-hash: 8×8 grayscale downsample, bit i set iff cell mean
    * > global mean (FIXTURES.md §1 — content-derived, doubles as an
    * integrity check through the pipeline). */
  def phashOf(rgb: Array[Byte], w: Int, h: Int): Long = {
    val cells = new Array[Double](64)
    val counts = new Array[Int](64)
    var p = 0
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val cx = x * 8 / w
        val gray = 0.299 * (rgb(p) & 0xFF) + 0.587 * (rgb(p + 1) & 0xFF) + 0.114 * (rgb(p + 2) & 0xFF)
        cells(cy * 8 + cx) += gray; counts(cy * 8 + cx) += 1
        p += 3; x += 1
      }
      y += 1
    }
    var mean = 0.0
    var i = 0
    while (i < 64) { cells(i) /= math.max(1, counts(i)); mean += cells(i); i += 1 }
    mean /= 64
    var bits = 0L
    i = 0
    while (i < 64) { if (cells(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** PSNR in dB between two RGB buffers (Double.PositiveInfinity if equal). */
  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length, s"pixel buffers differ in length: ${a.length} vs ${b.length}")
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      se += d.toDouble * d
      i += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 * a.length / se)
  }

  /** Fully materialized row i — the single source of truth for the table. */
  def rowOf(i: Long): ImageRow = {
    val id = idOf(i)
    val (w, h) = dims(i)
    val fmt = fmtOf(i)
    val rgb = pixelsOf(id, w, h)
    ImageRow(id, encodeBytes(rgb, w, h, fmt), w, h, fmt, captionOf(id), phashOf(rgb, w, h))
  }
}
