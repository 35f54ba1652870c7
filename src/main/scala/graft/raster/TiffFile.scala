package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.ImageIO
import javax.imageio.stream.ImageInputStreamImpl
import scala.collection.mutable

/** One image file directory (IFD) of a classic TIFF, reduced to the
  * fields the direct reader uses. Strips are modelled as full-width
  * blocks `rowsPerStrip` high, so tiles and strips share one decode. */
private[raster] final case class TiffIfd(
    width: Int, height: Int,
    blockW: Int, blockH: Int,
    offsets: Array[Long], byteCounts: Array[Long],
    bitsPerSample: Int, sampleFormat: Int,
    samplesPerPixel: Int, planar: Int,
    compression: Int, predictor: Int,
    pixelScale: Option[Array[Double]], tiepoint: Option[Array[Double]],
    geoKeys: Option[Array[Int]], nodata: Option[String],
    pageName: Option[String]) {
  def blocksAcross: Int = (width + blockW - 1) / blockW
  def blocksDown: Int = (height + blockH - 1) / blockH
  def bytesPerSample: Int = bitsPerSample / 8

  /** The engine dtype of the samples; loud on layouts it has no type for. */
  def dtype: String = (bitsPerSample, sampleFormat) match {
    case (8, 1) => "uint8"
    case (8, 2) => "int8"
    case (16, 1) => "uint16"
    case (16, 2) => "int16"
    case (32, 2) => "int32"
    case (32, 3) => "float32"
    case (64, 3) => "float64"
    case other => throw new IllegalArgumentException(
      s"unsupported TIFF sample layout (bits, format) = $other")
  }
  /** Samples per pixel inside one block: all of them when chunky, one
    * when planar (each band has its own blocks). */
  def samplesPerBlockPixel: Int = if (planar == 2) 1 else samplesPerPixel

  /** Encodings the direct decoder handles; anything else (JPEG,
    * PackBits, the floating-point predictor, sub-byte samples) reads
    * through javax.imageio. */
  def directDecodable: Boolean =
    (compression == 1 || compression == 5 || compression == 8 ||
      compression == 32946) &&
      (predictor == 1 || predictor == 2) &&
      Set(8, 16, 32, 64).contains(bitsPerSample)
}

/** A classic TIFF opened for one read: its positioned input and its IFD
  * chain, parsed front to back on demand and never past the directory a
  * call needs (a COG's base image costs one header block). Both byte
  * orders: `II` (GDAL's default) and `MM` (the JDK writer's).
  *
  * [[window]] fetches only the tiles or strips that intersect the window,
  * coalescing byte-adjacent blocks into one positioned read each (over
  * HTTP: one ranged GET per tile-row of a contiguous COG), and decodes
  * them straight into the output doubles: no compression, LZW, Deflate
  * (codes 8 and 32946), with or without horizontal differencing.
  *
  * Nothing parsed here outlives the instance, so a file rewritten at the
  * same path is never read with stale offsets. */
private[raster] final class TiffFile private (val path: String, in: RasterInput)
    extends java.io.Closeable {

  private def bytesAt(pos: Long, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    try {
      in.seek(pos)
      in.readFully(b)
    } catch {
      case e: java.io.IOException => throw new java.io.IOException(
        s"$path: reading bytes $pos-${pos + n}: ${e.getMessage}", e)
    }
    b
  }

  private val (order, firstIfd) = {
    val h = ByteBuffer.wrap(bytesAt(0, 8))
    val o = (h.get(0), h.get(1)) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException(s"$path is not a TIFF file")
    }
    h.order(o)
    h.getShort(2) match {
      case 42 => ()
      case 43 => throw new IllegalArgumentException(
        s"$path is a BigTIFF; only classic TIFF is supported")
      case m => throw new IllegalArgumentException(
        s"$path is not a TIFF file (magic $m)")
    }
    (o, h.getInt(4) & 0xffffffffL)
  }

  private val ifds = mutable.ArrayBuffer.empty[TiffIfd]
  private var nextIfd = firstIfd
  private val visited = mutable.Set.empty[Long]

  /** The `i`-th IFD, parsing the chain up to it; None past the end. */
  def ifdOption(i: Int): Option[TiffIfd] = {
    while (ifds.length <= i && nextIfd != 0) ifds += parseIfd()
    ifds.lift(i)
  }

  def ifd(i: Int): TiffIfd = ifdOption(i).getOrElse(
    throw new IllegalArgumentException(
      s"image index $i out of range: $path has ${ifds.length} image(s)"))

  /** Every IFD, in file order. */
  def all: Seq[TiffIfd] = Iterator.from(0).map(ifdOption)
    .takeWhile(_.isDefined).map(_.get).toSeq

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1
    case 3 | 8 => 2
    case 4 | 9 | 11 => 4
    case 5 | 10 | 12 => 8
    case _ => 0
  }

  private def parseIfd(): TiffIfd = {
    val off = nextIfd
    if (!visited.add(off))
      throw new IllegalArgumentException(s"$path: IFD chain loops at offset $off")
    val n = ByteBuffer.wrap(bytesAt(off, 2)).order(order).getShort(0) & 0xffff
    val e = ByteBuffer.wrap(bytesAt(off + 2, n * 12 + 4)).order(order)
    nextIfd = e.getInt(n * 12) & 0xffffffffL
    // tag -> (type, count, entry offset within `e`)
    val entries = (0 until n).map { i =>
      (e.getShort(i * 12) & 0xffff) ->
        ((e.getShort(i * 12 + 2) & 0xffff, e.getInt(i * 12 + 4) & 0xffffffffL,
          i * 12))
    }.toMap
    def value(tag: Int): Option[(Int, Int, ByteBuffer)] =
      entries.get(tag).map { case (t, cnt, at) =>
        val size = cnt * typeSize(t)
        require(size <= Int.MaxValue, s"$path: tag $tag is too large")
        val buf =
          if (size <= 4) ByteBuffer.wrap(e.array(), at + 8, 4).slice()
          else ByteBuffer.wrap(bytesAt(e.getInt(at + 8) & 0xffffffffL, size.toInt))
        (t, cnt.toInt, buf.order(order))
      }
    def longs(tag: Int): Option[Array[Long]] = value(tag).map {
      case (1, c, b) => Array.tabulate(c)(i => (b.get(i) & 0xff).toLong)
      case (3, c, b) => Array.tabulate(c)(i => (b.getShort(i * 2) & 0xffff).toLong)
      case (4, c, b) => Array.tabulate(c)(i => b.getInt(i * 4) & 0xffffffffL)
      case (t, _, _) => throw new IllegalArgumentException(
        s"$path: tag $tag has non-integer type $t")
    }
    def int(tag: Int, dflt: Long): Int =
      longs(tag).flatMap(_.headOption).getOrElse(dflt).min(Int.MaxValue).toInt
    def doubles(tag: Int): Option[Array[Double]] = value(tag).map {
      case (12, c, b) => Array.tabulate(c)(i => b.getDouble(i * 8))
      case (11, c, b) => Array.tabulate(c)(i => b.getFloat(i * 4).toDouble)
      case (t, _, _) => throw new IllegalArgumentException(
        s"$path: tag $tag has non-floating type $t")
    }
    def ascii(tag: Int): Option[String] = value(tag).map { case (_, c, b) =>
      val s = new Array[Byte](c)
      b.get(0, s)
      new String(s, "US-ASCII").takeWhile(_ != '\u0000')
    }
    def required[A](tag: Int, name: String)(v: Option[A]): A = v.getOrElse(
      throw new IllegalArgumentException(s"$path: IFD at $off has no $name tag"))

    val width = required(256, "ImageWidth")(Option(int(256, -1)).filter(_ >= 0))
    val height = required(257, "ImageLength")(Option(int(257, -1)).filter(_ >= 0))
    val tiled = entries.contains(322)
    val (bw, bh, offs, counts) =
      if (tiled) (int(322, 0), int(323, 0),
        required(324, "TileOffsets")(longs(324)),
        required(325, "TileByteCounts")(longs(325)))
      else (width, math.max(1, math.min(int(278, Int.MaxValue), height)),
        required(273, "StripOffsets")(longs(273)),
        required(279, "StripByteCounts")(longs(279)))
    require(bw > 0 && bh > 0, s"$path: block size ${bw}x$bh")
    TiffIfd(width, height, bw, bh, offs, counts,
      bitsPerSample = int(258, 1), sampleFormat = int(339, 1),
      samplesPerPixel = int(277, 1), planar = int(284, 1),
      compression = int(259, 1), predictor = int(317, 1),
      pixelScale = doubles(33550), tiepoint = doubles(33922),
      geoKeys = longs(34735).map(_.map(_.toInt)), nodata = ascii(42113),
      pageName = ascii(285))
  }

  /** Largest run of coalesced blocks fetched in one read. */
  private val MaxSpanBytes = 16L << 20
  /** Unrequested bytes a span may carry between two blocks (GDAL COGs
    * put a 4-byte leader and trailer around each tile). */
  private val MaxGapBytes = 8L << 10

  /** Row-major doubles of one band over `[x0, x0+w) x [y0, y0+h)` of
    * image `idx`; unsigned types widen, `band` is 1-based. */
  def window(idx: Int, x0: Int, y0: Int, w: Int, h: Int, band: Int): Array[Double] = {
    val d = ifd(idx)
    if (!d.directDecodable) return imageIoWindow(idx, x0, y0, w, h, band)
    val out = new Array[Double](w * h)
    if (w <= 0 || h <= 0) return out
    val plane = if (d.planar == 2) band - 1 else 0
    val perPlane = d.blocksAcross * d.blocksDown
    val planes = if (d.planar == 2) d.samplesPerPixel else 1
    require(math.min(d.offsets.length, d.byteCounts.length) >= perPlane * planes,
      s"$path: image $idx lists ${d.offsets.length} block offsets, " +
        s"fewer than its ${d.blocksAcross}x${d.blocksDown}x$planes layout needs")
    val blocks = (for {
      by <- y0 / d.blockH to (y0 + h - 1) / d.blockH
      bx <- x0 / d.blockW to (x0 + w - 1) / d.blockW
    } yield plane * perPlane + by * d.blocksAcross + bx).sortBy(b => d.offsets(b))
    val decoder = new BlockDecoder(d, band)
    try {
      var i = 0
      while (i < blocks.length) {
        // one span: the run of blocks whose bytes sit (nearly) end to end
        var j = i + 1
        val start = d.offsets(blocks(i))
        var end = start + d.byteCounts(blocks(i))
        while (j < blocks.length && d.offsets(blocks(j)) >= end &&
          d.offsets(blocks(j)) - end <= MaxGapBytes &&
          d.offsets(blocks(j)) + d.byteCounts(blocks(j)) - start <= MaxSpanBytes) {
          end = d.offsets(blocks(j)) + d.byteCounts(blocks(j))
          j += 1
        }
        val span = fetch(start, end, blocks(i))
        var k = i
        while (k < j) {
          val b = blocks(k)
          decoder.decode(b, span, (d.offsets(b) - start).toInt,
            d.byteCounts(b).toInt)
          decoder.copyInto(b % perPlane, out, x0, y0, w, h)
          k += 1
        }
        i = j
      }
    } finally decoder.close()
    out
  }

  private def fetch(start: Long, end: Long, block: Int): Array[Byte] = {
    val len = in.length
    if (end > len) throw new java.io.IOException(
      s"$path: block $block spans bytes $start-$end, past the end of the " +
        s"file at $len (truncated file?)")
    bytesAt(start, (end - start).toInt)
  }

  /** Decodes one block at a time into a reused buffer and copies the
    * addressed band's part of it into the window. */
  private final class BlockDecoder(d: TiffIfd, band: Int) {
    private val bytes = d.bytesPerSample
    private val spp = d.samplesPerBlockPixel
    private val sampleAt = if (d.planar == 2) 0 else band - 1
    private val rowBytes = d.blockW * spp * bytes
    private val buf = new Array[Byte](rowBytes * d.blockH)
    private val bb = ByteBuffer.wrap(buf).order(order)
    private val inflater =
      if (d.compression == 8 || d.compression == 32946) new java.util.zip.Inflater()
      else null
    private val kind = d.dtype match {
      case "uint8" => 0; case "int8" => 1; case "uint16" => 2; case "int16" => 3
      case "int32" => 4; case "float32" => 5; case _ => 6
    }

    /** Rows of block `b` that lie inside the image: a tile's padding rows
      * below the image (and a short last strip's missing ones) are never
      * decoded. */
    private def rowsOf(b: Int): Int = {
      val by = (b % (d.blocksAcross * d.blocksDown)) / d.blocksAcross
      math.min(d.blockH, d.height - by * d.blockH)
    }

    def decode(b: Int, src: Array[Byte], off: Int, len: Int): Unit = {
      val need = rowsOf(b) * rowBytes
      val got = try d.compression match {
        case 1 =>
          val n = math.min(len, need)
          System.arraycopy(src, off, buf, 0, n)
          n
        case 5 => TiffFile.lzwDecode(src, off, len, buf, need)
        case _ =>
          inflater.reset()
          inflater.setInput(src, off, len)
          var n = 0
          var stalled = false
          while (n < need && !stalled) {
            val k = inflater.inflate(buf, n, need - n)
            n += k
            stalled = k == 0 && (inflater.finished() || inflater.needsInput() ||
              inflater.needsDictionary())
          }
          n
      } catch {
        case e @ (_: java.util.zip.DataFormatException | _: java.io.IOException) =>
          throw new java.io.IOException(s"$path: corrupt " +
            s"${if (d.compression == 5) "LZW" else "deflate"} stream in block $b: " +
            e.getMessage, e)
      }
      if (got < need) throw new java.io.IOException(
        s"$path: block $b decodes to $got of its $need bytes (corrupt or truncated)")
      if (d.predictor == 2) undoHorizontalDifferencing(need / rowBytes)
    }

    /** Predictor 2: each sample was stored as the difference from the
      * same sample of the pixel to its left (wrapping integer arithmetic
      * on the sample's bits, as libtiff does). */
    private def undoHorizontalDifferencing(rows: Int): Unit = {
      val step = spp * bytes
      var r = 0
      while (r < rows) {
        var p = r * rowBytes + step
        val end = (r + 1) * rowBytes
        bytes match {
          case 1 =>
            while (p < end) { buf(p) = (buf(p) + buf(p - step)).toByte; p += 1 }
          case 2 =>
            while (p < end) {
              bb.putShort(p, (bb.getShort(p) + bb.getShort(p - step)).toShort); p += 2
            }
          case 4 =>
            while (p < end) { bb.putInt(p, bb.getInt(p) + bb.getInt(p - step)); p += 4 }
          case _ =>
            while (p < end) { bb.putLong(p, bb.getLong(p) + bb.getLong(p - step)); p += 8 }
        }
        r += 1
      }
    }

    /** Copy the window's part of block `b` (index within its plane). */
    def copyInto(b: Int, out: Array[Double], x0: Int, y0: Int, w: Int, h: Int): Unit = {
      val bx0 = (b % d.blocksAcross) * d.blockW
      val by0 = (b / d.blocksAcross) * d.blockH
      val cx0 = math.max(x0, bx0)
      val cx1 = math.min(math.min(x0 + w, bx0 + d.blockW), d.width)
      val ry1 = math.min(math.min(y0 + h, by0 + d.blockH), d.height)
      val step = spp * bytes
      var r = math.max(y0, by0)
      while (r < ry1) {
        var p = (r - by0) * rowBytes + ((cx0 - bx0) * spp + sampleAt) * bytes
        var o = (r - y0) * w + (cx0 - x0)
        val oEnd = o + (cx1 - cx0)
        (kind: @annotation.switch) match {
          case 0 => while (o < oEnd) { out(o) = buf(p) & 0xff; o += 1; p += step }
          case 1 => while (o < oEnd) { out(o) = buf(p); o += 1; p += step }
          case 2 => while (o < oEnd) { out(o) = bb.getShort(p) & 0xffff; o += 1; p += step }
          case 3 => while (o < oEnd) { out(o) = bb.getShort(p); o += 1; p += step }
          case 4 => while (o < oEnd) { out(o) = bb.getInt(p); o += 1; p += step }
          case 5 => while (o < oEnd) { out(o) = bb.getFloat(p); o += 1; p += step }
          case _ => while (o < oEnd) { out(o) = bb.getDouble(p); o += 1; p += step }
        }
        r += 1
      }
    }

    def close(): Unit = if (inflater != null) inflater.end()
  }

  /** Window read through javax.imageio, for encodings the direct decoder
    * lacks. ImageIO seeks over this file's own input: no second open. */
  private def imageIoWindow(idx: Int, x0: Int, y0: Int, w: Int, h: Int,
                            band: Int): Array[Double] = {
    val iis = new ImageInputStreamImpl {
      override def length(): Long = in.length
      override def read(): Int = {
        bitOffset = 0
        in.seek(streamPos)
        val b = in.read()
        if (b >= 0) streamPos += 1
        b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        bitOffset = 0
        in.seek(streamPos)
        val tmp = if (off == 0 && len == b.length) b else new Array[Byte](len)
        val n = in.read(tmp)
        if (n > 0) {
          if (tmp ne b) System.arraycopy(tmp, 0, b, off, n)
          streamPos += n
        }
        n
      }
    }
    val readers = ImageIO.getImageReaders(iis)
    require(readers.hasNext, s"no TIFF reader for $path")
    val reader = readers.next()
    try {
      reader.setInput(iis, false, false)
      val param = reader.getDefaultReadParam
      param.setSourceRegion(new java.awt.Rectangle(x0, y0, w, h))
      val out = new Array[Double](w * h)
      reader.read(idx, param).getRaster.getSamples(0, 0, w, h, band - 1, out)
      out
    } finally reader.dispose()
  }

  def close(): Unit = in.close()
}

private[raster] object TiffFile {
  def open(path: String): TiffFile = {
    val in = RasterIO.open(path)
    try new TiffFile(path, in)
    catch { case e: Throwable => in.close(); throw e }
  }

  /** TIFF LZW (MSB-first codes, 9-12 bits, early change) of
    * `src[off, off+len)` into `dst[0, need)`; returns the bytes written. */
  private def lzwDecode(src: Array[Byte], off: Int, len: Int,
                        dst: Array[Byte], need: Int): Int = {
    val Clear = 256; val Eoi = 257
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val length = new Array[Int](4096)
    val first = new Array[Byte](4096)
    var i = 0
    while (i < 256) { suffix(i) = i.toByte; first(i) = i.toByte; length(i) = 1; i += 1 }
    var next = 258; var width = 9; var old = -1; var o = 0
    var bitBuf = 0L; var bits = 0; var p = off
    val end = off + len
    def emit(code: Int): Unit = {
      val n = length(code)
      var c = code
      var k = o + n - 1
      while (k >= o) {
        if (k < need) dst(k) = suffix(c)
        c = prefix(c); k -= 1
      }
      o += n
    }
    var done = false
    while (!done && o < need) {
      while (bits < width && p < end) { bitBuf = (bitBuf << 8) | (src(p) & 0xff); bits += 8; p += 1 }
      if (bits < width) done = true
      else {
        val code = ((bitBuf >>> (bits - width)) & ((1 << width) - 1)).toInt
        bits -= width
        if (code == Eoi) done = true
        else if (code == Clear) { next = 258; width = 9; old = -1 }
        else {
          if (old < 0) {
            if (code > 255) throw new java.io.IOException(s"LZW: bad first code $code")
            emit(code)
          } else {
            if (code > next) throw new java.io.IOException(s"LZW: code $code beyond table $next")
            val firstOfNew = if (code < next) first(code) else first(old)
            if (next < 4096) {
              prefix(next) = old; suffix(next) = firstOfNew
              length(next) = length(old) + 1; first(next) = first(old)
              next += 1
            }
            emit(code)
          }
          old = code
          if (next >= (1 << width) - 1 && width < 12) width += 1
        }
      }
    }
    math.min(o, need)
  }
}
