package graft

import graft.geo.{Affine, Crs, GeoBox}
import graft.raster.{Grb, Tiff}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.plugins.tiff.{BaselineTIFFTagSet, TIFFDirectory, TIFFField, TIFFTag}

/** The direct TIFF tile reader against javax.imageio as the oracle: the
  * same doubles for every window, and the header the file was written
  * with, across dtypes, codecs, tile/strip layouts, band counts,
  * overview IFDs and named subdatasets. A hand-built little-endian
  * Deflate (code 8) + Predictor 2 file — GDAL's COG layout, which the
  * JDK writer cannot produce — is checked against its known pixels, and
  * GDAL_NODATA faults must fail instead of dropping nodata. */
class TiffDirectReadSpec extends AnyFunSuite {

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft_tiff_direct").toString

  private val crs = Crs.Utm(35, south = true)
  private def gbox(w: Int, h: Int) =
    GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10), crs)

  /** javax.imageio decode of one band of image `idx`: the oracle. */
  private def oracle(path: String, idx: Int, x0: Int, y0: Int, w: Int, h: Int,
                     band: Int): Array[Double] = {
    val iis = ImageIO.createImageInputStream(new File(path))
    try {
      val reader = ImageIO.getImageReaders(iis).next()
      try {
        reader.setInput(iis, false, false)
        val param = reader.getDefaultReadParam
        param.setSourceRegion(new java.awt.Rectangle(x0, y0, w, h))
        val out = new Array[Double](w * h)
        reader.read(idx, param).getRaster.getSamples(0, 0, w, h, band - 1, out)
        out
      } finally reader.dispose()
    } finally iis.close()
  }

  private def sameDoubles(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.compare(a(i), b(i)) == 0)

  /** Deterministic values spanning each dtype's range, with runs so the
    * codecs have something to compress. */
  private def pixels(dtype: String, w: Int, h: Int, salt: Int): Array[Double] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val r = ((x / 3) * 7919 + y * 104729 + salt * 31337) & 0x7fffffff
      dtype match {
        case "uint8" => (r % 256).toDouble
        case "int16" => (r % 65536 - 32768).toDouble
        case "uint16" => (r % 65536).toDouble
        case "int32" => (r.toLong * 40503 % 4000000000L - 2000000000L).toDouble
        case "float32" => (r % 100000 - 50000) / 8.0
        case _ => (r - 1e9) / 3.0
      }
    }

  /** Windows on every edge, every corner, across tile seams, and on the
    * partial tiles at the right and bottom edges (those that fit). */
  private def windows(w: Int, h: Int): Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, w, h), (0, 0, w, 1), (0, h - 1, w, 1), (0, 0, 1, h),
    (w - 1, 0, 1, h), (0, 0, 1, 1), (w - 1, h - 1, 1, 1), (w - 1, 0, 1, 1),
    (0, h - 1, 1, 1), (13, 7, w - 20, h - 10), (w - 9, h - 6, 9, 6),
    (15, 15, 3, 3), (16, 16, 1, 1)).filter { case (x0, y0, ww, hh) =>
      x0 >= 0 && y0 >= 0 && ww > 0 && hh > 0 && x0 + ww <= w && y0 + hh <= h }

  private val W = 70
  private val H = 45
  private val Dtypes = Seq("uint8", "int16", "uint16", "int32", "float32", "float64")
  private val Codecs = Seq(None, Some("Deflate"), Some("ZLib"), Some("LZW"))
  private val Layouts = Seq(Some(16), Some(64), Some(512), None)
  private val BandCounts = Seq(1, 3, 5)

  test("direct reads equal the ImageIO oracle: dtypes x codecs x layouts x bands") {
    val nodata: Map[String, Option[Double]] = Map("uint8" -> Some(0.0),
      "int16" -> Some(-32768.0), "uint16" -> None, "int32" -> Some(-1.0),
      "float32" -> Some(Double.NaN), "float64" -> Some(-9999.5))
    var files = 0
    for (dtype <- Dtypes; codec <- Codecs; layout <- Layouts; nb <- BandCounts) {
      val tag = s"$dtype/${codec.getOrElse("none")}/${layout.fold("strips")(t => s"t$t")}/${nb}b"
      val path = s"$tmp/${tag.replace('/', '_')}.tif"
      val planes = (1 to nb).map(b => pixels(dtype, W, H, b))
      Tiff.writeBands(path, planes, gbox(W, H), dtype, nodata(dtype),
        tileSize = layout, compression = codec)
      files += 1
      val hd = Tiff.readHeader(path, band = nb)
      assert(hd.copy(nodata = None) == Grb.Header(dtype, W, H, None, gbox(W, H), 0L), tag)
      assert(hd.nodata.map(_.toString) == nodata(dtype).map(_.toString), tag)
      assert(Tiff.numBands(path) == nb, tag)
      for (band <- 1 to nb; (x0, y0, w, h) <- windows(W, H)) {
        val got = Tiff.readWindow(path, x0, y0, w, h, band)
        assert(sameDoubles(got, oracle(path, 0, x0, y0, w, h, band)),
          s"$tag band $band window ($x0,$y0,$w,$h)")
      }
    }
    assert(files == 6 * 4 * 4 * 3)
  }

  test("overview IFDs and named subdatasets read like the oracle") {
    val px = pixels("uint16", W, H, 9)
    val path = s"$tmp/ovr.tif"
    Tiff.write(path, px, gbox(W, H), "uint16", Some(0.0), tileSize = Some(16),
      overviews = Seq(2, 4), compression = Some("Deflate"))
    val levels = Tiff.overviewLevels(path)
    assert(levels == Seq((2, s"$path#1"), (4, s"$path#2")))
    for (((s, uri), idx) <- levels.zip(Seq(1, 2))) {
      val (ow, oh) = (W / s, H / s)
      val hd = Tiff.readHeader(uri)
      val t = gbox(W, H).transform
      val sx = W.toDouble / ow; val sy = H.toDouble / oh
      assert(hd == Grb.Header("uint16", ow, oh, Some(0.0), GeoBox(ow, oh,
        Affine(t.a * sx, t.b * sx, t.c, t.d * sy, t.e * sy, t.f), crs), 0L))
      for ((x0, y0, w, h) <- windows(ow, oh))
        assert(sameDoubles(Tiff.readWindow(uri, x0, y0, w, h),
          oracle(path, idx, x0, y0, w, h, 1)), s"level $s ($x0,$y0,$w,$h)")
    }

    val subs = Seq(("red", pixels("uint16", W, H, 1), gbox(W, H), "uint16",
      Some(0.0): Option[Double]),
      ("mask", pixels("uint8", 32, 20, 2), gbox(32, 20), "uint8", None))
    val cont = s"$tmp/subs.tif"
    Tiff.writeSubdatasets(cont, subs, tileSize = Some(16), overviews = Seq(2))
    assert(Tiff.subdatasetNames(cont) == Seq("red", "mask"))
    assert(Tiff.resolveSubdataset(cont, "mask") == 2)
    for ((name, _, g, dtype, nd) <- subs) {
      val idx = Tiff.resolveSubdataset(cont, name)
      assert(Tiff.readHeader(s"$cont#$name") ==
        Grb.Header(dtype, g.width, g.height, nd, g, 0L), name)
      for ((x0, y0, w, h) <- windows(g.width, g.height))
        assert(sameDoubles(Tiff.readWindow(s"$cont#$name", x0, y0, w, h),
          oracle(cont, idx, x0, y0, w, h, 1)), s"$name ($x0,$y0,$w,$h)")
      val Seq((2, ovr)) = Tiff.overviewLevels(s"$cont#$name")
      assert(Tiff.readHeader(ovr).nodata == nd, s"$name overview nodata")
      assert(sameDoubles(Tiff.readWindow(ovr, 0, 0, g.width / 2, g.height / 2),
        oracle(cont, idx + 1, 0, 0, g.width / 2, g.height / 2, 1)), s"$name ovr")
    }
  }

  test("big-endian Predictor 2 (JDK writer) decodes like the oracle") {
    for (dtype <- Seq("uint8", "uint16", "int32", "float64");
         codec <- Seq("LZW", "Deflate")) {
      val path = s"$tmp/pred_${dtype}_$codec.tif"
      val px = pixels(dtype, W, H, 5)
      writeWithPredictor(path, px, W, H, dtype, codec)
      for ((x0, y0, w, h) <- windows(W, H))
        assert(sameDoubles(Tiff.readWindow(path, x0, y0, w, h),
          oracle(path, 0, x0, y0, w, h, 1)), s"$dtype $codec ($x0,$y0,$w,$h)")
    }
  }

  /** One gray band through the JDK writer with Predictor=2 set, which it
    * honours for LZW and Deflate. */
  private def writeWithPredictor(path: String, px: Array[Double], w: Int,
                                 h: Int, dtype: String, codec: String): Unit = {
    val bufType = dtype match {
      case "uint8" => java.awt.image.DataBuffer.TYPE_BYTE
      case "uint16" => java.awt.image.DataBuffer.TYPE_USHORT
      case "int32" => java.awt.image.DataBuffer.TYPE_INT
      case _ => java.awt.image.DataBuffer.TYPE_DOUBLE
    }
    val cm = new java.awt.image.ComponentColorModel(
      java.awt.color.ColorSpace.getInstance(java.awt.color.ColorSpace.CS_GRAY),
      false, false, java.awt.Transparency.OPAQUE, bufType)
    val raster = java.awt.image.Raster.createWritableRaster(
      cm.createCompatibleSampleModel(w, h), null)
    raster.setSamples(0, 0, w, h, 0, px)
    val img = new java.awt.image.BufferedImage(cm, raster, false, null)
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
      param.setTiling(32, 32, 0, 0)
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType(codec)
      val dir = TIFFDirectory.createFromMetadata(
        writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), param))
      dir.addTIFFField(new TIFFField(
        BaselineTIFFTagSet.getInstance.getTag(BaselineTIFFTagSet.TAG_PREDICTOR),
        BaselineTIFFTagSet.PREDICTOR_HORIZONTAL_DIFFERENCING))
      writer.write(null, new IIOImage(img, null, dir.getAsMetadata), param)
    } finally { writer.dispose(); ios.close() }
  }

  // ---- little-endian, Deflate code 8, Predictor 2, tiled: GDAL's COG ----

  /** Writes one uint16 band as a classic little-endian TIFF with 16x16
    * tiles, zlib (code 8) tiles under horizontal differencing, the
    * GeoTIFF tags and GDAL_NODATA = `nodata` (written verbatim; its 17th
    * IFD entry, out of line when longer than 4 bytes). */
  private def writeLeCog(path: String, px: Array[Int], w: Int, h: Int,
                         nodata: String): Unit = {
    val ts = 16
    val (ta, td) = ((w + ts - 1) / ts, (h + ts - 1) / ts)
    val tiles = for (ty <- 0 until td; tx <- 0 until ta) yield {
      val raw = ByteBuffer.allocate(ts * ts * 2).order(ByteOrder.LITTLE_ENDIAN)
      for (y <- 0 until ts; x <- 0 until ts) {
        def at(xx: Int): Int = {
          val (gx, gy) = (tx * ts + xx, ty * ts + y)
          if (gx < w && gy < h) px(gy * w + gx) else 0
        }
        val diff = if (x == 0) at(0) else at(x) - at(x - 1)
        raw.putShort((y * ts + x) * 2, diff.toShort)
      }
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw.array())
      d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
      d.end()
      out.toByteArray
    }
    val t = gbox(w, h).transform
    val geoKeys = Seq(1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1, 3072, 0, 1, 32735)
    val nodataBytes = nodata.getBytes("US-ASCII") :+ 0.toByte
    // layout: header | IFD | out-of-line values | tiles
    val nTags = 17
    val ifdAt = 8
    var next = ifdAt + 2 + nTags * 12 + 4
    def reserve(n: Int): Int = { val at = next; next += n; at }
    val offsAt = reserve(tiles.length * 4)
    val countsAt = reserve(tiles.length * 4)
    val scaleAt = reserve(24)
    val tieAt = reserve(48)
    val keysAt = reserve(geoKeys.length * 2)
    val nodataAt = if (nodataBytes.length > 4) reserve(nodataBytes.length) else -1
    val tileAt = tiles.scanLeft(next)(_ + _.length).init
    next += tiles.map(_.length).sum
    val bb = ByteBuffer.allocate(next).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("II".getBytes).putShort(42.toShort).putInt(ifdAt)
    bb.position(ifdAt).putShort(nTags.toShort)
    def entry(tag: Int, tpe: Int, count: Int, value: Int): Unit = {
      bb.putShort(tag.toShort).putShort(tpe.toShort).putInt(count)
      if (tpe == 3 && count == 1) bb.putShort(value.toShort).putShort(0.toShort)
      else bb.putInt(value)
    }
    entry(256, 3, 1, w); entry(257, 3, 1, h); entry(258, 3, 1, 16)
    entry(259, 3, 1, 8); entry(262, 3, 1, 1); entry(277, 3, 1, 1)
    entry(284, 3, 1, 1); entry(317, 3, 1, 2); entry(322, 3, 1, ts)
    entry(323, 3, 1, ts); entry(324, 4, tiles.length, offsAt)
    entry(325, 4, tiles.length, countsAt); entry(339, 3, 1, 1)
    entry(33550, 12, 3, scaleAt); entry(33922, 12, 6, tieAt)
    entry(34735, 3, geoKeys.length, keysAt)
    bb.putShort(42113.toShort).putShort(2.toShort).putInt(nodataBytes.length)
    if (nodataAt >= 0) { bb.putInt(nodataAt); bb.put(nodataAt, nodataBytes) }
    else bb.put(nodataBytes.padTo(4, 0.toByte))
    bb.putInt(0) // no next IFD
    tiles.indices.foreach { i =>
      bb.putInt(offsAt + i * 4, tileAt(i))
      bb.putInt(countsAt + i * 4, tiles(i).length)
      bb.put(tileAt(i), tiles(i))
    }
    Seq(t.a, -t.e, 0.0).zipWithIndex.foreach { case (v, i) =>
      bb.putDouble(scaleAt + i * 8, v) }
    Seq(0.0, 0.0, 0.0, t.c, t.f, 0.0).zipWithIndex.foreach { case (v, i) =>
      bb.putDouble(tieAt + i * 8, v) }
    geoKeys.zipWithIndex.foreach { case (v, i) => bb.putShort(keysAt + i * 2, v.toShort) }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array())
  }

  private val LeW = 40
  private val LeH = 24
  private lazy val lePx = Array.tabulate(LeW * LeH)(i =>
    if (i % 17 == 0) 0 else (i * 2654435761L % 65536).toInt)

  test("little-endian Deflate-8 Predictor-2 tiles decode to the known pixels") {
    val path = s"$tmp/le_cog.tif"
    writeLeCog(path, lePx, LeW, LeH, "0")
    val hd = Tiff.readHeader(path)
    assert(hd == Grb.Header("uint16", LeW, LeH, Some(0.0), gbox(LeW, LeH), 0L))
    for ((x0, y0, w, h) <- windows(LeW, LeH)) {
      val expect = Array.tabulate(w * h)(i =>
        lePx((y0 + i / w) * LeW + x0 + i % w).toDouble)
      assert(sameDoubles(Tiff.readWindow(path, x0, y0, w, h), expect),
        s"window ($x0,$y0,$w,$h)")
    }
  }

  test("GDAL_NODATA: unparsable or unreadable fails naming the file") {
    val bad = s"$tmp/le_badnodata.tif"
    writeLeCog(bad, lePx, LeW, LeH, "not-a-number")
    val e = intercept[IllegalArgumentException](Tiff.readHeader(bad))
    assert(e.getMessage.contains(bad) && e.getMessage.contains("not-a-number"),
      e.getMessage)
    // GDAL's spellings still parse
    for ((s, v) <- Seq("nan" -> Double.NaN, "-inf" -> Double.NegativeInfinity,
                       " -9999 " -> -9999.0, "1e+20" -> 1e20)) {
      val p = s"$tmp/le_nodata_${s.trim}.tif"
      writeLeCog(p, lePx, LeW, LeH, s)
      assert(Tiff.readHeader(p).nodata.map(_.toString).contains(v.toString), s)
    }
    // the out-of-line nodata string lies past the end of a truncated
    // file: an I/O error, never a silent "no nodata"
    val cut = s"$tmp/le_cutnodata.tif"
    writeLeCog(cut, lePx, LeW, LeH, "-32768.000000000000")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cut))
    val ifdAt = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt(4)
    val nodataAt = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      .getInt(ifdAt + 2 + 16 * 12 + 8)
    val moved = bytes.clone()
    // point the nodata value past the end of the file
    ByteBuffer.wrap(moved).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(ifdAt + 2 + 16 * 12 + 8, bytes.length + 100)
    java.nio.file.Files.write(java.nio.file.Paths.get(cut), moved)
    assert(nodataAt < bytes.length)
    val io = intercept[java.io.IOException](Tiff.readHeader(cut))
    assert(io.getMessage.contains(cut), io.getMessage)
  }

  test("a file rewritten at the same path is read fresh, never with stale offsets") {
    val path = s"$tmp/rewrite.tif"
    val a = pixels("uint16", W, H, 11)
    Tiff.write(path, a, gbox(W, H), "uint16", None, tileSize = Some(16))
    assert(sameDoubles(Tiff.readWindow(path, 5, 5, 30, 30),
      oracle(path, 0, 5, 5, 30, 30, 1)))
    val b = pixels("uint16", W, H, 12)
    Tiff.write(path, b, gbox(W, H), "uint16", Some(7.0), tileSize = Some(32),
      compression = Some("Deflate"))
    assert(Tiff.readHeader(path).nodata.contains(7.0))
    assert(sameDoubles(Tiff.readWindow(path, 0, 0, W, H), b))
  }
}
