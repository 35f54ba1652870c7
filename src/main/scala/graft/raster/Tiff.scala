package graft.raster

import graft.geo.{Affine, Crs, GeoBox}

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, Raster}
import java.io.File
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.plugins.tiff.{BaselineTIFFTagSet, TIFFDirectory, TIFFField, TIFFTag}

/** GeoTIFF I/O with no GDAL: a direct tile reader ([[TiffFile]]) over the
  * [[RasterIO]] byte seam, and a writer on the JDK's bundled
  * `javax.imageio` TIFF plugin.
  *
  * Read side (what [[TiffReader]] and the `gtiff`/`raster` sources use):
  *  - one open and one IFD parse per call, or per [[TiffReader]] source
  *    read when it runs inside [[withinRead]]; nothing parsed is cached
  *    past that, so a file rewritten in place is never read stale;
  *  - geo-referencing from ModelPixelScaleTag (33550) + ModelTiepointTag
  *    (33922), CRS from the GeoKeyDirectoryTag (34735) projected/
  *    geographic EPSG keys, nodata from GDAL_NODATA (42113) — the same
  *    tags rasterio reads for the reference (`_rio.py:374-475`);
  *  - **windowed reads** fetch only the intersecting tiles/strips, in
  *    span-coalesced positioned reads (ranged GETs over HTTP), and decode
  *    them directly; encodings the direct decoder lacks (JPEG, PackBits,
  *    the floating-point predictor) decode through javax.imageio over the
  *    same open input;
  *  - **overview pyramid**: reduced-resolution subimages (additional
  *    IFDs), addressed as `path#<imageIndex>`; their geobox derives from
  *    the nearest preceding geo-tagged IFD (GDAL writes geo tags on the
  *    base IFD only);
  *  - **subdatasets**: page-named images addressed as `path#<name>`.
  *
  * Write side exists for fixtures/tests and as the S10 sink analog:
  * tiled (multiples-of-16) or stripped layout, optional overview IFDs.
  * Supported dtypes: uint8, uint16, int16, int32, float32, float64
  * (TIFF SampleFormat 1/2/3). Axis-aligned north-up grids.
  */
object Tiff {

  private val TagModelPixelScale = 33550
  private val TagModelTiepoint = 33922
  private val TagGeoKeyDirectory = 34735
  private val TagGdalNodata = 42113
  private val TagNewSubfileType = BaselineTIFFTagSet.TAG_NEW_SUBFILE_TYPE // 254
  private val TagPageName = BaselineTIFFTagSet.TAG_PAGE_NAME // 285

  // GeoKey ids (GeoTIFF spec §6.2)
  private val GTModelTypeGeoKey = 1024
  private val GTRasterTypeGeoKey = 1025
  private val GeographicTypeGeoKey = 2048
  private val ProjectedCSTypeGeoKey = 3072

  /** The file a [[TiffReader]] source read holds open, so that its
    * header, window and overview calls share one open and one parse. */
  private final class ReadScope(val path: String) { var file: TiffFile = _ }
  private val readScope = new ThreadLocal[ReadScope]

  /** `path#fragment` -> (path, fragment); the fragment is "0" (the base
    * image) when absent. */
  private def split(uri: String): (String, String) = {
    val i = uri.lastIndexOf('#')
    if (i < 0) (uri, "0") else (uri.substring(0, i), uri.substring(i + 1))
  }

  /** Run `body` (one source read) with `uri`'s file opened at most once:
    * every call on that path inside it reuses the open input and the IFDs
    * parsed so far. The file is closed, and its parse dropped, on exit. */
  def withinRead[A](uri: String)(body: => A): A = {
    val outer = readScope.get
    val scope = new ReadScope(split(uri)._1.stripPrefix("file://"))
    readScope.set(scope)
    try body
    finally {
      readScope.set(outer)
      if (scope.file != null) scope.file.close()
    }
  }

  private def withFile[A](path: String)(f: TiffFile => A): A =
    readScope.get match {
      case s if s != null && s.path == path.stripPrefix("file://") =>
        if (s.file == null) s.file = TiffFile.open(path)
        f(s.file)
      case _ =>
        val tf = TiffFile.open(path)
        try f(tf) finally tf.close()
    }

  /** Open `path#idx` or `path#name` and hand over (file, image index) — a
    * non-numeric fragment is a subdataset NAME, resolved via PageName on
    * the same parse. Every entry point (readHeader/readWindow/numBands,
    * the `gtiff` source) accepts named-subdataset URIs this way. */
  private def withImage[A](uri: String)(f: (TiffFile, Int) => A): A = {
    val (path, frag) = split(uri)
    withFile(path) { tf =>
      f(tf, if (frag.nonEmpty && frag.forall(_.isDigit)) frag.toInt
            else subdatasetIndex(tf, frag))
    }
  }

  /** Sample-band count of the addressed image (1 for grayscale, 3 for
    * RGB, N for packed multispectral stacks). */
  def numBands(uri: String): Int = withImage(uri)((tf, idx) =>
    tf.ifd(idx).samplesPerPixel)

  /** Resolve a named subdataset to its image index by PageName (tag 285)
    * — multi-image TIFF containers are the zero-GDAL analog of the
    * netCDF/HDF variable containers `RasterSource.subdataset` addresses
    * in the reference (`loader/types.py:44-56`, `_rio.py:374-430`). A
    * miss fails loudly listing what the container actually has, like the
    * band path (`readHeader`'s SamplesPerPixel validation). */
  def resolveSubdataset(path: String, name: String): Int =
    withFile(path)(subdatasetIndex(_, name))

  private def subdatasetIndex(tf: TiffFile, name: String): Int = {
    val names = tf.all.map(_.pageName)
    names.indexWhere(_.contains(name)) match {
      case -1 => throw new IllegalArgumentException(
        s"subdataset '$name' not found in ${tf.path}; available: " +
          (names.flatten match {
            case Seq() => "none (container has no named subdatasets)"
            case ns => ns.mkString("'", "', '", "'")
          }))
      case i => i
    }
  }

  /** Names of the container's subdatasets (page-named images), in image
    * order. */
  def subdatasetNames(path: String): Seq[String] =
    withFile(path)(_.all.flatMap(_.pageName))

  private def requireBand(uri: String, band: Int, nBands: Int): Unit =
    require(band >= 1 && band <= nBands,
      s"band $band requested of $uri with $nBands sample band(s)")

  /** Header of the addressed image. Overview IFDs (idx > 0) carry no geo
    * tags; their geobox is the base geobox decimated by the size ratio.
    * `band` (1-based) validates against SamplesPerPixel — a request for
    * band 3 of a single-band file must fail loudly, not read band 1
    * (reference `loader/types.py:40-70` RasterSource.band). */
  def readHeader(uri: String, band: Int = 1): Grb.Header = withImage(uri) { (tf, idx) =>
    val dir = tf.ifd(idx)
    requireBand(uri, band, dir.samplesPerPixel)
    // An idx > 0 IFD with its OWN ModelPixelScale is a standalone
    // subdataset image (multi-image container); one without is a
    // reduced-resolution overview deriving georeferencing from its
    // PARENT — the nearest preceding IFD that carries geo tags (the
    // base image, or the subdataset the overview belongs to: GDAL lays
    // a subdataset's pyramid out as the unnamed IFDs following it).
    val standalone = idx == 0 || dir.pixelScale.isDefined
    val geoDir =
      if (standalone) dir
      else tf.ifd((idx - 1 to 0 by -1).find(i =>
        i == 0 || tf.ifd(i).pixelScale.isDefined).get)
    val nodata = geoDir.nodata.map(parseNodata(uri, _))
    val gbox =
      if (standalone) geoboxOf(uri, geoDir)
      else {
        // decimated level: same origin, linear part scaled by size ratio
        val parentGbox = geoboxOf(uri, geoDir)
        val sx = parentGbox.width.toDouble / dir.width
        val sy = parentGbox.height.toDouble / dir.height
        val t = parentGbox.transform
        GeoBox(dir.width, dir.height,
          Affine(t.a * sx, t.b * sx, t.c, t.d * sy, t.e * sy, t.f), parentGbox.crs)
      }
    Grb.Header(dir.dtype, dir.width, dir.height, nodata, gbox, 0L)
  }

  /** GDAL_NODATA is ASCII; GDAL writes "nan"/"inf" spellings. A tag that
    * is present but unparsable fails: dropping it would turn nodata
    * pixels into valid data. */
  private def parseNodata(uri: String, raw: String): Double =
    raw.trim.toLowerCase match {
      case "nan" | "+nan" | "-nan" => Double.NaN
      case "inf" | "+inf" | "infinity" | "+infinity" => Double.PositiveInfinity
      case "-inf" | "-infinity" => Double.NegativeInfinity
      case s => s.toDoubleOption.getOrElse(throw new IllegalArgumentException(
        s"$uri: GDAL_NODATA tag '$raw' is not a number"))
    }

  /** Windowed read of one band: fetches and decodes only the window's
    * tiles/strips. Row-major doubles, unsigned types widened. `band` is
    * 1-based — multi-band files (RGB/MSI packed into one asset) address
    * sample `band-1` of each pixel, or plane `band-1` when planar. */
  def readWindow(uri: String, x0: Int, y0: Int, w: Int, h: Int,
                 band: Int = 1): Array[Double] =
    withImage(uri) { (tf, idx) =>
      val dir = tf.ifd(idx)
      require(x0 >= 0 && y0 >= 0 && x0 + w <= dir.width && y0 + h <= dir.height,
        s"window ($x0,$y0,$w,$h) out of bounds ${dir.width}x${dir.height}")
      requireBand(uri, band, dir.samplesPerPixel)
      tf.window(idx, x0, y0, w, h, band)
    }

  /** Decimation levels of the addressed image: (scale, uri). A pyramid
    * is the run of unnamed reduced-resolution IFDs immediately FOLLOWING
    * its full image (the GDAL container layout — a subdataset's
    * overviews sit between it and the next page-named image), so this
    * works for the base image and for `#`-addressed subdatasets alike. */
  def overviewLevels(uri: String): Seq[(Int, String)] = withImage(uri) { (tf, idx) =>
    val path = split(uri)._1
    val baseW = tf.ifd(idx).width
    Iterator.from(idx + 1).map(i => i -> tf.ifdOption(i))
      .takeWhile { case (_, d) => d.exists(_.pageName.isEmpty) }
      .map { case (i, d) => math.round(baseW.toDouble / d.get.width).toInt -> s"$path#$i" }
      .toSeq.sortBy(_._1)
  }

  private def geoboxOf(uri: String, dir: TiffIfd): GeoBox = {
    val scale = dir.pixelScale.getOrElse(
      throw new IllegalArgumentException(s"$uri: TIFF has no ModelPixelScaleTag"))
    val tie = dir.tiepoint.getOrElse(
      throw new IllegalArgumentException(s"$uri: TIFF has no ModelTiepointTag"))
    val (sx, sy) = (scale(0), scale(1))
    // tiepoint: raster (i,j,k) -> model (x,y,z)
    val (ti, tj) = (tie(0), tie(1))
    val (tx, ty) = (tie(3), tie(4))
    val ox = tx - ti * sx
    val oy = ty + tj * sy
    GeoBox(dir.width, dir.height, Affine.grid(ox, oy, sx, -sy), crsOf(uri, dir))
  }

  private def crsOf(uri: String, dir: TiffIfd): Crs = {
    val gk = dir.geoKeys.getOrElse(
      throw new IllegalArgumentException(s"$uri: TIFF has no GeoKeyDirectoryTag"))
    // entries of 4 shorts: (keyId, tagLocation, count, value)
    def keyValue(keyId: Int): Option[Int] =
      (4 until gk.length - 3 by 4).collectFirst {
        case i if gk(i) == keyId && gk(i + 1) == 0 => gk(i + 3)
      }
    keyValue(ProjectedCSTypeGeoKey)
      .orElse(keyValue(GeographicTypeGeoKey))
      .map(epsg => Crs.parse(s"EPSG:$epsg"))
      .getOrElse(throw new IllegalArgumentException(
        s"$uri: GeoKeyDirectory has no projected/geographic EPSG key"))
  }

  // ---- writer (fixtures + S10 sink analog) ---------------------------------

  private def bufferType(dtype: String): Int = dtype match {
    case "uint8" => DataBuffer.TYPE_BYTE
    case "uint16" => DataBuffer.TYPE_USHORT
    case "int16" => DataBuffer.TYPE_SHORT
    case "int32" => DataBuffer.TYPE_INT
    case "float32" => DataBuffer.TYPE_FLOAT
    case "float64" => DataBuffer.TYPE_DOUBLE
    case other => throw new IllegalArgumentException(
      s"unsupported TIFF write dtype '$other'")
  }

  private def toImage(pixels: Array[Double], w: Int, h: Int,
                      dtype: String): BufferedImage = {
    val cm = new ComponentColorModel(
      ColorSpace.getInstance(ColorSpace.CS_GRAY),
      false, false, java.awt.Transparency.OPAQUE, bufferType(dtype))
    val raster = Raster.createWritableRaster(
      cm.createCompatibleSampleModel(w, h), null)
    raster.setSamples(0, 0, w, h, 0, pixels)
    new BufferedImage(cm, raster, false, null)
  }

  private def geoFields(gbox: GeoBox, nodata: Option[Double]): Seq[TIFFField] = {
    val t = gbox.transform
    require(t.isAxisAligned && t.e < 0,
      "TIFF writer supports axis-aligned north-up grids")
    def tag(name: String, num: Int, tpe: Int) =
      new TIFFTag(name, num, 1 << tpe)
    val scale = new TIFFField(
      tag("ModelPixelScaleTag", TagModelPixelScale, TIFFTag.TIFF_DOUBLE),
      TIFFTag.TIFF_DOUBLE, 3, Array(t.a, -t.e, 0.0))
    val tie = new TIFFField(
      tag("ModelTiepointTag", TagModelTiepoint, TIFFTag.TIFF_DOUBLE),
      TIFFTag.TIFF_DOUBLE, 6, Array(0.0, 0.0, 0.0, t.c, t.f, 0.0))
    // the GeoKeyDirectory carries EPSG codes only; other authorities
    // (e.g. ESRI:54034) have no GeoTIFF key and must fail loudly
    val epsg = gbox.crs.code.stripPrefix("EPSG:").toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"GeoTIFF GeoKeyDirectory requires an EPSG code; got ${gbox.crs.code}"))
    val geographic = epsg == 4326
    val keys: Array[Char] = (Seq(
      1, 1, 0, 3, // version, revision, minor, numKeys
      GTModelTypeGeoKey, 0, 1, if (geographic) 2 else 1,
      GTRasterTypeGeoKey, 0, 1, 1) ++ // PixelIsArea
      (if (geographic) Seq(GeographicTypeGeoKey, 0, 1, epsg)
       else Seq(ProjectedCSTypeGeoKey, 0, 1, epsg)))
      .map(_.toChar).toArray
    val geokeys = new TIFFField(
      tag("GeoKeyDirectoryTag", TagGeoKeyDirectory, TIFFTag.TIFF_SHORT),
      TIFFTag.TIFF_SHORT, keys.length, keys)
    val nd = nodata.map { v =>
      new TIFFField(
        tag("GDAL_NODATA", TagGdalNodata, TIFFTag.TIFF_ASCII),
        TIFFTag.TIFF_ASCII, 1,
        Array(if (v.isNaN) "nan" else if (v == v.floor && !v.isInfinite)
          v.toLong.toString else v.toString))
    }
    Seq(scale, tie, geokeys) ++ nd
  }

  /** Minimal N-component color space for band counts with no standard
    * java.awt color space (4+-band MSI stacks) — the transforms are only
    * there to satisfy `ComponentColorModel`; pixel data round-trips
    * through the raster untouched. */
  private final class NComponentColorSpace(n: Int)
      extends ColorSpace(ColorSpace.TYPE_GRAY, n) {
    override def toRGB(cv: Array[Float]): Array[Float] =
      Array(cv(0), cv(0), cv(0))
    override def fromRGB(rgb: Array[Float]): Array[Float] =
      Array.fill(n)(rgb(0))
    override def toCIEXYZ(cv: Array[Float]): Array[Float] =
      Array(cv(0), cv(0), cv(0))
    override def fromCIEXYZ(xyz: Array[Float]): Array[Float] =
      Array.fill(n)(xyz(0))
  }

  /** Write a MULTI-BAND (pixel-interleaved) GeoTIFF: `bands` are equal-
    * length row-major planes — the packed-bands layout real catalogs ship
    * (RGB composites, MSI stacks) that `readWindow(band = i)` addresses.
    * 3 bands write as photometric RGB; other counts use a minimal
    * N-component color space. */
  def writeBands(path: String, bands: Seq[Array[Double]], geobox: GeoBox,
                 dtype: String, nodata: Option[Double],
                 tileSize: Option[Int] = Some(64),
                 compression: Option[String] = None): Unit = {
    require(bands.nonEmpty &&
      bands.forall(_.length == geobox.width * geobox.height),
      "each band must be a full-geobox plane")
    if (bands.length == 1)
      return write(path, bands.head, geobox, dtype, nodata, tileSize,
        compression = compression)
    val (w, h) = (geobox.width, geobox.height)
    val cs: ColorSpace =
      if (bands.length == 3) ColorSpace.getInstance(ColorSpace.CS_sRGB)
      else new NComponentColorSpace(bands.length)
    val cm = new ComponentColorModel(cs, false, false,
      java.awt.Transparency.OPAQUE, bufferType(dtype))
    val raster = Raster.createWritableRaster(
      cm.createCompatibleSampleModel(w, h), null)
    bands.zipWithIndex.foreach { case (px, b) =>
      raster.setSamples(0, 0, w, h, b, px)
    }
    val img = new BufferedImage(cm, raster, false, null)
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      tileSize.foreach { ts =>
        param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
        param.setTiling(ts, ts, 0, 0)
      }
      compression.foreach { c =>
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionType(c)
      }
      val meta = writer.getDefaultImageMetadata(
        new ImageTypeSpecifier(img), param)
      val dir = TIFFDirectory.createFromMetadata(meta)
      geoFields(geobox, nodata).foreach(dir.addTIFFField)
      writer.write(null, new IIOImage(img, null, dir.getAsMetadata), param)
    } finally {
      writer.dispose()
      ios.close()
    }
  }

  /** Nearest-neighbor decimation of a plane by integer factor `s` —
    * shared by the single-image and subdataset-container writers. */
  private def decimated(pixels: Array[Double], gbox: GeoBox, s: Int)
  : (Array[Double], GeoBox) = {
    val ow = math.max(1, gbox.width / s)
    val oh = math.max(1, gbox.height / s)
    val opix = new Array[Double](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        opix(y * ow + x) = pixels(
          math.min(y * s, gbox.height - 1) * gbox.width +
            math.min(x * s, gbox.width - 1))
        x += 1
      }
      y += 1
    }
    val t = gbox.transform
    (opix, GeoBox(ow, oh,
      Affine(t.a * s, t.b * s, t.c, t.d * s, t.e * s, t.f), gbox.crs))
  }

  /** Write a multi-SUBDATASET container TIFF: independent named
    * single-band images, each with its OWN geo tags and a PageName
    * (tag 285) — the zero-GDAL analog of a netCDF/HDF variable container
    * (what `RasterSource.subdataset` addresses; reference
    * `loader/types.py:44-56`). Subdatasets may differ in grid, dtype and
    * nodata. `overviews` appends each subdataset's decimated pyramid as
    * the unnamed reduced-resolution IFDs immediately following it (the
    * GDAL container layout `overviewLevels` enumerates). Read back via
    * `readHeader(s"$path#$name")`. */
  def writeSubdatasets(path: String,
      subs: Seq[(String, Array[Double], GeoBox, String, Option[Double])],
      tileSize: Option[Int] = Some(64),
      overviews: Seq[Int] = Nil): Unit = {
    require(subs.nonEmpty, "a subdataset container needs at least one image")
    require(subs.map(_._1).distinct.length == subs.length,
      "subdataset names must be unique")
    // digit-only fragments always parse as an image INDEX (splitUri), so
    // a subdataset literally named "7" would be unreachable by name
    require(subs.forall(s => !s._1.forall(_.isDigit)),
      "subdataset names must not be all digits (fragment parses as image index)")
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      def writeImage(pixels: Array[Double], gbox: GeoBox, dtype: String,
                     nodata: Option[Double], name: Option[String]): Unit = {
        val img = toImage(pixels, gbox.width, gbox.height, dtype)
        val param = writer.getDefaultWriteParam
        tileSize.foreach { ts =>
          param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
          param.setTiling(ts, ts, 0, 0)
        }
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), param)
        val dir = TIFFDirectory.createFromMetadata(meta)
        name match {
          case Some(n) =>
            geoFields(gbox, nodata).foreach(dir.addTIFFField)
            dir.addTIFFField(new TIFFField(
              new TIFFTag("PageName", TagPageName, 1 << TIFFTag.TIFF_ASCII),
              TIFFTag.TIFF_ASCII, 1, Array(n)))
          case None => // overview IFD: no geo tags (derived from parent)
            dir.addTIFFField(new TIFFField(
              new TIFFTag("NewSubfileType", TagNewSubfileType,
                1 << TIFFTag.TIFF_LONG),
              TIFFTag.TIFF_LONG, 1, Array[Long](1L)))
        }
        writer.writeToSequence(new IIOImage(img, null, dir.getAsMetadata), param)
      }
      subs.foreach { case (name, pixels, gbox, dtype, nodata) =>
        require(pixels.length == gbox.width * gbox.height,
          s"subdataset '$name' pixel count does not match its geobox")
        writeImage(pixels, gbox, dtype, nodata, Some(name))
        overviews.foreach { s =>
          val (opix, ogb) = decimated(pixels, gbox, s)
          writeImage(opix, ogb, dtype, nodata, None)
        }
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
  }

  /** Write a single-band GeoTIFF; `tileSize` tiles the layout (multiple
    * of 16), `overviews` appends decimated subimage IFDs (the COG
    * shape: base + pyramid in one file), and `compression` selects a
    * TIFF codec by JDK name ("Deflate", "LZW" — what real COGs ship
    * with; the reader decodes any of them transparently). */
  def write(path: String, pixels: Array[Double], geobox: GeoBox,
            dtype: String, nodata: Option[Double],
            tileSize: Option[Int] = Some(64),
            overviews: Seq[Int] = Nil,
            compression: Option[String] = None): Unit = {
    require(pixels.length == geobox.width * geobox.height)
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)

      def writeLevel(px: Array[Double], gbox: GeoBox, base: Boolean): Unit = {
        val img = toImage(px, gbox.width, gbox.height, dtype)
        val param = writer.getDefaultWriteParam
        tileSize.foreach { ts =>
          param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
          param.setTiling(ts, ts, 0, 0)
        }
        compression.foreach { c =>
          param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
          param.setCompressionType(c)
          // JDK TIFFDeflater maps quality -> deflate level 1+8q and
          // MODE_EXPLICIT defaults quality to 1.0 = level 9, the
          // pathological CPU corner (~6x slower than level 3 for ~10%
          // size). 0.25 -> level 3, the speed-oriented COG choice.
          if (c == "Deflate") param.setCompressionQuality(0.25f)
        }
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), param)
        val dir = TIFFDirectory.createFromMetadata(meta)
        if (base) geoFields(gbox, nodata).foreach(dir.addTIFFField)
        // COG-correct marking: overview IFDs are reduced-resolution
        // images (NewSubfileType bit 0)
        else dir.addTIFFField(new TIFFField(
          new TIFFTag("NewSubfileType", TagNewSubfileType, 1 << TIFFTag.TIFF_LONG),
          TIFFTag.TIFF_LONG, 1, Array[Long](1L)))
        writer.writeToSequence(new IIOImage(img, null, dir.getAsMetadata), param)
      }

      writeLevel(pixels, geobox, base = true)
      overviews.foreach { s =>
        val (opix, ogb) = decimated(pixels, geobox, s)
        writeLevel(opix, ogb, base = false)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
  }
}
