package graft.raster

import graft.geo.{BBox, Crs, GeoBox}
import graft.model.{RasterLoadParams, RasterSource}

/** Destination-pixel region of interest. */
final case class Roi(x0: Int, y0: Int, w: Int, h: Int) {
  def isEmpty: Boolean = w <= 0 || h <= 0
}

/** Pluggable reader protocol (S9, `loader/types.py:142-157`): open a
  * source URI and fill a window of the destination grid. Implementations
  * mirror the reference reader's planning (`_rio.py:314-475`):
  *
  *  1. compute the dst ROI overlapping the source extent; empty -> skip;
  *  2. **paste path** when grids align (same CRS, same res within ttol,
  *     sub-pixel aligned): windowed read, no resampling (F15);
  *  3. else **warp path**: per-dst-pixel inverse projection with nearest /
  *     bilinear / average / mode / sum resampling (F16);
  *  4. overview selection when shrinking (S8) — reads the decimated
  *     level (sidecar file or reduced-resolution subimage) instead of the
  *     base image.
  */
/** Separable convolution kernel weights (F16): cubic = Catmull-Rom
  * (cubic convolution with a = -0.5, GDAL's kernel), lanczos =
  * sinc-windowed sinc a = 3, cubic_spline = cubic B-spline (smoothing,
  * not interpolating). Top-level so the warp sampler and the
  * `raster_resample_conv` oracle weight-table export share ONE
  * implementation — the landed weights are bit-identical to what the
  * engine multiplies with. */
object Kernels {
  def cubic(t0: Double): Double = {
    val t = math.abs(t0)
    if (t <= 1) (1.5 * t - 2.5) * t * t + 1
    else if (t < 2) ((-0.5 * t + 2.5) * t - 4) * t + 2
    else 0.0
  }
  def lanczos(t: Double): Double = {
    if (t == 0) 1.0
    else if (t <= -3 || t >= 3) 0.0
    else {
      val px = math.Pi * t
      3 * math.sin(px) * math.sin(px / 3) / (px * px)
    }
  }
  def bspline(t0: Double): Double = {
    val t = math.abs(t0)
    if (t <= 1) (4 + t * t * (3 * t - 6)) / 6
    else if (t < 2) { val u = 2 - t; u * u * u / 6 }
    else 0.0
  }
  /** Gauss pooled-kernel tap weight for an n×n window at squared
    * center distance d2 (sigma tied to the pooling radius — the GDAL
    * overview kernel). */
  def gauss(d2: Double, n: Int): Double = {
    val sigma = math.max(0.5, n / 2.0)
    math.exp(-d2 / (2 * sigma * sigma))
  }
}

trait RasterReader extends Serializable {
  /** Read the part of `src` covering `dstGeobox`; returns the dst ROI and
    * row-major pixels (length roi.w*roi.h) in **source** value space with
    * src-nodata remapped to `dstNodata`. None when no overlap. */
  def read(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
           dstNodata: Double): Option[(Roi, Array[Double])]

  /** Fused read+mosaic step (A2 hot path): write `src`'s pixels into the
    * still-`dstNodata` positions of `out` (row-major over `dstGeobox`),
    * first-valid-wins. Returns the number of newly filled pixels. The
    * default delegates to `read` (correct for any reader); performance-
    * critical readers override to skip the intermediate ROI buffer. */
  def readInto(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
               dstNodata: Double, out: Array[Double]): Long =
    read(src, cfg, dstGeobox, dstNodata) match {
      case Some((roi, pix)) =>
        var filled = 0L
        var y = 0
        while (y < roi.h) {
          var x = 0
          while (x < roi.w) {
            val di = (roi.y0 + y) * dstGeobox.width + (roi.x0 + x)
            val cur = out(di)
            if (cur.isNaN || cur == dstNodata) {
              val v = pix(y * roi.w + x)
              if (!(v.isNaN || v == dstNodata)) { out(di) = v; filled += 1 }
            }
            x += 1
          }
          y += 1
        }
        filled
      case None => 0L
    }
}

/** Shared windowed-read planner over a pluggable storage format. A format
  * supplies header decode, windowed pixel reads, and its overview-pyramid
  * enumeration (sidecar files for GRB, reduced-resolution subimages for
  * TIFF — level handles are themselves URIs); the paste/warp planning,
  * resampling kernels, and the approximating row transformer are format-
  * independent and live here. */
abstract class WindowedReader extends RasterReader {

  /** Parse the format header: dims, dtype, nodata, geobox. `band` is the
    * 1-based sample band the source addresses (multi-band assets);
    * formats that cannot address it must throw, not read band 1. */
  protected def formatHeader(uri: String, band: Int): Grb.Header

  /** Windowed pixel read of one band (row-major doubles, unsigned
    * widened). */
  protected def formatWindow(uri: String, x0: Int, y0: Int,
                             w: Int, h: Int, band: Int): Array[Double]

  /** Available decimation levels, ascending scale: (scale, level-uri).
    * A level-uri must itself be readable by formatHeader/formatWindow. */
  protected def formatOverviews(uri: String): Seq[(Int, String)]

  /** Resolve named-subdataset addressing into the format's URI space
    * (reference `loader/types.py:44-56` — netCDF/HDF variable
    * containers; here multi-image TIFF containers). Formats without
    * container support must throw, not silently read the base image —
    * same loud-validation contract as the band path. */
  protected def resolveSubdataset(uri: String, sub: String): String =
    throw new IllegalArgumentException(
      s"$uri: format does not support subdataset addressing " +
        s"(subdataset='$sub' requested)")

  /** Normalize a source for reading: strip the file scheme and resolve
    * `subdataset` to a concrete image URI. */
  protected final def resolveSource(src0: RasterSource): RasterSource = {
    val src = src0.copy(uri = src0.uri.stripPrefix("file://"))
    src.subdataset.fold(src)(sub =>
      src.copy(uri = resolveSubdataset(src.uri, sub), subdataset = None))
  }

  /** Sub-pixel tolerance for the paste decision (`_rio.py:444-447`):
    * loose for nearest, tight otherwise. */
  private def ttol(resampling: String): Double =
    if (resampling == "nearest") 0.9 else 0.05

  def read(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
           dstNodata: Double): Option[(Roi, Array[Double])] = {
    try readImpl(src, cfg, dstGeobox, dstNodata)
    catch {
      case e: Exception if !cfg.failOnError =>
        // permissive mode (`_rio.py:402-436`): log and contribute nothing
        System.err.println(s"[graft.reader] ${src.uri}: ${e.getMessage}")
        None
    }
  }

  /** Scope of one source read: its subdataset resolution and every
    * formatHeader/formatWindow/formatOverviews call run inside it. A
    * format that parses its container once per read overrides this to
    * hold that parse for the read, and drop it after. */
  protected def withinRead[A](uri: String)(body: => A): A = body

  private def readImpl(src0: RasterSource, cfg: RasterLoadParams,
                       dstGeobox: GeoBox, dstNodata: Double)
  : Option[(Roi, Array[Double])] = withinRead(src0.uri) {
    val src = resolveSource(src0)
    plan(src, cfg, dstGeobox) match {
      case None => None
      case Some(ReadPlan(header, srcNodata, roi, Some((sx0, sy0)))) =>
        paste(src, header, srcNodata, dstGeobox, roi, sx0, sy0, dstNodata)
      case Some(ReadPlan(header, srcNodata, roi, None)) =>
        warp(src, header, cfg, srcNodata, dstGeobox, roi, dstNodata)
    }
  }

  /** Planned read: dst ROI + resolved src nodata; `pasteAt` is the src
    * window origin when the F15 paste fast path applies, None -> warp. */
  protected final case class ReadPlan(header: Grb.Header,
                                      srcNodata: Option[Double], roi: Roi,
                                      pasteAt: Option[(Int, Int)])

  /** Shared F15/F16 planning (`_rio.py:314-475` analog). None = no
    * overlap with the destination. */
  protected def plan(src: RasterSource, cfg: RasterLoadParams,
                     dstGeobox: GeoBox): Option[ReadPlan] = {
    val header = formatHeader(src.uri, src.band)
    val srcGeobox = header.geobox
    val srcNodata = cfg.srcNodataOverride
      .orElse(header.nodata)
      .orElse(src.nodata)
      .orElse(cfg.srcNodataFallback)

    // dst ROI covering the source extent
    val srcExtentDst: BBox =
      if (srcGeobox.crs == dstGeobox.crs) srcGeobox.extent
      else srcGeobox.footprint(dstGeobox.crs).bbox
    val inv = dstGeobox.transform.inverse
    val corners = Seq(
      inv(srcExtentDst.x0, srcExtentDst.y0), inv(srcExtentDst.x1, srcExtentDst.y0),
      inv(srcExtentDst.x1, srcExtentDst.y1), inv(srcExtentDst.x0, srcExtentDst.y1))
    val px0 = math.max(0, math.floor(corners.map(_._1).min).toInt)
    val py0 = math.max(0, math.floor(corners.map(_._2).min).toInt)
    val px1 = math.min(dstGeobox.width, math.ceil(corners.map(_._1).max).toInt)
    val py1 = math.min(dstGeobox.height, math.ceil(corners.map(_._2).max).toInt)
    val roi = Roi(px0, py0, px1 - px0, py1 - py0)
    if (roi.isEmpty) return None

    val sameCrs = srcGeobox.crs == dstGeobox.crs
    val axisAligned =
      srcGeobox.transform.isAxisAligned && dstGeobox.transform.isAxisAligned
    val sameRes = sameCrs && axisAligned &&
      math.abs(srcGeobox.resX - dstGeobox.resX) < 1e-9 * math.abs(dstGeobox.resX) &&
      math.abs(srcGeobox.resY - dstGeobox.resY) < 1e-9 * math.abs(dstGeobox.resY)

    val pasteAt = if (sameRes) {
      // check sub-pixel alignment for paste
      val (spx, spy) = srcGeobox.transform.inverse(
        dstGeobox.transform(px0, py0)._1, dstGeobox.transform(px0, py0)._2)
      val fx = spx - math.round(spx)
      val fy = spy - math.round(spy)
      val tol = ttol(cfg.resampling)
      if (math.abs(fx) <= tol && math.abs(fy) <= tol)
        Some((math.round(spx).toInt, math.round(spy).toInt))
      else None
    } else None
    Some(ReadPlan(header, srcNodata, roi, pasteAt))
  }

  /** Clip a paste window to the source image. Returns
    * (dstOffX, dstOffY, srcX0, srcY0, w, h); w/h <= 0 means no overlap.
    * Shared by the buffered (`paste`) and fused (`readInto`) paths. */
  protected def clipPaste(header: Grb.Header, roi: Roi, sx0: Int, sy0: Int)
  : (Int, Int, Int, Int, Int, Int) = {
    val cx0 = math.max(0, -sx0)
    val cy0 = math.max(0, -sy0)
    val w = math.min(roi.w - cx0, header.width - math.max(0, sx0))
    val h = math.min(roi.h - cy0, header.height - math.max(0, sy0))
    (cx0, cy0, math.max(0, sx0), math.max(0, sy0), w, h)
  }

  /** Direct windowed read — grids align (F15 fast path). */
  private def paste(src: RasterSource, header: Grb.Header, srcNodata: Option[Double],
                    dstGeobox: GeoBox, roi: Roi, sx0: Int, sy0: Int,
                    dstNodata: Double): Option[(Roi, Array[Double])] = {
    val (cx0, cy0, wx0, wy0, w, h) = clipPaste(header, roi, sx0, sy0)
    if (w <= 0 || h <= 0) return None
    val pix = formatWindow(src.uri, wx0, wy0, w, h, src.band)
    val out = new Array[Double](roi.w * roi.h)
    if (cx0 > 0 || cy0 > 0 || w < roi.w || h < roi.h)
      java.util.Arrays.fill(out, dstNodata)
    // src nodata as a primitive: NaN means "no nodata value" and the
    // v.isNaN test alone applies (F5 semantics, no Option in the loop)
    val sn = srcNodata.getOrElse(Double.NaN)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pix(y * w + x)
        out((cy0 + y) * roi.w + (cx0 + x)) =
          if (v.isNaN || v == sn) dstNodata else v
        x += 1
      }
      y += 1
    }
    Some((roi, out))
  }

  /** Per-pixel reproject + resample (F16). Reads a source window sized to
    * the ROI (with overview selection when shrinking, S8). */
  private def warp(src: RasterSource, header: Grb.Header, cfg: RasterLoadParams,
                   srcNodata: Option[Double], dstGeobox: GeoBox, roi: Roi,
                   dstNodata: Double): Option[(Roi, Array[Double])] = {
    val srcGeobox0 = header.geobox
    // read shrink: how many src pixels per dst pixel
    val shrink = math.max(1, math.floor(dstGeobox.gsd / srcGeobox0.gsd).toInt)
    val (uri, srcGeobox) =
      if (cfg.useOverviews && shrink > 1) {
        val levels = formatOverviews(src.uri)
        Grb.pickOverview(shrink, levels.map(_._1)) match {
          case Some(i) =>
            val u = levels(i)._2
            (u, formatHeader(u, src.band).geobox)
          case None => (src.uri, srcGeobox0)
        }
      } else (src.uri, srcGeobox0)

    // shrink relative to the CHOSEN level: the average-pooling window is
    // sized in that level's pixels (an .ovr4 read at 4x shrink pools 1
    // overview px per dst px, not 4 base px)
    val levelShrink = math.max(1,
      math.floor(dstGeobox.gsd / srcGeobox.gsd).toInt)

    // src window covering the dst roi (in the chosen level's grid)
    val dstBox = {
      val (ax, ay) = dstGeobox.transform(roi.x0, roi.y0)
      val (bx, by) = dstGeobox.transform(roi.x0 + roi.w, roi.y0 + roi.h)
      BBox(math.min(ax, bx), math.min(ay, by), math.max(ax, bx), math.max(ay, by))
    }
    val dstBoxSrc =
      if (srcGeobox.crs == dstGeobox.crs) dstBox
      else graft.geo.Geom.box(dstBox, dstGeobox.crs).toCrs(srcGeobox.crs).bbox
    val sinv = srcGeobox.transform.inverse
    val scorners = Seq(
      sinv(dstBoxSrc.x0, dstBoxSrc.y0), sinv(dstBoxSrc.x1, dstBoxSrc.y0),
      sinv(dstBoxSrc.x1, dstBoxSrc.y1), sinv(dstBoxSrc.x0, dstBoxSrc.y1))
    val wx0 = math.max(0, math.floor(scorners.map(_._1).min).toInt - 1)
    val wy0 = math.max(0, math.floor(scorners.map(_._2).min).toInt - 1)
    val wx1 = math.min(srcGeobox.width, math.ceil(scorners.map(_._1).max).toInt + 1)
    val wy1 = math.min(srcGeobox.height, math.ceil(scorners.map(_._2).max).toInt + 1)
    if (wx1 <= wx0 || wy1 <= wy0) return None
    val (sw, sh) = (wx1 - wx0, wy1 - wy0)
    val spix = formatWindow(uri, wx0, wy0, sw, sh, src.band)

    // primitive nodata (NaN = none) — keeps Option out of the pixel loop
    val sn = srcNodata.getOrElse(Double.NaN)
    @inline def invalid(v: Double): Boolean = v.isNaN || v == sn
    // resampling mode hoisted to an int (no per-pixel string match);
    // full rasterio/GDAL matrix (`types.py:113-114` passes any rasterio
    // mode string through to GDAL)
    val rcode = cfg.resampling match {
      case "bilinear" => 1; case "average" => 2; case "mode" => 3
      case "sum" => 4; case "cubic" => 5; case "lanczos" => 6
      case "cubic_spline" => 7; case "min" => 8; case "max" => 9
      case "med" => 10; case "q1" => 11; case "q3" => 12
      case "rms" => 13; case "gauss" => 14; case _ => 0
    }

    // Convolution kernels — see [[Kernels]] (shared with the oracle
    // weight-table export so both engines use bit-identical weights).
    @inline def cubicW(t0: Double): Double = Kernels.cubic(t0)
    @inline def lanczosW(t: Double): Double = Kernels.lanczos(t)
    @inline def bsplineW(t0: Double): Double = Kernels.bspline(t0)
    /** Shared 2-D convolution sampler: `taps`×`taps` window centred on
      * the source position, nodata-aware via weight renormalization
      * (same convention as the bilinear kernel above).
      * kernel: 0 = cubic, 1 = lanczos, 2 = B-spline. */
    def convSample(lx: Double, ly: Double, taps: Int, kernel: Int): Double = {
      val half = taps / 2
      val x0 = math.floor(lx - 0.5).toInt - (half - 1)
      val y0 = math.floor(ly - 0.5).toInt - (half - 1)
      val fx = lx - 0.5 - math.floor(lx - 0.5)
      val fy = ly - 0.5 - math.floor(ly - 0.5)
      @inline def kw(t: Double): Double = kernel match {
        case 1 => lanczosW(t); case 2 => bsplineW(t); case _ => cubicW(t)
      }
      var acc = 0.0; var wsum = 0.0
      var dy = 0
      while (dy < taps) {
        val yy = y0 + dy
        if (yy >= 0 && yy < sh) {
          val off = (dy - (half - 1)) - fy
          val wy = kw(off)
          if (wy != 0.0) {
            var dx = 0
            while (dx < taps) {
              val xx = x0 + dx
              if (xx >= 0 && xx < sw) {
                val v = spix(yy * sw + xx)
                if (!invalid(v)) {
                  val ox = (dx - (half - 1)) - fx
                  acc += v * (kw(ox) * wy); wsum += kw(ox) * wy
                }
              }
              dx += 1
            }
          }
        }
        dy += 1
      }
      if (math.abs(wsum) < 1e-12) dstNodata else acc / wsum
    }

    def sample(spx: Double, spy: Double): Double = {
      val lx = spx - wx0
      val ly = spy - wy0
      (rcode: @annotation.switch) match {
        case 1 =>
          val x0 = math.floor(lx - 0.5).toInt
          val y0 = math.floor(ly - 0.5).toInt
          val fx = lx - 0.5 - x0
          val fy = ly - 0.5 - y0
          var acc = 0.0; var wsum = 0.0
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val xx = x0 + dx; val yy = y0 + dy
              if (xx >= 0 && xx < sw && yy >= 0 && yy < sh) {
                val v = spix(yy * sw + xx)
                if (!invalid(v)) {
                  val wgt = (if (dx == 0) 1 - fx else fx) * (if (dy == 0) 1 - fy else fy)
                  acc += v * wgt; wsum += wgt
                }
              }
              dx += 1
            }
            dy += 1
          }
          if (wsum <= 0) dstNodata else acc / wsum
        case 2 | 3 | 4 | 8 | 9 | 10 | 11 | 12 | 13 | 14 =>
          // pooled kernels share the window walk: average (F16 flux mean),
          // mode (categorical majority), sum (flux total), min/max/rms,
          // med/q1/q3 (order statistics), gauss (gaussian-weighted mean) —
          // the GDAL overview-style family (`types.py:113-114`)
          val n = math.max(1, levelShrink)
          val x0 = math.floor(lx - n / 2.0).toInt
          val y0 = math.floor(ly - n / 2.0).toInt
          var acc = 0.0; var cnt = 0
          var mnv = Double.MaxValue; var mxv = Double.MinValue
          var wacc = 0.0; var wsum = 0.0
          // mode: tiny open-addressed value->count table (window is n*n);
          // med/q1/q3 reuse mvals as the raw sample list
          val needVals = rcode == 3 || rcode == 10 || rcode == 11 || rcode == 12
          val mvals = if (needVals) new Array[Double](n * n) else null
          val mcnts = if (rcode == 3) new Array[Int](n * n) else null
          var mn = 0
          // gauss: sigma tied to the pooling radius (GDAL overview
          // kernel) — weight math shared bit-for-bit via [[Kernels]]
          val cxc = lx; val cyc = ly
          var dy = 0
          while (dy < n) {
            var dx = 0
            while (dx < n) {
              val xx = x0 + dx; val yy = y0 + dy
              if (xx >= 0 && xx < sw && yy >= 0 && yy < sh) {
                val v = spix(yy * sw + xx)
                if (!invalid(v)) {
                  acc += v; cnt += 1
                  if (v < mnv) mnv = v
                  if (v > mxv) mxv = v
                  (rcode: @annotation.switch) match {
                    case 3 =>
                      var k = 0
                      var found = false
                      while (k < mn && !found) {
                        if (mvals(k) == v) { mcnts(k) += 1; found = true }
                        k += 1
                      }
                      if (!found) { mvals(mn) = v; mcnts(mn) = 1; mn += 1 }
                    case 10 | 11 | 12 => mvals(mn) = v; mn += 1
                    case 13 => acc -= v; acc += v * v // rms accumulates v^2
                    case 14 =>
                      val ddx = xx + 0.5 - cxc; val ddy = yy + 0.5 - cyc
                      val w = Kernels.gauss(ddx * ddx + ddy * ddy, n)
                      wacc += v * w; wsum += w
                    case _ => ()
                  }
                }
              }
              dx += 1
            }
            dy += 1
          }
          if (cnt == 0) dstNodata
          else (rcode: @annotation.switch) match {
            case 2 => acc / cnt
            case 4 => acc
            case 8 => mnv
            case 9 => mxv
            case 13 => math.sqrt(acc / cnt)
            case 14 => if (wsum <= 0) dstNodata else wacc / wsum
            case 10 | 11 | 12 =>
              // exact order statistic at round((cnt-1)*p), deterministic
              java.util.Arrays.sort(mvals, 0, mn)
              val p = if (rcode == 10) 0.5 else if (rcode == 11) 0.25 else 0.75
              mvals(math.round((mn - 1) * p).toInt)
            case _ =>
              // mode: most frequent value; ties -> smallest value (stable)
              var best = 0
              var k = 1
              while (k < mn) {
                if (mcnts(k) > mcnts(best) ||
                  (mcnts(k) == mcnts(best) && mvals(k) < mvals(best))) best = k
                k += 1
              }
              mvals(best)
          }
        case 5 => convSample(lx, ly, taps = 4, kernel = 0)
        case 6 => convSample(lx, ly, taps = 6, kernel = 1)
        case 7 => convSample(lx, ly, taps = 4, kernel = 2)
        case _ => // nearest (0)
          val xx = math.floor(lx).toInt
          val yy = math.floor(ly).toInt
          if (xx < 0 || xx >= sw || yy < 0 || yy >= sh) dstNodata
          else {
            val v = spix(yy * sw + xx)
            if (invalid(v)) dstNodata else v
          }
      }
    }

    // Approximating row transformer (the GDAL approx-transformer idea):
    // CRS transforms are smooth, so source coordinates along a dst row
    // are computed exactly only at segment endpoints and linearly
    // interpolated between them when the midpoint error is < 1/8 px —
    // segments subdivide where the projection bends. Cuts per-pixel trig
    // (the warp bottleneck) by ~2 orders of magnitude.
    val sameCrsW = srcGeobox.crs == dstGeobox.crs
    @inline def exactSrcPx(px: Double, py: Double): (Double, Double) = {
      val (wxp, wyp) = dstGeobox.transform(px, py)
      val (sx, sy) =
        if (sameCrsW) (wxp, wyp)
        else Crs.transform(dstGeobox.crs, srcGeobox.crs, wxp, wyp)
      srcGeobox.transform.inverse(sx, sy)
    }
    val ApproxTol2 = 0.125 * 0.125 // squared px error budget (GDAL default)
    val rowX = new Array[Double](roi.w)
    val rowY = new Array[Double](roi.w)

    def fillSeg(py: Double, xa: Int, xb: Int,
                ax: Double, ay: Double, bx: Double, by: Double): Unit = {
      rowX(xa) = ax; rowY(xa) = ay
      rowX(xb) = bx; rowY(xb) = by
      if (xb - xa <= 1) return
      val xm = (xa + xb) / 2
      val (mx, my) = exactSrcPx(roi.x0 + xm + 0.5, py)
      val t = (xm - xa).toDouble / (xb - xa)
      val ix = ax + (bx - ax) * t
      val iy = ay + (by - ay) * t
      val ex = ix - mx
      val ey = iy - my
      if (ex * ex + ey * ey <= ApproxTol2) {
        var x = xa + 1
        while (x < xb) {
          val u = (x - xa).toDouble / (xb - xa)
          rowX(x) = ax + (bx - ax) * u
          rowY(x) = ay + (by - ay) * u
          x += 1
        }
        rowX(xm) = mx; rowY(xm) = my // exact where we paid for it
      } else {
        fillSeg(py, xa, xm, ax, ay, mx, my)
        fillSeg(py, xm, xb, mx, my, bx, by)
      }
    }

    val out = new Array[Double](roi.w * roi.h)
    var y = 0
    while (y < roi.h) {
      val py = roi.y0 + y + 0.5
      if (roi.w == 1) {
        val (sx, sy) = exactSrcPx(roi.x0 + 0.5, py)
        rowX(0) = sx; rowY(0) = sy
      } else {
        val (ax, ay) = exactSrcPx(roi.x0 + 0.5, py)
        val (bx, by) = exactSrcPx(roi.x0 + roi.w - 1 + 0.5, py)
        fillSeg(py, 0, roi.w - 1, ax, ay, bx, by)
      }
      var x = 0
      while (x < roi.w) {
        out(y * roi.w + x) = sample(rowX(x), rowY(x))
        x += 1
      }
      y += 1
    }
    Some((roi, out))
  }
}

object GrbReader extends WindowedReader {

  protected def formatHeader(uri: String, band: Int): Grb.Header = {
    require(band == 1,
      s"GRB containers are single-band by format; band $band requested of $uri")
    Grb.readHeader(uri)
  }

  protected def formatWindow(uri: String, x0: Int, y0: Int,
                             w: Int, h: Int, band: Int): Array[Double] = {
    require(band == 1,
      s"GRB containers are single-band by format; band $band requested of $uri")
    Grb.readWindow(uri, x0, y0, w, h)._2
  }

  /** Any `.ovr<N>` sidecar participates (S8 generalized — deep pyramids
    * 8x/16x included), not a hardcoded 2/4 list. */
  protected def formatOverviews(uri: String): Seq[(Int, String)] = {
    val (dir, name) = RasterIO.parentAndName(uri)
    val prefix = name + ".ovr"
    RasterIO.list(dir)
      .flatMap { n =>
        if (n.startsWith(prefix))
          n.stripPrefix(prefix).toIntOption.map(s => s -> s"$dir/$n")
        else None
      }
      .sortBy(_._1)
  }

  /** Paste-aligned sources fuse straight from the read buffer into the
    * destination (no ROI array, no remap pass — `Grb.fuseWindowInto`);
    * warp-path sources fall back to the generic read+fuse. */
  override def readInto(src0: RasterSource, cfg: RasterLoadParams,
                        dstGeobox: GeoBox, dstNodata: Double,
                        out: Array[Double]): Long = {
    try {
      val src = resolveSource(src0)
      plan(src, cfg, dstGeobox) match {
        case None => 0L
        case Some(ReadPlan(header, srcNodata, roi, Some((sx0, sy0)))) =>
          val (cx0, cy0, wx0, wy0, w, h) = clipPaste(header, roi, sx0, sy0)
          if (w <= 0 || h <= 0) 0L
          else Grb.fuseWindowInto(src.uri, wx0, wy0, w, h, srcNodata,
            out, dstGeobox.width, roi.x0 + cx0, roi.y0 + cy0, dstNodata,
            permissive = !cfg.failOnError)
        case Some(ReadPlan(_, _, _, None)) =>
          super.readInto(src0, cfg, dstGeobox, dstNodata, out)
      }
    } catch {
      case e: Exception if !cfg.failOnError =>
        System.err.println(s"[graft.reader] ${src0.uri}: ${e.getMessage}")
        0L
    }
  }

  /** Nodata test incl. NaN semantics (F5, `loader/_reader.py:117-134`). */
  def isNodata(v: Double, nodata: Option[Double]): Boolean =
    v.isNaN || nodata.exists(n => if (n.isNaN) v.isNaN else v == n)
}

/** GeoTIFF reader on the direct tile reader ([[Tiff]], [[TiffFile]]):
  * each source read opens its file once and parses its IFD chain once,
  * then fetches only the tiles that intersect the window, in
  * span-coalesced ranged reads. Geokeys come from the TIFF tags,
  * overviews from reduced-resolution subimages (addressed as
  * `uri#<image-index>`). Mirrors the reference's rasterio reader shape
  * (`_rio.py:374-475`). */
object TiffReader extends WindowedReader {
  override protected def withinRead[A](uri: String)(body: => A): A =
    Tiff.withinRead(uri)(body)
  /** Subdataset -> page-named image index (`path#<idx>`), loud on a
    * miss. A source cannot address BOTH an explicit image index and a
    * named subdataset. */
  override protected def resolveSubdataset(uri: String, sub: String): String = {
    require(!uri.contains("#"),
      s"$uri already addresses an image index; cannot also resolve " +
        s"subdataset '$sub'")
    s"$uri#${Tiff.resolveSubdataset(uri, sub)}"
  }
  protected def formatHeader(uri: String, band: Int): Grb.Header =
    Tiff.readHeader(uri, band)
  protected def formatWindow(uri: String, x0: Int, y0: Int,
                             w: Int, h: Int, band: Int): Array[Double] =
    Tiff.readWindow(uri, x0, y0, w, h, band)
  protected def formatOverviews(uri: String): Seq[(Int, String)] =
    Tiff.overviewLevels(uri)
}

/** Zarr v2 store reader: chunked-directory containers whose variables
  * are the subdataset surface (`store.zarr#red` — the modern netCDF
  * analog the reference's `RasterSource.subdataset` models,
  * `loader/types.py:44-56`). Windowed reads decode only intersecting
  * chunks (one object-store GET per needed chunk at scale); overview
  * levels are `<var>.ovrN` sidecar variables (the GRB convention). */
object ZarrReader extends WindowedReader {
  override protected def resolveSubdataset(uri: String, sub: String): String = {
    require(!uri.contains("#"),
      s"$uri already addresses a variable; cannot also resolve " +
        s"subdataset '$sub'")
    Zarr.requireVariable(uri, sub) // loud at plan time, lists variables
    s"$uri#$sub"
  }
  protected def formatHeader(uri: String, band: Int): Grb.Header = {
    require(band == 1,
      s"zarr variables are single-band planes; band $band requested of " +
        s"$uri — address additional variables as store.zarr#<variable>")
    Zarr.readHeader(uri)
  }
  protected def formatWindow(uri: String, x0: Int, y0: Int,
                             w: Int, h: Int, band: Int): Array[Double] = {
    require(band == 1,
      s"zarr variables are single-band planes; band $band requested of $uri")
    Zarr.readWindow(uri, x0, y0, w, h)
  }
  protected def formatOverviews(uri: String): Seq[(Int, String)] =
    Zarr.overviewLevels(uri)
}

/** netCDF classic container reader: named 2-D variables are the
  * subdataset surface (`file.nc#red` — the original container format
  * the reference's `RasterSource.subdataset` models,
  * `loader/types.py:44-56`). Contiguous row-major storage means each
  * window row is one byte-ranged read; the format has no overview
  * convention, so pyramid selection falls back to base resolution. */
object NetCdfReader extends WindowedReader {
  override protected def resolveSubdataset(uri: String, sub: String): String = {
    require(!uri.contains("#"),
      s"$uri already addresses a variable; cannot also resolve " +
        s"subdataset '$sub'")
    NetCdf.requireVariable(uri, sub) // loud at plan time, lists variables
    s"$uri#$sub"
  }
  protected def formatHeader(uri: String, band: Int): Grb.Header = {
    require(band == 1,
      s"netCDF variables are single-band planes; band $band requested of " +
        s"$uri — address additional variables as file.nc#<variable>")
    NetCdf.readHeader(uri)
  }
  protected def formatWindow(uri: String, x0: Int, y0: Int,
                             w: Int, h: Int, band: Int): Array[Double] = {
    require(band == 1,
      s"netCDF variables are single-band planes; band $band requested of $uri")
    NetCdf.readWindow(uri, x0, y0, w, h)
  }
  protected def formatOverviews(uri: String): Seq[(Int, String)] = Seq.empty
}

/** Default reader: routes per-source by file extension (S9 driver
  * indirection) — GeoTIFF to [[TiffReader]], zarr stores to
  * [[ZarrReader]], netCDF classic to [[NetCdfReader]], everything else
  * to the GRB container reader. */
object AutoReader extends RasterReader {
  private def pick(uri: String): RasterReader = {
    val u = uri.toLowerCase.takeWhile(_ != '#')
    if (u.endsWith(".tif") || u.endsWith(".tiff")) TiffReader
    else if (u.endsWith(".zarr")) ZarrReader
    else if (u.endsWith(".nc")) NetCdfReader
    else GrbReader
  }
  def read(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
           dstNodata: Double): Option[(Roi, Array[Double])] =
    pick(src.uri).read(src, cfg, dstGeobox, dstNodata)
  override def readInto(src: RasterSource, cfg: RasterLoadParams,
                        dstGeobox: GeoBox, dstNodata: Double,
                        out: Array[Double]): Long =
    pick(src.uri).readInto(src, cfg, dstGeobox, dstNodata, out)
}
