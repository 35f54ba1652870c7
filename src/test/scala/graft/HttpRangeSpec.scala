package graft

import graft.geo.GeoBox
import graft.load.Load
import graft.model.{RasterLoadParams, RasterSource}
import graft.raster._
import graft.stac.StacParse
import org.scalatest.funsuite.AnyFunSuite

import javax.imageio.ImageIO
import javax.imageio.plugins.tiff.TIFFDirectory

/** Exercises the remote-IO seam with a REAL remote source: an
  * in-process HTTP file server (Range-capable, with injectable 503s)
  * behind [[HttpRangeSource]] — format decoders unchanged. Proves
  * (a) ranged-GET reads are byte-identical to local reads for both the
  * positioned-decoder path (GRB) and the javax.imageio stream-fallback
  * path (GeoTIFF), (b) the retry policy (the reference's
  * GDAL_HTTP_MAX_RETRY analog, `_rio.py:65-69`) absorbs transient
  * failures, (c) non-transient failures fail fast, (d) a GeoTIFF
  * window moves only its intersecting tiles, and (e) truncated or
  * corrupt TIFF tiles fail naming the URI, or under `failOnError = false`
  * blank only the bins that read them.
  */
class HttpRangeSpec extends AnyFunSuite {

  private val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
  private val nRequests = new java.util.concurrent.atomic.AtomicInteger(0)
  private val bytesServed = new java.util.concurrent.atomic.AtomicLong(0)

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft_http_src").toString

  private lazy val server = {
    val s = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) => {
      nRequests.incrementAndGet()
      if (failNext.getAndUpdate(v => math.max(v - 1, 0)) > 0) {
        exchange.sendResponseHeaders(503, -1)
        exchange.close()
      } else {
        val f = new java.io.File(dir, exchange.getRequestURI.getPath)
        if (!f.isFile) {
          exchange.sendResponseHeaders(404, -1)
          exchange.close()
        } else {
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          Option(exchange.getRequestHeaders.getFirst("Range")) match {
            case Some(r) =>
              val m = "bytes=(\\d+)-(\\d+)".r.findFirstMatchIn(r).get
              val a = m.group(1).toInt
              val b = math.min(m.group(2).toLong, bytes.length - 1L).toInt
              val slice = java.util.Arrays.copyOfRange(bytes, a, b + 1)
              exchange.getResponseHeaders.set(
                "Content-Range", s"bytes $a-$b/${bytes.length}")
              exchange.sendResponseHeaders(206, slice.length)
              exchange.getResponseBody.write(slice)
              bytesServed.addAndGet(slice.length)
              exchange.close()
            case None =>
              exchange.sendResponseHeaders(200, bytes.length)
              exchange.getResponseBody.write(bytes)
              bytesServed.addAndGet(bytes.length)
              exchange.close()
          }
        }
      }
    })
    s.start()
    // fast-backoff instance for the suite (policy shape identical)
    RasterIO.register("http",
      new HttpRangeSource(maxRetries = 10, retryDelayMs = 1))
    s
  }
  private def base = s"http://127.0.0.1:${server.getAddress.getPort}"

  private lazy val g = Fixtures.sceneGeobox(0)
  private lazy val px = Fixtures.scenePixels(0)
  private lazy val grbPath = {
    val p = s"$dir/s.grb"
    Grb.writeWithOverviews(p, px, g, "uint16", Some(0.0))
    p
  }
  private lazy val tifPath = {
    val p = s"$dir/s.tif"
    Tiff.write(p, px, g, "uint16", Some(0.0), tileSize = Some(64))
    p
  }

  test("GRB header + window over http equal local reads, via few ranged GETs") {
    grbPath // materialize the served file before the first request
    val uri = s"$base/s.grb"
    assert(Grb.readHeader(uri) == Grb.readHeader(grbPath))
    val before = nRequests.get()
    val remote = Grb.readWindow(uri, 3, 5, 40, 20)._2
    val gets = nRequests.get() - before
    assert(remote.sameElements(Grb.readWindow(grbPath, 3, 5, 40, 20)._2))
    // span coalescing holds over http: a 40x20 window is a handful of
    // ranged GETs (one per coalesced row span + length probe), not 800
    assert(gets < 30, s"windowed read issued $gets GETs")
  }

  test("GeoTIFF decode over http routes through the stream fallback") {
    tifPath // materialize the served file before the first request
    val uri = s"$base/s.tif"
    val remote = Tiff.readWindow(uri, 2, 2, 30, 30)
    assert(remote.sameElements(Tiff.readWindow(tifPath, 2, 2, 30, 30)))
  }

  test("transient 503s are retried and the read still succeeds") {
    grbPath // materialize before priming failures
    failNext.set(3)
    val remote = Grb.readWindow(s"$base/s.grb", 0, 0, 16, 16)._2
    assert(remote.sameElements(Grb.readWindow(grbPath, 0, 0, 16, 16)._2))
    assert(failNext.get() == 0, "injected failures were never consumed")
  }

  test("retry budget exhausts into a loud IOException") {
    grbPath
    val src = new HttpRangeSource(maxRetries = 2, retryDelayMs = 1)
    failNext.set(100)
    val e = intercept[java.io.IOException] { src.readAll(s"$base/s.grb") }
    failNext.set(0)
    assert(e.getMessage.contains("after 3 attempts"), e.getMessage)
  }

  test("404 fails fast: no retry storm, exists() is false") {
    server
    val before = nRequests.get()
    assert(!RasterIO.exists(s"$base/missing.grb"))
    assert(nRequests.get() - before == 1, "404 must not be retried")
  }

  test("readPrefix and readAll match the local bytes") {
    val local = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(grbPath))
    assert(RasterIO.readAll(s"$base/s.grb").sameElements(local))
    assert(RasterIO.readPrefix(s"$base/s.grb", 64)
      .sameElements(local.take(64)))
  }

  test("an open input learns its length from the first ranged GET, not a probe") {
    grbPath
    val uri = s"$base/s.grb"
    val size = new java.io.File(grbPath).length()
    val r0 = nRequests.get()
    val in = RasterIO.open(uri)
    in.readFully(new Array[Byte](8))
    assert(in.length == size)
    in.seek(size)
    assert(in.read() == -1)
    in.close()
    assert(nRequests.get() - r0 == 1, "open + first read + length is one GET")
    // asking the length before any read costs the one probe
    val probe = RasterIO.open(uri)
    assert(probe.length == size && nRequests.get() - r0 == 2)
    probe.close()
  }

  /** (TileOffsets, TileByteCounts) of image 0, read by javax.imageio. */
  private def tileLayout(path: String): (Array[Long], Array[Long]) = {
    val iis = ImageIO.createImageInputStream(new java.io.File(path))
    try {
      val r = ImageIO.getImageReaders(iis).next()
      r.setInput(iis)
      val dir = TIFFDirectory.createFromMetadata(r.getImageMetadata(0))
      def longs(tag: Int) = {
        val f = dir.getTIFFField(tag)
        Array.tabulate(f.getCount)(i => f.getAsLong(i))
      }
      try (longs(324), longs(325)) finally r.dispose()
    } finally iis.close()
  }

  test("GeoTIFF bottom-right window moves one tile plus a header block") {
    // ROADMAP item 2's case: 4096^2 uint16, 512-px deflate tiles
    val n = 4096
    val big = s"$dir/big.tif"
    val px = Array.tabulate(n * n) { i =>
      val (x, y) = (i % n, i / n)
      ((x / 16 * 37 + y / 16 * 11 + ((i * 2654435761L) >>> 24) % 256) % 65536).toDouble
    }
    Tiff.write(big, px, GeoBox(n, n, g.transform, g.crs), "uint16", Some(0.0),
      tileSize = Some(512), compression = Some("Deflate"))
    val (offsets, counts) = tileLayout(big)
    val last = offsets.indices.maxBy(offsets(_))
    assert(last == 63, "the bottom-right tile is the file's last")
    val (r0, b0) = (nRequests.get(), bytesServed.get())
    val remote = Tiff.readWindow(s"$base/big.tif", n - 256, n - 256, 256, 256)
    val (gets, moved) = (nRequests.get() - r0, bytesServed.get() - b0)
    assert(remote.sameElements(Tiff.readWindow(big, n - 256, n - 256, 256, 256)))
    assert(gets <= 4, s"$gets requests")
    assert(moved <= counts(last) + HttpRangeSource.HeaderBytes,
      s"moved $moved bytes for a ${counts(last)}-byte tile")
    new java.io.File(big).delete()
  }

  /** Three overlapping TIFF scenes served over http; `red` of scene 1
    * points at `scene1` (a file name in the served directory). */
  private def tiffItems(scene1: String): Seq[String] = {
    (0 until 3).foreach { k =>
      val p = s"$dir/f$k-red.tif"
      if (!new java.io.File(p).exists())
        Tiff.write(p, Fixtures.scenePixels(k), Fixtures.sceneGeobox(k), "uint16",
          Some(0.0), tileSize = Some(64), compression = Some("Deflate"))
    }
    server
    (0 until 3).map(k => Fixtures.itemJson(k, Fixtures.sceneGeobox(k),
      (k, _) => if (k == 1) s"$dir/$scene1" else s"$dir/f$k-red.tif")
      .replace(s"file://$dir", base))
  }

  /** (tIdx, ty, tx) -> (validCount, payload) of a `groupby = "id"` load:
    * scene k is time slice k, so scene 1's bins are tIdx 1. */
  private def loadBins(jsons: Seq[String], reader: RasterReader)
  : Map[(Int, Int, Int), (Long, Seq[Byte])] = {
    val spark = GraftSpark.spark
    import spark.implicits._
    val (ds, schemas) = StacParse.parseItems(spark, spark.createDataset(jsons))
    Load.load(spark, ds.collect().toSeq.sortBy(_.id), schemas,
      bands = Seq("red"), groupby = "id", chunks = 64, reader = reader).tiles
      .select("tIdx", "ty", "tx", "validCount", "data").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        (r.getLong(3), r.getAs[Array[Byte]](4).toSeq)).toMap
  }

  private def faultMatrix(fault: String)(damage: (Array[Byte], Array[Long],
                                                  Array[Long]) => Array[Byte]): Unit = {
    val clean = loadBins(tiffItems("f1-red.tif"), AutoReader)
    val src = s"$dir/f1-red.tif"
    val (offsets, counts) = tileLayout(src)
    val bad = s"$fault-red.tif"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$bad"),
      damage(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(src)),
        offsets, counts))
    val jsons = tiffItems(bad)
    // strict: the load fails, and the error names the damaged file's URI
    val e = intercept[Exception](loadBins(jsons, AutoReader))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains(s"$base/$bad"), msgs)
    // permissive: only scene 1's bins may change, and those only to nodata
    val lenient = loadBins(jsons, PermissiveReader)
    assert(lenient.keySet == clean.keySet)
    clean.foreach { case (k @ (t, _, _), (valid, data)) =>
      val (lv, ld) = lenient(k)
      if (t != 1) assert(lv == valid && ld == data, s"$fault: bin $k changed")
      else assert((lv == valid && ld == data) || lv == 0L, s"$fault: bin $k")
    }
    assert(clean.exists { case (k, (v, _)) => k._1 == 1 && v > 0 && lenient(k)._1 == 0 },
      s"$fault: no bin of the damaged source went to nodata")
  }

  test("truncated TIFF over http: strict names the URI, permissive blanks its bins") {
    faultMatrix("trunc") { (bytes, offsets, counts) =>
      // cut the file inside its last tile: its TileByteCounts run past EOF
      val last = offsets.indices.maxBy(offsets(_))
      bytes.take((offsets(last) + counts(last) / 2).toInt)
    }
  }

  test("corrupt deflate tile over http: strict names the URI, permissive blanks its bins") {
    faultMatrix("corrupt") { (bytes, offsets, _) =>
      // past the 2-byte zlib header, 0xFF bytes open a reserved block type
      val out = bytes.clone()
      java.util.Arrays.fill(out, offsets(0).toInt + 2, offsets(0).toInt + 18, 0xff.toByte)
      out
    }
  }
}

/** [[AutoReader]] with every band read under `failOnError = false` — the
  * reference's `fail_on_error=False` — for loads through the public
  * `reader` seam. */
object PermissiveReader extends RasterReader {
  def read(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
           dstNodata: Double): Option[(Roi, Array[Double])] =
    AutoReader.read(src, cfg.copy(failOnError = false), dstGeobox, dstNodata)
  override def readInto(src: RasterSource, cfg: RasterLoadParams,
                        dstGeobox: GeoBox, dstNodata: Double,
                        out: Array[Double]): Long =
    AutoReader.readInto(src, cfg.copy(failOnError = false), dstGeobox,
      dstNodata, out)
}
