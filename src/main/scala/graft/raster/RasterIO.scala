package graft.raster

/** Remote-IO seam — the GDAL-VSI analog. The reference's primary
  * deployment mode reads rasters straight from object storage: its
  * `_rio.py:65-69, 126-176` configures GDAL's virtual filesystem
  * (cloud defaults, thread-local sessions, retries) so the SAME reader
  * code serves `file:/`, `s3:/` and `https:/` URIs. This registry is
  * that seam for the graft readers: every format decoder (GRB, GeoTIFF,
  * zarr, netCDF) resolves URIs through [[RasterIO]], keyed by scheme.
  *
  * The sandbox has zero egress, so only the local-file implementation
  * ships; a deployment registers e.g. an S3 source once per executor
  * JVM (typically from a `SparkPlugin` executor-init hook — the
  * registry is JVM-local by design, like GDAL's per-process VSI state)
  * with ranged GETs behind [[RasterInput]] and retry/session policy
  * inside the source. The decoders need no change: they already read
  * through positioned byte ranges, never a bare `java.io.File` —
  * which is also why the windowed read paths coalesce row reads into
  * few large spans (see `Grb.MaxSpanBytes`): at scale each span is one
  * object-store ranged GET.
  *
  * Write paths (COG/zarr/netCDF export) intentionally stay local-file:
  * distributed exports write executor-local files for a driver-side or
  * object-store upload step to move, which keeps multipart-upload
  * policy out of the pixel encoders.
  */
trait RasterByteSource {
  /** Open positioned binary input (the decoder hot path). */
  def open(uri: String): RasterInput

  /** Whole-object read (zarr chunks, JSON metadata). */
  def readAll(uri: String): Array[Byte]

  /** First `min(maxLen, size)` bytes — header slurps without paying for
    * the full object. */
  def readPrefix(uri: String, maxLen: Int): Array[Byte]

  def exists(uri: String): Boolean

  /** Direct child names of a container "directory" URI (zarr stores,
    * `.ovr` sidecar discovery). Empty when the URI isn't listable. */
  def list(uri: String): Seq[String]

  /** The backing `java.io.File` when the URI is genuinely local, for
    * APIs that demand one. Remote sources return None. The format
    * decoders do not use it: every read goes through [[open]]. */
  def localFile(uri: String): Option[java.io.File]

  /** Credential-decoration seam for [[IoSession.restore]]: return a
    * source that attaches `origin -> headers` to matching requests,
    * REPLACING any origin headers from a previous decoration (so a
    * refreshed/cleared payload never stacks on a stale one). Default is
    * a no-op returning `this`: sources that don't speak per-request
    * headers — including custom [[GraftIoPlugin]] registrations — keep
    * their identity and policy untouched. */
  def withOriginHeaders(
      origins: Map[String, Map[String, String]]): RasterByteSource = this
}

/** Positioned big-endian binary input: exactly the `RandomAccessFile`
  * subset the format decoders use (multi-byte reads in network order,
  * like `DataInput`). A remote implementation maps `seek`+`readFully`
  * to ranged GETs; `Grb.MaxSpanBytes`-style span coalescing in the
  * callers keeps the GET count low. */
trait RasterInput extends java.io.Closeable {
  def seek(pos: Long): Unit
  def position: Long
  def length: Long
  /** Single byte as unsigned int, -1 at EOF (InputStream convention). */
  def read(): Int
  def read(buf: Array[Byte]): Int
  def readFully(buf: Array[Byte]): Unit
  def readByte(): Byte
  def readShort(): Short
  def readInt(): Int
  def readLong(): Long
  def readDouble(): Double
}

/** Local filesystem implementation (the only one the sandbox can ship);
  * accepts bare paths and `file://` URIs. */
object LocalFileSource extends RasterByteSource {
  private def p(uri: String): String =
    if (uri.startsWith("file://")) uri.stripPrefix("file://") else uri

  private final class Raf(path: String) extends RasterInput {
    private val raf = new java.io.RandomAccessFile(path, "r")
    def seek(pos: Long): Unit = raf.seek(pos)
    def position: Long = raf.getFilePointer
    def length: Long = raf.length()
    def read(): Int = raf.read()
    def read(buf: Array[Byte]): Int = raf.read(buf)
    def readFully(buf: Array[Byte]): Unit = raf.readFully(buf)
    def readByte(): Byte = raf.readByte()
    def readShort(): Short = raf.readShort()
    def readInt(): Int = raf.readInt()
    def readLong(): Long = raf.readLong()
    def readDouble(): Double = raf.readDouble()
    def close(): Unit = raf.close()
  }

  def open(uri: String): RasterInput = new Raf(p(uri))
  def readAll(uri: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p(uri)))
  def readPrefix(uri: String, maxLen: Int): Array[Byte] = {
    val f = new java.io.File(p(uri))
    val in = new java.io.FileInputStream(f)
    try in.readNBytes(math.min(f.length(), maxLen.toLong).toInt)
    finally in.close()
  }
  def exists(uri: String): Boolean = new java.io.File(p(uri)).exists()
  def list(uri: String): Seq[String] =
    Option(new java.io.File(p(uri)).listFiles())
      .getOrElse(Array.empty[java.io.File]).map(_.getName).toSeq
  def localFile(uri: String): Option[java.io.File] =
    Some(new java.io.File(p(uri)))
}

/** Scheme-keyed registry the decoders resolve through. */
object RasterIO {
  @volatile private var registry: Map[String, RasterByteSource] =
    Map("" -> LocalFileSource, "file" -> LocalFileSource,
      // ranged-GET cloud path, on by default like GDAL's /vsicurl/
      // (override per deployment via register/GraftIoPlugin)
      "http" -> new HttpRangeSource(), "https" -> new HttpRangeSource())

  /** Register (or replace) the source for a scheme — once per JVM,
    * before any read; executor-init hooks are the natural place. */
  def register(scheme: String, src: RasterByteSource): Unit =
    synchronized { registry += scheme.toLowerCase -> src }

  /** Currently-registered source for a scheme, if any — the decoration
    * base for [[IoSession.restore]]. */
  def get(scheme: String): Option[RasterByteSource] =
    registry.get(scheme.toLowerCase)

  /** URI scheme, lowercased; "" for bare local paths. Single-letter
    * "schemes" are treated as bare paths (Windows drive letters). */
  def scheme(uri: String): String = {
    val i = uri.indexOf("://")
    if (i <= 1) "" else uri.substring(0, i).toLowerCase
  }

  def forUri(uri: String): RasterByteSource =
    registry.getOrElse(scheme(uri), throw new IllegalArgumentException(
      s"no RasterByteSource registered for scheme '${scheme(uri)}' " +
        s"(uri: $uri); registered: ${registry.keys.toSeq.sorted.mkString(", ")}"))

  def open(uri: String): RasterInput = forUri(uri).open(uri)
  def readAll(uri: String): Array[Byte] = forUri(uri).readAll(uri)
  def readPrefix(uri: String, maxLen: Int): Array[Byte] =
    forUri(uri).readPrefix(uri, maxLen)
  def exists(uri: String): Boolean = forUri(uri).exists(uri)
  def list(uri: String): Seq[String] = forUri(uri).list(uri)
  def localFile(uri: String): Option[java.io.File] = forUri(uri).localFile(uri)

  /** Parent "directory" URI and final name component — sidecar
    * discovery (`x.grb` → siblings `x.grb.ovr2`…) needs both. */
  def parentAndName(uri: String): (String, String) = {
    val cut = uri.lastIndexOf('/')
    if (cut < 0) ("." , uri) else (uri.substring(0, cut), uri.substring(cut + 1))
  }
}
