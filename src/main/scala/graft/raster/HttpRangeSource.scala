package graft.raster

/** HTTP(S) ranged-GET implementation of the remote-IO seam — the running
  * analog of the reference's cloud path, which serves `https:/` rasters
  * through GDAL's /vsicurl/ with a configured retry policy
  * (`/root/reference/odc/stac/loader/_rio.py:65-69`:
  * `GDAL_HTTP_MAX_RETRY=10`, `GDAL_HTTP_RETRY_DELAY=0.5`).
  *
  * Every positioned read maps to one `Range: bytes=a-b` GET through a
  * [[blockSize]] read-ahead buffer, so the decoders' span coalescing
  * (`Grb.MaxSpanBytes` etc.) turns a windowed tile read into a handful
  * of ranged GETs, never per-value requests. Transient failures —
  * connect/read `IOException`s and HTTP 408/429/5xx — retry with
  * exponential backoff up to [[maxRetries]]; non-transient statuses
  * (403, 404) fail immediately. An open input learns the object length
  * from the `Content-Range` total of its first ranged GET (the body
  * length when a server ignores Range and answers 200); `exists` and
  * `readPrefix` send a `bytes=0-0` probe.
  *
  * Registered per-JVM for `http`/`https` by default (see [[RasterIO]]);
  * a deployment needing different policy registers its own instance via
  * [[GraftIoPlugin]] (`spark.graft.io.sources=https:com.example.Src`).
  */
class HttpRangeSource(
    val maxRetries: Int = 10,
    val retryDelayMs: Long = 100,
    val blockSize: Int = 256 * 1024,
    val headers: Map[String, String] = Map.empty,
    val originHeaders: Map[String, Map[String, String]] = Map.empty)
  extends RasterByteSource {
  import HttpRangeSource.{HeaderBytes, NonRetryableHttp, TransientHttp}

  /** Copy with the origin-header map REPLACED (never merged — a
    * refreshed or cleared credential payload must fully supersede the
    * previous one). Static `headers` and retry/buffer policy carry
    * over, so [[IoSession.restore]] decorating a tuned instance keeps
    * its tuning. */
  override def withOriginHeaders(
      origins: Map[String, Map[String, String]]): HttpRangeSource =
    new HttpRangeSource(maxRetries, retryDelayMs, blockSize, headers, origins)

  private val MaxBackoffMs = 5000L
  private def retryable(status: Int): Boolean =
    status == 408 || status == 429 || status >= 500

  private def withRetry[T](what: String)(f: => T): T = {
    var attempt = 0
    var lastErr: java.io.IOException = null
    while (attempt <= maxRetries) {
      if (attempt > 0) {
        val backoff = math.min(retryDelayMs << math.min(attempt - 1, 20),
          MaxBackoffMs)
        Thread.sleep(backoff)
      }
      try return f
      catch {
        case e: TransientHttp => lastErr = e
        case e: java.io.FileNotFoundException => throw e // 404: not transient
        case e: NonRetryableHttp => throw e // 401/403/…: fail fast
        case e: java.io.IOException => lastErr = e
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"$what failed after ${maxRetries + 1} attempts", lastErr)
  }

  private def connect(uri: String, range: Option[(Long, Long)])
  : java.net.HttpURLConnection = {
    val conn = java.net.URI.create(uri).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(15000)
    conn.setReadTimeout(60000)
    // static session headers (explicitly-constructed sources), then
    // restored IoSession credentials — attached ONLY when the request
    // URL's normalized origin matches the configured origin, so a
    // bearer for one endpoint is never sent to other hosts in a
    // mixed-source catalog — see [[IoSession]]
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    if (originHeaders.nonEmpty)
      originHeaders.getOrElse(HttpRangeSource.originOf(uri), Map.empty)
        .foreach { case (k, v) => conn.setRequestProperty(k, v) }
    range.foreach { case (a, b) =>
      conn.setRequestProperty("Range", s"bytes=$a-$b") }
    val status = conn.getResponseCode
    if (status == 404) {
      conn.disconnect()
      throw new java.io.FileNotFoundException(uri)
    }
    if (retryable(status)) {
      conn.disconnect()
      throw new TransientHttp(uri, status)
    }
    if (status != 200 && status != 206) {
      conn.disconnect()
      if (status >= 400 && status < 500) throw new NonRetryableHttp(uri, status)
      throw new java.io.IOException(s"HTTP $status for $uri")
    }
    conn
  }

  private def readBody(conn: java.net.HttpURLConnection): Array[Byte] = {
    val in = conn.getInputStream
    try in.readAllBytes() finally { in.close(); conn.disconnect() }
  }

  /** One ranged GET `[a, b]` (inclusive), with the object's total length.
    * A 200 answer means the server ignored Range — slice the full body so
    * callers see range semantics either way; its length is the total. */
  private def getRange(uri: String, a: Long, b: Long): (Array[Byte], Long) =
    withRetry(s"GET $uri [$a-$b]") {
      val conn = connect(uri, Some((a, b)))
      val whole = conn.getResponseCode == 200
      val contentRange = Option(conn.getHeaderField("Content-Range"))
      val body = readBody(conn)
      if (!whole) (body, totalOf(uri, contentRange))
      else {
        val from = math.min(a, body.length.toLong).toInt
        val until = math.min(b + 1, body.length.toLong).toInt
        (java.util.Arrays.copyOfRange(body, from, math.max(from, until)),
          body.length.toLong)
      }
    }

  /** The total of a `Content-Range: bytes a-b/N` header. */
  private def totalOf(uri: String, contentRange: Option[String]): Long =
    contentRange.flatMap(_.split('/').lastOption)
      .flatMap(_.trim.toLongOption)
      .getOrElse(throw new java.io.IOException(
        s"206 without Content-Range total for $uri"))

  /** Object length via a `bytes=0-0` probe: `Content-Range: bytes 0-0/N`
    * carries the total; a 200 (Range ignored) falls back to the body
    * length. */
  private def lengthOf(uri: String): Long = getRange(uri, 0L, 0L)._2

  /** Positioned input over ranged GETs: a single read-ahead block
    * buffer; multi-byte values decode big-endian from the buffer
    * (DataInput convention, same as [[LocalFileSource]]). The object
    * length comes with the first GET's `Content-Range`; a separate
    * probe is sent only when `length` is asked before any read, or when a
    * read starts past the end (the server answers 416). */
  private final class HttpInput(uri: String) extends RasterInput {
    private var len = -1L // unknown until the first response
    private var pos = 0L
    private var bufStart = 0L
    private var buf: Array[Byte] = Array.emptyByteArray

    def seek(p: Long): Unit = pos = p
    def position: Long = pos
    def length: Long = { if (len < 0) len = lengthOf(uri); len }

    /** GET `[a, b]`, clipped to the length when it is known; learns the
      * length from the answer. Empty when `a` lies past the end. */
    private def fetch(a: Long, b0: Long): Array[Byte] = {
      val b = if (len >= 0) math.min(b0, len - 1) else b0
      if (len >= 0 && a > b) return Array.emptyByteArray
      try {
        val (got, total) = getRange(uri, a, b)
        len = total
        got
      } catch {
        case e: NonRetryableHttp if e.status == 416 =>
          length
          Array.emptyByteArray
      }
    }

    /** Ensure `[pos, pos+n)` is buffered; reads ahead `blockSize`, or
      * only [[HttpRangeSource.HeaderBytes]] on the input's first fetch. */
    private def ensure(n: Int): Unit = {
      if (pos < bufStart || pos + n > bufStart + buf.length) {
        if (len >= 0 && pos + n > len) throw pastEnd(n)
        val ahead = if (len < 0) math.min(blockSize, HeaderBytes) else blockSize
        buf = fetch(pos, pos + math.max(n.toLong, ahead.toLong) - 1)
        bufStart = pos
        if (buf.length < n) throw pastEnd(n)
      }
    }

    private def pastEnd(n: Int) = new java.io.EOFException(
      s"read past end of $uri: pos=$pos n=$n len=$len")

    /** Before the first response the length is unknown: a one-byte
      * ensure fetches the first block (or finds the end) and learns it. */
    private def atEnd: Boolean = {
      if (len < 0) try ensure(1) catch { case _: java.io.EOFException => }
      pos >= len
    }

    def read(): Int =
      if (atEnd) -1
      else { ensure(1); val b = buf((pos - bufStart).toInt) & 0xff; pos += 1; b }

    def read(b: Array[Byte]): Int = {
      if (atEnd) return -1
      val n = math.min(b.length.toLong, len - pos).toInt
      ensureBulk(b, n); n
    }

    def readFully(b: Array[Byte]): Unit = ensureBulk(b, b.length)

    /** Bulk fill: served from the buffer when it fits, one direct ranged
      * GET when the request exceeds the block size (no double copy). */
    private def ensureBulk(b: Array[Byte], n: Int): Unit = {
      if (n >= blockSize) {
        if (len >= 0 && pos + n > len) throw pastEnd(n)
        val got = fetch(pos, pos + n - 1)
        if (got.length < n) throw pastEnd(n)
        System.arraycopy(got, 0, b, 0, n)
      } else {
        ensure(n)
        System.arraycopy(buf, (pos - bufStart).toInt, b, 0, n)
      }
      pos += n
    }

    def readByte(): Byte = { ensure(1); val v = buf((pos - bufStart).toInt); pos += 1; v }
    def readShort(): Short = {
      ensure(2); val o = (pos - bufStart).toInt
      pos += 2
      (((buf(o) & 0xff) << 8) | (buf(o + 1) & 0xff)).toShort
    }
    def readInt(): Int = {
      ensure(4); val o = (pos - bufStart).toInt
      pos += 4
      ((buf(o) & 0xff) << 24) | ((buf(o + 1) & 0xff) << 16) |
        ((buf(o + 2) & 0xff) << 8) | (buf(o + 3) & 0xff)
    }
    def readLong(): Long = {
      ensure(8); val o = (pos - bufStart).toInt
      pos += 8
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (buf(o + i) & 0xffL); i += 1 }
      v
    }
    def readDouble(): Double = java.lang.Double.longBitsToDouble(readLong())
    def close(): Unit = ()
  }

  def open(uri: String): RasterInput = new HttpInput(uri)

  def readAll(uri: String): Array[Byte] = withRetry(s"GET $uri") {
    readBody(connect(uri, None))
  }

  def readPrefix(uri: String, maxLen: Int): Array[Byte] = {
    val n = lengthOf(uri)
    if (n == 0) Array.emptyByteArray
    else getRange(uri, 0, math.min(maxLen.toLong, n) - 1)._1
  }

  def exists(uri: String): Boolean =
    try { lengthOf(uri); true }
    catch { case _: java.io.FileNotFoundException => false }

  /** HTTP namespaces aren't listable — sidecar/variable discovery needs
    * an explicit manifest or a listable scheme (S3-style sources return
    * real listings here). */
  def list(uri: String): Seq[String] = Seq.empty

  def localFile(uri: String): Option[java.io.File] = None
}

object HttpRangeSource {
  /** Read-ahead of an input's first fetch, which is nearly always its
    * header: the bytes GDAL ingests at open (`GDAL_INGESTED_BYTES_AT_OPEN`
    * default). A COG's IFD and tile index sit in its first few KiB, and a
    * full block there would mostly pull tiles the window does not need. */
  val HeaderBytes: Int = 16 * 1024

  /** Marker for retryable HTTP statuses (connect/read IOExceptions are
    * retryable as thrown). */
  private final class TransientHttp(uri: String, val status: Int)
    extends java.io.IOException(s"HTTP $status for $uri")

  /** Definitive client errors (401/403/…): retrying cannot help, so
    * they fail the read immediately — no retry storm against an auth
    * wall (the reference relies on GDAL's same distinction). */
  private final class NonRetryableHttp(uri: String, val status: Int)
    extends java.io.IOException(s"HTTP $status for $uri")

  /** Normalized request origin — delegates to the ONE shared
    * normalization ([[IoSession.parseOrigin]]) so configured and
    * request origins can never diverge; returns the empty string (which
    * matches no configured origin) when the URI has no parsable host. */
  def originOf(uri: String): String =
    IoSession.originOf(uri).getOrElse("")
}
