package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.io.File
import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** HTTP byte-range server over the files of one directory, held in memory
  * so disk state cannot add noise. Serves `GET` with or without a single
  * `Range: bytes=a-b`; counts requests and body bytes. Bound to the
  * loopback address, with at most `threads` handler threads. */
final class RangeServer(dir: File, threads: Int) {
  private val files: Map[String, Array[Byte]] =
    dir.listFiles().filter(_.isFile)
      .map(f => f.getName -> Files.readAllBytes(f.toPath)).toMap

  val requests = new AtomicLong()
  val bytesServed = new AtomicLong()

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private val RangeRe = """bytes=(\d+)-(\d*)""".r

  private def handle(ex: HttpExchange): Unit = try {
    requests.incrementAndGet()
    ex.getRequestBody.readAllBytes()
    val name = ex.getRequestURI.getPath.stripPrefix("/")
    files.get(name) match {
      case None => ex.sendResponseHeaders(404, -1)
      case Some(body) =>
        val range = Option(ex.getRequestHeaders.getFirst("Range")).collect {
          case RangeRe(a, b) =>
            (a.toLong, if (b.isEmpty) body.length - 1L
                       else math.min(b.toLong, body.length - 1L))
        }
        ex.getResponseHeaders.set("Accept-Ranges", "bytes")
        range match {
          case Some((a, b)) if a >= body.length || b < a =>
            ex.getResponseHeaders.set("Content-Range", s"bytes */${body.length}")
            ex.sendResponseHeaders(416, -1)
          case Some((a, b)) =>
            val n = (b - a + 1).toInt
            ex.getResponseHeaders.set("Content-Range", s"bytes $a-$b/${body.length}")
            send(ex, 206, body, a.toInt, n)
          case None =>
            send(ex, 200, body, 0, body.length)
        }
    }
  } finally ex.close()

  private def send(ex: HttpExchange, status: Int, body: Array[Byte],
                   off: Int, n: Int): Unit = {
    ex.sendResponseHeaders(status, n.toLong)
    val out = ex.getResponseBody
    out.write(body, off, n)
    out.close()
    bytesServed.addAndGet(n.toLong)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
