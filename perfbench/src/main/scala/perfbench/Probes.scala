package perfbench

import graft.geo.GeoBox
import graft.model.{RasterLoadParams, RasterSource}
import graft.raster.{RasterByteSource, RasterInput, RasterReader, Roi}
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One traced interval. Times are epoch microseconds; `busyUs` >= 0 marks
  * a span whose interval is a lifetime (an open input) and whose own work
  * is only `busyUs` of it. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startUs: Long, endUs: Long, busyUs: Long = -1L)

/** Process-wide trace state. On `local[n]` every task runs in this JVM,
  * so the probes the executors call land here too. Counters are bumped
  * only while a traced load has them installed. */
object Probes {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  def nextId(): Long = ids.incrementAndGet()

  @volatile var opId: Long = 0L
  /** Span the executor-side probes hang their spans from. */
  @volatile var execSpan: Long = 0L
  private val currentRead = new ThreadLocal[java.lang.Long]()

  val readCalls = new AtomicLong()
  val readUseful = new AtomicLong()
  val readUs = new AtomicLong()
  val fetchOpens = new AtomicLong()
  val fetchBytes = new AtomicLong()
  val fetchUs = new AtomicLong()
  val bins = new AtomicLong()

  /** Inputs opened in the current traced load; their spans are emitted
    * when it ends, since a decoder may never close its input. */
  val inputs = new ConcurrentLinkedQueue[CountingInput]()

  def resetCounters(): Unit = {
    Seq(readCalls, readUseful, readUs, fetchOpens, fetchBytes, fetchUs, bins)
      .foreach(_.set(0L))
    inputs.clear()
  }

  /** Records the span of every input opened in this load. */
  def flushInputs(): Unit = {
    var in = inputs.poll()
    while (in != null) { in.emit(); in = inputs.poll() }
  }

  def record(s: Span): Unit = spans.add(s)

  private[perfbench] def readParent: Long = {
    val r = currentRead.get()
    if (r == null) execSpan else r.longValue
  }

  private[perfbench] def inRead[A](body: => A): A = {
    val id = nextId()
    val t0 = nowUs()
    currentRead.set(id)
    try body
    finally {
      currentRead.remove()
      val t1 = nowUs()
      readCalls.incrementAndGet()
      readUs.addAndGet(t1 - t0)
      record(Span(id, execSpan, opId, "raster.read", t0, t1))
    }
  }
}

/** The `reader` handed to `Load.load` in traced loads: times every read
  * and counts the reads that filled at least one pixel. */
final class TracingReader(inner: RasterReader) extends RasterReader {
  def read(src: RasterSource, cfg: RasterLoadParams, dstGeobox: GeoBox,
           dstNodata: Double): Option[(Roi, Array[Double])] =
    Probes.inRead {
      val r = inner.read(src, cfg, dstGeobox, dstNodata)
      if (r.isDefined) Probes.readUseful.incrementAndGet()
      r
    }

  override def readInto(src: RasterSource, cfg: RasterLoadParams,
                        dstGeobox: GeoBox, dstNodata: Double,
                        out: Array[Double]): Long =
    Probes.inRead {
      val n = inner.readInto(src, cfg, dstGeobox, dstNodata, out)
      if (n > 0) Probes.readUseful.incrementAndGet()
      n
    }
}

/** Counting wrapper registered over a scheme's byte source for the length
  * of a traced load: opens, bytes delivered and time spent inside the
  * source. */
final class CountingSource(val inner: RasterByteSource) extends RasterByteSource {

  private def timed[A](bytes: A => Long)(body: => A): A = {
    val t0 = Probes.nowUs()
    val a = body
    val t1 = Probes.nowUs()
    Probes.fetchOpens.incrementAndGet()
    Probes.fetchBytes.addAndGet(bytes(a))
    Probes.fetchUs.addAndGet(t1 - t0)
    Probes.record(Span(Probes.nextId(), Probes.readParent, Probes.opId,
      "raster.fetch", t0, t1, t1 - t0))
    a
  }

  def open(uri: String): RasterInput = {
    val t0 = Probes.nowUs()
    val in = inner.open(uri)
    val t1 = Probes.nowUs()
    Probes.fetchOpens.incrementAndGet()
    Probes.fetchUs.addAndGet(t1 - t0)
    val ci = new CountingInput(in, Probes.readParent, Probes.opId, t0, t1 - t0)
    Probes.inputs.add(ci)
    ci
  }
  def readAll(uri: String): Array[Byte] =
    timed[Array[Byte]](_.length.toLong)(inner.readAll(uri))
  def readPrefix(uri: String, maxLen: Int): Array[Byte] =
    timed[Array[Byte]](_.length.toLong)(inner.readPrefix(uri, maxLen))
  def exists(uri: String): Boolean = inner.exists(uri)
  def list(uri: String): Seq[String] = inner.list(uri)
  def localFile(uri: String): Option[java.io.File] = inner.localFile(uri)
  override def withOriginHeaders(
      origins: Map[String, Map[String, String]]): RasterByteSource =
    new CountingSource(inner.withOriginHeaders(origins))
}

/** Times every call into an open input. Its span runs from the open to
  * the end of the last call and carries the summed in-call time as its
  * busy time. */
final class CountingInput(in: RasterInput, parent: Long, op: Long,
                          openedUs: Long, openUs: Long) extends RasterInput {
  private var busy = openUs
  private var lastUs = openedUs + openUs

  @inline private def t[A](n: A => Long)(body: => A): A = {
    val t0 = Probes.nowUs()
    val a = body
    lastUs = Probes.nowUs()
    val d = lastUs - t0
    busy += d
    Probes.fetchUs.addAndGet(d)
    val b = n(a)
    if (b > 0) Probes.fetchBytes.addAndGet(b)
    a
  }
  def seek(pos: Long): Unit = in.seek(pos)
  def position: Long = in.position
  def length: Long = in.length
  def read(): Int = t[Int](r => if (r >= 0) 1L else 0L)(in.read())
  def read(buf: Array[Byte]): Int = t[Int](r => math.max(r, 0).toLong)(in.read(buf))
  def readFully(buf: Array[Byte]): Unit = t[Unit](_ => buf.length.toLong)(in.readFully(buf))
  def readByte(): Byte = t[Byte](_ => 1L)(in.readByte())
  def readShort(): Short = t[Short](_ => 2L)(in.readShort())
  def readInt(): Int = t[Int](_ => 4L)(in.readInt())
  def readLong(): Long = t[Long](_ => 8L)(in.readLong())
  def readDouble(): Double = t[Double](_ => 8L)(in.readDouble())
  def close(): Unit = in.close()
  private[perfbench] def emit(): Unit =
    Probes.record(Span(Probes.nextId(), parent, op, "raster.fetch",
      openedUs, lastUs, busy))
}

/** Job, stage and task totals of one traced load. */
final class LoadListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // start ms, end ms
  private val jobStart = mutable.Map.empty[Int, Long]
  var stages = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[(Long, Long)] // finish ms, duration ms

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs += ((e.taskInfo.finishTime, e.taskInfo.duration))
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Milliseconds of `[fromMs, toMs]` covered by no job. */
  def driverMs(fromMs: Long, toMs: Long): Long = synchronized {
    var covered = 0L
    var end = fromMs
    jobs.sortBy(_._1).foreach { case (s, e) =>
      val a = math.max(s, end)
      val b = math.min(e, toMs)
      if (b > a) { covered += b - a; end = b }
    }
    (toMs - fromMs) - covered
  }

  /** Slowest over median duration of the tasks finishing in
    * `[fromMs, toMs]`: the skew of one phase's tasks. */
  def taskMaxOverP50(fromMs: Long, toMs: Long): Double = synchronized {
    val s = taskMs.collect { case (f, d) if f >= fromMs && f <= toMs => d }.sorted
    if (s.isEmpty) 0.0 else s.last.toDouble / math.max(1L, s((s.length - 1) / 2))
  }
}

/** Self time of each span name: a span's duration less the part of it its
  * children cover (their union; a child with a busy time counts only
  * that). Returns name -> summed self microseconds. */
object SelfTimes {
  def apply(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.iterator.map { s =>
        val cs = children.getOrElse(s.id, Nil)
        val (busy, intervals) = cs.partition(_.busyUs >= 0)
        var covered = busy.iterator.map(_.busyUs).sum
        var end = s.startUs
        intervals.map(c => (c.startUs, c.endUs)).sortBy(_._1).foreach {
          case (a0, b0) =>
            val a = math.max(a0, end)
            val b = math.min(b0, s.endUs)
            if (b > a) { covered += b - a; end = b }
        }
        val own = if (s.busyUs >= 0) s.busyUs else s.endUs - s.startUs
        math.max(0L, own - covered)
      }.sum
    }
  }
}
