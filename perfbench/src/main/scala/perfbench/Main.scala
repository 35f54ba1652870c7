package perfbench

import graft.load.LoadResult
import graft.raster.{AutoReader, RasterByteSource, RasterIO}
import graft.stac.StacParse
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Encoders, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** The load-path benchmark. One process, one client, one load in flight
  * (a closed loop) on Spark `local[nproc]`. A load is one operation: the
  * workload's STAC JSON through `StacParse.parseItems` + collect, then
  * `Load.load`, then the workload's sink, until every tile exists.
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` alternates
  * untraced and traced loads and reports the per-layer split, measured
  * from outside through the engine's public seams: the `reader` and
  * `progress` parameters of `Load.load`, `RasterIO.register`, a
  * `SparkListener` and the benchmark's own HTTP server.
  *
  * The last stdout line is the run's record (also written to `--record`).
  */
object Main {

  private val SetupReps = 3
  /** Warm-up loads per set-up. Loads still speed up after these six
    * (the JIT), so every run's timed loop sits at the same point of that
    * curve. */
  private val WarmLoads = 2
  private val nproc = Runtime.getRuntime.availableProcessors()

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: File, record: File,
                        corrupt: Boolean)

  def parseArgs(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = new File(kv.getOrElse("work", ".perfbench")).getAbsoluteFile
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", work,
      new File(kv.getOrElse("record", new File(work, "record.json").getPath)),
      kv.get("selftest").contains("corrupt-expectation"))
  }

  /** One measured load. `layers` and `exact` are filled for traced loads. */
  final case class Op(traced: Boolean, loadS: Double, px: Long,
                      error: Option[String], layers: Map[String, Double],
                      exact: Map[String, Long])

  final class Env(val spark: SparkSession, val server: Option[RangeServer],
                  val jsons: Seq[String]) {
    def close(): Unit = { server.foreach(_.stop()); spark.stop() }
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "tmp/spark").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "tmp/warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Probe state of one traced load: counting sources registered over the
    * workload's schemes, a listener, and the phase spans. */
  private final class Tracer(env: Env, wl: Workload) {
    val opId: Long = Probes.nextId()
    val listener = new LoadListener
    private var saved = Seq.empty[(String, RasterByteSource)]
    private val http0 = env.server.map(s => (s.requests.get, s.bytesServed.get))
    val phases = ArrayBuffer.empty[Span]
    var startUs = 0L

    def begin(): Unit = {
      PerfbenchBus.drain(env.spark.sparkContext)
      Probes.resetCounters()
      Probes.spans.clear()
      Probes.opId = opId
      Probes.execSpan = opId
      env.spark.sparkContext.addSparkListener(listener)
      saved = wl.schemes.map(s => s -> RasterIO.get(s).get)
      saved.foreach { case (s, src) => RasterIO.register(s, new CountingSource(src)) }
      startUs = Probes.nowUs()
    }

    def phase[A](name: String)(body: => A): A = {
      val id = Probes.nextId()
      Probes.execSpan = id
      val a = Probes.nowUs()
      try body
      finally phases += Span(id, opId, opId, name, a, Probes.nowUs())
    }

    /** Stops counting; returns the op's spans (listener jobs included) and
      * the HTTP deltas. */
    def stop(endUs: Long): (Seq[Span], Long, Long) = {
      PerfbenchBus.drain(env.spark.sparkContext)
      env.spark.sparkContext.removeSparkListener(listener)
      Probes.flushInputs()
      Probes.opId = 0L
      Probes.execSpan = 0L
      val jobs = listener.jobs.toSeq.map { case (s, e) =>
        val parent = phases.find(p => s * 1000 >= p.startUs - 1000 && s * 1000 <= p.endUs)
          .map(_.id).getOrElse(opId)
        Span(Probes.nextId(), parent, opId, "spark.job", s * 1000, e * 1000)
      }
      val mine = Probes.spans.toArray(Array.empty[Span]).toSeq.filter(_.op == opId)
      Probes.spans.clear()
      val (r, b) = (http0, env.server) match {
        case (Some((r0, b0)), Some(s)) => (s.requests.get - r0, s.bytesServed.get - b0)
        case _ => (0L, 0L)
      }
      (Span(opId, 0L, opId, "op", startUs, endUs) +: (phases.toSeq ++ jobs ++ mine), r, b)
    }

    def restore(): Unit = {
      saved.foreach { case (s, src) => RasterIO.register(s, src) }
      saved = Nil
      env.spark.sparkContext.removeSparkListener(listener)
      Probes.opId = 0L
    }
  }

  private def parse(env: Env) = {
    val (ds, schemas) = StacParse.parseItems(env.spark,
      env.spark.createDataset(env.jsons)(Encoders.STRING))
    (ds.collect().toSeq, schemas)
  }

  /** One load: timed from parse to the last tile; checked afterwards. */
  def runOp(env: Env, wl: Workload, seed: Long, want: Expectation,
            traced: Boolean, scratch: File, idx: Int,
            keptSpans: ArrayBuffer[Span]): Op = {
    val out = new File(scratch, s"op-$idx")
    val tr = if (traced) Some(new Tracer(env, wl)) else None
    def phase[A](name: String)(body: => A): A =
      tr.fold(body)(_.phase(name)(body))
    try {
      tr.foreach(_.begin())
      val t0 = System.nanoTime()
      val (items, schemas) = phase("stac.parse")(parse(env))
      val reader = if (traced) new TracingReader(AutoReader) else AutoReader
      val progress = tr.map(_ => (_: Long, total: Long) => Probes.bins.set(total))
      val res = phase("load.plan")(wl.load(env.spark, items, schemas, seed, reader, progress))
      val sunk = phase("load.execute")(wl.sink(res, out))
      val t1 = System.nanoTime()
      val (layers, exact) = tr.fold((Map.empty[String, Double], Map.empty[String, Long])) {
        t =>
          val (l, e, spans) = traceLayers(t, res, sunk, items.length)
          keptSpans ++= spans
          (l, e)
      }
      Op(traced, (t1 - t0) / 1e9, outputPx(res),
        Check.compare(want, wl.observed(sunk)), layers, exact)
    } catch {
      case e: Exception =>
        Op(traced, Double.NaN, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
          Map.empty, Map.empty)
    } finally {
      tr.foreach(_.restore())
      DataCache.deleteTree(out)
    }
  }

  /** Per-layer figures of one traced load. */
  private def traceLayers(t: Tracer, res: LoadResult, sunk: SinkOut, nItems: Int)
  : (Map[String, Double], Map[String, Long], Seq[Span]) = {
    val endUs = Probes.nowUs()
    val c = Seq(Probes.readCalls, Probes.readUseful, Probes.readUs,
      Probes.fetchOpens, Probes.fetchBytes, Probes.fetchUs, Probes.bins).map(_.get)
    val Seq(readCalls, readUseful, readUs, opens, fetchBytes, fetchUs, bins) = c
    val l = t.listener
    val (spans, httpReq, httpBytes) = t.stop(endUs)
    val exec = t.phases.find(_.name == "load.execute").get
    // sink cost: the same lazy plan again into the noop sink, same probes
    val writeMs = sunk.dir.fold(0.0) { _ =>
      val n0 = System.nanoTime()
      Check.summarize(res)
      (exec.endUs - exec.startUs) / 1e3 - (System.nanoTime() - n0) / 1e6
    }
    Probes.spans.clear()
    val phaseMs = t.phases.map(p => p.name -> (p.endUs - p.startUs) / 1e3).toMap
    val px = outputPx(res).toDouble
    val self = SelfTimes(spans)
    val layers = Map(
      "stac.parse_ms" -> phaseMs("stac.parse"),
      "stac.items" -> nItems.toDouble,
      "load.plan_ms" -> phaseMs("load.plan"),
      "load.bins" -> bins.toDouble,
      "load.sources_per_bin" -> readCalls.toDouble / math.max(1L, bins),
      "spark.jobs" -> l.jobs.length.toDouble,
      "spark.stages" -> l.stages.toDouble,
      "spark.tasks" -> l.taskMs.length.toDouble,
      "spark.driver_ms" -> l.driverMs(t.startUs / 1000, endUs / 1000).toDouble,
      "spark.executor_run_ms" -> l.runMs.toDouble,
      "spark.executor_cpu_ms" -> l.cpuNs / 1e6,
      "spark.gc_ms" -> l.gcMs.toDouble,
      "spark.task_ms_max_over_p50" ->
        l.taskMaxOverP50(exec.startUs / 1000, exec.endUs / 1000 + 1),
      "spark.shuffle_bytes" -> l.shuffleBytes.toDouble,
      "raster.read_calls" -> readCalls.toDouble,
      "raster.read_ms" -> readUs / 1e3,
      "raster.read_useful_frac" -> readUseful.toDouble / math.max(1L, readCalls),
      "raster.fetch_opens" -> opens.toDouble,
      "raster.fetch_bytes" -> fetchBytes.toDouble,
      "raster.fetch_ms" -> fetchUs / 1e3,
      "raster.decode_warp_ms" -> (readUs - fetchUs) / 1e3,
      "load.fuse_other_ms" -> (l.runMs - readUs / 1e3),
      "http.requests" -> httpReq.toDouble,
      "http.bytes_served" -> httpBytes.toDouble,
      "http.bytes_per_output_px" -> httpBytes / px,
      "sink.files" -> sunk.files.toDouble,
      "sink.bytes_written" -> sunk.bytes.toDouble,
      "sink.write_ms" -> writeMs,
      "self.op_ms" -> self.getOrElse("op", 0L) / 1e3,
      "self.stac.parse_ms" -> self.getOrElse("stac.parse", 0L) / 1e3,
      "self.load.plan_ms" -> self.getOrElse("load.plan", 0L) / 1e3,
      "self.load.execute_ms" -> self.getOrElse("load.execute", 0L) / 1e3,
      "self.spark.job_ms" -> self.getOrElse("spark.job", 0L) / 1e3,
      "self.raster.read_ms" -> self.getOrElse("raster.read", 0L) / 1e3,
      "self.raster.fetch_ms" -> self.getOrElse("raster.fetch", 0L) / 1e3,
    )
    val exact = Map(
      "load.bins" -> bins, "raster.read_calls" -> readCalls,
      "raster.fetch_opens" -> opens, "http.requests" -> httpReq,
      "http.bytes_served" -> httpBytes, "spark.jobs" -> l.jobs.length.toLong,
      "sink.files" -> sunk.files)
    (layers, exact, spans)
  }

  /** Output pixels of a load: grid x bands x time steps. */
  private def outputPx(res: LoadResult): Long =
    res.geobox.width.toLong * res.geobox.height * res.dtypes.size * res.times.size

  private def heapRetainedMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Expected tiles: from the generator's formula where the workload has
    * one; otherwise the set-up load's own output. */
  private def expected(wl: Workload, env: Env, seed: Long): Seq[TileSum] = wl match {
    case CogHttp => CogHttp.expected(seed)
    case TimeseriesAoi => TimeseriesAoi.expected(seed)
    case _ =>
      val (items, schemas) = parse(env)
      Check.summarize(wl.load(env.spark, items, schemas, seed, AutoReader, None))
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    val wl = Workload(o.workload)
    val scratch = new File(o.work, "tmp/ops")
    scratch.mkdirs()
    def say(s: String): Unit = println(s)

    // ---- set-up, several times: session, data, server, warm-up load
    val setupS = ArrayBuffer.empty[Double]
    val setupErrors = ArrayBuffer.empty[String]
    var want: Expectation = null
    var env: Env = null
    val spans = ArrayBuffer.empty[Span]
    for (rep <- 0 until SetupReps) {
      if (env != null) env.close()
      val t0 = System.nanoTime()
      def lap(): String = f"${(System.nanoTime() - t0) / 1e9}%.2f"
      val spark = session(o.work)
      val tSession = lap()
      val (dir, generated) = wl.data(o.seed, new File(o.work, "data"))
      val tData = lap()
      val server =
        if (wl.schemes.contains("http")) Some(new RangeServer(dir, nproc)) else None
      env = new Env(spark, server,
        wl.jsons(o.seed, dir, server.map(_.baseUrl).getOrElse("")))
      if (want == null) {
        want = Check.expectation(expected(wl, env, o.seed))
        if (o.corrupt) want = want.corrupted
      }
      val tReady = lap()
      (0 until WarmLoads).foreach { k =>
        val warm = runOp(env, wl, o.seed, want, traced = false, scratch, -1 - k, spans)
        warm.error.foreach(e => setupErrors += s"set-up ${rep + 1} load ${k + 1}: $e")
      }
      setupS += (System.nanoTime() - t0) / 1e9
      say(s"  set-up ${rep + 1}: session $tSession s, data $tData s" +
        (if (generated) " (generated)" else " (verified)") +
        s", expectation+server $tReady s, warm-up loads ${lap()} s")
    }

    // ---- the timed closed loop
    val ops = ArrayBuffer.empty[Op]
    val tLoop = System.nanoTime()
    var i = 0
    while (i < (if (o.trace) 4 else 1) || System.nanoTime() - tLoop < o.seconds * 1000000000L) {
      ops += runOp(env, wl, o.seed, want, traced = o.trace && i % 2 == 1, scratch, i, spans)
      i += 1
    }
    val loopS = (System.nanoTime() - tLoop) / 1e9
    val heapMb = heapRetainedMb()
    env.close()

    // ---- figures
    val failed = ops.count(_.error.isDefined)
    val good = ops.filter(_.error.isEmpty)
    val plain = good.filter(!_.traced)
    val traced = good.filter(_.traced)
    val loadS = plain.map(_.loadS).toSeq
    val p50 = median(loadS)
    // highest percentile with at least ten samples beyond it
    val pHigh = Seq(99.9, 99.0, 95.0, 90.0).find(p => loadS.length * (1 - p / 100) >= 10)
      .map(p => p -> loadS.sorted.apply(math.min(loadS.length - 1,
        math.ceil(loadS.length * p / 100).toInt - 1)))
    val mpxPerS = plain.map(_.px).sum / 1e6 / loadS.sum
    val setupMedian = median(setupS.toSeq)
    val okFrac = (ops.length - failed).toDouble / ops.length

    val e2e = Seq(
      ("load_s_p50", p50, "s"), ("mpx_per_s", mpxPerS, "Mpx/s"),
      ("setup_s", setupMedian, "s"), ("ok_frac", okFrac, "frac"),
      ("heap_retained_mb", heapMb, "MB"))
    val exactKeys = Seq("load.bins", "raster.read_calls", "raster.fetch_opens",
      "http.requests", "http.bytes_served", "spark.jobs", "sink.files")
    val exactRepeat = traced.map(_.exact).distinct.length <= 1
    val layerMetrics: Seq[(String, Double, String)] =
      if (traced.isEmpty) Nil
      else {
        val names = traced.head.layers.keys.toSeq.sorted
        names.map(n => (n, median(traced.map(_.layers(n)).toSeq), Units.of(n))) :+
          (("trace.overhead_ms", (median(traced.map(_.loadS).toSeq) - p50) * 1e3, "ms"))
      }
    val metrics = if (o.trace) layerMetrics else e2e

    say(f"perfbench ${wl.name} seed=${o.seed} trace=${if (o.trace) 1 else 0}: " +
      f"${ops.length} loads in $loopS%.1f s, closed loop, 1 client, local[$nproc]")
    say(f"  set-up x$SetupReps: ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    say(s"  ${loadS.length} untraced loads" +
      pHigh.fold("")(ph => f", p${ph._1}%.1f = ${ph._2}%.4f s"))
    if (o.trace) say(f"  traced loads: ${traced.length}; exact counts repeat: $exactRepeat")
    metrics.foreach { case (n, v, u) => say(f"  $n = $v%.6g $u") }
    (setupErrors ++ ops.flatMap(_.error)).take(5).foreach(e => say(s"  ERROR $e"))

    val traceFile = if (o.trace) {
      val f = new File(o.work, s"traces/${wl.name}-s${o.seed}.jsonl")
      f.getParentFile.mkdirs()
      Files.write(f.toPath, spans.map(s => Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "busy_us" -> s.busyUs)))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      Some(f.getPath)
    } else None

    val record = Json.obj(Seq(
      "correct" -> (setupErrors.isEmpty && failed == 0),
      "attempted" -> ops.length,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
      "detail" -> Json.obj(Seq(
        "workload" -> wl.name, "seed" -> o.seed, "nproc" -> nproc,
        "load_s" -> Json.arr(loadS), "traced_load_s" -> Json.arr(traced.map(_.loadS).toSeq),
        "setup_s" -> Json.arr(setupS.toSeq),
        "p_high" -> pHigh.fold[Any](null)(ph => Json.obj(Seq("pct" -> ph._1, "s" -> ph._2))),
        "exact_counts" -> (if (traced.isEmpty) null
          else Json.obj(exactKeys.map(k => k -> traced.head.exact(k)))),
        "exact_counts_repeat" -> exactRepeat,
        "errors" -> Json.arr((setupErrors ++ ops.flatMap(_.error)).take(20).toSeq),
        "trace_file" -> traceFile.orNull))))
    o.record.getParentFile.mkdirs()
    val tmp = new File(o.record.getPath + ".tmp")
    Files.write(tmp.toPath, (record + "\n").getBytes("UTF-8"))
    Files.move(tmp.toPath, o.record.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    println(record)
    System.out.flush()
    sys.exit(0)
  }
}

/** Units of the per-layer figures. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_served") ||
      name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_frac")) "frac"
    else if (name.endsWith("_per_output_px")) "bytes/px"
    else if (name.endsWith("_per_bin") || name.endsWith("_over_p50")) "ratio"
    else "count"
}

/** Minimal JSON writer for the record and the trace file. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ", ", "]"))
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }
}
