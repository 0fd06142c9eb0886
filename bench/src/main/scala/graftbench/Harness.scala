package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Command-line settings of one benchmark run. */
final case class Settings(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    data: String,
    out: Path,
    scale: String,
    expected: Path,
    record: Boolean,
    cpus: Int)

object Settings {
  def parse(args: Array[String]): Settings = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Settings(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toInt,
      trace = req("trace") == "1",
      data = req("data"),
      out = Paths.get(req("out")),
      scale = req("scale"),
      expected = Paths.get(req("expected")),
      record = m.get("record").contains("1"),
      cpus = m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }
}

/** One timed operation's outcome. A failed operation (it threw, or its
  * result did not check) carries no time. */
final case class OpResult(name: String, phase: String, ms: Option[Double], error: Option[String]) {
  def ok: Boolean = ms.isDefined
}

/** What every workload shares: the Spark session, the tracer, the optional
  * layer listener, and the ledger of operations attempted. */
final class Harness(val s: Settings) {
  val tracer = new Tracer(s.trace)
  val layers: Option[SparkLayers] = if (s.trace) Some(new SparkLayers(tracer)) else None
  val results = ArrayBuffer[OpResult]()
  private val opIds = new AtomicLong
  val opLabels = ArrayBuffer[(Long, String)]()
  val dupCacheWarnings = new AtomicLong
  /** Figures for the detail file that are not part of the result line. */
  val extraDetail = scala.collection.mutable.LinkedHashMap[String, Double]()
  var spark: SparkSession = _
  val jvmStart: Long = System.nanoTime() - java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

  /** A local[nproc] session configured like the project's own bench. Spark's
    * scratch and warehouse directories stay under the output directory. */
  def newSession(): SparkSession = {
    val session = SparkSession.builder()
      .master(s"local[${s.cpus}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", s.cpus.toString)
      .config("spark.default.parallelism", s.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", s.out.resolve("spark-warehouse").toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    layers.foreach { l =>
      session.sparkContext.addSparkListener(l)
      session.listenerManager.register(l)
    }
    session
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Set-up repeated `times` times, each from a fresh session; returns the
    * median seconds. The last session stays open for measurement. */
  def timedSetup(times: Int)(body: SparkSession => Unit): Double = {
    val secs = (1 to times).map { i =>
      if (i > 1) stopSession()
      val t0 = System.nanoTime()
      spark = newSession()
      body(spark)
      (System.nanoTime() - t0) / 1e9
    }
    secs.zipWithIndex.foreach { case (t, i) => extraDetail(s"setup_${i + 1}_s") = t }
    Stats.median(secs)
  }

  /** Runs one operation inside an `operation` span. `run` is timed; `check`
    * runs after the clock stops and must accept the result, or the operation
    * counts as failed and its time is dropped. */
  def op[T](name: String, phase: String)(run: Long => T)(check: T => Option[String]): OpResult = {
    val id = opIds.incrementAndGet()
    if (s.trace) synchronized(opLabels += (id -> s"$phase:$name"))
    val t0 = System.nanoTime()
    val attempt: Either[String, T] =
      try Right(tracer.span("operation", id)(run(id)))
      catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = attempt.fold(Some(_), r =>
      try check(r) catch { case NonFatal(e) => Some(s"check failed: ${e.getMessage}".take(300)) })
    val res = OpResult(name, phase, if (err.isEmpty) Some(ms) else None, err)
    synchronized(results += res)
    res
  }

  /** Collects the heap between operations, outside any timing, so that every
    * operation starts on a collected heap; returns what survived, in MB. */
  def collectHeap(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Heap in use once Spark's cleaner has released what the collections
    * freed (broadcast and shuffle blocks go asynchronously): the median of
    * three samples, each a collection, a 200 ms pause and a collection. */
  def settledHeapMb(): Double = Stats.median((1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    collectHeap()
  })

  /** Per-thread CPU ms of each run of the speed kernel. */
  val kernelCpuMs = ArrayBuffer[Double]()

  /** Runs a fixed kernel between operations, outside any timing, once the
    * listener bus has drained: `cpus` threads each
    * take integer steps with one random read from a table larger than the
    * caches. The sample is the threads' mean CPU time, not their wall time,
    * so threads the program leaves running take cores from the kernel
    * without making its sample larger. */
  def calibrate(): Unit = {
    if (spark != null) SparkLayers.drain(spark)
    val table = Harness.kernelTable
    val mask = table.capacity / 8 - 1
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val threads = (1 to s.cpus).map { t =>
      new Thread(() => {
        val mx = java.lang.management.ManagementFactory.getThreadMXBean
        val c0 = mx.getCurrentThreadCpuTime
        var x = 88172645463325252L + t
        var acc = 0L
        var i = 0
        while (i < Harness.KernelSteps) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          acc += table.getLong(((x >>> 20) & mask).toInt * 8)
          i += 1
        }
        cpuNs.addAndGet(mx.getCurrentThreadCpuTime - c0 + (if (acc == 42) 1 else 0))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    kernelCpuMs += cpuNs.get / 1e6 / s.cpus
  }

  /** Reference kernel time over this run's median kernel time: below 1 when
    * the machine ran slower than the reference, 1 before any kernel run. */
  def speedFactor: Double =
    if (kernelCpuMs.isEmpty) 1.0 else Harness.KernelRefMs / Stats.median(kernelCpuMs.toSeq)

  /** Tags Spark jobs submitted inside `body` with the current span. */
  def tagged[T](op: Long)(body: => T): T = {
    if (s.trace && spark != null) SparkLayers.tag(spark, op, tracer.current)
    body
  }

  def writeSpans(): Option[Path] = if (!s.trace) None else {
    val p = s.out.resolve(s"spans-${s.workload}-${s.seed}.jsonl")
    tracer.writeJsonLines(p)
    val labels = opLabels.map { case (id, l) => Json.write(Map("op" -> id, "label" -> l)) }
    Files.write(p, (labels.mkString("\n") + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    Some(p)
  }
}

object Harness {
  val KernelSteps = 400000
  /** The kernel's median per-thread CPU time on the 4-core VM (16 GB, JDK 17)
    * in a quiet period. */
  val KernelRefMs = 10.0
  /** Times reported at the reference speed (see [[Harness.speedFactor]]). */
  val Normalized: Set[String] = Set("setup_s", "suite_cold_s", "suite_warm_s")
  /** 64 MB outside the heap, so it counts in no heap figure. */
  lazy val kernelTable: java.nio.ByteBuffer = {
    val b = java.nio.ByteBuffer.allocateDirect(64 << 20)
    var i = 0
    while (i < b.capacity / 8) { b.putLong(i * 8, i * 0x9E3779B97F4A7C15L); i += 1 }
    b
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => 0.0 }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
      .split("\\s+").take(3).mkString(" ")
    catch { case NonFatal(_) => "" }

  /** Counts log events whose message contains `needle`, at any logger. */
  def countLogEvents(needle: String, counter: AtomicLong): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("graftbench-count", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains(needle)) counter.incrementAndGet()
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }
}
