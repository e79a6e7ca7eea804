package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line options, parsed by `run.py` from the benchmark contract. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    runDir: Path,
    dataDir: String,
    outDir: Path,
    tiny: Boolean,
    corrupt: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("run-dir")), kv("data"),
      Paths.get(kv("out-dir")), kv("tiny") == "1", kv("corrupt") == "1")
  }
}

/** A workload: `setup` runs before the first timed call (warm-up
  * included), `measure` runs passes until the deadline, `check` verifies
  * the outputs outside the timed region and returns what failed.
  */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  def check(): Seq[String]
  /** Workload-specific numbers reported beside the samples. */
  def extra(): Map[String, Double] = Map.empty
  /** Outputs that `run.py` checks. */
  def outputs(): Map[String, Any] = Map.empty
}

/** One JVM per workload run. Prints one `PERFBENCH_RESULT {json}` line. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spark = session(o)
    val h = new Harness(spark, o)
    h.log("session ready")
    val w: Workload = o.workload match {
      case "etl_hourly"      => new EtlHourly(h)
      case "corpus_curation" => new CorpusCuration(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupEnd = h.epochSeconds()
    h.log("setup done")
    h.timed(w.measure())
    val peakRss = peakRssMb()
    val out = Map(
      "setup_end" -> setupEnd,
      "peak_rss_mb" -> peakRss,
      "live_heap_mb" -> liveHeapMb(),
      "extra" -> w.extra(),
      "checks" -> w.check(),
      "outputs" -> w.outputs(),
      "calls" -> h.calls.toSeq.map { case (k, s, ok) => Seq(k, s, ok) },
      "passes" -> h.passes.toSeq,
      "layers" -> h.layers.toSeq.map(_.toMap),
      "attempted" -> h.attempted,
      "failed" -> h.failed)
    h.writeSpans()
    println("PERFBENCH_RESULT " + Json(out))
    System.out.flush()
    spark.stop()
  }

  /** The session settings of `graft.Bench`, with every path the engine
    * writes kept inside the run directory.
    */
  def session(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.runDir.resolve("spark-warehouse").toString)
      .config("spark.local.dir", o.runDir.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Heap still in use after a full collection, in MB: what the program
    * holds on to after the timed passes, whatever the heap's size.
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }
}

/** Times passes, calls and the phases inside a call; in a traced run it
  * also keeps spans and per-pass layer numbers.
  *
  * A call that throws is counted as failed and the run goes on; only
  * calls that returned contribute timings, and a pass with a failed call
  * contributes no pass time.
  */
final class Harness(val spark: SparkSession, val o: Opts) {
  private val nano0 = System.nanoTime()
  private val epochNs0 = java.time.Instant.now() match {
    case i => i.getEpochSecond * 1000000000L + i.getNano
  }
  def nowNs(): Long = epochNs0 + (System.nanoTime() - nano0)
  def epochSeconds(): Double = nowNs() / 1e9

  val runId = s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}"
  val calls = mutable.ArrayBuffer[(String, Double, Boolean)]()
  val passes = mutable.ArrayBuffer[Double]()
  val layers = mutable.ArrayBuffer[mutable.Map[String, Double]]()
  var attempted = 0
  var failed = 0

  private var inTimed = false
  private var cur = newLayerMap()
  private var skews = mutable.ArrayBuffer[Double]()
  private var passOk = true
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer[Span]()
  private var passSpan = -1L
  @volatile private var callSpan = -1L
  private var phaseSpans = Map.empty[Long, String]
  /** Wall time and (traced runs only) execution numbers of the most
    * recent call.
    */
  var lastCallSeconds = 0.0
  var lastExec: Option[CallExec] = None
  private var phaseSec = Map.empty[String, Double]
  /** Seconds the most recent call spent in phase `name`. */
  def phaseSeconds(name: String): Double = phaseSec.getOrElse(name, 0.0)

  val listener: Option[ExecListener] =
    if (o.trace) Some(new ExecListener) else None
  listener.foreach { l =>
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(new QeListener(this))
  }

  private def newLayerMap() = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def newId(): Long = { nextId += 1; nextId }

  def timed(body: => Unit): Unit = {
    inTimed = true
    try body finally inTimed = false
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] $up%.2f s: $msg")
  }

  def deadlineReached(startNs: Long): Boolean = nowNs() - startNs >= o.seconds * 1e9

  /** Run one pass of the workload's calls. */
  def pass(body: => Unit): Unit = {
    cur = newLayerMap()
    skews = mutable.ArrayBuffer()
    passOk = true
    val id = newId()
    passSpan = id
    val s = nowNs()
    try body finally passSpan = -1L
    val e = nowNs()
    record(Span(id, "pass", s, e, -1L, runId))
    if (inTimed) {
      if (passOk) passes += (e - s) / 1e9
      if (o.trace) {
        if (skews.nonEmpty) cur("exec.skew") = Harness.median(skews.toSeq)
        layers += cur
      }
    }
  }

  /** Add to the layer numbers of the current (or just finished) pass. */
  def add(name: String, v: Double): Unit = cur(name) += v

  /** One public call into the program, from the call to the end of its
    * materialisation. Returns None (and counts a failure) if it threw.
    */
  def call[T](kind: String)(f: => T): Option[T] = {
    val id = newId()
    callSpan = id
    phaseSpans = Map.empty
    phaseSec = Map.empty
    val s = nowNs()
    val r = try Some(f) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
    val e = nowNs()
    val sec = (e - s) / 1e9
    lastCallSeconds = sec
    if (inTimed) {
      attempted += 1
      if (r.isEmpty) failed += 1
      calls += ((kind, sec, r.nonEmpty))
    }
    if (r.isEmpty) passOk = false
    record(Span(id, kind, s, e, passSpan, runId))
    lastExec = listener.map { l =>
      org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
      val x = l.harvest(phaseSpans)
      add("build.jobs", x.jobsByPhase.getOrElse("build", 0).toDouble)
      add("exec.jobs", x.jobsByPhase.getOrElse("exec", 0).toDouble)
      add("exec.tasks", x.tasks.toDouble)
      add("exec.task_s", x.taskS)
      add("exec.cpu_s", x.cpuS)
      add("exec.gc_s", x.gcS)
      add("exec.shuffle_write_mb", x.shuffleWriteMb)
      add("exec.shuffle_read_mb", x.shuffleReadMb)
      add("exec.input_mb", x.inputMb)
      add("exec.spill_mb", x.spillMb)
      add("exec.gap_s", math.max(sec - x.jobUnionS, 0.0))
      x.skew.foreach(skews += _)
      x
    }
    callSpan = -1L
    r
  }

  /** A phase of the current call: `build` (the call that returns a
    * DataFrame, with any jobs it runs), `plan` (forcing the physical
    * plan) or `exec` (materialising the result).
    */
  def phase[T](name: String)(f: => T): T = {
    val id = newId()
    phaseSpans += id -> name
    val sc = spark.sparkContext
    sc.setLocalProperty(Harness.SpanKey, id.toString)
    val s = nowNs()
    try f finally {
      val e = nowNs()
      sc.setLocalProperty(Harness.SpanKey, null)
      add(s"${name}_s", (e - s) / 1e9)
      phaseSec += name -> (phaseSeconds(name) + (e - s) / 1e9)
      record(Span(id, name, s, e, callSpan, runId))
    }
  }

  def qeSpan(name: String, durationNs: Long): Unit = synchronized {
    val e = nowNs()
    spans += Span(newId(), name, e - durationNs, e, callSpan, runId)
  }

  private def record(s: Span): Unit =
    if (o.trace) synchronized { spans += s }

  def writeSpans(): Unit = if (o.trace) {
    Files.createDirectories(o.outDir)
    val f = o.outDir.resolve(s"spans-$runId.jsonl")
    val lines = synchronized(spans.toList).map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.run))
    }
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] ${lines.size} spans written to $f")
  }
}

object Harness {
  val SpanKey = "perfbench.span"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null         => "null"
    case s: String    => quote(s)
    case b: Boolean   => b.toString
    case d: Double    =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int       => n.toString
    case n: Long      => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other        => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
}
