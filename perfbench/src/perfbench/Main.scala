package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: its kind, its category ("req", "pass" or
  * "commit") and its latency in ms.
  */
final case class Sample(kind: String, category: String, ms: Double)

/** Samples, counters and failures of one measured segment. */
final class Segment(val workload: String) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val failures = new ConcurrentLinkedQueue[String]()
  @volatile var attempted = 0L
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def count(name: String, v: Double): Unit =
    counters.merge(name, v, (a: Double, b: Double) => a + b)
  def counter(name: String): Double = counters.getOrDefault(name, 0.0)

  def ms(category: String, kind: String = null): Seq[Double] =
    samples.asScala.toSeq.filter(s => s.category == category && (kind == null || s.kind == kind))
      .map(_.ms)

  def fail(op: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    failures.add(s"$workload/$op: ${e.getClass.getName}: $msg")
  }

  /** Run one operation: count it, time it, record a failure on an exception
    * or on a false result of `check`. Returns the body's value if it ran.
    */
  def op[A](category: String, kind: String)(body: => A)(check: A => Boolean = (_: A) => true): Option[A] = {
    synchronized(attempted += 1)
    val t0 = System.nanoTime()
    try {
      val r = body
      val dt = (System.nanoTime() - t0) / 1e6
      samples.add(Sample(kind, category, dt))
      if (!check(r)) { failures.add(s"$workload/$kind: WrongAnswer: output check failed"); None }
      else Some(r)
    } catch { case e: Exception => fail(kind, e); None }
  }

  /** Count an operation checked outside the timed region. */
  def checked(op: String)(ok: => Boolean): Unit = {
    synchronized(attempted += 1)
    try { if (!ok) failures.add(s"$workload/$op: WrongAnswer: output check failed") }
    catch { case e: Exception => fail(op, e) }
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
  /** Operations per second of one closed-loop client: completed operations
    * over the time it spent in them, which a run's last, unfinished
    * operation does not quantize.
    */
  def rate(ms: Seq[Double]): Double = ms.size / (ms.sum / 1000)
}

/** A benchmark workload: untimed setup, a timed segment, output checks. */
trait Workload {
  def setup(): Unit
  def run(seg: Segment, seconds: Double): Unit
  /** End-to-end metrics of a finished segment. */
  def metrics(seg: Segment): Map[String, Double]
  /** Output checks, outside the timed region; add failures to `seg`. */
  def check(seg: Segment): Unit
  /** Extra per-layer figures measured after a traced segment. */
  def layerExtras(): Map[String, Double] = Map.empty
}

/** Entry point of the benchmark JVM; `perfbench/run.py` launches it.
  *
  * Arguments (all required): --workload, --inputs (generated input dir),
  * --work (scratch dir), --seconds, --trace (0|1), --out (result file).
  */
object Main {
  private val ArtifactCounters = Seq("sources.files_written", "sources.bytes_written_mb",
    "sources.index_files", "streaming.backlog_files")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()

    val calibFirst = { calibrate(cpus); calibrate(cpus) }
    val spark = graft.GraftSession.builder(s"local[$cpus]", "perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    val w: Workload = workload match {
      case "curate_10x" => new CurateWorkload(spark, a("inputs"), a("work"))
      case "dkv_facade" => new DkvWorkload(spark, a("inputs"), a("work"))
      case "serve_lookup" => new ServeWorkload(spark, a("inputs"), a("work"))
      case "ingest_serve" => new IngestWorkload(spark, a("inputs"), a("work"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val readyMs = System.currentTimeMillis()

    val plain = new Segment(workload)
    w.run(plain, seconds)
    val plainMetrics = w.metrics(plain)
    var layers = Map.empty[String, Double]
    var overhead = Map.empty[String, Double]
    val segs = if (!trace) Seq(plain) else {
      val traced = new Segment(workload)
      Trace.start(spark)
      w.run(traced, seconds)
      // the artifact counters are 0 on a workload that writes and lists no
      // artifact; the workloads that do report them in layerExtras
      layers = ArtifactCounters.map(_ -> 0.0).toMap ++ Trace.stop(spark) ++ w.layerExtras()
      overhead = w.metrics(traced).map { case (k, v) => s"overhead.$k" -> (v - plainMetrics(k)) }
      Seq(plain, traced)
    }
    val checks = new Segment(workload)
    w.check(checks)
    val calibLast = calibrate(cpus)
    spark.stop()

    val all = segs :+ checks
    val json = Json.obj(
      "ready_epoch_ms" -> readyMs.toDouble,
      "jvm_start_epoch_ms" ->
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
      "session_epoch_ms" -> sessionMs.toDouble,
      "metrics" -> Json.Raw(Json.obj(plainMetrics.toSeq: _*)),
      "layers" -> Json.Raw(Json.obj((layers ++ overhead).toSeq: _*)),
      "attempted" -> all.map(_.attempted).sum.toDouble,
      "failures" -> all.flatMap(_.failures.asScala),
      "samples" -> plain.samples.size.toDouble,
      "series_ms" -> Json.Raw(Json.obj(plain.samples.asScala.toSeq.groupBy(_.kind).toSeq
        .sortBy(_._1).map { case (k, xs) => k -> xs.map(x => math.rint(x.ms * 10) / 10) }: _*)),
      "peak_rss_mb" -> peakRssMb,
      "calib_first_s" -> calibFirst,
      "calib_last_s" -> calibLast,
      "cpus" -> cpus.toDouble)
    Files.write(Paths.get(a("out")), json.getBytes(StandardCharsets.UTF_8))
  }

  /** Ambient-load sentinel (graft.Bench's calibrate): a fixed parallel
    * in-memory sort on every core. A slower last figure than first means
    * the machine got busier during the run, not that the code regressed.
    */
  def calibrate(cpus: Int): Double = {
    val n = 500000
    val workers = (1 to cpus).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        val arr = new Array[Long](n)
        var i = 0
        while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; arr(i) = x; i += 1 }
        java.util.Arrays.sort(arr)
      })
    }
    val t0 = System.nanoTime()
    workers.foreach(_.start())
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

/** Minimal ASCII JSON writer for the result file. */
object Json {
  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  private def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 || c > 0x7e => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
