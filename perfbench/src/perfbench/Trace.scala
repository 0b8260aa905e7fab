package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-module cost attribution for one traced segment.
  *
  * A span wraps one call into a graft module (and the action that forces
  * it). While a span is open its id rides on the thread's Spark job tags,
  * so every job, stage, task and SQL execution it starts is attributed to
  * the innermost open span. Jobs started by a streaming query's own thread
  * are attributed to a virtual `streaming` span per trigger instead.
  *
  * Self time of a span is its wall time minus the wall time of its child
  * spans; driver time is the part of the self time that none of its own
  * jobs covers. When tracing is off `span` only runs its body.
  */
object Trace {
  val Modules: Seq[String] = Seq("dset", "functions", "operators", "sources", "streaming")
  private val TagPrefix = "pbspan-"
  private val StreamQueryKey = "sql.streaming.queryId"

  private val on = new AtomicBoolean(false)
  private val nextId = new AtomicLong(0)

  private final case class Span(id: Long, module: String,
      startMs: Double, var endMs: Double = 0, var childMs: Double = 0)
  private final case class Job(span: Long, stream: String, startMs: Long, var endMs: Long = 0)

  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val cost = new ConcurrentHashMap[String, Array[Double]]()
  private val extra = new ConcurrentHashMap[String, Double]()
  private val streamSpans = new ConcurrentHashMap[Long, Span]()

  // per-module cost slots
  private val Stages = 0; private val Tasks = 1; private val Retries = 2
  private val Cpu = 3; private val Gc = 4; private val Shuffle = 5
  private val Spill = 6; private val Plan = 7; private val Rows = 8; private val Jobs = 9

  private def nowMs: Double = System.nanoTime() / 1e6
  // job/stage events carry wall-clock epoch ms; spans keep both clocks
  private val epochOffsetMs: Double = System.currentTimeMillis() - nowMs

  def span[A](module: String)(body: => A): A =
    if (!on.get) body
    else {
      val sc = SparkSession.active.sparkContext
      val parent = stack.get().headOption
      val s = Span(nextId.incrementAndGet(), module, nowMs)
      spans.put(s.id, s)
      stack.set(s :: stack.get())
      parent.foreach(p => sc.removeJobTag(TagPrefix + p.id))
      sc.addJobTag(TagPrefix + s.id)
      try body
      finally {
        s.endMs = nowMs
        sc.removeJobTag(TagPrefix + s.id)
        stack.set(stack.get().tail)
        parent.foreach { p =>
          p.synchronized(p.childMs += s.endMs - s.startMs)
          sc.addJobTag(TagPrefix + p.id)
        }
      }
    }

  /** Record a module-specific figure (summed when recorded twice). */
  def note(name: String, v: Double): Unit = extra.merge(name, v, (a: Double, b: Double) => a + b)

  private def slot(module: String): Array[Double] =
    cost.computeIfAbsent(module, _ => new Array[Double](10))

  private def add(module: String, i: Int, v: Double): Unit = {
    val a = slot(module); a.synchronized(a(i) += v)
  }

  private def spanOf(tags: Iterable[String]): Long =
    tags.filter(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix).toLong)
      .foldLeft(0L)(math.max)

  private def moduleOfJob(j: Job): Option[String] =
    if (j.stream != null) Some("streaming")
    else Option(spans.get(j.span)).map(_.module)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags"))).toSeq
        .flatMap(_.split(","))
      val stream = p.flatMap(x => Option(x.getProperty(StreamQueryKey))).orNull
      val j = Job(spanOf(tags), stream, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      moduleOfJob(j).foreach(m => add(m, Jobs, 1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    private def moduleOfStage(stage: Int): Option[String] =
      Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j))).flatMap(moduleOfJob)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      moduleOfStage(e.stageInfo.stageId).foreach(m => add(m, Stages, 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      moduleOfStage(e.stageId).foreach { m =>
        add(m, Tasks, 1)
        if (e.taskInfo.attemptNumber > 0) add(m, Retries, 1)
        Option(e.taskMetrics).foreach { t =>
          add(m, Cpu, t.executorCpuTime / 1e6)
          add(m, Gc, t.jvmGCTime.toDouble)
          add(m, Shuffle, t.shuffleWriteMetrics.bytesWritten / 1048576.0)
          add(m, Spill, t.diskBytesSpilled / 1048576.0)
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSpan.put(s.executionId, spanOf(s.jobTags))
      case s: SparkListenerSQLExecutionEnd =>
        val span = Option(execSpan.remove(s.executionId)).map(_.longValue).getOrElse(0L)
        for (m <- Option(spans.get(span)).map(_.module); qe <- Bridge.queryExecution(s)) {
          val phases = qe.tracker.phases
          add(m, Plan, Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs.toDouble).sum)
          add(m, Rows, Bridge.outputRows(qe).toDouble)
        }
      case _ =>
    }
  }

  private object QueryListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val trigger = d.getOrElse("triggerExecution", 0.0)
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli - epochOffsetMs
        val s = Span(nextId.incrementAndGet(), "streaming", start, start + trigger)
        streamSpans.put(s.id, s)
        note("streaming.trigger_ms", trigger)
        note("streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
        note("streaming.list_ms", d.getOrElse("latestOffset", 0.0) + d.getOrElse("getBatch", 0.0))
      }
    }
  }

  /** Start a traced segment: clear all tallies and register listeners. */
  def start(spark: SparkSession): Unit = {
    Seq(spans, jobs, stageJob, execSpan, cost, extra, streamSpans).foreach(_.clear())
    spark.sparkContext.addSparkListener(Listener)
    spark.streams.addListener(QueryListener)
    on.set(true)
  }

  /** End the traced segment and aggregate per module. */
  def stop(spark: SparkSession): Map[String, Double] = {
    on.set(false)
    Bridge.drain(spark)
    spark.sparkContext.removeSparkListener(Listener)
    spark.streams.removeListener(QueryListener)

    val out = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    val allSpans = spans.values.asScala.toSeq ++ streamSpans.values.asScala.toSeq
    val jobList = jobs.values.asScala.toSeq
    val streamJobs = jobList.filter(_.stream != null)
    for (m <- Modules) {
      val mine = allSpans.filter(s => s.module == m && s.endMs > 0)
      var selfMs = 0.0
      var driverMs = 0.0
      for (s <- mine) {
        val self = math.max(0.0, s.endMs - s.startMs - s.childMs)
        // a streaming trigger owns the stream jobs inside its interval
        val own = if (m == "streaming") streamJobs else jobList.filter(_.span == s.id)
        val covered = coveredMs(own, s.startMs + epochOffsetMs, s.endMs + epochOffsetMs)
        selfMs += self
        driverMs += math.max(0.0, self - covered)
      }
      val c = slot(m)
      out(s"$m.calls") = mine.size
      out(s"$m.self_ms") = selfMs
      out(s"$m.driver_ms") = driverMs
      out(s"$m.plan_ms") = c(Plan)
      out(s"$m.jobs") = c(Jobs)
      out(s"$m.stages") = c(Stages)
      out(s"$m.tasks") = c(Tasks)
      out(s"$m.task_retries") = c(Retries)
      out(s"$m.exec_cpu_ms") = c(Cpu)
      out(s"$m.gc_ms") = c(Gc)
      out(s"$m.shuffle_write_mb") = c(Shuffle)
      out(s"$m.spill_mb") = c(Spill)
      out(s"$m.rows_out") = c(Rows)
      for (k <- Seq("calls", "self_ms", "driver_ms", "plan_ms", "jobs", "stages", "tasks",
          "task_retries", "exec_cpu_ms", "gc_ms", "shuffle_write_mb", "spill_mb", "rows_out"))
        out(s"all.$k") += out(s"$m.$k")
    }
    extra.asScala.foreach { case (k, v) => out(k) = v }
    out.toMap
  }

  /** Length of the union of the jobs' intervals clipped to [lo, hi]. */
  private def coveredMs(js: Seq[Job], lo: Double, hi: Double): Double = {
    val iv = js.filter(_.endMs > 0)
      .map(j => (math.max(lo, j.startMs.toDouble), math.min(hi, j.endMs.toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
