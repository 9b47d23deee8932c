package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what one benchmark run measures.
  *
  * Always: operation latencies, failures and pass wall times, with only
  * the timed passes counting toward the metrics.
  *
  * With tracing on, also: spans at the benchmark -> layer boundaries
  * (workload, pass, op, query build, query sink, store op), Spark jobs
  * parented to the span that submitted them, task/stage/shuffle totals
  * from a SparkListener, and planning phase times from a
  * QueryExecutionListener. Spans stay in memory until [[spansJson]]. */
final class Probe(val cores: Int) {
  import Probe.Span

  var trace = false
  var timed = false
  val passWallS = mutable.ArrayBuffer[Double]()
  /** Op name -> latencies (ms) in the timed passes. */
  val opMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  /** Per-layer sums over the timed passes (divided by passes on output). */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Per-layer values measured outside the passes (set-up). */
  val untimed = mutable.LinkedHashMap[String, Double]()

  /** Forgets what an earlier window measured. */
  def resetWindow(): Unit = synchronized {
    passWallS.clear(); layer.clear(); opMs.clear()
    sums.clear(); taskIntervals.clear()
  }

  def add(key: String, v: Double): Unit =
    if (timed) layer(key) = layer.getOrElse(key, 0.0) + v

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** One user-visible operation: timed, counted, and a failure is
    * recorded instead of ending the run. */
  def op[T](name: String, layerName: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(span(name, layerName)(body))
      catch { case e: Throwable =>
        fail(s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(200)}")
        None
      }
    if (timed) {
      val ms = (System.nanoTime() - t0) / 1e6
      opMs.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms
    }
    r
  }

  private def opMedians: Iterable[Double] =
    opMs.values.map(v => perfbench.Workloads.median(v.toSeq))

  /** One pass as the sum of every op's median latency (s). */
  def passFromOpMediansS: Double = opMedians.sum / 1e3

  /** Geometric mean of the ops' median latencies (ms). */
  def opGeomeanMs: Double =
    math.exp(opMedians.map(math.log).sum / opMedians.size)

  // ---- spans ---------------------------------------------------------

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var session: SparkSession = _

  def span[T](name: String, layerName: String)(body: => T): T =
    if (!trace || !timed) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name,
        layerName, System.nanoTime())
      spans += s
      stack = s.id :: stack
      setSpanProperty(s.id)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        setSpanProperty(stack.headOption.getOrElse(-1))
      }
    }

  private def setSpanProperty(id: Int): Unit =
    if (session != null)
      session.sparkContext.setLocalProperty(Probe.SpanKey, id.toString)

  // ---- Spark listeners (tracing only) ----------------------------------

  private var windowStartMs = Long.MaxValue
  private var windowEndMs = Long.MaxValue
  private var codegenCount0 = 0L
  private var codegenCount1 = 0L
  private def inWindow(t: Long) = t >= windowStartMs && t <= windowEndMs
  private val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** job id -> (span id, submit ms, end ms) */
  val jobs = mutable.LinkedHashMap[Int, (Int, Long, Long)]()
  private val sums = mutable.LinkedHashMap[String, Double]()
  private def sum(k: String, v: Double): Unit =
    sums(k) = sums.getOrElse(k, 0.0) + v

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val sp = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Probe.SpanKey))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = (sp, e.time, -1L)
      if (inWindow(e.time)) sum("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (sp, t0, _) =>
        jobs(e.jobId) = (sp, t0, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted)
        : Unit = synchronized {
      if (e.stageInfo.completionTime.exists(inWindow)) sum("spark.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val info = e.taskInfo
      if (info != null && inWindow(info.launchTime)) {
        taskIntervals += ((info.launchTime, info.finishTime))
        sum("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          sum("spark.task_run_s", m.executorRunTime / 1e3)
          sum("spark.task_cpu_s", m.executorCpuTime / 1e9)
          sum("spark.gc_s", m.jvmGCTime / 1e3)
          sum("spark.shuffle_read_bytes",
            m.shuffleReadMetrics.totalBytesRead.toDouble)
          sum("spark.shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          sum("spark.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          sums("spark.peak_exec_mem_bytes") = math.max(
            sums.getOrElse("spark.peak_exec_mem_bytes", 0.0),
            m.peakExecutionMemory.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Probe.this.synchronized {
      val phases = qe.tracker.phases
      if (phases.get("analysis").exists(a => inWindow(a.startTimeMs))) {
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => sum(s"spark.${p}_ms", s.durationMs.toDouble))
        }
        sum("spark.sql_executions", 1)
      }
    }
  }

  /** Attach to the session the timed passes will use. */
  def attach(spark: SparkSession): Unit = session = spark

  /** Starts recording spans and Spark events from the next window on. */
  def enableTracing(): Unit = {
    trace = true
    session.sparkContext.addSparkListener(listener)
    session.listenerManager.register(qeListener)
  }

  def startWindow(): Unit = {
    windowStartMs = System.currentTimeMillis()
    windowEndMs = Long.MaxValue
    codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    timed = true
  }

  /** Ends the timed window; waits for queued listener events. */
  def endWindow(): Unit = {
    timed = false
    codegenCount1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    synchronized { windowEndMs = System.currentTimeMillis() }
    if (session != null)
      org.apache.spark.perfbench.Bus.drain(session.sparkContext)
  }

  /** Listener-derived per-layer totals over the window, per pass. */
  def sparkLayers(passes: Int, windowWallS: Double): Map[String, Double] =
    synchronized {
      val busyS = union(taskIntervals.toSeq) / 1e3
      val compiles = (codegenCount1 - codegenCount0).toDouble
      val codegenMs =
        compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      val perPass = Seq("spark.jobs", "spark.stages", "spark.tasks",
        "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "spark.analysis_ms", "spark.optimization_ms",
        "spark.planning_ms", "spark.sql_executions")
        .map(k => k -> sums.getOrElse(k, 0.0) / passes).toMap
      perPass ++ Map(
        "spark.peak_exec_mem_bytes" ->
          sums.getOrElse("spark.peak_exec_mem_bytes", 0.0),
        "spark.codegen_ms" -> codegenMs / passes,
        "spark.utilization" ->
          sums.getOrElse("spark.task_run_s", 0.0) / (windowWallS * cores),
        "spark.driver_idle_s" -> math.max(0.0, windowWallS - busyS) / passes)
    }

  /** Total length of the union of [start, end] intervals (ms). */
  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Spans and their Spark jobs as JSON, times relative to the first
    * span (ms). */
  def spansJson: String = synchronized {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val js = spans.map { s =>
      val myJobs = jobs.collect { case (j, (sp, _, _)) if sp == s.id => j }
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ms":${(s.start - t0) / 1e6},""" +
        s""""end_ms":${(s.end - t0) / 1e6},"jobs":[${myJobs.mkString(",")}]}"""
    }
    js.mkString("[", ",\n", "]")
  }

  /** Self time per layer: a span's duration minus the part covered by
    * its child spans, summed by layer, per pass. */
  def selfTimeByLayer(passes: Int): Map[String, Double] = {
    val childS = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach { s =>
      if (s.parent >= 0) childS(s.parent) += (s.end - s.start) / 1e9
    }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.end - s.start) / 1e9 - childS(s.id)).sum / passes
    }
  }
}

object Probe {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        start: Long, var end: Long = -1L)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
