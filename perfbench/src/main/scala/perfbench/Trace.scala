package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code: a call into one layer
  * of the engine. Times are epoch milliseconds with sub-millisecond
  * resolution, on the same clock as Spark's listener events, so jobs,
  * tasks and planning phases can be attributed to the span they fell in.
  */
final class Span(val id: Int, val name: String, val parent: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var compilations: Long = 0
  var compileMs: Double = 0
  def ms: Double = endMs - startMs
}

/** Spans plus what Spark's public listeners saw while they were open.
  * Everything stays in memory until [[report]]. With `enabled = false`
  * spans are not recorded and no listener is attached, which is the
  * untraced mode every end-to-end number is measured in.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Wall = System.currentTimeMillis().toDouble
  private val t0Nano = System.nanoTime()
  def now(): Double = t0Wall + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  // listener state: written on the listener bus thread, read after drain
  private final case class Job(id: Int, start: Long, var end: Long)
  private final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, gcMs: Long)
  private final case class Phase(name: String, start: Long, end: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageDone = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  private val events = new java.util.concurrent.atomic.AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, Job(e.jobId, e.time, -1)); events.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time); events.incrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
      events.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageDone.add(si.stageId -> si.submissionTime.getOrElse(0L))
      events.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        if (m == null) 0 else m.executorRunTime, if (m == null) 0 else m.jvmGCTime))
      events.incrementAndGet()
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
      }
      events.incrementAndGet()
    }
  }
  private var attached = false

  /** Attach the listeners; returns this tracer. */
  def attach(): Tracer = {
    if (enabled && !attached) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      attached = true
    }
    this
  }

  /** Detach the listeners (for the untraced operations of a traced run). */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Wait until the listener buses have delivered everything: the event
    * count must stop moving for 300 ms (at most 10 s).
    */
  def drain(): Unit = if (attached) {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L
    var still = 0
    while (still < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      if (n == last) still += 1 else { still = 0; last = n }
    }
  }

  private def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  /** Run `body` inside a span named `name` (no-op when disabled). */
  def span[T](name: String)(body: => T): T =
    if (!enabled || !attached) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), now())
      spans += s
      stack.push(s)
      val (c0, m0) = codegen()
      try body
      finally {
        val (c1, m1) = codegen()
        s.compilations = c1 - c0
        s.compileMs = m1 - m0
        s.endMs = now()
        stack.pop()
      }
    }

  // ---------------------------------------------------------- reporting

  /** Per-span aggregates, keyed by span id. Every listener event is put
    * in the innermost span whose interval holds its start time.
    */
  final class Agg {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskMs = 0.0; var gcMs = 0.0; var waitMs = 0.0
    val phaseMs = mutable.LinkedHashMap("analysis" -> 0.0, "optimization" -> 0.0,
      "planning" -> 0.0)
    val busy = mutable.ArrayBuffer.empty[(Double, Double)] // jobs + phases
  }

  private def innermost(starts: Array[Double], t: Double): Option[Span] = {
    // spans open in time order and nest, so the latest-started span that
    // still holds t is the innermost one
    var i = java.util.Arrays.binarySearch(starts, t)
    i = if (i >= 0) { while (i + 1 < starts.length && starts(i + 1) == t) i += 1; i }
        else -i - 2
    while (i >= 0 && spans(i).endMs < t) i -= 1
    if (i >= 0) Some(spans(i)) else None
  }

  def aggregate(): Map[Int, Agg] = {
    drain()
    val starts = spans.map(_.startMs).toArray
    val out = mutable.HashMap.empty[Int, Agg]
    def at(t: Double) = innermost(starts, t).map(s => out.getOrElseUpdate(s.id, new Agg))
    val jobsByStart = jobs.values.asScala.toSeq
    jobsByStart.foreach { j =>
      at(j.start.toDouble).foreach { a =>
        a.jobs += 1
        if (j.end >= j.start) a.busy += ((j.start.toDouble, j.end.toDouble))
      }
    }
    stageDone.asScala.foreach { case (_, sub) => at(sub.toDouble).foreach(_.stages += 1) }
    tasks.asScala.foreach { t =>
      at(t.launch.toDouble).foreach { a =>
        a.tasks += 1
        a.taskMs += t.runMs
        a.gcMs += t.gcMs
        val sub = stageSubmit.getOrDefault(t.stage, t.launch)
        a.waitMs += math.max(0L, t.launch - sub)
      }
    }
    phases.asScala.foreach { p =>
      at(p.start.toDouble).foreach { a =>
        if (a.phaseMs.contains(p.name)) {
          a.phaseMs(p.name) += (p.end - p.start)
          a.busy += ((p.start.toDouble, p.end.toDouble))
        }
      }
    }
    out.toMap
  }

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Rows of the span table: id, name, parent, ms, self ms, and what the
    * listeners attributed to the span itself (not its children).
    */
  def spanRows(aggs: Map[Int, Agg]): Seq[Map[String, Any]] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val self = s.ms - covered(kids.map(k => (k.startMs, k.endMs)).toSeq)
      val a = aggs.getOrElse(s.id, new Agg)
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startMs - t0Wall), "ms" -> s.ms, "self_ms" -> self,
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_ms" -> a.taskMs, "gc_ms" -> a.gcMs, "task_wait_ms" -> a.waitMs,
        "analysis_ms" -> a.phaseMs("analysis"),
        "optimization_ms" -> a.phaseMs("optimization"),
        "planning_ms" -> a.phaseMs("planning"),
        "compilations" -> s.compilations, "compile_ms" -> s.compileMs)
    }
  }

  /** Driver gap of a span: its wall minus the time covered by Catalyst
    * phases, running jobs and build spans anywhere inside it, minus the
    * codegen time compiled inside it (clamped at zero).
    */
  def gapMs(s: Span, aggs: Map[Int, Agg], buildPrefix: String): Double = {
    val inside = spans.filter(x => x.startMs >= s.startMs && x.endMs <= s.endMs)
    val busy = inside.flatMap(x => aggs.get(x.id).toSeq.flatMap(_.busy)) ++
      inside.filter(_.name.startsWith(buildPrefix)).map(x => (x.startMs, x.endMs))
    math.max(0.0, s.ms - covered(busy.toSeq) - s.compileMs)
  }
}
