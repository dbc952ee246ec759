package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters a span accumulates from the Spark listener bus. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var planMs = 0L
  var compileNs = 0L
  var classes = 0L
  var oneTaskStages = 0L
  var skewMax = 0.0
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One traced call: a layer call (leaf) or a pass (parent). Times are epoch
  * nanoseconds so they line up with the scheduler's stage timestamps. */
final class Span(val id: Int, val name: String, val parent: Int, val run: Int,
    val start: Long) {
  var end = 0L
  var gapNs = 0L
  val c = new Counters
}

/** The traced-run recorder. Spans live in memory and are written at exit.
  * Jobs, stages and tasks reach the span that caused them through the
  * `perfbench.span` local property, which Spark copies into every job's and
  * stage's properties; query-planning phases reach the span that is open
  * when the listener bus delivers them, which is exact because every span
  * drains the bus before it closes. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var stack = List.empty[Span]
  @volatile private var current: Span = _
  private val epochBaseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def now(): Long = epochBaseNs + System.nanoTime()

  def span[T](name: String, run: Int)(body: => T): T = {
    Bus.drain(sc)
    val s = synchronized {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), run, now())
      spans += s
      byId(s.id) = s
      s
    }
    stack = s :: stack
    current = s
    val prevProp = sc.getLocalProperty(Tracer.Prop)
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      s.end = now()
      Bus.drain(sc)
      s.c.compileNs += CodeGenerator.compileTime - compile0
      s.c.classes += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
      sc.setLocalProperty(Tracer.Prop, prevProp)
      stack = stack.tail
      current = stack.headOption.orNull
      synchronized { s.gapNs = (s.end - s.start) - Tracer.covered(s.c.stageIntervals, s.start, s.end) }
    }
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .flatMap(id => byId.get(id.toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(_.c.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      stageSpan(e.stageInfo.stageId) = s
      stageTaskMs(e.stageInfo.stageId) = mutable.ArrayBuffer.empty
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = s.c
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.get(e.stageId).foreach(_ += e.taskInfo.duration)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (s <- stageSpan.remove(info.stageId)) {
      val c = s.c
      c.stages += 1
      val ms = stageTaskMs.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty[Long])
      if (info.numTasks == 1) c.oneTaskStages += 1
      if (ms.size >= 2) {
        val sorted = ms.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        c.skewMax = math.max(c.skewMax, sorted.last.toDouble / median)
      }
      for (a <- info.submissionTime; b <- info.completionTime)
        c.stageIntervals += ((a * 1000000L, b * 1000000L))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = current
    if (s != null) {
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      synchronized { s.c.planMs += ms }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Every span as one JSON object per line, with its self time: its
    * duration minus the part of it that its child spans cover. */
  def write(path: String): Unit = synchronized {
    val children = spans.groupBy(_.parent)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val selfNs = (s.end - s.start) - Tracer.covered(kids, s.start, s.end)
      val c = s.c
      out.println(Main.json.writeValueAsString(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
        "dur_s" -> (s.end - s.start) / 1e9, "self_s" -> selfNs / 1e9,
        "gap_s" -> s.gapNs / 1e9, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "run_s" -> c.runMs / 1e3, "cpu_s" -> c.cpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3, "shuffle_write" -> c.shuffleWrite,
        "shuffle_read" -> c.shuffleRead, "fetch_wait_s" -> c.fetchWaitMs / 1e3,
        "spill" -> c.spill, "plan_s" -> c.planMs / 1e3,
        "compile_s" -> c.compileNs / 1e9, "classes" -> c.classes,
        "one_task_stages" -> c.oneTaskStages, "skew_max" -> c.skewMax)))
    } finally out.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((a0, b0) <- intervals.toSeq.sortBy(_._1)) {
      val a = math.max(a0, reach)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; reach = b }
    }
    total
  }
}
