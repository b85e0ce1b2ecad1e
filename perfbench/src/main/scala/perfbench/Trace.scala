package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root span. Times are
  * `System.nanoTime` values; listener times are mapped onto the same
  * clock. */
final case class Span(id: Int, parent: Int, traceId: String, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory tracer of the traced run. When `on` is false every method is
  * a pass-through: the untraced run registers no listener, sets no job
  * group and records nothing, so the two runs differ only in tracing.
  *
  * Spans nest on the single client thread. Entering a span sets the Spark
  * job group to `pb-<span id>`, so the listener parents every job to the
  * innermost benchmark span that started it, and every stage to its job.
  * Listener counters are summed only for jobs that carry such a group;
  * catalyst counters are summed only while [[measuring]] is set. */
final class Tracer(val on: Boolean) {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  private val ids = new AtomicInteger(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Open spans of the client thread, innermost first. */
  private var stack: List[Span] = Nil
  private val totals = mutable.LinkedHashMap.empty[String, Double]
  private val perSpan = mutable.HashMap.empty[Int, mutable.Map[String, Double]]
  @volatile var measuring = false
  private var spark: SparkSession = _

  private val GroupPrefix = "pb-"

  def span[T](layer: String, name: String, traceId: String = null)(body: => T): T = {
    val id = begin(layer, name, traceId)
    try body finally end(id)
  }

  /** Open a span on the client thread; it must be closed with [[end]] in
    * stack order. Returns 0 when tracing is off. */
  def begin(layer: String, name: String, traceId: String = null): Int =
    if (!on) 0
    else {
      val id = ids.getAndIncrement()
      val tid = Option(traceId).orElse(stack.headOption.map(_.traceId)).getOrElse(name)
      stack = Span(id, stack.headOption.map(_.id).getOrElse(0), tid, layer, name,
        System.nanoTime(), 0L) :: stack
      setGroup(Some(id))
      id
    }

  def end(id: Int): Unit = if (on && id != 0) {
    val e = System.nanoTime()
    val s = stack.head
    require(s.id == id, s"span ${s.name} closed out of order")
    stack = stack.tail
    setGroup(stack.headOption.map(_.id))
    record(s.copy(endNs = e))
  }

  private def setGroup(id: Option[Int]): Unit =
    if (spark != null) id match {
      case Some(i) => spark.sparkContext.setJobGroup(GroupPrefix + i, "perfbench")
      case None => spark.sparkContext.clearJobGroup()
    }

  private def record(s: Span): Unit = synchronized { spans += s }

  def add(name: String, v: Double): Unit =
    if (on) synchronized { totals(name) = totals.getOrElse(name, 0.0) + v }

  private def addTo(span: Int, name: String, v: Double): Unit = synchronized {
    totals(name) = totals.getOrElse(name, 0.0) + v
    val m = perSpan.getOrElseUpdate(span, mutable.LinkedHashMap.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }

  private def maxTo(name: String, v: Double): Unit = synchronized {
    totals(name) = math.max(totals.getOrElse(name, 0.0), v)
  }

  def total(name: String): Double = synchronized(totals.getOrElse(name, 0.0))

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit = if (on && spark != null) BusDrain(spark.sparkContext)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Drop everything recorded so far (warmup) and start measuring. */
  def startMeasuring(): Unit = if (on) {
    drain()
    synchronized { spans.clear(); totals.clear(); perSpan.clear() }
    measuring = true
  }

  /** Register the listeners on a (new) session. */
  def attach(session: SparkSession): Unit = if (on) {
    spark = session
    session.sparkContext.addSparkListener(new JobListener)
    session.listenerManager.register(new CatalystListener)
  }

  def detach(): Unit = { spark = null }

  private final class JobListener extends SparkListener {
    // job id -> (span id, owning benchmark span id, start ns)
    private val jobs = mutable.HashMap.empty[Int, (Int, Int, Long)]
    private val stageOwner = mutable.HashMap.empty[Int, (Int, Int)]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(GroupPrefix)).foreach { g =>
        val owner = g.stripPrefix(GroupPrefix).toInt
        val jobSpan = ids.getAndIncrement()
        jobs(e.jobId) = (jobSpan, owner, msToNs(e.time))
        e.stageIds.foreach(s => stageOwner(s) = (jobSpan, owner))
        addTo(owner, "spark.jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (jobSpan, owner, start) =>
        record(Span(jobSpan, owner, "", "spark", s"job ${e.jobId}", start,
          msToNs(e.time)))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      stageOwner.get(info.stageId).foreach { case (jobSpan, owner) =>
        addTo(owner, "spark.stages", 1)
        for (s <- info.submissionTime; c <- info.completionTime)
          record(Span(ids.getAndIncrement(), jobSpan, "", "spark",
            s"stage ${info.stageId}.${info.attemptNumber()}", msToNs(s),
            msToNs(c)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOwner.get(e.stageId).foreach { case (_, owner) =>
        val m = e.taskMetrics
        val wallMs = e.taskInfo.finishTime - e.taskInfo.launchTime
        addTo(owner, "spark.tasks", 1)
        addTo(owner, "spark.task_wall_s", wallMs / 1e3)
        if (m != null) {
          addTo(owner, "spark.task_busy_s", m.executorRunTime / 1e3)
          addTo(owner, "spark.task_overhead_s",
            math.max(0L, wallMs - m.executorRunTime) / 1e3)
          addTo(owner, "spark.task_cpu_s", m.executorCpuTime / 1e9)
          addTo(owner, "spark.task_gc_s", m.jvmGCTime / 1e3)
          addTo(owner, "spark.shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          addTo(owner, "spark.shuffle_read_bytes",
            m.shuffleReadMetrics.totalBytesRead.toDouble)
          addTo(owner, "spark.shuffle_fetch_wait_s",
            m.shuffleReadMetrics.fetchWaitTime / 1e3)
          addTo(owner, "spark.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          maxTo("spark.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
        }
      }
  }

  private final class CatalystListener extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (measuring) {
      add("catalyst.actions", 1)
      qe.tracker.phases.foreach { case (phase, summary) =>
        add(s"catalyst.${phase}_s", summary.durationMs / 1e3)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = phases(qe)
  }

  /** Spans as JSON lines with their self times and attributed counters. */
  def spansJson: Seq[String] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val byId = all.map(s => s.id -> s).toMap
    // listener spans inherit the trace id of the benchmark span above them
    def tid(s: Span): String =
      if (s.traceId.nonEmpty) s.traceId
      else byId.get(s.parent).map(tid).getOrElse("")
    all.sortBy(_.startNs).map { s =>
      val self = Stats.selfTime(s.startNs, s.endNs,
        children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      val counters = synchronized(perSpan.get(s.id).map(_.toMap))
        .getOrElse(Map.empty)
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "trace" -> Json.str(tid(s)), "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - nano0) / 1e9),
        "end_s" -> Json.num((s.endNs - nano0) / 1e9),
        "self_s" -> Json.num(self / 1e9),
        "counters" -> Json.obj(counters.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) })))
    }
  }

  /** Total duration of the spans called `name`, in seconds. */
  def spanSeconds(name: String): Double =
    allSpans.filter(_.name == name).map(_.durNs).sum / 1e9

  /** Sum of a listener counter over the spans called `name`. */
  def counterOver(counter: String, name: String): Double = {
    val idsOf = allSpans.filter(_.name == name).map(_.id)
    synchronized(idsOf.flatMap(i => perSpan.get(i).flatMap(_.get(counter))).sum)
  }

  /** Run `body` with catalyst counting paused: correctness checks are not
    * part of the measured work. */
  def unmeasured[T](body: => T): T =
    if (!on) body
    else {
      drain(); measuring = false
      try body finally { drain(); measuring = true }
    }

  /** Sum of the self times of a span and all its descendants. */
  def subtreeSelfNs(id: Int): Long = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    def self(s: Span) = Stats.selfTime(s.startNs, s.endNs,
      children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
    def walk(s: Span): Long = self(s) + children.getOrElse(s.id, Nil).map(walk).sum
    all.find(_.id == id).map(walk).getOrElse(0L)
  }

  /** Sum of self time over the spans of one layer. */
  def selfTimeOfLayer(layer: String): Double = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.filter(_.layer == layer).map(s => Stats.selfTime(s.startNs, s.endNs,
      children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))).sum / 1e9
  }
}

/** Minimal JSON writing; values are pre-rendered JSON text. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
