package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener counters of one job group (one benchmark step). */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var tasksFailed = 0
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var taskRunMs = 0L
  var taskQueueMs = 0L
  var spillBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  /** Per stage: task run times, for the max/median skew ratio. */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** Job (start, end) wall intervals, epoch ms. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def toJson: String = {
    import Json._
    obj(
      "jobs" -> num(jobs), "stages" -> num(stages), "tasks" -> num(tasks),
      "tasks_failed" -> num(tasksFailed), "task_cpu_s" -> num(taskCpuNs / 1e9),
      "task_gc_s" -> num(taskGcMs / 1e3), "task_run_s" -> num(taskRunMs / 1e3),
      "task_queue_s" -> num(taskQueueMs / 1e3), "spill_bytes" -> num(spillBytes),
      "shuffle_read_bytes" -> num(shuffleReadBytes),
      "shuffle_write_bytes" -> num(shuffleWriteBytes),
      "stage_task_ms" -> arr(stageTaskMs.toSeq.sortBy(_._1).map { case (_, ms) =>
        arr(ms.toSeq.map(x => num(x))) }),
      "job_intervals_ms" -> arr(jobIntervals.toSeq.map { case (a, b) =>
        arr(Seq(num(a), num(b))) }))
  }
}

/** Aggregates Spark scheduler events per job group. Registered through
  * `SparkContext.addSparkListener`; every traced step runs under its own
  * `setJobGroup`, so attribution is by group id, never by wall time. */
final class GroupListener extends SparkListener {
  private val groups = mutable.LinkedHashMap[String, Counters]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private var openJobs = 0
  @volatile private var lastEventNs = System.nanoTime()
  /** Group for jobs submitted without one: library code that runs jobs
    * on its own driver threads (`graft.core.Overlap`) does not inherit the
    * caller's job group, so such jobs go to the step open at the time. */
  @volatile var fallbackGroup = "untagged"

  private def touch(): Unit = lastEventNs = System.nanoTime()

  private def group(name: String): Counters = groups.getOrElseUpdate(name, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(fallbackGroup)
    jobGroup(e.jobId) = g
    jobStartMs(e.jobId) = e.time
    openJobs += 1
    val c = group(g)
    c.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    openJobs -= 1
    jobGroup.remove(e.jobId).foreach { g =>
      group(g).jobIntervals += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    val id = e.stageInfo.stageId
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    stageGroup.get(e.stageInfo.stageId).foreach { g => val c = group(g); c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val c = group(stageGroup.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    if (!e.taskInfo.successful) c.tasksFailed += 1
    stageSubmitMs.get(e.stageId).foreach(s =>
      c.taskQueueMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.taskGcMs += m.jvmGCTime
      c.taskRunMs += m.executorRunTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for `quietMs` (bounded by `maxMs`): the listener bus is
    * asynchronous, so a step's last task events land after its action
    * returns. */
  def drain(quietMs: Long = 150, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def settled = synchronized(openJobs <= 0) &&
      System.nanoTime() - lastEventNs > quietMs * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def snapshot(): Map[String, Counters] = synchronized(groups.toMap)
}

/** One traced step: a public-function call plus the action that
  * materialises it. Times are epoch ms; `parent` names the enclosing span. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      phase: String, startMs: Double, endMs: Double)

/** In-memory span recorder. Spans are written out once, when the run
  * ends; with tracing off nothing is recorded and no job group is set. */
final class Tracer(traced: Boolean, workload: String, sc: SparkContext) {
  val listener: Option[GroupListener] =
    if (traced) Some(new GroupListener) else None
  listener.foreach(sc.addSparkListener)
  /** False while suspended: no spans, no job groups, listener detached. */
  def enabled: Boolean = listener.isDefined && !suspended
  private var suspended = false

  /** Detach the listener (after its queue drains) for an untraced stretch
    * of a traced run, or reattach it. */
  def suspend(on: Boolean): Unit = if (listener.isDefined && on != suspended) {
    listener.foreach { l =>
      if (on) { l.drain(); sc.removeSparkListener(l) } else sc.addSparkListener(l)
    }
    suspended = on
  }
  private val spans = mutable.ArrayBuffer[Span]()
  /** Open spans, innermost first: (id, job group). Id 0 is the root. */
  private var stack = List((0, ""))
  private var nextId = 1
  /** "cycle" for the workload's timed operations, "overhead" for the
    * tracing-overhead probe, "probe" for the layer probes. */
  var phase = "cycle"

  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  private def setGroup(g: String): Unit = {
    if (g.isEmpty) sc.clearJobGroup() else sc.setJobGroup(g, g, interruptOnCancel = false)
    listener.foreach(_.fallbackGroup = if (g.isEmpty) "untagged" else g)
  }

  /** Run `body` as a span named `name` in `layer`, under job group
    * `name#id`, and return its result and wall seconds. */
  def span[T](name: String, layer: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.head._1
    val group = s"$name#$id"
    stack = (id, group) :: stack
    if (enabled) setGroup(group)
    val s0 = nowMs
    try {
      val out = body
      (out, (nowMs - s0) / 1e3)
    } finally {
      val s1 = nowMs
      stack = stack.tail
      if (enabled) {
        spans += Span(id, name, layer, parent, phase, s0, s1)
        setGroup(stack.head._2)
      }
    }
  }

  /** Spans plus the listener counters of each span's job group. */
  def toJson: String = {
    import Json._
    listener.foreach(_.drain())
    val groups = listener.map(_.snapshot()).getOrElse(Map.empty)
    arr(spans.toSeq.map { s =>
      obj("id" -> num(s.id), "name" -> str(s.name), "layer" -> str(s.layer),
        "parent" -> num(s.parent), "workload" -> str(workload), "phase" -> str(s.phase),
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs),
        "counters" -> groups.get(s"${s.name}#${s.id}").fold("null")(_.toJson))
    } ++ groups.get("untagged").map(c => obj("name" -> str("untagged"),
      "counters" -> c.toJson)).toSeq)
  }

  def close(): Unit = if (!suspended) listener.foreach(sc.removeSparkListener)
}

/** Minimal JSON writer for the result file. */
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
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
