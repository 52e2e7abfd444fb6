package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are `System.nanoTime`; the Spark
  * fields are filled by [[TaskFold]] from the jobs run under the span's
  * job group (innermost span only — inclusive sums are taken at report
  * time). */
final class Span(
    val id: Long,
    val name: String,
    val parent: Long,
    val trace: Int,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var waitMs = 0L
  // per stage: task durations (ms), for the max/median skew ratio
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  def durNs: Long = endNs - startNs
}

/** Span recorder for one run. A span opens around each call the benchmark
  * makes into a layer; its id becomes the Spark job group, so every job
  * (including jobs started from helper threads, which inherit the group)
  * is attributed to the innermost open span. Tracing off records nothing
  * and sets no job group; the pass-level CPU counter runs either way. */
final class Trace(sc: SparkContext) {
  @volatile var enabled = false
  @volatile var traceId = 0
  private val nextId = new AtomicLong(1L)
  private val open = new java.util.ArrayDeque[Span]()
  private val all = ArrayBuffer.empty[Span]
  private[graftbench] val byId = new ConcurrentHashMap[Long, Span]()
  private[graftbench] val current = new AtomicReference[Span](null)
  val fold = new TaskFold(this)
  sc.addSparkListener(fold)

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val parent = open.peek()
    val s = new Span(nextId.getAndIncrement(), name,
      if (parent == null) 0L else parent.id, traceId, System.nanoTime())
    byId.put(s.id, s)
    all.synchronized(all += s)
    open.push(s)
    current.set(s)
    sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      val p = open.peek()
      current.set(p)
      if (p == null) sc.clearJobGroup() else sc.setJobGroup(p.id.toString, p.name)
    }
  }

  /** Waits until every listener event posted so far is delivered. */
  def drain(): Unit = org.apache.spark.graftbench.BusBridge.drain(sc)

  def spans: Seq[Span] = all.synchronized(all.toList)
}

/** The one listener: folds task and stage metrics into the span that owns
  * the job, and keeps a run-wide executor CPU counter. */
final class TaskFold(trace: Trace) extends SparkListener {
  val cpuNs = new AtomicLong(0L)
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageLaunched = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val s =
      if (group != null)
        scala.util.Try(group.toLong).toOption.map(trace.byId.get).orNull
      else if (trace.enabled) trace.current.get()
      else null
    if (s != null) {
      s.synchronized(s.jobs += 1)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmitMs.put(e.stageInfo.stageId, t)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null && stageLaunched.add(e.stageId)) {
      val sub = stageSubmitMs.get(e.stageId)
      if (sub != null)
        s.synchronized(s.waitMs += math.max(0L, e.taskInfo.launchTime - sub))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    cpuNs.addAndGet(m.executorCpuTime)
    val s = stageSpan.get(e.stageId)
    if (s != null) s.synchronized {
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
    }
  }
}

/** Span arithmetic, kept free of Spark so it can be checked directly. */
object SpanMath {

  /** Length of the union of `[start, end)` intervals. */
  def coverage(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Self time = duration minus the part of it covered by its children
    * (children clipped to the parent's interval). */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coverage(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Nearest-rank percentile, `q` in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  /** max / median of each stage's task times, worst stage; 1.0 when no
    * stage had two or more tasks. */
  def skew(stages: Iterable[Seq[Long]]): Double = {
    val ratios = stages.filter(_.length >= 2).map { ts =>
      val med = median(ts.map(_.toDouble))
      if (med <= 0) 1.0 else ts.max / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
