package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval: a layer boundary crossed by one request. Times
  * are nanoseconds on the benchmark's monotonic clock. */
final case class Span(id: Long, parent: Long, request: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Per-task counters for one finished Spark task, keyed by job group. */
final case class TaskRec(group: String, runMs: Long, cpuNs: Long, gcMs: Long,
    recordsRead: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** In-memory span recorder. With tracing off every call is a pass-through
  * (no clock reads beyond the caller's own, nothing retained), so the
  * untraced run measures the program, not the recorder. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  // job group -> (jobs, stages) counts; stage -> group for task attribution
  private val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val stagesByGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  // the Spark listener and QueryExecution phases report wall-clock millis;
  // one offset maps them onto the monotonic span clock
  private val wallToMono: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromWallMs(ms: Long): Long = ms * 1000000L + wallToMono

  def nextId(): Long = ids.incrementAndGet()

  def record(parent: Long, request: String, name: String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(nextId(), parent, request, name, start, end))

  /** Time `body` as span `name` under `parent`. */
  def span[A](parent: Long, request: String, name: String)(body: => A): A = {
    if (!on) return body
    val t0 = System.nanoTime()
    try body
    finally spans.add(Span(nextId(), parent, request, name, t0, System.nanoTime()))
  }

  def jobs(group: String): Long = Option(jobsByGroup.get(group)).map(_.get).getOrElse(0L)
  def stages(group: String): Long = Option(stagesByGroup.get(group)).map(_.get).getOrElse(0L)

  /** Spark listener: jobs, stages and tasks become spans under the request
    * whose job group started them; task metrics are kept per group. */
  val listener: SparkListener = new SparkListener {
    private def groupOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.put(s, g))
      jobsByGroup.computeIfAbsent(g, _ => new AtomicLong()).incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = jobGroup.getOrDefault(e.jobId, "")
      val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      record(-1, g, "spark.job", fromWallMs(t0), fromWallMs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val g = stageGroup.getOrDefault(si.stageId, "")
      stagesByGroup.computeIfAbsent(g, _ => new AtomicLong()).incrementAndGet()
      for (s <- si.submissionTime; f <- si.completionTime)
        record(-1, g, "spark.stage", fromWallMs(s), fromWallMs(f))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.getOrDefault(e.stageId, "")
      val m = e.taskMetrics
      if (m != null) {
        tasks.add(TaskRec(g, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
      val ti = e.taskInfo
      if (ti != null && ti.finishTime > 0)
        record(-1, g, "spark.task", fromWallMs(ti.launchTime), fromWallMs(ti.finishTime))
    }
  }

  def install(sc: SparkContext): Unit = if (on) sc.addSparkListener(listener)
}

object Tracer {
  /** Self time per span: its duration minus the part of its interval that
    * its children cover (children may overlap each other, e.g. parallel
    * tasks, so the covered part is the union of their intervals). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }
}
