package kgbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-task figures the span report needs. */
final case class TaskRec(durationMs: Long, cpuNs: Long, shuffleBytes: Long,
                         spillBytes: Long, outputBytes: Long)

/** Attributes Spark work to spans. A span is one job group that the
  * benchmark sets around a call into the engine; the listener maps every
  * job (and so its stages and tasks) to the group that was active on the
  * submitting thread. Nothing in the engine is changed or consulted. */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentHashMap[String, ConcurrentLinkedQueue[TaskRec]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      jobGroup.put(e.jobId, id)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.putIfAbsent(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobGroup.containsKey(e.jobId)) jobEnd.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      tasks.computeIfAbsent(g, _ => new ConcurrentLinkedQueue[TaskRec]()).add(TaskRec(
        e.taskInfo.duration, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
  }

  def tasksOf(group: String): Seq[TaskRec] =
    Option(tasks.get(group)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  /** (start, end) in epoch ms of every job submitted under `group`. */
  def jobsOf(group: String): Seq[(Long, Long)] =
    jobGroup.asScala.collect { case (j, g) if g == group =>
      (jobStart.get(j), Option(jobEnd.get(j)).getOrElse(jobStart.get(j)))
    }.toSeq
}

/** One finished span occurrence. */
final case class SpanRec(name: String, group: String, startMs: Long, endMs: Long, wallNs: Long)

/** Span figures of one operation (one refresh iteration or one request),
  * all occurrences of a span name summed. */
final case class SpanStats(wallS: Double, driverS: Double, tasks: Long, cpuS: Double,
                           shuffleBytes: Long, spillBytes: Long, outputBytes: Long,
                           skew: Double, jobs: Int)

/** Span API used by the workloads. With tracing off `span` only runs its
  * body: no job group, no listener. */
final class Tracer(val enabled: Boolean) {
  private var listener: SpanListener = _
  private var sc: SparkContext = _
  private var seq = 0L
  private val open = scala.collection.mutable.ArrayBuffer.empty[SpanRec]

  /** Registers a fresh listener on a (new) context. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    listener = new SpanListener
    context.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val group = s"$name#$seq"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally {
        val n1 = System.nanoTime(); val t1 = System.currentTimeMillis()
        sc.clearJobGroup()
        open += SpanRec(name, group, t0, t1, n1 - n0)
      }
    }

  /** A span with no Spark work of its own (session start): wall time
    * only, all of it driver time. */
  def wallSpan[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally open += SpanRec(name, s"$name#$seq", t0, System.currentTimeMillis(), System.nanoTime() - n0)
    }

  /** Closes the current operation: waits for the listener bus, then
    * returns the operation's span figures by name and forgets them. */
  def collect(): Map[String, SpanStats] =
    if (!enabled) Map.empty
    else {
      org.apache.spark.BenchBridge.drainListeners(sc)
      val out = open.groupBy(_.name).map { case (name, recs) =>
        val ts = recs.toSeq.flatMap(r => listener.tasksOf(r.group))
        val jobs = recs.toSeq.map(r => r -> listener.jobsOf(r.group))
        val wall = recs.map(_.wallNs).sum / 1e9
        val covered = jobs.map { case (r, js) => Stats.coveredMs(js, r.startMs, r.endMs) }.sum / 1e3
        val durs = ts.map(_.durationMs.toDouble)
        val skew = if (durs.isEmpty) 0.0 else durs.max / math.max(Stats.median(durs), 1.0)
        name -> SpanStats(wall, math.max(0.0, wall - covered), ts.size.toLong,
          ts.map(_.cpuNs).sum / 1e9, ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum,
          ts.map(_.outputBytes).sum, skew, jobs.map(_._2.size).sum)
      }
      open.clear()
      out
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L; var cur = lo
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
         .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val from = math.max(s, cur)
      if (e > from) { covered += e - from; cur = e }
    }
    covered
  }
}
