package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** In-memory span recorder: named wall-clock intervals (seconds on the
  * shared [[Clock]]), written out with the run's result at the end.
  */
final class Spans {
  private val buf = ArrayBuffer.empty[Map[String, Any]]

  def record(name: String, start: Double, end: Double,
      attrs: Map[String, Any] = Map()): Unit = synchronized {
    buf += (attrs ++ Map("name" -> name, "start" -> start, "end" -> end))
  }

  /** Time `body` as span `name`. */
  def apply[T](name: String, attrs: Map[String, Any] = Map())(body: => T): T = {
    val t0 = Clock.now()
    try body finally record(name, t0, Clock.now(), attrs)
  }

  def all: Seq[Map[String, Any]] = synchronized(buf.toList)
}

object Clock {
  private val origin = System.nanoTime()
  /** Seconds since the JVM loaded this object. */
  def now(): Double = (System.nanoTime() - origin) / 1e9
}

/** Spark counters attributed to requests by job group: the server tags
  * its jobs `http-query-*`, in-process replays set `replay-*`. Only
  * events while `recording` is on are kept.
  */
final class GroupListener extends SparkListener {
  @volatile var recording = false

  final case class Task(group: String, start: Double, end: Double,
      runS: Double, cpuS: Double, gcS: Double, inBytes: Long, inRecords: Long,
      shufRead: Long, shufWrite: Long, spill: Long)

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobs = ArrayBuffer.empty[String]
  private val stages = ArrayBuffer.empty[String]
  private val tasks = ArrayBuffer.empty[Task]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    if (recording) synchronized(jobs += g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    if (recording) synchronized(stages += g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
    val m = e.taskMetrics
    val i = e.taskInfo
    // task times arrive as epoch millis; map them onto the shared clock
    val shift = Clock.now() - System.currentTimeMillis() / 1e3
    val t = Task(stageGroup.getOrDefault(e.stageId, ""),
      i.launchTime / 1e3 + shift, i.finishTime / 1e3 + shift,
      if (m == null) 0 else m.executorRunTime / 1e3,
      if (m == null) 0 else m.executorCpuTime / 1e9,
      if (m == null) 0 else m.jvmGCTime / 1e3,
      if (m == null) 0 else m.inputMetrics.bytesRead,
      if (m == null) 0 else m.inputMetrics.recordsRead,
      if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled)
    synchronized(tasks += t)
  }

  /** Totals over the job groups starting with `prefix`, plus the task
    * intervals (for idle-time accounting).
    */
  def summary(prefix: String): Map[String, Any] = synchronized {
    val ts = tasks.filter(_.group.startsWith(prefix))
    Map(
      "jobs" -> jobs.count(_.startsWith(prefix)),
      "stages" -> stages.count(_.startsWith(prefix)),
      "tasks" -> ts.size,
      "task_run_s" -> ts.map(_.runS).sum,
      "task_cpu_s" -> ts.map(_.cpuS).sum,
      "gc_s" -> ts.map(_.gcS).sum,
      "input_bytes" -> ts.map(_.inBytes).sum,
      "input_records" -> ts.map(_.inRecords).sum,
      "shuffle_read_bytes" -> ts.map(_.shufRead).sum,
      "shuffle_write_bytes" -> ts.map(_.shufWrite).sum,
      "spill_bytes" -> ts.map(_.spill).sum,
      "task_intervals" -> ts.map(t => Seq(t.start, t.end)).toList)
  }
}
