package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval. All spans of one operation share `opId`; `parent`
  * is 0 for an operation's root span. Times are `System.nanoTime`. */
final case class Span(opId: Long, id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; written out once, when the run ends. A
  * disabled tracer records nothing and costs one branch per span. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)

  def newId(): Long = ids.getAndIncrement()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Runs `body` inside a child span of `parent`. */
  def span[T](opId: Long, parent: Long, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try body finally spans.add(Span(opId, id, parent, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {

  /** Length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span id: its duration minus the part of its interval
    * that its direct children cover (children clipped to the parent,
    * overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - unionLength(covered))
    }.toMap
  }

  def toJson(spans: Seq[Span], counters: Map[String, OpListener#Counters]): String = {
    val sb = new StringBuilder("{\"spans\":[")
    spans.sortBy(s => (s.opId, s.startNs)).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"op":${s.opId},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("],\"ops\":{")
    counters.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((g, c), i) =>
      if (i > 0) sb.append(',')
      sb.append(Json.str(g)).append(':').append(Json.obj(c.asMap.toSeq))
    }
    sb.append("}}").toString
  }
}

/** Spark listener keyed by job group: every traced operation runs under
  * its own group, so jobs, stages, tasks and task metrics land on the
  * operation that caused them. Untraced operations set no group and are
  * ignored. */
final class OpListener extends SparkListener {

  final class Counters {
    val jobs, stages, tasks, shuffleRead, shuffleWrite, spill, runMs, cpuNs, gcMs = new LongAdder
    /** Job (start, end) in epoch ms. */
    val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
    def asMap: Map[String, Double] = Map(
      "jobs" -> jobs.sum.toDouble, "stages" -> stages.sum.toDouble, "tasks" -> tasks.sum.toDouble,
      "shuffle_read_bytes" -> shuffleRead.sum.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.sum.toDouble,
      "spill_bytes" -> spill.sum.toDouble, "task_run_ms" -> runMs.sum.toDouble,
      "task_cpu_ms" -> cpuNs.sum / 1e6, "gc_ms" -> gcMs.sum.toDouble)
  }

  val byGroup = TrieMap.empty[String, Counters]
  /** (finish time in epoch ms, run time in ms) of every task, traced or not. */
  val allTasks = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobGroup = TrieMap.empty[Int, (String, Long, Seq[Int])]
  private val stageGroup = TrieMap.empty[Int, String]

  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup.put(e.jobId, (g, e.time, e.stageIds))
      e.stageIds.foreach(stageGroup.put(_, g))
      of(g).jobs.increment()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobGroup.remove(e.jobId).foreach { case (g, start, stageIds) =>
      of(g).jobIntervals.add((start, e.time))
      stageIds.foreach(stageGroup.remove)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(g => of(g).stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskMetrics != null) allTasks.add((e.taskInfo.finishTime, e.taskMetrics.executorRunTime))
    stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        c.runMs.add(m.executorRunTime)
        c.cpuNs.add(m.executorCpuTime)
        c.gcMs.add(m.jvmGCTime)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}
