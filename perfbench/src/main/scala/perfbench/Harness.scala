package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The outcome of one operation. `items` is the number of answers it was
  * asked for (queries in a search batch, 1 for a registry query). */
final case class OpRecord(opId: Long, kind: String, client: Int, startNs: Long, endNs: Long,
    items: Int, ok: Boolean, error: Option[String], traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Runs operations: times them, traces them while the tracer is on, and
  * records whether they succeeded. The clock covers only `work`; `check`
  * runs after it stops. An operation fails when `work` or `check` throws
  * or `check` returns false. While tracing, the operations of each kind
  * alternate between traced and untraced, so the two sets run the same
  * mix under the same conditions and their difference is the tracing
  * overhead; `always` traces every operation of its kind. */
final class Ops(spark: SparkSession, val tracer: Tracer) {
  private val recs = new ConcurrentLinkedQueue[OpRecord]()
  private val ids = new AtomicLong(1)
  private val tracedOfKind = new ConcurrentHashMap[String, AtomicLong]()

  /** A running operation; `root` is its root span, 0 when untraced. */
  final class Op(val id: Long, val root: Long) {
    def child[T](name: String)(body: => T): T = if (root == 0L) body else tracer.span(id, root, name)(body)
  }

  def run[T](kind: String, client: Int, items: Int, always: Boolean = false)(work: Op => T)(
      check: T => Boolean): OpRecord = {
    val opId = ids.getAndIncrement()
    val traced = tracer.enabled &&
      (always || tracedOfKind.computeIfAbsent(kind, _ => new AtomicLong).getAndIncrement() % 2 == 0)
    lazy val sc = spark.sparkContext
    val root = if (traced) tracer.newId() else 0L
    if (traced) sc.setJobGroup(s"op-$opId", kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try Right(work(new Op(opId, root))) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    if (traced) {
      sc.clearJobGroup()
      tracer.record(Span(opId, root, 0L, kind, t0, t1))
    }
    val error = out match {
      case Left(e) => Some(e.toString)
      case Right(v) =>
        try { if (check(v)) None else Some("output check failed") }
        catch { case NonFatal(e) => Some(s"output check threw $e") }
    }
    error.foreach(e => System.err.println(s"[perfbench] $kind op $opId failed: $e"))
    val r = OpRecord(opId, kind, client, t0, t1, items, error.isEmpty, error, traced)
    recs.add(r)
    r
  }

  def records: Seq[OpRecord] = recs.asScala.toSeq.sortBy(_.opId)
}

object Harness {

  /** Closed loop: `clients` threads, each in its own FAIR pool, each
    * sending its next operation only after the previous one returned,
    * until `keepGoing(client, iteration)` turns false. Returns when every
    * client stopped; a fatal error in a client is rethrown here. */
  def closedLoop(spark: SparkSession, clients: Int, pool: String)(keepGoing: (Int, Int) => Boolean)(
      step: (Int, Int) => Unit): Unit = {
    val fatal = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"$pool-$c")
        try {
          var i = 0
          while (keepGoing(c, i)) { step(c, i); i += 1 }
        } catch { case e: Throwable => fatal.add(e) }
      }, s"$pool-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(fatal.peek()).foreach(e => throw e)
  }

  /** Runs `body` on its own thread in FAIR pool `pool`; `done` turns true
    * when it ends, `join` waits for it. */
  final class Background(spark: SparkSession, pool: String)(body: => Unit) {
    @volatile private var failure: Throwable = null
    @volatile var done = false
    private val t = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      try body catch { case e: Throwable => failure = e } finally done = true
    }, pool)
    t.setDaemon(true)
    t.start()
    def join(): Unit = {
      t.join()
      if (failure != null) throw failure
    }
  }
}
