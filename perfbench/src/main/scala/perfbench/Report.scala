package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerDrain

/** Turns an [[Outcome]] into the result line: end-to-end metrics for an
  * untraced run, per-layer metrics for a traced one. Workload-specific
  * figures go to stderr and, with the spans, to the results directory. */
object Report {

  type Metric = (String, Double, String)

  def endToEnd(out: Outcome): Seq[Metric] = {
    val ms = out.primary.map(_.ms)
    val windowS = (out.windowEndNs - out.windowStartNs) / 1e9
    Seq(
      ("setup_s", out.setupS, "s"),
      ("qps", out.primary.filter(_.ok).map(_.items).sum / windowS, "queries/s"),
      ("op_ms_p50", Stats.median(ms), "ms"),
      ("op_ms_p90", Stats.percentile(ms, 90), "ms"),
      ("build_s", out.buildS, "s"),
      ("peak_rss_mb", Main.peakRssMb(), "MB"))
  }

  /** Per-layer metrics over the traced client operations. */
  def perLayer(ctx: Ctx, out: Outcome): Seq[Metric] = {
    ListenerDrain(ctx.spark.sparkContext)
    val (traced, untraced) = out.primary.partition(_.traced)
    require(traced.nonEmpty && untraced.nonEmpty,
      s"a traced run needs traced and untraced operations (${traced.size}/${untraced.size})")
    val spans = ctx.tracer.all
    val self = Tracer.selfTimes(spans)
    val roots = spans.filter(_.parent == 0L).map(s => s.opId -> s).toMap
    val plans = spans.filter(_.name == "plan").groupBy(_.opId)
    val counters = ctx.listener.byGroup
    val empty = new ctx.listener.Counters
    def c(r: OpRecord) = counters.getOrElse(s"op-${r.opId}", empty)
    def perOp(f: OpRecord => Double): Double = Stats.mean(traced.map(f))
    // nanoTime and the listener's epoch milliseconds on one axis
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def driverGapMs(r: OpRecord): Double = {
      val (s, e) = (r.startNs / 1e6 + offsetMs, r.endNs / 1e6 + offsetMs)
      val jobs = c(r).jobIntervals.asScala.toSeq
        .map { case (js, je) => ((math.max(js, s) * 1000).toLong, (math.min(je, e) * 1000).toLong) }
      r.ms - Tracer.unionLength(jobs) / 1000.0
    }
    // every task that finished inside the window, traced or not
    val (winS, winE) = (out.windowStartNs / 1e6 + offsetMs, out.windowEndNs / 1e6 + offsetMs)
    val runMs = ctx.listener.allTasks.asScala.collect { case (end, run) if end >= winS && end <= winE => run }.sum
    Seq(
      ("harness.ops", traced.size.toDouble, "count"),
      ("harness.self_ms_per_op", perOp(r => roots.get(r.opId).map(s => self(s.id) / 1e6).getOrElse(0.0)), "ms"),
      ("plan.ms_per_op", perOp(r => plans.getOrElse(r.opId, Nil).map(_.durNs / 1e6).sum), "ms"),
      ("spark.jobs_per_op", perOp(c(_).jobs.sum.toDouble), "count"),
      ("spark.stages_per_op", perOp(c(_).stages.sum.toDouble), "count"),
      ("spark.tasks_per_op", perOp(c(_).tasks.sum.toDouble), "count"),
      ("spark.shuffle_read_bytes_per_op", perOp(c(_).shuffleRead.sum.toDouble), "bytes"),
      ("spark.shuffle_write_bytes_per_op", perOp(c(_).shuffleWrite.sum.toDouble), "bytes"),
      ("spark.spill_bytes_per_op", perOp(c(_).spill.sum.toDouble), "bytes"),
      ("spark.task_run_ms_per_op", perOp(c(_).runMs.sum.toDouble), "ms"),
      ("spark.task_cpu_ms_per_op", perOp(c(_).cpuNs.sum / 1e6), "ms"),
      ("spark.gc_ms_per_op", perOp(c(_).gcMs.sum.toDouble), "ms"),
      ("spark.slot_busy_frac", runMs / ((winE - winS) * Main.Slots), "fraction"),
      ("spark.driver_gap_ms_per_op", perOp(driverGapMs), "ms"),
      ("trace.overhead_frac",
        Stats.median(traced.map(_.ms)) / Stats.median(untraced.map(_.ms)) - 1.0, "fraction"))
  }

  def line(ctx: Ctx, out: Outcome): String = {
    val all = out.primary ++ out.background
    val failed = all.count(!_.ok)
    out.checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] check failed: ${c._1}"))
    val correct = failed == 0 && out.checks.forall(_._2) && all.nonEmpty
    val metrics =
      if (ctx.args.trace) perLayer(ctx, out) ++ Micro.run(ctx)
      else endToEnd(out)
    val m = metrics.map(x => x._1 -> x._2).toMap
    // share of a search's task time spent in the distance kernel
    val kernelShare = for {
      evals <- out.detail.find(_._1 == "distance_evals_per_op").map(_._2)
      ns <- m.get("functions.l2sq_ns")
      run <- m.get("spark.task_run_ms_per_op")
    } yield ("functions.kernel_share", ns * evals / (run * 1e6), "fraction")
    val detail = out.detail ++ kernelShare :+
      (("error_rate", failed.toDouble / math.max(all.size, 1), "fraction"))
    (metrics ++ detail).foreach { case (n, v, u) => System.err.println(f"[perfbench] $n%-34s $v%.6g $u") }
    writeResults(ctx, metrics, detail, correct, all.size, failed)
    s"""{"correct":$correct,"attempted":${all.size},"failed":$failed,"metrics":${block(metrics)}}"""
  }

  private def block(ms: Seq[Metric]): String = ms.map { case (n, v, u) =>
    Json.str(n) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}" }.mkString("{", ",", "}")

  private def writeResults(ctx: Ctx, metrics: Seq[Metric], detail: Seq[Metric], correct: Boolean,
      attempted: Int, failed: Int): Unit = {
    val a = ctx.args
    val dir = a.results
    Files.createDirectories(dir)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.writeString(dir.resolve(s"$tag.json"),
      s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},"seconds":${a.seconds},""" +
        s""""correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":${block(metrics)},"detail":${block(detail)}}""" + "\n")
    if (a.trace) {
      val p = dir.resolve(s"$tag-spans.json")
      Files.writeString(p, Tracer.toJson(ctx.tracer.all, ctx.listener.byGroup.toMap) + "\n")
      System.err.println(s"[perfbench] spans written to $p")
    }
  }
}
