package perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, VectorFunctions}

/** Kernel microbenchmarks for the traced run: task CPU time per kernel
  * call. The distance kernel's figure is net of an identical scan that
  * computes a trivial expression instead, so it leaves out the cross
  * join's row assembly. */
object Micro {

  private val Reps = 3

  def run(ctx: Ctx): Seq[Report.Metric] = {
    val spark = ctx.spark
    import spark.implicits._
    val sc = spark.sparkContext
    def cpuNs(group: String)(body: => Unit): Double = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      ListenerDrain(sc)
      ctx.listener.byGroup.get(group).map(_.cpuNs.sum.toDouble).getOrElse(0.0)
    }
    val g = Gen(ctx.args.seed + 7)
    val (nb, nq) = (4000, 500)
    val base = g.base(nb).toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").repartition(Main.Slots).cache()
    val qs = g.queries(nq).toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "q_embedding").cache()
    base.count(); qs.count()
    val pairs = base.crossJoin(broadcast(qs))
    def scan(tag: String, e: org.apache.spark.sql.Column): Double = cpuNs(tag)(pairs.select(sum(e)).collect())
    val l2 = (1 to Reps).map { i =>
      (scan(s"micro-l2sq-$i", VectorFunctions.l2sq(col("embedding"), col("q_embedding"))) -
        scan(s"micro-scan-$i", size(col("embedding")) + size(col("q_embedding")))) / (nb.toDouble * nq)
    }
    val rows = 2000000L
    val scored = spark.range(0, rows, 1, Main.Slots)
      .select((col("id") % 2000).as("g"), col("id"), (xxhash64(col("id")) % 1000000).cast("double").as("dist"))
      .cache()
    scored.count()
    val topk = (1 to Reps).map { i =>
      cpuNs(s"micro-topk-$i") {
        scored.groupBy(col("g")).agg(GraftFunctions.topKByDist(col("id"), col("dist"), 10).as("nn"))
          .select(sum(size(col("nn")))).collect()
      } / rows
    }
    Seq(base, qs, scored).foreach(_.unpersist())
    Seq(("functions.l2sq_ns", Stats.median(l2), "ns"),
      ("functions.topk_ns_per_row", Stats.median(topk), "ns"))
  }
}
