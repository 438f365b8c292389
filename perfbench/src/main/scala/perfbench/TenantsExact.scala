package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.operators.Knn

/** Multi-tenant exact search: `Clients` closed-loop clients, each in its
  * own FAIR pool, send batches of `Batch` queries to `Knn.exact` over one
  * cached base. Exact search must return the exact neighbours, so a batch
  * with recall below 1.0 fails. */
object TenantsExact {
  val NBase = 50000
  val NQueries = 400
  val Batch = 25
  val Clients = 4
  val Loads = 9

  /** An exact batch is correct only if every query found all its neighbours. */
  def exact(recalls: Seq[Double]): Boolean = recalls.forall(_ == 1.0)

  def run(ctx: Ctx): Outcome = {
    val (v, loadS) = Vectors.prepare(ctx, NBase, NQueries, Loads)
    val order = Vectors.shuffled(ctx.args.seed, NQueries).map(_.toLong)
    val batches = order.grouped(Batch).toIndexedSeq
    val recalls = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()

    def search(client: Int, ids: Seq[Long]): OpRecord =
      ctx.ops.run("search", client, ids.size) { op =>
        val df = op.child("plan")(Knn.exact(v.batch(ids), v.base, Vectors.K))
        op.child("exec")(df.collect())
      } { rows: Array[Row] =>
        val r = v.recall(ids, rows.toSeq.map(x => (x.getLong(0), x.getLong(1))), Vectors.K)
        r.foreach(x => recalls.add(x))
        exact(r)
      }

    // warm-up: every client answers one batch, untimed
    Harness.closedLoop(ctx.spark, Clients, "tenant")((_, i) => i < 1)((c, _) => search(c, batches(c)))
    val warmRecords = ctx.ops.records
    ctx.step("clients warmed up")
    val setupS = ctx.sinceStartS

    val start = System.nanoTime()
    val deadline = start + ctx.args.seconds * 1000000000L
    recalls.clear()
    if (ctx.args.trace) ctx.startTracing()
    Harness.closedLoop(ctx.spark, Clients, "tenant")((_, _) => System.nanoTime() < deadline) { (c, i) =>
      search(c, batches((c * batches.size / Clients + i) % batches.size))
    }
    val timed = ctx.ops.records.filter(r => r.startNs >= start)
    val end = timed.map(_.endNs).max
    val evalsPerOp = Batch.toDouble * NBase
    Outcome(timed, Nil, start, end, setupS, loadS,
      checks = warmRecords.map(r => (s"warm-up batch ${r.opId}", r.ok)),
      detail = Seq(("recall_at_10", Stats.mean(recalls.asScala.toSeq.map(_.doubleValue)), "fraction"),
        ("distance_evals_per_op", evalsPerOp, "count")))
  }
}
