package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.index.GraphIndex

/** Graph search racing updates, after the paper's dynamic-update run: one
  * closed-loop client searches the published (base, adjacency) snapshot
  * with `GraphIndex.search` while an updater, for each fraction, deletes
  * that suffix of the base and publishes, re-inserts it with
  * `GraphIndex.insert` and publishes, lets the client search the
  * recovered graph, then restores the original snapshot. */
object GraphUpdates {
  val NBase = 5000
  val NQueries = 100
  val Batch = 25
  val Degree = 16
  val Rounds = 3
  val Fractions = Seq(25, 50, 75)
  val SeedMod = 16
  val SeedK = 8
  val Hops = 3
  val Beam = 32
  /** Client operations on each recovered snapshot before it is restored. */
  val RecoveredOps = 1
  /** Steady search before the first update, in seconds. */
  val LeadInS = 2.0
  /** Answer-quality floors of the output check, per update fraction for
    * the re-inserted graphs; measured values sit 0.1 or more above them. */
  val SteadyRecallFloor = 0.85
  val RecoveredRecallFloor = Map(25 -> 0.75, 50 -> 0.7, 75 -> 0.55)

  final case class Snap(base: DataFrame, adj: DataFrame, label: String)
  final case class Search(rec: OpRecord, label: String, duringUpdate: Boolean, recall: Double)

  private def searchDf(v: Vectors, ids: Seq[Long], s: Snap): DataFrame =
    GraphIndex.search(v.batch(ids), s.base, s.adj, Vectors.K, SeedMod, SeedK, Hops, Beam)

  private def collectPairs(rows: Array[Row]): Seq[(Long, Long)] =
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))

  def run(ctx: Ctx): Outcome = {
    val (v, _) = Vectors.prepare(ctx, NBase, NQueries, loads = 1)
    val tb = System.nanoTime()
    val adj = GraphIndex.buildNNDescent(v.base, Degree, Rounds)
    adj.count()
    val buildS = (System.nanoTime() - tb) / 1e9
    ctx.step("graph built")
    val original = Snap(v.base, adj, "steady")
    val batches = Vectors.shuffled(ctx.args.seed, NQueries).map(_.toLong).grouped(Batch).toIndexedSeq
    val published = new AtomicReference(original)
    val updating = new AtomicInteger(0)
    val searches = new ConcurrentLinkedQueue[Search]()

    def search(i: Int): Unit = {
      val snap = published.get()
      val during = updating.get() > 0
      val ids = batches(i % batches.size)
      var recall = 0.0
      val rec = ctx.ops.run("search", 0, ids.size) { op =>
        val df = op.child("plan")(searchDf(v, ids, snap))
        op.child("exec")(df.collect())
      } { rows: Array[Row] =>
        recall = Stats.mean(v.recall(ids, collectPairs(rows), Vectors.K))
        true
      }
      searches.add(Search(rec, snap.label, during, recall))
    }

    /** Delete the suffix past `1 − pct%` and publish; re-insert it and
      * publish; returns the re-inserted adjacency and what to release. */
    def update(pct: Int, timed: Boolean): (DataFrame, Seq[DataFrame]) = {
      val cutoff = NBase.toLong * (100 - pct) / 100
      def step[T](kind: String)(body: Ops#Op => T): T = {
        var out: Option[T] = None
        if (timed) ctx.ops.run(kind, -1, 0, always = true) { op =>
          updating.incrementAndGet()
          try out = Some(body(op)) finally updating.decrementAndGet()
        }(_ => true)
        else out = Some(body(new ctx.ops.Op(0L, 0L)))
        out.getOrElse(throw new IllegalStateException(s"$kind $pct% failed"))
      }
      val (survivors, adjDel) = step("delete") { op =>
        val (s, a) = op.child("plan")((v.base.filter(col("vec_id") < cutoff).cache(),
          adj.filter(col("node_id") < cutoff && col("neighbor_id") < cutoff).cache()))
        op.child("exec") { s.count(); a.count() }
        if (timed) published.set(Snap(s, a, s"deleted-$pct"))
        (s, a)
      }
      val adjAug = step("insert") { op =>
        val a = op.child("plan")(GraphIndex.insert(survivors, adjDel,
          v.base.filter(col("vec_id") >= cutoff), Degree, SeedMod, SeedK, Hops, Beam).cache())
        op.child("exec")(a.count())
        if (timed) published.set(Snap(v.base, a, s"recovered-$pct"))
        a
      }
      (adjAug, Seq(survivors, adjDel))
    }

    // warm-up: one search and one small update cycle, untimed
    search(0)
    ctx.step("search warmed up")
    val (warmAdj, warmDrop) = update(10, timed = false)
    (warmAdj +: warmDrop).foreach(_.unpersist(blocking = true))
    val warmRecall = searches.asScala.map(_.recall).toSeq
    searches.clear()
    ctx.step("update path warmed up")
    val setupS = ctx.sinceStartS

    val start = System.nanoTime()
    val updatesAt = start + (LeadInS * 1e9).toLong
    val deadline = start + ctx.args.seconds * 1000000000L
    if (ctx.args.trace) ctx.startTracing()
    val recovered = new ConcurrentLinkedQueue[(Int, DataFrame)]()
    val updater = new Harness.Background(ctx.spark, "updater")({
      while (System.nanoTime() < updatesAt) Thread.sleep(10)
      Fractions.foreach { pct =>
        val (adjAug, drop) = update(pct, timed = true)
        val publishedAt = System.nanoTime()
        while (searches.asScala.count(s => s.rec.startNs >= publishedAt && s.label == s"recovered-$pct")
            < RecoveredOps) Thread.sleep(10)
        recovered.add((pct, adjAug))
        published.set(original)
        drop.foreach(_.unpersist(blocking = false))
      }
    })
    // the client searches until the updater is done and `seconds` passed
    Harness.closedLoop(ctx.spark, 1, "searcher")(
      (_, _) => !(updater.done && System.nanoTime() >= deadline))((_, i) => search(i))
    updater.join()

    val all = ctx.ops.records.filter(_.startNs >= start)
    val primary = all.filter(_.kind == "search")
    val background = all.filter(_.kind != "search")
    val ss = searches.asScala.toSeq
    // answer quality of the whole query pool on each re-inserted graph,
    // against the original ground truth; after the clock stopped
    val recoveredRecall = recovered.asScala.toSeq.sortBy(_._1).map { case (pct, a) =>
      val pool = (0 until NQueries).map(_.toLong)
      val r = Stats.mean(v.recall(pool, collectPairs(searchDf(v, pool, Snap(v.base, a, "")).collect()), Vectors.K))
      a.unpersist(blocking = false)
      pct -> r
    }
    val steady = ss.filter(s => s.label == "steady" && !s.duringUpdate)
    val steadyRecall = Stats.mean(steady.map(_.recall) ++ warmRecall)
    val during = ss.filter(_.duringUpdate)
    def secs(kind: String) = background.filter(_.kind == kind).map(_.ms).sum / 1000.0
    val detail = Seq(
      ("recall_at_10", steadyRecall, "fraction"),
      ("recall_recovered", Stats.mean(recoveredRecall.map(_._2)), "fraction")) ++
      recoveredRecall.map { case (p, r) => (s"recall_recovered_$p", r, "fraction") } ++ Seq(
      ("qps_during_update",
        if (during.isEmpty) 0.0 else during.map(_.rec.items).sum / (during.map(_.rec.ms).sum / 1000.0), "queries/s"),
      ("qps_steady", steady.map(_.rec.items).sum / (steady.map(_.rec.ms).sum / 1000.0), "queries/s"),
      ("delete_publish_s", secs("delete"), "s"),
      ("insert_publish_s", secs("insert"), "s"))
    val checks = Seq(
      (f"steady recall@10 $steadyRecall%.4f >= $SteadyRecallFloor", steadyRecall >= SteadyRecallFloor)) ++
      recoveredRecall.map { case (p, r) =>
        (f"recovered recall@10 at $p%% $r%.4f >= ${RecoveredRecallFloor(p)}", r >= RecoveredRecallFloor(p)) } :+
      (("every fraction re-inserted", recoveredRecall.size == Fractions.size))
    Outcome(primary, background, start, primary.map(_.endNs).max, setupS, buildS, checks, detail)
  }
}
