package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.Fvecs

/** The generated vector inputs of one run, loaded through the engine's
  * TEXMEX reader as `(vec_id, embedding)` and `(query_id, q_embedding)`. */
final class Vectors(val base: DataFrame, val queries: DataFrame, val truth: Array[Set[Long]]) {

  /** The queries with the given ids (their positions in the query file). */
  def batch(ids: Seq[Long]): DataFrame = queries.filter(col("query_id").isin(ids: _*))

  /** Recall@k of each query in `ids` given search output rows
    * `(query_id, neighbor_id, ...)`; a query with no rows scores 0. */
  def recall(ids: Seq[Long], rows: Seq[(Long, Long)], k: Int): Seq[Double] = {
    val got = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    ids.map(q => got.getOrElse(q, Set.empty).intersect(truth(q.toInt)).size.toDouble / k)
  }
}

object Vectors {
  val K = 10

  /** Reads one `.fvecs` file into a cached frame, the way a caller loads
    * SIFT-style data. The file is a single partition, so `Knn.exact` and
    * `GraphIndex.search` spread the base again on every call; that
    * shuffle is part of what the workloads measure. */
  def load(ctx: Ctx, file: java.nio.file.Path, idCol: String, vecCol: String): DataFrame = {
    val df = Fvecs.readFvecs(ctx.spark, file.toUri.toString)
      .select(col("id").as(idCol), col("vector").as(vecCol))
      .cache()
    df.count()
    df
  }

  /** Generates base and queries from the run's seed, writes them as
    * `.fvecs` files, loads them `loads` times (the load time is the median of
    * those), and computes exact ground truth on the driver. Returns the
    * inputs and the median load seconds. */
  def prepare(ctx: Ctx, nBase: Int, nQueries: Int, loads: Int): (Vectors, Double) = {
    val g = Gen(ctx.args.seed)
    val b = g.base(nBase)
    val q = g.queries(nQueries)
    val dir = ctx.work.resolve("data")
    Gen.writeFvecs(dir.resolve("base.fvecs"), b)
    Gen.writeFvecs(dir.resolve("query.fvecs"), q)
    ctx.step("vectors generated and written")
    val timed = (1 to loads).map { _ =>
      val t0 = System.nanoTime()
      val df = load(ctx, dir.resolve("base.fvecs"), "vec_id", "embedding")
      (df, (System.nanoTime() - t0) / 1e9)
    }
    timed.init.foreach(_._1.unpersist(blocking = true))
    val queries = load(ctx, dir.resolve("query.fvecs"), "query_id", "q_embedding")
    ctx.step("vectors loaded")
    val truth = Gen.exactTopK(q, b, K, Main.Slots).map(_.toSet)
    ctx.step("ground truth computed")
    (new Vectors(timed.last._1, queries, truth), Stats.median(timed.map(_._2)))
  }

  /** A seeded order over `n` items. */
  def shuffled(seed: Long, n: Int): IndexedSeq[Int] =
    new scala.util.Random(seed).shuffle((0 until n).toIndexedSeq)
}
