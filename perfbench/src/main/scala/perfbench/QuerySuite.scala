package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.perfbench.Ledger

/** The query registry's fixed cost per query: the `SparkEntry.queries`
  * entries named in the pin file, over the sf0.01 fixture tables kept in
  * the benchmark's data directory. The list is fixed, so adding or
  * removing registry entries does not change what is timed. The untimed
  * setup pass builds every memoized artifact and checks each output's row
  * count and digest against the pins; timed passes run the entries in a
  * seeded order until `--seconds` passed, at least `MinPasses` times, and
  * materialize each result through the `noop` sink. */
object QuerySuite {
  /** Timed passes at least, whatever `--seconds` is: a traced run traces
    * every other pass, so it needs two. */
  val MinPasses = 2

  def dataDir(root: Path): Path = root.resolve("perfbench").resolve("data").resolve("sf0.01")
  def pinFile(root: Path): Path = root.resolve("perfbench").resolve("pins").resolve("query_suite.tsv")

  /** Order-independent digest of a result: the row count and the
    * wrapping sum of each row's MD5 (first 8 bytes) over a canonical
    * rendering in which map entries are sorted. */
  def digest(rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val d = md.digest(render(r).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case x => x.toString
  }

  final case class Pin(rows: Long, hash: String)

  def readPins(file: Path): Map[String, Pin] =
    Files.readAllLines(file).asScala.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> Pin(rows.toLong, hash)
    }.toMap

  private def build(spark: SparkSession, dir: Path, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir.toString)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = dataDir(ctx.args.root)
    val pins = readPins(pinFile(ctx.args.root))
    val entries = pins.keys.toIndexedSeq.sorted
    val order = Vectors.shuffled(ctx.args.seed, entries.size).map(entries)
    Ledger.enable()
    Ledger.drainBuilds()

    // setup pass, in registry order so that its cost does not depend on
    // the seed: builds the artifacts and checks every output
    val t1 = System.nanoTime()
    val first = entries.map { name =>
      val t0 = System.nanoTime()
      val got = try Some(digest(build(spark, dir, name).collect())) catch {
        case e: Exception => System.err.println(s"[perfbench] $name failed in the setup pass: $e"); None
      }
      val s = (System.nanoTime() - t0) / 1e9
      val builds = Ledger.drainBuilds()
      System.err.println(f"[perfbench] setup pass $name%-32s $s%7.3f s ${builds.mkString(",")}")
      (name, s, builds, got)
    }
    val buildS = (System.nanoTime() - t1) / 1e9
    ctx.step("setup pass done")
    val checks = first.map { case (name, _, _, got) =>
      val pin = pins(name)
      val ok = got.contains((pin.rows, pin.hash))
      if (!ok) System.err.println(s"[perfbench] $name output $got, pinned $pin")
      (s"$name output matches its pin", ok)
    }
    val setupS = ctx.sinceStartS

    def pass(): (Long, Long) = {
      val t0 = System.nanoTime()
      order.foreach { name =>
        ctx.ops.run(s"query/$name", 0, 1) { op =>
          val df = op.child("plan")(build(spark, dir, name))
          op.child("exec")(df.write.format("noop").mode("overwrite").save())
        }(_ => true)
      }
      (t0, System.nanoTime())
    }
    val start = System.nanoTime()
    val deadline = start + ctx.args.seconds * 1000000000L
    if (ctx.args.trace) ctx.startTracing()
    val passes = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    while (passes.size < MinPasses || System.nanoTime() < deadline) passes += pass()

    val timed = ctx.ops.records.filter(_.startNs >= start)
    val warmMs = timed.groupBy(_.kind.stripPrefix("query/"))
    // first-pass time minus median warm time, for the entries that built an artifact
    val artifactS = first.collect { case (name, s, builds, _) if builds.nonEmpty =>
      s - Stats.median(warmMs(name).map(_.ms / 1000.0)) }.sum
    Outcome(timed, Nil, start, timed.map(_.endNs).max, setupS, buildS, checks, Seq(
      ("suite_s", Stats.median(passes.toSeq.map { case (a, b) => (b - a) / 1e9 }), "s"),
      ("suite_queries", order.size.toDouble, "count"),
      ("entry.artifact_builds", first.map(_._3.size).sum.toDouble, "count"),
      ("entry.artifact_build_s", artifactS, "s")))
  }

  /** Re-pins the entries named in the checkout's pin file (name, row
    * count, digest): `QuerySuite --root <checkout> --work <dir> --out <file>`. */
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (root, work) = (Paths.get(m("root")).toAbsolutePath, Paths.get(m("work")).toAbsolutePath)
    val spark = Main.session(work)
    try pin(spark, root, Paths.get(m("out")).toAbsolutePath) finally spark.stop()
  }

  def pin(spark: SparkSession, root: Path, out: Path): Unit = {
    val dir = dataDir(root)
    val lines = readPins(pinFile(root)).keys.toSeq.sorted.map { name =>
      val (rows, hash) = digest(build(spark, dir, name).collect())
      System.err.println(s"[perfbench] pinned $name $rows $hash")
      s"$name\t$rows\t$hash"
    }
    Files.createDirectories(out.getParent)
    Files.write(out, (("# the timed query_suite entries: query\trows\tdigest (perfbench QuerySuite.digest at local[4], sf0.01)") +: lines).asJava)
  }
}
