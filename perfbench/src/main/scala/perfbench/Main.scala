package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload gets: the session, the operation runner, the
  * tracer and listener, and where it may write. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val ops: Ops,
    val tracer: Tracer, val listener: OpListener) {
  def work: Path = args.work

  /** Seconds since the benchmark process started. */
  def sinceStartS: Double = (System.currentTimeMillis() - args.t0EpochMs) / 1000.0

  /** Logs a set-up step on standard error with the time since start. */
  def step(what: String): Unit = System.err.println(f"[perfbench] $sinceStartS%7.2f s  $what")

  /** Turns tracing on: from here on operations get spans and job groups. */
  def startTracing(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    tracer.enabled = true
  }
}

/** What a workload measured. `primary` are the client operations timed
  * inside the window; `background` are timed operations that race them
  * (the updater). `checks` are output checks made outside an operation. */
final case class Outcome(primary: Seq[OpRecord], background: Seq[OpRecord],
    windowStartNs: Long, windowEndNs: Long, setupS: Double, buildS: Double,
    checks: Seq[(String, Boolean)], detail: Seq[(String, Double, String)])

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: Path, work: Path, results: Path, t0EpochMs: Long)

  val Slots = 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments ${other.mkString(" ")}") }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("root")).toAbsolutePath, Paths.get(get("work")).toAbsolutePath,
      Paths.get(get("results")).toAbsolutePath,
      m.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  /** Fixed `local[4]`, 4 shuffle partitions and FAIR scheduling whatever
    * the host has, so figures do not move with the core count. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.default.parallelism", Slots.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process in MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toLong / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session(args.work)
    try {
      val tracer = new Tracer(false)
      val ctx = new Ctx(spark, args, new Ops(spark, tracer), tracer, new OpListener)
      ctx.step("session started")
      val wl: Ctx => Outcome = args.workload match {
        case "tenants_exact" => TenantsExact.run
        case "graph_updates" => GraphUpdates.run
        case "query_suite" => QuerySuite.run
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val line = Report.line(ctx, wl(ctx))
      System.out.flush()
      println(line)
      System.out.flush()
    } finally spark.stop()
  }
}
