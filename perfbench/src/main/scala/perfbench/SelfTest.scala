package perfbench

import java.nio.file.Files

import org.apache.spark.sql.Row

/** Tests of the benchmark's own logic; `run.py --selftest` runs them.
  * Exits non-zero if any fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("perfbench-selftest")

    check("the same seed generates identical .fvecs bytes; another seed does not") {
      def bytes(seed: Long, name: String) = {
        val p = dir.resolve(name)
        Gen.writeFvecs(p, Gen(seed).base(300) ++ Gen(seed).queries(20))
        Files.readAllBytes(p)
      }
      val (a, b, c) = (bytes(7, "a.fvecs"), bytes(7, "b.fvecs"), bytes(8, "c.fvecs"))
      java.util.Arrays.equals(a, b) && !java.util.Arrays.equals(a, c) && a.length == 320 * 4 * 129
    }

    check("generated vectors are unit-norm and 128-d") {
      Gen(3).base(200).forall(v => v.length == 128 && math.abs(math.sqrt(Gen.l2sq(v, new Array(128))) - 1) < 1e-5)
    }

    check("p90 of 100 samples is the 90th smallest and leaves 10 samples above it") {
      val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
      val p90 = Stats.percentile(xs, 90)
      p90 == 90.0 && xs.count(_ > p90) == 10
    }

    check("p90 of 99 samples leaves 9 above it; of 3 samples it is the largest") {
      val xs = (1 to 99).map(_.toDouble)
      xs.count(_ > Stats.percentile(xs, 90)) == 9 && Stats.percentile(Seq(3.0, 1.0, 2.0), 90) == 3.0
    }

    check("median averages the middle pair") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0
    }

    val ops = new Ops(null, new Tracer(false))
    check("a throwing operation counts as failed") {
      val r = ops.run("boom", 0, 1)(_ => throw new RuntimeException("boom"))((_: Unit) => true)
      !r.ok && r.error.exists(_.contains("boom"))
    }

    check("an exact batch with recall below 1.0 counts as failed; a complete one passes") {
      val truth = Array((0L until 10L).toSet, (10L until 20L).toSet)
      val v = new Vectors(null, null, truth)
      val ids = Seq(0L, 1L)
      val full = (0L until 10L).map(0L -> _) ++ (10L until 20L).map(1L -> _)
      val missing = full.filterNot(_ == (1L -> 19L)) :+ (1L -> 25L)
      def batch(rows: Seq[(Long, Long)]) =
        ops.run("search", 0, 2)(_ => rows)(rs => TenantsExact.exact(v.recall(ids, rs, 10)))
      val (good, bad) = (batch(full), batch(missing))
      good.ok && !bad.ok && v.recall(ids, missing, 10) == Seq(1.0, 0.9)
    }

    check("self time subtracts the union of the children, clipped to the parent") {
      val spans = Seq(
        Span(1, 1, 0, "op", 0, 100),
        Span(1, 2, 1, "plan", 10, 40),
        Span(1, 3, 1, "exec", 30, 60),
        Span(1, 4, 2, "inner", 15, 20),
        Span(1, 5, 1, "late", 90, 130))
      val self = Tracer.selfTimes(spans)
      self == Map(1L -> (100 - 50 - 10), 2L -> 25, 3L -> 30, 4L -> 5, 5L -> 40)
    }

    check("the output digest ignores row order and map entry order") {
      val a = Array(Row(1L, "x", Map("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4)), Row(2L, null, Map.empty[String, Int]))
      val b = Array(a(1), Row(1L, "x", Map("d" -> 4, "c" -> 3, "b" -> 2, "a" -> 1)))
      QuerySuite.digest(a) == QuerySuite.digest(b) &&
        QuerySuite.digest(a) != QuerySuite.digest(Array(a(0)))
    }

    Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
