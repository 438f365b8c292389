package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom

/** Seeded SIFT-shaped vectors: a Gaussian mixture of 64 centres drawn
  * uniformly from [−1, 1]^128, per-coordinate noise σ = 0.35, every
  * vector scaled to unit L2 norm (the engine's fixtures are unit-norm and
  * `IvfFlat.quantize` needs |e| < 2). The base and the queries share the
  * centres but draw from separate random streams, so the query set does
  * not change when the base size does. */
final case class Gen(seed: Long) {
  private val dim = 128
  private val centers = 64
  private val sigma = 0.35

  private def stream(salt: Long): SplittableRandom = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private val centres: Array[Array[Double]] = {
    val r = stream(1)
    Array.fill(centers, dim)(2.0 * r.nextDouble() - 1.0)
  }

  /** Marsaglia polar method: deterministic for a given stream on every JVM. */
  private final class Gaussian(r: SplittableRandom) {
    private var spare = 0.0
    private var hasSpare = false
    def next(): Double =
      if (hasSpare) { hasSpare = false; spare }
      else {
        var u, v, s = 0.0
        while ({ u = 2 * r.nextDouble() - 1; v = 2 * r.nextDouble() - 1; s = u * u + v * v
                 s >= 1 || s == 0 }) ()
        val m = math.sqrt(-2 * math.log(s) / s)
        spare = v * m; hasSpare = true
        u * m
      }
  }

  private def draw(n: Int, salt: Long): Array[Array[Float]] = {
    val r = stream(salt)
    val g = new Gaussian(r)
    Array.fill(n) {
      val c = centres(r.nextInt(centers))
      val v = new Array[Double](dim)
      var norm = 0.0
      var i = 0
      while (i < dim) { v(i) = c(i) + sigma * g.next(); norm += v(i) * v(i); i += 1 }
      val inv = 1.0 / math.sqrt(norm)
      v.map(x => (x * inv).toFloat)
    }
  }

  def base(n: Int): Array[Array[Float]] = draw(n, 2)
  def queries(n: Int): Array[Array[Float]] = draw(n, 3)
}

object Gen {

  /** TEXMEX `.fvecs`: per vector, little-endian int32 dimension then the
    * float32 payload — the format `graft.sources.Fvecs` reads. */
  def writeFvecs(path: java.nio.file.Path, vs: Array[Array[Float]]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16))
    try vs.foreach { v =>
      val bb = ByteBuffer.allocate(4 * (v.length + 1)).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(v.length)
      v.foreach(bb.putFloat)
      out.write(bb.array())
    } finally out.close()
  }

  /** Squared L2 in the engine's arithmetic: float inputs widened to double,
    * summed in index order — bit-identical to `VectorFunctions.l2sq`. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Exact top-k ids of each query over `base` (ids = array positions),
    * ordered by (distance, id) like the engine's bounded heap. Runs on
    * `threads` driver threads. */
  def exactTopK(queries: Array[Array[Float]], base: Array[Array[Float]], k: Int,
      threads: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.length)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (0 until threads).map { _ =>
      new Thread(() => {
        var q = next.getAndIncrement()
        while (q < queries.length) {
          val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
            (x: (Double, Long), y: (Double, Long)) => {
              val c = java.lang.Double.compare(y._1, x._1)
              if (c != 0) c else java.lang.Long.compare(y._2, x._2)
            })
          var i = 0
          while (i < base.length) {
            val d = l2sq(queries(q), base(i))
            if (heap.size < k) heap.add((d, i.toLong))
            else {
              val top = heap.peek()
              if (d < top._1 || (d == top._1 && i < top._2)) { heap.poll(); heap.add((d, i.toLong)) }
            }
            i += 1
          }
          out(q) = heap.toArray.map(_.asInstanceOf[(Double, Long)])
            .sortBy(p => (p._1, p._2)).map(_._2)
          q = next.getAndIncrement()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    out
  }
}
