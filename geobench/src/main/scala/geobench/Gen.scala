package geobench

import scala.util.Random

/** Seeded input generators. Only what these produce ever reaches the
  * engine; the oracles read the same arrays on the driver. */
object Gen {
  /** (x0, y0, x1, y1) */
  type Box = (Double, Double, Double, Double)

  /** Side of the square extent every spatial workload lives in. */
  val Extent = 100000.0

  /** Cluster centres and spreads for [[clustered]]. */
  final case class Mixture(cx: Array[Double], cy: Array[Double], sigma: Array[Double],
                           cumWeight: Array[Double])

  /** `n` values from `lo` to `hi` in equal ratios. */
  def ladder(lo: Double, hi: Double, n: Int): IndexedSeq[Double] =
    (0 until n).map(k => lo * math.pow(hi / lo, k.toDouble / math.max(1, n - 1)))

  /** Gaussian blobs, one per cell of a near-square grid over the middle
    * 80% of the extent, at a seeded spot in the middle half of the cell,
    * so blobs never pile up by chance. The spreads are a fixed ladder
    * from a dense town (sigma 300 m) to a sparse region (8 km), dealt to
    * the cells in seeded order, and the weights are equal: every seed has
    * the same density profile, in different places. */
  def mixture(rnd: Random, clusters: Int): Mixture = {
    val cols = math.ceil(math.sqrt(clusters.toDouble)).toInt
    val rows = (clusters + cols - 1) / cols
    def at(cell: Int, of: Int) = Extent * (0.1 + 0.8 * (cell + 0.25 + 0.5 * rnd.nextDouble()) / of)
    val cells = rnd.shuffle((0 until clusters).toVector)
    Mixture(cells.map(c => at(c % cols, cols)).toArray, cells.map(c => at(c / cols, rows)).toArray,
      rnd.shuffle(ladder(300, 8000, clusters)).toArray,
      Array.tabulate(clusters)(k => (k + 1.0) / clusters))
  }

  /** `n` points: 90% from the mixture, 10% uniform background. Mixture
    * draws that fall outside the extent are drawn again, not clipped: a
    * coordinate of exactly 0.0 makes parquet footer statistics ambiguous
    * (the format widens a zero endpoint to both signed zeros), and the
    * lake's bounds commit then falls back to a scan of the file, which
    * clipping would trigger at random from seed to seed. */
  def clustered(rnd: Random, m: Mixture, n: Int): (Array[Double], Array[Double]) = {
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    def inside(v: Double) = v > 0.0 && v < Extent
    var i = 0
    while (i < n) {
      if (rnd.nextDouble() < 0.1) {
        xs(i) = rnd.nextDouble() * Extent
        ys(i) = rnd.nextDouble() * Extent
      } else {
        val u = rnd.nextDouble()
        val c = math.max(0, math.min(m.cumWeight.indexWhere(_ >= u), m.cx.length - 1))
        do {
          xs(i) = m.cx(c) + rnd.nextGaussian() * m.sigma(c)
          ys(i) = m.cy(c) + rnd.nextGaussian() * m.sigma(c)
        } while (!inside(xs(i)) || !inside(ys(i)))
      }
      i += 1
    }
    (xs, ys)
  }

  /** Query box with half-side `h`, centred on a random data point. */
  def boxAround(rnd: Random, xs: Array[Double], ys: Array[Double], h: Double): Box = {
    val i = rnd.nextInt(xs.length)
    (xs(i) - h, ys(i) - h, xs(i) + h, ys(i) + h)
  }

  /** Driver-side answer for a box query: (count, sum of v) over the
    * points inside the closed box. */
  def boxTotals(xs: Array[Double], ys: Array[Double], vs: Array[Int], n: Int,
                b: Box): (Long, Long) = {
    var c = 0L; var s = 0L; var i = 0
    while (i < n) {
      if (xs(i) >= b._1 && xs(i) <= b._3 && ys(i) >= b._2 && ys(i) <= b._4) { c += 1; s += vs(i) }
      i += 1
    }
    (c, s)
  }

  /** Median ns per call of `body`, which runs `calls` kernel calls and
    * returns a checksum (kept so the JIT cannot drop the loop). */
  def nsPerCall(calls: Long)(body: => Long): Double = {
    var sink = 0L
    val samples = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0).toDouble / math.max(1L, calls)
    }
    if (sink == Long.MinValue) System.err.println("unreachable")
    Main.median(samples)
  }
}
