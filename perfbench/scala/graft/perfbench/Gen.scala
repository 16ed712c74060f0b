package graft.perfbench

import java.util.SplittableRandom

/** Zipf(s) sampler over ranks 0..n-1 (rank 0 most popular): inverse CDF
  * by binary search over the precomputed cumulative weights.
  */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def next(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded input generators, one per workload. The same seed always gives
  * the same input; product and part ids are a seeded permutation of the
  * popularity ranks, so popularity does not follow id order.
  */
object Gen {

  def idsByRank(rng: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(_ + 1)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Length of basket or order `i`: every length of [lo, hi] equally
    * often, so the input's size does not depend on the seed.
    */
  private def length(i: Int, lo: Int, hi: Int): Int = lo + i % (hi - lo + 1)

  /** Reference-format baskets `<customer> <product>…`: lengths spread
    * evenly over [minLen, maxLen], products Zipf-popular, so popular
    * products repeat inside long baskets and close their windows.
    */
  def baskets(seed: Long, n: Int, catalog: Int, minLen: Int, maxLen: Int,
      zipfS: Double): Array[Array[String]] = {
    val rng = new SplittableRandom(seed)
    val ids = idsByRank(rng, catalog).map(_.toString)
    val zipf = new Zipf(catalog, zipfS)
    Array.tabulate(n) { i =>
      Array.fill(length(i, minLen, maxLen))(ids(zipf.next(rng)))
    }
  }

  def basketLine(i: Int, products: Array[String]): String =
    (s"c$i" +: products).mkString(" ")

  /** TPC-H-shaped lineitem orders: 1–7 lines each (evenly), Zipf-popular
    * part keys. Each order is its part keys in line-number order.
    */
  def orders(rng: SplittableRandom, n: Int, partIds: Array[Int],
      zipf: Zipf): Array[Array[Long]] =
    Array.tabulate(n)(i =>
      Array.fill(length(i, 1, 7))(partIds(zipf.next(rng)).toLong))
}
