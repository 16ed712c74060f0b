package graft.perfbench

import scala.collection.mutable

/** Driver-side model of the crystal-ball relation, written from the
  * reference semantics and independent of the engine's code: for each
  * position i of a basket, the neighbours are positions j > i up to the
  * end of the basket or the first repeat of product(i), whichever comes
  * first; every (product, neighbour) observation counts once, and
  * P(neighbour | product) = cnt / Σ cnt over the product's neighbours.
  */
object Model {

  type Counts = mutable.HashMap[(String, String), Long]

  def addBasket(counts: Counts, products: Array[String]): Unit = {
    var i = 0
    while (i < products.length - 1) {
      val cur = products(i)
      var j = i + 1
      while (j < products.length && products(j) != cur) {
        val k = (cur, products(j))
        counts(k) = counts.getOrElse(k, 0L) + 1L
        j += 1
      }
      i += 1
    }
  }

  def counts(baskets: Iterable[Array[String]]): Counts = {
    val c = new Counts
    baskets.foreach(addBasket(c, _))
    c
  }

  def probs(counts: Counts): Map[(String, String), Double] = {
    val totals = mutable.HashMap[String, Long]()
    counts.foreach { case ((p, _), n) => totals(p) = totals.getOrElse(p, 0L) + n }
    counts.iterator.map { case (k @ (p, _), n) =>
      k -> n.toDouble / totals(p).toDouble }.toMap
  }

  /** The reference fixture (FIXTURES.md §1) and its documented
    * invariants: 34 pairs over 7 products, P(34|12) = 4/11.
    */
  val FixtureLines = Seq(
    "Mary 34 56 29 12 34 56 92 29 34 12",
    "Kelly 92 29 12 34 79 29 56 12 34 18")
  val FixturePairs = 34
  val FixtureProducts = 7

  private def products(rel: Map[(String, String), Double]): Int =
    rel.keySet.flatMap { case (a, b) => Seq(a, b) }.size

  /** Problems with an engine's fixture relation `got`, empty if none. */
  def fixtureProblems(got: Map[(String, String), Double]): Seq[String] = {
    val want = probs(counts(FixtureLines.map(_.split(" ").tail)))
    Seq(
      (want.size != FixturePairs) -> s"model gives ${want.size} fixture pairs",
      (got.size != FixturePairs) -> s"engine gives ${got.size} fixture pairs",
      (products(got) != FixtureProducts) ->
        s"engine gives ${products(got)} fixture products",
      (!got.get(("12", "34")).contains(4.0 / 11)) ->
        s"engine gives P(34|12) = ${got.get(("12", "34"))}, not 4/11",
      (got != want) -> "engine fixture relation differs from the model"
    ).collect { case (true, msg) => "fixture: " + msg }
  }
}
