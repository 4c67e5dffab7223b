package perfbench

import scala.util.Random

/** Seeded inputs with the shapes of the TPC-H sf0.1 tables the engine's
  * queries read, scaled down so that one run fits its time budget. The
  * same seed always gives the same inputs; the engine only ever sees
  * the generated rows. */
object Inputs {
  /** TPC-H orderkey layout: 8 used keys in every block of 32. */
  def orderKey(i: Int): Long = (i / 8).toLong * 32 + (i % 8) + 1

  /** An order's `o_totalprice` in cents (sf0.1 spans ~$900..$550,000). */
  def cents(r: Random): String = (90000L + (r.nextDouble() * 54910000L).toLong).toString

  /** Orders (key, cents) for `n` order keys. */
  def orders(seed: Long, n: Int): Array[(Long, String)] = {
    val r = new Random(seed)
    Array.tabulate(n)(i => (orderKey(i), cents(r)))
  }

  /** Lineitem-shaped bipartite edges: each order (vertex 2·orderkey)
    * links to 1..7 parts (vertex 2·partkey+1), as `GraphQueries.pairs2`
    * derives them from lineitem; duplicates removed, both directions. */
  def lineitemPairs(seed: Long, orders: Int, parts: Int): Array[(Long, Long)] = {
    val r = new Random(seed ^ 0x5DEECE66DL)
    val und = (0 until orders).iterator.flatMap { i =>
      val o = orderKey(i) * 2
      Iterator.fill(1 + r.nextInt(7))((o, (1L + r.nextInt(parts)) * 2 + 1))
    }.toArray.distinct
    und ++ und.map(_.swap)
  }
}
