package graft.ml

/** Bounded top-k accumulator for nearest-neighbor search: keeps the k
  * smallest (dist, id) pairs seen, ordered lexicographically so ties on
  * distance resolve by id — results are fully deterministic regardless
  * of partitioning or merge order (the reference's per-partition local
  * indices are not; see reference ReliefFRSelector.scala:334-369).
  *
  * Array-backed binary max-heap; add is O(log k), no allocation per
  * element. Serializable so per-partition heaps can be reduced.
  */
final class TopK(val k: Int) extends Serializable {
  private val dists = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var n = 0

  def size: Int = n

  /** The k-th smallest distance kept; +∞ until the heap is full. */
  def worst: Double = if (n == 0 || n < k) Double.PositiveInfinity else dists(0)

  @inline private def gt(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  private def siftUp(pos0: Int): Unit = {
    var pos = pos0
    while (pos > 0) {
      val parent = (pos - 1) >> 1
      if (gt(dists(pos), ids(pos), dists(parent), ids(parent))) {
        val td = dists(pos); val ti = ids(pos)
        dists(pos) = dists(parent); ids(pos) = ids(parent)
        dists(parent) = td; ids(parent) = ti
        pos = parent
      } else return
    }
  }

  private def siftDown(): Unit = {
    var pos = 0
    while (true) {
      val l = 2 * pos + 1; val r = l + 1
      var big = pos
      if (l < n && gt(dists(l), ids(l), dists(big), ids(big))) big = l
      if (r < n && gt(dists(r), ids(r), dists(big), ids(big))) big = r
      if (big == pos) return
      val td = dists(pos); val ti = ids(pos)
      dists(pos) = dists(big); ids(pos) = ids(big)
      dists(big) = td; ids(big) = ti
      pos = big
    }
  }

  def add(d: Double, id: Long): this.type = {
    if (n < k) {
      dists(n) = d; ids(n) = id; n += 1; siftUp(n - 1)
    } else if (n > 0 && gt(dists(0), ids(0), d, id)) {
      dists(0) = d; ids(0) = id; siftDown()
    }
    this
  }

  def merge(o: TopK): TopK = {
    var i = 0
    while (i < o.n) { add(o.dists(i), o.ids(i)); i += 1 }
    this
  }

  /** (dist, id) pairs sorted ascending. */
  def sorted: Array[(Double, Long)] =
    Array.tabulate(n)(i => (dists(i), ids(i))).sortBy(identity)
}
