package graft.ml

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.rdd.RDD

/** One query batch of the exact brute-force kNN scan shared by the
  * RELIEF fit and relief_knn. Broadcast it once per batch; every task
  * scores its rows through its own [[KnnBatch.Scanner]].
  *
  * When every query is dense, each executor builds one feature-major
  * copy of the batch, lazily and once: `block(f)(j)` is feature f of
  * query j. A dense row x is then scored against all queries together,
  * feature by feature, as `acc(j) += (block(f)(j) - x(f))²` over plain
  * per-feature arrays, a loop the JIT vectorizes. Every `acc(j)` is the
  * same IEEE operation sequence `Vectors.sqdist(query j, x)` performs
  * (start from 0.0, subtract, square, add, in ascending f; the JVM never
  * contracts to FMA), so distances, heaps and everything downstream are
  * bit-identical to the per-pair loop. Sparse rows, and every row of a
  * batch holding a sparse query, keep `Vectors.sqdist`.
  *
  * Memory: the block is one extra copy of the batch per executor
  * (bounded by maxQueryRowsPerBatch × d doubles); each scanner adds
  * nq doubles of scratch.
  */
final class KnnBatch(val ids: Array[Long], val vectors: Array[Vector]) extends Serializable {
  require(ids.length == vectors.length, "one id per query vector")

  def size: Int = ids.length

  /** Feature-major copy of an all-dense batch; null otherwise. */
  @transient private lazy val block: Array[Array[Double]] =
    if (vectors.isEmpty || !vectors.forall(_.isInstanceOf[DenseVector])) null
    else {
      val d = vectors(0).size
      val b = Array.ofDim[Double](d, size)
      var j = 0
      while (j < size) {
        val v = vectors(j).toArray
        require(v.length == d, KnnBatch.widthMismatch(d, v.length))
        var f = 0
        while (f < d) { b(f)(j) = v(f); f += 1 }
        j += 1
      }
      b
    }

  /** True when dense rows take the feature-major kernel. */
  private[ml] def featureMajor: Boolean = block != null

  /** A scanner with one k-bounded heap per (row group, query). Not
    * thread-safe: one per task.
    */
  def scanner(nGroups: Int, k: Int): KnnBatch.Scanner =
    new KnnBatch.Scanner(this, block, nGroups, k)
}

object KnnBatch {
  /** The distributed kNN job over one broadcast batch: every partition
    * offers its (id, vector, group) rows to one [[Scanner]], and the
    * per-query heaps merge with `reduceByKey` (map-side combine — the
    * shuffle is O(#queries × k), never O(rows)). Returns each query
    * index with its heaps in group order.
    */
  def neighbors(rows: RDD[(Long, Vector, Int)], batch: Broadcast[KnnBatch],
      nGroups: Int, k: Int): Array[(Int, Array[TopK])] =
    rows.mapPartitions { it =>
      val knn = batch.value.scanner(nGroups, k)
      it.foreach { case (id, v, g) => knn.add(id, v, g) }
      Iterator.tabulate(batch.value.size)(j => (j, knn.heapsOf(j)))
    }.reduceByKey { (a, b) =>
      var g = 0
      while (g < a.length) { a(g).merge(b(g)); g += 1 }
      a
    }.collect()

  private def widthMismatch(dq: Int, dx: Int): String =
    s"Vector dimensions do not match: Dim(query)=$dq and Dim(row)=$dx."

  final class Scanner private[KnnBatch] (batch: KnnBatch, block: Array[Array[Double]],
      nGroups: Int, k: Int) {
    private val nq = batch.size
    private val ids = batch.ids

    /** heaps(g)(j): the k nearest rows of group g to query j. */
    val heaps: Array[Array[TopK]] = Array.fill(nGroups, nq)(new TopK(k))

    // scratch: squared distances of the current row to every query
    private val acc = if (block == null) null else new Array[Double](nq)
    // lim(g)(j): a squared distance above it provably loses in heaps(g)(j)
    private val lim =
      if (block == null) null else Array.fill(nGroups, nq)(Double.PositiveInfinity)

    /** Per-query heaps across groups, in group order. */
    def heapsOf(j: Int): Array[TopK] = Array.tabulate(nGroups)(g => heaps(g)(j))

    /** Offers row (id, x) of group g to every query except itself. */
    def add(id: Long, x: Vector, g: Int): Unit = {
      val hs = heaps(g)
      x match {
        case dx: DenseVector if block != null =>
          val xs = dx.values
          require(xs.length == block.length, widthMismatch(block.length, xs.length))
          java.util.Arrays.fill(acc, 0.0)
          var f = 0
          while (f < xs.length) {
            val qf = block(f); val xf = xs(f)
            var j = 0
            while (j < qf.length) { val t = qf(j) - xf; acc(j) += t * t; j += 1 }
            f += 1
          }
          val ls = lim(g)
          var j = 0
          while (j < nq) {
            if (!(acc(j) > ls(j)) && ids(j) != id) {
              val h = hs(j)
              h.add(math.sqrt(acc(j)), id)
              ls(j) = squaredLimit(h.worst)
            }
            j += 1
          }
        case _ =>
          var j = 0
          while (j < nq) {
            if (ids(j) != id) hs(j).add(math.sqrt(Vectors.sqdist(batch.vectors(j), x)), id)
            j += 1
          }
      }
    }
  }

  /** The largest squared distance that can still enter a heap whose k-th
    * distance is `worst`. With u = nextUp(worst), a squared distance s
    * above fl(u·u) exceeds u² exactly (fl(u·u) is within half an ulp of
    * u²), so the correctly rounded sqrt(s) ≥ u > worst and `TopK.add`
    * would reject it. Candidates at or below the limit, ties included,
    * go through `TopK.add`'s exact (distance, id) comparison, so pruning
    * never changes a heap. NaN never prunes.
    */
  private[ml] def squaredLimit(worst: Double): Double = {
    val u = math.nextUp(worst)
    u * u
  }
}
