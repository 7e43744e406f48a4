package graft.ml

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.scalatest.funsuite.AnyFunSuite

/** The weight pass's accumulator on its own, without Spark: the
  * discrete popcount joint kernel against a brute-force per-pair count,
  * the switch between popcount and scatter chunks, merging, the first
  * batch's empty top-feature set, and the continuous scatter path
  * against its per-pair formula.
  */
class ReliefAccSpec extends AnyFunSuite {
  private val nFeat = 40
  private val nClasses = 3
  private val labelIdx = Map(0.0 -> 0, 1.0 -> 1, 2.0 -> 2)
  // 4 top features: 4 words per feature, so a chunk holds 256 pairs
  private val top = Array(0, 7, nFeat - 1, 12)
  private val seed = 11L
  private val distTh = 0.8

  private final case class Pair(qid: Long, q: Vector, ql: Double, id: Long, v: Vector, l: Double)

  /** 700 pairs, more than two chunks, over values drawn by `value`. */
  private def pairs(value: scala.util.Random => Double): IndexedSeq[Pair] = {
    val rnd = new scala.util.Random(5)
    def row() = Vectors.dense(Array.fill(nFeat)(value(rnd)))
    (0 until 700).map(i =>
      Pair(i, row(), rnd.nextInt(3).toDouble, 1000 + i, row(), rnd.nextInt(3).toDouble))
  }
  private val discrete = pairs(_.nextInt(3).toDouble)

  private def fed(ps: Seq[Pair], dense: Boolean, continuous: Boolean, topF: Array[Int] = top,
      width: Int = nFeat) = {
    val a = new ReliefAcc(width, nClasses, dense, continuous, topF)
    ps.foreach(p => a.addPair(p.qid, p.q, p.ql, p.id, p.v, p.l, labelIdx, seed, distTh))
    a
  }

  private def jointOf(a: ReliefAcc): Map[(Int, Int), Double] = {
    val m = Map.newBuilder[(Int, Int), Double]
    a.foreachJoint((t, f, v) => m += (t, f) -> v)
    m.result()
  }

  private def marginalsOf(a: ReliefAcc): Map[Int, Double] = {
    val m = Map.newBuilder[Int, Double]
    a.foreachMarginal((f, v) => m += f -> v)
    m.result()
  }

  private def relevanceOf(a: ReliefAcc): Map[Int, Double] = {
    val m = Map.newBuilder[Int, Double]
    a.foreachBatchRelevance(Map(0.0 -> 0.3, 1.0 -> 0.3, 2.0 -> 0.4), Array(0.0, 1.0, 2.0))((f, v) => m += f -> v)
    m.result()
  }

  /** Per pair, the features it collides on with their votes, ascending. */
  private def collisions(p: Pair, continuous: Boolean): Seq[(Int, Double)] = {
    val thr = if (continuous) 6.0 * (1.0 - (distTh + ReliefAcc.pairRand(seed, p.qid, p.id) * distTh)) else 0.0
    (0 until nFeat).map(f => (f, math.abs(p.q(f) - p.v(f)))).collect {
      case (f, d) if d <= thr => (f, if (continuous) 1.0 - math.min(6.0, d) / 6.0 else 1.0)
    }
  }

  /** J[top, f] summed pair by pair in feed order, as the scatter path adds. */
  private def bruteJoint(ps: Seq[Pair], continuous: Boolean): Map[(Int, Int), Double] = {
    val j = scala.collection.mutable.Map.empty[(Int, Int), Double]
    ps.foreach { p =>
      val c = collisions(p, continuous)
      for ((t, vt) <- c if top.contains(t); (f, vf) <- c if f != t)
        j((t, f)) = j.getOrElse((t, f), 0.0) + (vt + vf) / 2.0
    }
    j.toMap
  }

  test("discrete popcount joint equals a brute-force per-pair count, over several chunks") {
    val want = bruteJoint(discrete, continuous = false)
    assert(want.keySet.map(_._1) == top.toSet, "every top feature, 0 and nFeat-1 included, has mass")
    assert(jointOf(fed(discrete, dense = true, continuous = false)) == want)
    // the sparse layout scatters the same counts
    assert(jointOf(fed(discrete, dense = false, continuous = false)) == want)
    // sparse vectors scatter in the dense layout too, into the same
    // counts as the popcounts of the dense pairs around them (no zeros,
    // so the sparse union visits every feature)
    val nonZero = pairs(_.nextInt(3) + 1.0)
    val mixed = nonZero.zipWithIndex.map { case (p, i) =>
      if (i % 3 == 0) p.copy(q = p.q.toSparse, v = p.v.toSparse) else p
    }
    assert(jointOf(fed(mixed, dense = true, continuous = false)) == bruteJoint(nonZero, continuous = false))
  }

  test("chunks switch between popcount and scatter by cost, with the same counts") {
    // 190 of 200 features on top: popcounts cost 190 × 200 / 64 word
    // ops a pair. 50 values per feature match rarely, so the scatter is
    // cheaper; 3 values match often, so the popcounts are.
    val w = 200
    val wideTop = (0 until w).filter(_ % 20 != 5).toArray
    val slot = Array.fill(w)(-1)
    wideTop.indices.foreach(s => slot(wideTop(s)) = s)
    val rnd = new scala.util.Random(9)
    def row(values: Int) = Vectors.dense(Array.fill(w)(rnd.nextInt(values).toDouble))
    def pair(i: Int, values: Int) =
      Pair(i, row(values), rnd.nextInt(3).toDouble, 5000 + i, row(values), rnd.nextInt(3).toDouble)
    val chunk = 64 * ReliefAcc.MaxWords
    // a popcount chunk of 50-valued pairs, a scatter chunk that turns
    // 3-valued, then a popcount chunk
    val ps = (0 until chunk + 100).map(pair(_, 50)) ++ (chunk + 100 until 2 * chunk + 200).map(pair(_, 3))
    def hitsOf(p: Pair) = (0 until w).filter(f => p.q(f) == p.v(f))
    def adds(chunkPairs: Seq[Pair]) =
      chunkPairs.map { p => val c = hitsOf(p); c.count(slot(_) >= 0).toLong * (c.size - 1) }.sum
    assert(ReliefAcc.scatterCheaper(adds(ps.take(chunk)), chunk, wideTop.length, w))
    assert(!ReliefAcc.scatterCheaper(adds(ps.slice(chunk, 2 * chunk)), chunk, wideTop.length, w))

    val want = new Array[Double](wideTop.length * w)
    ps.foreach { p =>
      val c = hitsOf(p)
      for (t <- c if slot(t) >= 0; f <- c if f != t) want(slot(t) * w + f) += 1.0
    }
    val acc = fed(ps, dense = true, continuous = false, wideTop, w)
    assert(jointOf(acc) == want.indices.collect {
      case i if want(i) != 0.0 => (wideTop(i / w), i % w) -> want(i)
    }.toMap)
    val keyed = fed(ps, dense = false, continuous = false, wideTop, w)
    assert(jointOf(acc) == jointOf(keyed))
    assert(marginalsOf(acc) == marginalsOf(keyed))
    assert(relevanceOf(acc) == relevanceOf(keyed))
  }

  test("merging two halves equals one accumulator fed every pair") {
    val whole = fed(discrete, dense = true, continuous = false)
    val merged = fed(discrete.take(300), dense = true, continuous = false)
      .mergeWith(fed(discrete.drop(300), dense = true, continuous = false))
    assert(jointOf(merged) == jointOf(whole))
    assert(marginalsOf(merged) == marginalsOf(whole))
    assert(relevanceOf(merged) == relevanceOf(whole))
    assert(merged.classCounterSum == discrete.size.toDouble)
    // an accumulator that saw no pair merges as a no-op, on either side
    val empty = () => new ReliefAcc(nFeat, nClasses, true, false, top)
    assert(jointOf(empty().mergeWith(whole)) == jointOf(whole))
    assert(jointOf(fed(discrete, dense = true, continuous = false).mergeWith(empty())) == jointOf(whole))
  }

  test("an empty top-feature set yields no joint entries") {
    val a = fed(discrete, dense = true, continuous = false, topF = Array.empty)
    assert(jointOf(a).isEmpty)
    assert(marginalsOf(a) == marginalsOf(fed(discrete, dense = true, continuous = false)))
  }

  test("the continuous scatter path's joint equals its per-pair formula") {
    val cont = pairs(_.nextDouble() * 2)
    val want = bruteJoint(cont, continuous = true)
    assert(want.nonEmpty)
    assert(jointOf(fed(cont, dense = true, continuous = true)) == want)
  }
}
