package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.Graph

/** The PageRank/PPR power-iteration kernel (`Graph.powerIteration`)
  * against a pure-Scala reference: the dangling mass, the update
  * expressions, the 6-decimal stop gate and its rounding, plus the
  * kernel's bounded persisted state when an operator runs twice.
  */
class PowerIterationSpec extends SparkSpec {

  import spark.implicits._

  /** Spark's documented `round(x, 6)` for doubles, written here
    * independently of the kernel: HALF_UP over `BigDecimal(x)`.
    */
  private def q6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // 30 nodes: 1..25 carry out-edges (a chain, a stride-7 cycle and
  // spurs into the sinks), 26..29 are dangling sinks, 30 has no edge
  // at all. The long chain keeps ranks moving at 6 decimals past the
  // fixed budget, so the gated rounds run.
  private val nodeIds: Seq[Long] = 1L to 30L
  private val edges: Seq[(Long, Long, Long)] =
    (1L to 25L).flatMap { u =>
      val chain = if (u < 25L) Seq((u, u + 1, 2 + u % 3)) else Nil
      val stride = (u * 7 % 25) + 1
      val jump = if (stride != u) Seq((u, stride, 1 + u % 4)) else Nil
      val sink = if (u % 5 == 0) Seq((u, 26 + (u / 5) % 4, 1L)) else Nil
      chain ++ jump ++ sink
    }

  /** Reference power iteration: pr₀, then per round the dangling mass
    * (Σ pr over nodes without out-edges, from the previous frontier),
    * s(v) = Σ_{u→v} pr(u)·n(u,v)/out(u), pr' = update(t, s, dang); the
    * fixed [[Graph.PrIters]] rounds, then gated on "some round(pr, 6)
    * moved" up to `cap`. Returns (pr by node, rounds, changed in the
    * last round).
    */
  private def reference(t: Long => Double, uniform: Boolean, cap: Int)(
      update: (Double, Double, Double) => Double): (Map[Long, Double], Int, Long) = {
    val out = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val dangling = nodeIds.filterNot(out.contains)
    var pr = nodeIds.map(v => v -> (if (uniform) 1.0 / nodeIds.size else t(v))).toMap
    var rounds = 0
    var changed = 0L
    while (rounds < Graph.PrIters || (changed != 0L && rounds < cap)) {
      val dang = dangling.map(pr).sum
      val s = edges.groupMapReduce(_._2) { case (u, _, n) => pr(u) * (n.toDouble / out(u)) }(_ + _)
      val next = nodeIds.map(v => v -> update(t(v), s.getOrElse(v, 0.0), dang)).toMap
      changed = nodeIds.count(v => q6(next(v)) != q6(pr(v))).toLong
      pr = next
      rounds += 1
    }
    (pr, rounds, changed)
  }

  private def counts = edges.toDF("prev_type", "next_type", "n_trans")
  private def nodes = nodeIds.toDF("node")

  private def assertMatches(
      kernel: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      ref: (Map[Long, Double], Int, Long)): Unit = {
    val (scores, signal) = kernel
    val (refPr, refRounds, refChanged) = ref
    val pr = scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == refPr.keySet)
    nodeIds.foreach { v =>
      assert(math.abs(pr(v) - refPr(v)) <= 1e-12, s"node $v: ${pr(v)} vs ${refPr(v)}")
    }
    val sig = signal.collect().head
    assert(sig.getInt(0) == refRounds, "round counts differ")
    assert(sig.getLong(1) == refChanged, "last-round change counts differ")
    assert(refRounds > Graph.PrIters, s"no gated round ran ($refRounds rounds)")
  }

  test("pagerank: kernel equals the reference iteration, dangling mass and gate included") {
    val n = nodeIds.size.toDouble
    val d = Graph.Damping
    assertMatches(Graph.pagerankScoresTracked(nodes, counts),
      reference(_ => 0.0, uniform = true, Graph.PrMaxIters) { (_, s, dang) =>
        (1.0 - d) / n + d * (s + dang / n)
      })
  }

  test("ppr: kernel equals the reference iteration, dangling mass and gate included") {
    val seeds = Set(1L, 2L, 13L)
    val t = (v: Long) => if (seeds(v)) 1.0 / seeds.size else 0.0
    val d = Graph.Damping
    assertMatches(Graph.pprScoresTracked(nodes, counts, seeds.toSeq.toDF("node")),
      reference(t, uniform = false, Graph.PprMaxIters) { (tv, s, dang) =>
        (1.0 - d) * tv + d * (s + dang * tv)
      })
  }

  test("gate rounding: the executor-side round6 equals Spark's round(_, 6) bit for bit") {
    val rnd = new scala.util.Random(20261021L)
    // decimal half-way points x.xxxxxx5 (as the nearest double), both signs
    val halfway = (0 until 2000).flatMap { _ =>
      val h = (BigDecimal(rnd.nextInt(10000000).toLong, 6) + BigDecimal("0.0000005")).toDouble
      Seq(h, -h)
    }
    val edge = Seq(0.0, -0.0, 1e-7, -1e-7, 4.9e-7, 5e-7, -5e-7, 5.0000000001e-7,
      4.999999999e-7, 1.5e-6, 2.5e-6, 0.1234565, -0.1234565, 1.0000005, 2.2500005,
      123.4567895, -999.9999995, Double.MinPositiveValue, -Double.MinPositiveValue,
      1e300, -1e300, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val random = Seq.fill(10000) {
      rnd.nextInt(4) match {
        case 0 => rnd.nextDouble()
        case 1 => rnd.nextGaussian() * math.pow(10, rnd.nextInt(13) - 8)
        case 2 => rnd.nextDouble() * 1e-6
        case _ => java.lang.Double.longBitsToDouble(rnd.nextLong())
      }
    }
    val xs = (edge ++ halfway ++ random).zipWithIndex
    // repartitioned so Spark evaluates round in generated code, not by
    // folding the local relation
    val spark6 = xs.toDF("x", "i").repartition(3)
      .select(col("i"), round(col("x"), 6).as("r")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val bits = (x: Double) => java.lang.Double.doubleToLongBits(x)
    xs.foreach { case (x, i) =>
      assert(bits(Graph.round6(x)) == bits(spark6(i)), s"round6($x) = ${Graph.round6(x)}, Spark ${spark6(i)}")
      assert(bits(q6(x)) == bits(spark6(i)), s"reference q6($x) disagrees with Spark")
    }
  }

  test("g04 twice in one session: identical rows, superseded round states unpersisted") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.size
    def rows() = Graph.g04UserPagerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // ContextCleaner unpersists states whose frames became garbage;
    // poll (at most 5 s) until the count is back at `target`
    def settle(target: Int): Int = {
      var i = 0
      while (i < 25 && persisted > target) {
        System.gc()
        Thread.sleep(200)
        i += 1
      }
      persisted
    }
    val before = persisted
    val first = rows()
    // 10+ rounds ran: only the final state, which backs the returned
    // frame, may still be persisted
    assert(persisted - before <= 1, s"persisted RDDs grew ${persisted - before} in one call")
    val afterFirst = settle(before)
    val second = rows()
    assert(persisted - afterFirst <= 1)
    val afterSecond = settle(afterFirst)
    assert(first.nonEmpty && second == first)
    assert(afterSecond <= afterFirst,
      s"persisted RDDs grew from $afterFirst to $afterSecond across calls")
  }
}
