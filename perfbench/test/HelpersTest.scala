package perfbench

import org.apache.spark.sql.Row

/** Checks the benchmark's helpers: `python3 perfbench/run.py --selftest`.
  * Exits non-zero when any check fails.
  */
object HelpersTest {
  private var failures = 0
  private var checks = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    if (!passed) { failures += 1; println(s"FAIL $what") } else println(s"ok   $what")
  }

  def main(args: Array[String]): Unit = {
    statsChecks(); phaseChecks(); rowHashChecks(); gateChecks()
    println(s"$checks checks, $failures failed")
    if (failures > 0) System.exit(1)
  }

  def statsChecks(): Unit = {
    check("median of an odd count is the middle sample")(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median of an even count averages the two middle samples")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val hundred = (1 to 100).map(_.toDouble)
    check("100 samples: p90 is the highest percentile with 10 samples beyond")(
      Stats.tailPercentile(hundred) == Some((90, 90.0)))
    check("1000 samples: p99 has 10 beyond")(
      Stats.tailPercentile((1 to 1000).map(_.toDouble)) == Some((99, 990.0)))
    check("20 samples: only the median has 10 beyond")(
      Stats.tailPercentile((1 to 20).map(_.toDouble)) == Some((50, 10.0)))
    check("19 samples: no percentile qualifies")(Stats.tailPercentile((1 to 19).map(_.toDouble)).isEmpty)
    check("the rule counts samples, not values")(
      Stats.tailPercentile(Seq.fill(100)(1.0)).map(_._1) == Some(90))
  }

  // A two-batch fit as the listener recorded it, call-site names included.
  private def fitJobs(knnNames: Seq[String]): Seq[JobRec] = Seq(
    JobRec(40, 0, 100, 1, "count at ReliefFRSelector.scala:212"),
    JobRec(41, 100, 110, 1, "first at ReliefFRSelector.scala:214"),
    JobRec(42, 110, 150, 2, "countByValue at ReliefFRSelector.scala:218"),
    JobRec(43, 150, 160, 1, "collect at ReliefFRSelector.scala:254"),
    JobRec(44, 170, 900, 2, knnNames(0)),
    JobRec(45, 910, 960, 1, "treeAggregate at ReliefFRSelector.scala:308"),
    JobRec(46, 960, 970, 1, "collect at ReliefFRSelector.scala:254"),
    JobRec(47, 980, 1700, 2, knnNames(1)),
    // a weight pass wide enough for treeAggregate to add a shuffle level
    JobRec(48, 1710, 1790, 2, "treeAggregate at ReliefFRSelector.scala:308"))

  private val expectedPhases = Seq("setup", "setup", "setup", "sample", "knn", "weight",
    "sample", "knn", "weight")

  def phaseChecks(): Unit = {
    val named = fitJobs(Seq("collect at ReliefFRSelector.scala:275",
      "mapPartitions at ReliefFRSelector.scala:261"))
    check("phases of a recorded two-batch fit")(Phases.classify(named).map(_._2) == expectedPhases)
    val renamed = fitJobs(Seq("$anonfun$withThreadLocalCaptured", "collect at ReliefFRSelector.scala:275"))
    check("renamed kNN call sites classify the same")(Phases.classify(renamed).map(_._2) == expectedPhases)
    val nameless = named.map(_.copy(name = ""))
    check("the classifier ignores names entirely")(Phases.classify(nameless).map(_._2) == expectedPhases)
    check("listener delivery order does not matter")(
      Phases.classify(named.reverse).map(_._2) == expectedPhases)
    // a batch that sampled no queries runs only its collect
    val emptyBatch = named.take(6) ++ Seq(JobRec(46, 960, 970, 1, "collect")) ++
      named.drop(6).map(j => j.copy(id = j.id + 1))
    check("an empty batch is one sample job")(Phases.classify(emptyBatch).map(_._2) ==
      expectedPhases.take(6) ++ Seq("sample") ++ expectedPhases.drop(6))
    check("union of overlapping spans")(Phases.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L)
    check("union ignores empty spans")(Phases.unionMs(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  def rowHashChecks(): Unit = {
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.25), Row(3L, null, -0.0))
    val h = Gate.rowHash(rows)
    check("row hash counts rows")(h._1 == 3L)
    check("row hash ignores row order")(Gate.rowHash(rows.reverse) == h)
    check("row hash sees a duplicated row")(Gate.rowHash(rows :+ rows.head)._2 != h._2)
    check("row hash sees a changed value")(Gate.rowHash(rows.updated(1, Row(2L, "b", 1.5))) != h)
    check("row hash sees a swap between rows")(
      Gate.rowHash(Seq(Row(1L, "b", 0.5), Row(2L, "a", 1.25), Row(3L, null, -0.0))) != h)
    check("row hash treats -0.0 as 0.0")(Gate.rowHash(rows.updated(2, Row(3L, null, 0.0))) == h)
    check("row hash absorbs last-bit float drift")(
      Gate.rowHash(Seq(Row(0.1 + 0.2))) == Gate.rowHash(Seq(Row(0.3))))
    check("nested values render element by element")(
      Gate.render(Row(Seq(1, 2), Map("b" -> 2.0, "a" -> 1.0))) == "([1,2],{a->1.00000000,b->2.00000000})")
  }

  def gateChecks(): Unit = {
    val digest = Gate.reliefDigest(Array(0, 1), Array(1, 0), Array(0, 1, 2), Array(1.0, 0.5, 0.0))
    val expected = Gate.parseExpected(Iterator(
      "# workload\tvariant\tkey\tvalue", s"relief_dense_knn\t3\tdigest\t$digest", "engine_ops\t3\tq03\t10:ff"))
    check("gate accepts the stored digest")(Gate.check(expected, "relief_dense_knn", 3, "digest", digest).isEmpty)
    check("gate refuses a wrong digest")(
      Gate.check(expected, "relief_dense_knn", 3, "digest", digest + "0").isDefined)
    check("gate refuses a wrong stored digest for the right output")(
      Gate.check(Map(("relief_dense_knn", 3, "digest") -> "deadbeef"), "relief_dense_knn", 3, "digest",
        digest).isDefined)
    check("gate refuses when no digest is stored for the variant")(
      Gate.check(expected, "relief_dense_knn", 4, "digest", digest).isDefined)
    check("digest sees a swapped selection")(
      Gate.reliefDigest(Array(1, 0), Array(1, 0), Array(0, 1, 2), Array(1.0, 0.5, 0.0)) != digest)
    check("digest sees a weight change at the 6th decimal")(
      Gate.reliefDigest(Array(0, 1), Array(1, 0), Array(0, 1, 2), Array(1.0, 0.500001, 0.0)) != digest)
    check("digest ignores drift below the rounding")(
      Gate.reliefDigest(Array(0, 1), Array(1, 0), Array(0, 1, 2), Array(1.0, 0.5 + 1e-12, 0.0)) == digest)
  }
}
