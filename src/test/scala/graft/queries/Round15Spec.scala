package graft.queries

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Round-11 additions: the reliable-checkpoint durability knob, w26
  * probe inversion (PlanSpec carries the plan pin), g06 oriented
  * triangles, and the README preprocessing parity path.
  */
class Round15Spec extends SparkSpec {

  // ------------------------------------------- reliable checkpointing

  private def withReliableCheckpoints[A](body: => A): A = {
    val dir = "/tmp/graft_ckpt_spec"
    val d = Paths.get(dir)
    if (Files.exists(d)) {
      Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try body
    finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }

  private def reliableDirHasData: Boolean = {
    val d = Paths.get("/tmp/graft_ckpt_spec")
    Files.exists(d) && {
      val s = Files.walk(d)
      try s.anyMatch(p => Files.isRegularFile(p))
      finally s.close()
    }
  }

  test("g02: reliable-checkpoint mode writes durable rounds and yields identical communities") {
    val default = graft.graph.Graph.g02LabelPropagation(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    val reliable = withReliableCheckpoints {
      graft.graph.Graph.g02LabelPropagation(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    }
    assert(default.nonEmpty && reliable == default,
      s"modes differ:\nreliable=$reliable\ndefault=$default")
    // the knob actually engaged: rounds were written to the configured
    // filesystem, which is what survives an executor loss
    assert(reliableDirHasData, "no reliable checkpoint files were written")
  }

  test("g04: reliable-checkpoint mode writes the power-iteration rounds and yields identical rows") {
    def rows() = graft.graph.Graph.g04UserPagerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val default = rows()
    val reliable = withReliableCheckpoints(rows())
    assert(default.nonEmpty && reliable == default,
      s"modes differ:\nreliable=$reliable\ndefault=$default")
    // g04 cuts nothing but the kernel's RDD rounds, so the files are theirs
    assert(reliableDirHasData, "no reliable checkpoint files were written")
  }

  test("e23 descent: reliable-checkpoint mode yields the identical kNN graph") {
    def graph() = graft.sim.Sim.e23KnnGraphRounds(spark, sfDir, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val default = graph()
    val reliable = withReliableCheckpoints(graph())
    assert(default.nonEmpty && reliable == default)
    assert(reliableDirHasData, "no reliable checkpoint files were written")
  }

  // ------------------------------------------- g03/g06 oriented triangles

  test("g03: oriented kernel equals a brute-force unoriented triangle census") {
    import org.apache.spark.sql.functions._
    val directed = graft.queries.Events.q39EventTransitions(spark, sfDir)
      .select(col("prev_type").as("a"), col("next_type").as("b"))
    val edges = graft.graph.Graph.undirectedEdges(directed)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, g) => n -> g.map(_._2).toSet }
    // unoriented truth: count triangles per node the O(n·d²) way
    val triTruth = adj.map { case (n, nbrs) =>
      n -> nbrs.toSeq.combinations(2).count {
        case Seq(u, v) => adj(u).contains(v); case _ => false
      }.toLong
    }
    val got = graft.graph.Graph.g03TriangleCount(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.exists(_._3 > 0), "no triangles found at all")
    got.foreach { case (n, degree, tri, clustering) =>
      assert(degree == adj.get(n).map(_.size.toLong).getOrElse(0L),
        s"degree differs for $n")
      assert(tri == triTruth.getOrElse(n, 0L),
        s"triangles differ for $n: got $tri want ${triTruth.getOrElse(n, 0L)}")
      val want = if (degree >= 2)
        BigDecimal(2.0 * tri / (degree * (degree - 1.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      assert(math.abs(clustering - want) < 1e-9, s"clustering differs for $n")
    }
  }

  private def g07AgainstUnionFind(dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val edges = graft.graph.Graph.undirectedEdges(
      graft.graph.Graph.userHandoffCounts(graft.Tables.events(spark, dir))
        .select(col("prev_type").as("a"), col("next_type").as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = graft.Tables.events(spark, dir)
      .select("user_id").distinct().collect().map(_.getLong(0))
    // independent truth: plain union-find; the root of every union is
    // the smaller of the two roots, and every node starts as a root,
    // so the final root is the component MINIMUM — the star forest's
    // normalization
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { val lo = math.min(ru, rv); parent(math.max(ru, rv)) = lo }
    }
    val want = nodes.map(n => n -> find(n)).toMap
    val got = graft.graph.Graph.g07UserComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == nodes.length && got == want,
      s"components differ on ${got.toSet.diff(want.toSet).take(5)}...")
    val nComponents = want.values.toSet.size
    info(s"g07 at $dir: ${nodes.length} users, ${edges.length} edges, $nComponents components")
  }

  test("g07: components equal a driver-side union-find over the handoff edges") {
    g07AgainstUnionFind(sfDir)
  }

  test("g07 at sf1: star rounds equal union-find at the 10x scale point") {
    // the DuckDB oracle's recursive closure is quadratic in component
    // size and can't replay a 15k-user giant component, so the sf1
    // verification is engine-vs-union-find (the edge list is bounded
    // by distinct handoff PAIRS and collects fine; only the oracle's
    // closure table doesn't). Skipped when the ScaleUp replica is
    // absent — regenerate with: runMain graft.ScaleUp
    // /root/testdata/sf0.1 target/sf1 10
    val sf1 = "/root/repo/target/sf1"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(sf1, "events.parquet")),
      "ScaleUp sf1 replica not present")
    g07AgainstUnionFind(sf1)
  }

  test("g06: orientation bounds the wedge fan-out at hub users") {
    import org.apache.spark.sql.functions._
    val directed = graft.graph.Graph.userHandoffCounts(graft.Tables.events(spark, sfDir))
      .select(col("prev_type").as("a"), col("next_type").as("b"))
    val edges = graft.graph.Graph.undirectedEdges(directed)
    val deg = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val maxDeg = deg.agg(max("d")).collect()(0).getLong(0)
    // oriented out-degree: each edge assigned to its lower-(deg,id) end
    val withDeg = edges
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val maxOut = withDeg
      .select(when(aLower, col("a")).otherwise(col("b")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("od"))
      .agg(max("od")).collect()(0).getLong(0)
    val m = edges.count()
    info(s"g06 handoff graph: $m edges, max degree $maxDeg, max oriented out-degree $maxOut")
    // the mitigation must actually bite: hubs generate far fewer wedges
    assert(maxOut < maxDeg, s"orientation did not reduce fan-out: $maxOut vs $maxDeg")
    assert(maxOut * maxOut <= 4 * m,
      s"oriented out-degree should be O(sqrt(m)): $maxOut^2 > 4*$m")
  }
}
