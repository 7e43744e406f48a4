package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-10 additions: e27 graph delta maintenance, g04 user-graph
  * PageRank, i04 edited relief, b04 null-label ingestion.
  */
class Round14Spec extends SparkSpec {

  // ---------------------------------------------------------------- e27

  private lazy val deltaIds: Set[Long] =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") % graft.sim.Sim.DeltaMod === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet

  test("e27: kept lists are the base artifact VERBATIM; blast radius bounded by delta size") {
    val merged = graft.sim.Sim.e27GraphDelta(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val k = graft.sim.Sim.GraphK

    // provenance partitions the node set
    val byNode = merged.groupBy(_._1)
    for ((n, rows) <- byNode) {
      assert(rows.map(_._4).distinct.length == 1,
        s"node $n has mixed provenance: ${rows.map(_._4).distinct.mkString(",")}")
      assert(rows.length <= k, s"node $n over K: ${rows.length}")
      assert(rows.forall(_._2 != n), s"node $n has a self-edge")
    }
    val deltaNodes = byNode.filter(_._2.head._4 == "delta").keySet
    val repairedNodes = byNode.filter(_._2.head._4 == "repaired").keySet
    val keptNodes = byNode.filter(_._2.head._4 == "kept").keySet
    assert(deltaNodes.subsetOf(deltaIds), "a base node carries delta provenance")
    assert((repairedNodes ++ keptNodes).forall(!deltaIds.contains(_)),
      "a delta node carries base provenance")

    // blast radius: only nodes NOMINATED by a delta seed edge re-rank —
    // ≤ K per delta node; everything else must be carried verbatim
    assert(repairedNodes.size <= k * deltaIds.size,
      s"repaired ${repairedNodes.size} > K·|delta| = ${k * deltaIds.size}")
    info(s"blast radius: ${repairedNodes.size} repaired of " +
      s"${keptNodes.size + repairedNodes.size} base nodes " +
      s"(|delta| = ${deltaNodes.size})")

    // verbatim-kept: recompute the nightly artifact and compare rows
    val baseCorpus = graft.sim.Sim.emb(spark, sfDir)
      .withColumn("bucket",
        graft.sim.Sim.bucketColOf(graft.sim.Sim.SigBits, Some(spark)))
      .where(col("vec_id") % graft.sim.Sim.DeltaMod =!= 0)
    val baseGraph = graft.sim.Sim.e23GraphPlanOn(spark, baseCorpus, 2)
      .select("node_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val baseByNode = baseGraph.groupBy(_._1)
    for (n <- keptNodes) {
      val got = byNode(n).map(t => (t._2, t._3)).toSet
      val exp = baseByNode(n).map(t => (t._2, t._3)).toSet
      assert(got == exp, s"kept node $n list differs from the base artifact")
    }
    // repaired lists: old edges ∪ reverse nominees, re-ranked — every
    // repaired edge is either an old edge or points at a delta node
    for (n <- repairedNodes) {
      val old = baseByNode(n).map(_._2).toSet
      assert(byNode(n).forall(t => old.contains(t._2) || deltaIds.contains(t._2)),
        s"repaired node $n grew an edge that is neither old nor a delta nominee")
    }
  }

  test("e27: merged-graph recall matches the full rebuild on the exact panel") {
    // e10's harness: exact top-K per node, driver-side; compare the
    // incremental merge against a full e23 rebuild over base ∪ delta —
    // the equality-vs-rebuild gate of the delta story
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .collect().map(r => (r.getAs[Number](0).longValue, r.getSeq[Double](1).toArray))
      .filter { case (_, v) => math.sqrt(v.map(x => x * x).sum) > 0 }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val k = graft.sim.Sim.GraphK
    val exact = rows.map { case (id, v) =>
      id -> rows.filter(_._1 != id)
        .map { case (j, u) => (-cos(v, u), j) }.sorted.take(k)
        .map(_._2).toSet
    }.toMap
    def recall(g: Array[(Long, Long)], nodes: Set[Long]): Double = {
      val byNode = g.filter(e => nodes.contains(e._1)).groupBy(_._1)
      if (byNode.isEmpty) 0.0
      else byNode.map { case (n, es) => es.count(e => exact(n).contains(e._2)) }.sum
        .toDouble / (nodes.size * k)
    }
    val mergedG = graft.sim.Sim.e27GraphDelta(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rebuiltG = graft.sim.Sim.e23KnnGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val allNodes = exact.keySet
    val dNodes = deltaIds & allNodes
    val bNodes = allNodes -- deltaIds
    val mAll = recall(mergedG, allNodes); val rAll = recall(rebuiltG, allNodes)
    val mD = recall(mergedG, dNodes); val rD = recall(rebuiltG, dNodes)
    val mB = recall(mergedG, bNodes); val rB = recall(rebuiltG, bNodes)
    info(f"recall@K all: merged=$mAll%.3f rebuild=$rAll%.3f; " +
      f"delta nodes: merged=$mD%.3f rebuild=$rD%.3f; " +
      f"base nodes: merged=$mB%.3f rebuild=$rB%.3f")
    assert(mAll >= rAll - 0.05,
      f"incremental merge lost recall vs full rebuild: $mAll%.3f vs $rAll%.3f")
    assert(mD >= rD - 0.10,
      f"delta-node recall too far below rebuild: $mD%.3f vs $rD%.3f")
  }

  // ---------------------------------------------------------------- e28

  test("e28: serving through the merged graph matches e25 recall and reaches fresh vectors") {
    // the freshness story's last leg: e25's walk over the nightly
    // artifact (which in the test corpus happened to include
    // everything) vs the SAME walk over the e27 merged graph — recall
    // vs the exact panel must match, and delta vectors must actually
    // surface in result lists (the reason the merge exists)
    val exact = graft.sim.Sim.e01KnnCosine(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val hits = exact.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).count(ex.contains) }.sum
      hits.toDouble / exact.map { case (_, ex) => ex.size }.sum
    }
    val e28 = graft.sim.Sim.e28GraphServeDelta(spark, sfDir)
    val r28 = recall(e28)
    val r25 = recall(graft.sim.Sim.e25GraphServe(spark, sfDir))
    info(f"recall@10: e25 (nightly graph) = $r25%.3f, e28 (merged graph) = $r28%.3f")
    assert(r28 >= r25 - 0.05,
      f"merged-graph serving lost recall vs the nightly artifact: $r28%.3f vs $r25%.3f")
    // fresh vectors are REACHABLE: delta nodes appear among results
    val deltaHits = e28.collect()
      .count(r => r.getLong(1) % graft.sim.Sim.DeltaMod == 0)
    info(s"delta vectors served as results: $deltaHits")
    assert(deltaHits > 0, "no freshly-merged vector ever surfaced in a result list")
  }

  // ---------------------------------------------------------------- g04

  test("g04: ranks are dense over the rounded-pr total order and the graph is user-level") {
    val out = graft.graph.Graph.g04UserPagerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length == graft.graph.Graph.TopUsers ||
      out.length == spark.read.parquet(s"$sfDir/events.parquet")
        .select("user_id").distinct().count().toInt.min(graft.graph.Graph.TopUsers))
    val sorted = out.sortBy(_._3)
    assert(sorted.map(_._3).toSeq == (1L to out.length).toSeq, "ranks not dense")
    assert(sorted.sliding(2).forall(w => w.length < 2 ||
      w(0)._2 > w(1)._2 || (w(0)._2 == w(1)._2 && w(0)._1 < w(1)._1)),
      "rank order must follow (pr desc, user_id)")
    // PageRank mass: ≤ 1 up to the 6-decimal per-node rounding
    assert(out.map(_._2).sum <= 1.0 + out.length * 5e-7)
  }

  // ---------------------------------------------------------------- g05

  test("g05: sync-LPA over the user graph matches a driver-side replay") {
    val directed = graft.graph.Graph.userHandoffCounts(graft.Tables.events(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sym = directed.flatMap { case (a, b, n) => Seq((a, b, n), (b, a, n)) }
      .filter { case (a, b, _) => a != b }
      .groupBy(t => (t._1, t._2)).map { case ((a, b), g) => (a, b, g.map(_._3).sum) }
      .toSeq
    val nodes = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id").distinct().collect().map(_.getLong(0))
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to graft.graph.Graph.LpaRounds) {
      val scores = sym.groupBy(e => (e._1, lbl(e._2)))
        .map { case ((node, c), g) => (node, c, g.map(_._3).sum) }
      val best = scores.groupBy(_._1).map { case (n, g) =>
        n -> g.minBy(t => (-t._3, t._2))._2 }
      lbl = lbl.map { case (n, c) => n -> best.getOrElse(n, c) }
    }
    val got = graft.graph.Graph.g05UserCommunities(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == lbl, "LPA assignment differs from the driver replay")
    // communities are node ids and isolated nodes keep their own
    assert(got.values.toSet.subsetOf(got.keySet))
  }

  // ---------------------------------------------------------------- b04

  test("b04: the MISSING class is exactly the injected rows and indexing is frequency-ordered") {
    val out = graft.ml.ReliefQueries.b04NullLabelClean(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val missing = out.filter(_._1 == graft.ml.ReliefQueries.MissingLabel)
    assert(missing.length == 1)
    val expectedNulls = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") % 17 === 0).count()
    assert(missing.head._3 == expectedNulls)
    // frequencyDesc: indices follow (n desc, label asc) with no gaps
    val byIdx = out.sortBy(_._2)
    assert(byIdx.map(_._2).toSeq == (0 until out.length).map(_.toDouble),
      s"index gap: ${byIdx.map(_._2).mkString(",")}")
    assert(byIdx.sliding(2).forall(w => w.length < 2 ||
      w(0)._3 > w(1)._3 || (w(0)._3 == w(1)._3 && w(0)._1 < w(1)._1)),
      "frequencyDesc order violated")
  }

  // ---------------------------------------------------------------- i04

  test("i04: edited weights differ from raw exactly on the ENN-edited instance set") {
    val raw = graft.ml.ReliefQueries.reliefWeights(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toMap
    val edited = graft.ml.ReliefQueries.i04EditedRelief(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(raw.keySet == edited.keySet, "feature domains differ")
    val nFlagged = graft.sim.Sim.i01EnnFilter(spark, sfDir).count()
    val nDiff = raw.count { case (f, w) => edited(f) != w }
    info(s"i04: $nFlagged instances edited out; $nDiff/${raw.size} weights changed")
    assert(nFlagged > 0, "substrate produced no ENN flags — composition untested")
    assert(nDiff > 0, "editing changed nothing — composition is a no-op")
  }
}
