package graft.queries

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkSpec

/** Physical-plan regression guards: the properties that make these
  * plans scale must stay visible in explain output.
  */
class PlanSpec extends SparkSpec {

  private def explain(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q02: filters and projection reach the parquet scan") {
    val plan = explain(Relational.q02FilterPushdown(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    // pruned read schema: only the referenced columns
    val schemaLine = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!schemaLine.contains("l_tax"), schemaLine)
  }

  test("q05: guaranteed-small dims are broadcast, fact join is not hinted") {
    val plan = explain(Relational.q05LocalSupplier(spark, sfDir))
    assert(plan.contains("BroadcastExchange"), plan)
    // the region filter must also push down
    assert(plan.contains("EqualTo(r_name,ASIA)"), plan)
  }

  test("q01: aggregation is partial (map-side) before the exchange") {
    val plan = explain(Relational.q01PricingSummary(spark, sfDir))
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
  }

  test("q23: as-of join plans as windows, not a join") {
    // the whole point of the union+window composition: no join operator,
    // no per-user cartesian — just ordered windows after a hash exchange
    val plan = explain(Events.q23AsofJoin(spark, sfDir))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q24: range join is equi-keyed — never a nested-loop/cartesian") {
    val plan = explain(Events.q24RangeJoin(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the bin key appears in the join, the range predicate as residual
    assert(plan.contains("bin"), plan)
  }

  test("i01/i02/e26: the kNN-vote family never plans a cartesian product") {
    // candidate generation must stay bucket-keyed hash joins end to
    // end; the only nested-loop shapes allowed are the explicit
    // 1-row broadcast scalars (none of these three carries one)
    Seq(
      graft.sim.Sim.i01EnnFilter(spark, sfDir),
      graft.sim.Sim.i02TomekLinks(spark, sfDir),
      graft.sim.Sim.e26KnnClassify(spark, sfDir)).foreach { df =>
      val plan = explain(df)
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    }
  }

  test("i03/b02: prototype and majority scalars broadcast; no cartesian on data") {
    // i03's per-round prototype set and b02's 1-row majority frame
    // are DESIGNED broadcast nested-loops (bounded side); the corpus
    // itself must never cartesian
    Seq(
      graft.sim.Sim.i03FcnnCondense(spark, sfDir),
      graft.sim.Sim.b02SmotePlan(spark, sfDir)).foreach { df =>
      val plan = explain(df)
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    }
  }

  test("d14: benchmark n-gram set is broadcast — training grams never shuffle to a join") {
    val plan = explain(graft.text.Corpus.d14Decontaminate(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("w01: single-language read of the partitioned layout prunes partitions") {
    graft.sources.Sinks.w01SinkPartitioned(spark, sfDir).count() // materialize the layout
    val plan = explain(graft.sources.Sinks.w01ReadOneLang(spark, sfDir))
    assert(plan.contains("PartitionFilters"), plan)
    assert("""PartitionFilters: \[[^\]]*lang""".r.findFirstIn(plan).isDefined, plan)
  }

  test("w02: bucketed self-join plans without a shuffle exchange") {
    // tree-only plan string: everything below the SortMergeJoin must be
    // exchange-free — both sides read bucket-aligned. The only exchange
    // allowed in the whole plan is the final groupBy's (above the join).
    val plan = graft.sources.Sinks.w02SinkBucketed(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    val belowJoin = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange"), plan)
  }

  test("w02: bucketed table name and stage path are keyed by BOTH dir and appId") {
    import graft.sources.Sinks
    // two sessions over the same dir (different appIds) must not race
    // on one metastore entry or staging path; two dirs in one session
    // must not either
    assert(Sinks.bucketedTableName("app-1", sfDir) != Sinks.bucketedTableName("app-2", sfDir))
    assert(Sinks.bucketedStagePath("app-1", sfDir) != Sinks.bucketedStagePath("app-2", sfDir))
    assert(Sinks.bucketedTableName("app-1", sfDir) != Sinks.bucketedTableName("app-1", sfDir + "/x"))
    // and the live session resolves to its own appId's name
    val live = Sinks.bucketedTableName(spark.sparkContext.applicationId, sfDir)
    graft.sources.Sinks.w02SinkBucketed(spark, sfDir).count()
    assert(spark.catalog.tableExists(live))
  }

  test("q25b: the percentile sketch aggregates map-side (partial) before the shuffle") {
    // the GK sketch must combine per partition and shuffle only the
    // fixed-size summaries — shuffling raw values would make the
    // "approx" path cost the same as exact q25 at 100 TB
    val plan = Relational.q25bApproxPercentiles(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_percentile"), plan)
  }

  test("q31b: band assignment is a broadcast range join with no global sort") {
    // the point of the at-scale decile path: the fact side is binned by
    // a 10-row broadcast nested-loop range join — never ntile's
    // single-partition window, never a global Sort of the aggregate
    val plan = explain(Relational.q31bDecileCuts(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
    // and the sketch still combines map-side like q25b's
    assert(plan.contains("partial_approx_percentile"), plan)
  }

  test("e06: the persisted ANN index layout prunes to probed bucket directories") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    // a point-read of one bucket must touch exactly one partition
    // directory of the layout — the property serving depends on
    val idx = graft.sim.Sim.annIndex(spark, sfDir)
    val buckets = idx.select("bucket").distinct().collect().map(_.getLong(0))
    assert(buckets.length > 1, s"degenerate layout: ${buckets.length} buckets")
    val one = idx.where(col("bucket") === buckets.min)
    val scan = one.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.selectedPartitions.partitionCount == 1,
      s"${scan.selectedPartitions.partitionCount} of ${buckets.length} partitions read")
    // and the serving plan prunes dynamically from the broadcast probe
    // set — no driver round-trip, no full index scan
    val plan = explain(graft.sim.Sim.e06AnnIndexServe(spark, sfDir))
    assert(plan.contains("dynamicpruningexpression"), plan)
  }

  test("e07: the approximate (candidate) phase never shuffles a float vector") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // the PQ premise: after encoding, search scans CODES — so no
    // shuffle in the candidate stage may carry an array column. The
    // only arrays left in the plan are the parquet scan + the 16-row
    // codebook broadcasts, both beneath the encoding aggregates.
    // AQE wraps the executed plan in a leaf AdaptiveSparkPlanExec that
    // collect() cannot traverse — pin the static plan instead (the
    // conf is read when executedPlan is first forced)
    val stage = graft.sim.Sim.e07CandidateStage(spark, sfDir)
    val exchanges = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      stage.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.nonEmpty, "expected shuffles in the candidate stage")
    exchanges.foreach { x =>
      assert(!x.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"float vectors ride a candidate-phase shuffle: ${x.output.mkString(", ")}")
    }
    // and the top-PqCand window (the corpus-scale sort of the phase)
    // sees only code-width rows — no v/qv/x-slice attribute
    val wins = stage.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val names = w.child.output.map(_.name)
      assert(!names.exists(n => n == "v" || n == "qv" || n.startsWith("x")),
        s"vector column under the candidate window: $names")
    }
    // rerank joins the tiny surviving candidate set back by id —
    // broadcast, so the corpus is probed rather than shuffled
    val plan = explain(graft.sim.Sim.e07AnnPq(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("LSH family: no cartesian/nested-loop join anywhere") {
    // every candidate join must be bucket-keyed — a cartesian in any of
    // these is the 100 TB failure mode the census caps exist to prevent
    for (q <- Seq(
        graft.dedup.Dedup.d06MinHashLsh(spark, sfDir),
        graft.sim.Sim.e03EmbedDedup(spark, sfDir),
        graft.sim.Sim.e05KnnJoin(spark, sfDir))) {
      val plan = explain(q)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("d42: scan prunes to text, count is map-side partial, rank runs as a group limit") {
    val plan = explain(graft.text.Text.d42BpePairs(spark, sfDir))
    val schemaLine = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(schemaLine.contains("text") && !schemaLine.contains("doc_id"), schemaLine)
    assert(plan.contains("partial_count"), plan)
    // the global top-20 must NOT plan as a full single-partition window
    // sort of the aggregate: Spark rewrites rank-filter to a limit
    assert(plan.contains("TakeOrderedAndProject") ||
      plan.contains("WindowGroupLimit"), plan)
  }

  test("e20: centroid table is broadcast and the per-cluster cap plans as WindowGroupLimit") {
    val plan = explain(graft.sim.Sim.e20ClusterSample(spark, sfDir))
    assert(plan.contains("BroadcastExchange"), plan)
    // rank <= cap pushes into the window as a (partial) group limit, so
    // stage-1 windows never buffer more than cap rows per group
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("e21: both the shard top-k and the merge plan as group limits") {
    val plan = explain(graft.sim.Sim.e21ShardedKnn(spark, sfDir))
    // per-(query, shard) and per-query rank filters both push into the
    // windows: no window ever buffers more than k rows per group
    assert(plan.split("WindowGroupLimit").length >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("d45: gram censuses are partial-aggregated and the novel join is broadcast") {
    val plan = explain(graft.dedup.Dedup.d45NoveltyCurve(spark, sfDir))
    assert(plan.contains("partial_count") || plan.contains("partial_min"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("g04: unbounded-node rank is a TakeOrderedAndProject merge, not a global sort") {
    // the kernel's unbounded-domain rank path (pagerankTopN): the ONLY
    // ordering of the node frame is the top-N-per-partition merge;
    // the final rank window runs over the already-limited 20-row frame
    val plan = explain(graft.graph.Graph.g04UserPagerank(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // no free-standing Sort node anywhere: the node frame is never
    // globally sorted (the 20-row rank window sorts in-memory inside
    // WindowExec; TakeOrderedAndProject keeps per-partition heaps)
    assert(!plan.contains("+- Sort "), plan)
    assert(!plan.contains("- Sort ("), plan)
    // the one rank Window sits directly ABOVE the TakeOrdered cut —
    // it ranks the bounded 20-row result, not the unbounded pr frame
    val tree = plan.linesIterator.takeWhile(!_.startsWith("(")).mkString("\n")
    val windowLine = tree.linesIterator.indexWhere(_.contains("Window"))
    val takeLine = tree.linesIterator.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(windowLine >= 0 && takeLine == windowLine + 1,
      s"rank window must sit directly above the TakeOrderedAndProject cut:\n$plan")
  }

  test("g08: personalized rank keeps the g04 plan shape — TakeOrdered merge, no global sort") {
    // same discipline as g04: the seeded kernel's only node-frame
    // ordering is the top-N merge (both the PprSeeds seed cut and the
    // TopUsers leaderboard cut plan as TakeOrderedAndProject)
    val plan = explain(graft.graph.Graph.g08UserPpr(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("+- Sort "), plan)
    assert(!plan.contains("- Sort ("), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("g10: link census is wedge-keyed with a TakeOrdered leaderboard; no cartesian") {
    // candidate pairs join on the apex key (the wedge self-join may
    // plan as a keyed SortMergeJoin — its per-partition `Sort ...,
    // false` nodes are the right scale shape; only a GLOBAL sort of
    // the candidate frame would be wrong), the existing-edge filter
    // is a keyed anti-join, and the top-20 is a TakeOrderedAndProject
    // merge
    val df = graft.graph.Graph.g10LinkPrediction(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("Sort [") && l.contains(" true,")),
      s"global sort in the link census plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("g09/g11: peel rounds and projection join stay keyed — no cartesian, no global sort") {
    // g09: every peel round is two keyed semi-joins + a census — the
    // survivor frame is never globally sorted; g11: the pair census
    // self-joins on user_id (keyed SMJ per-partition sorts allowed,
    // the g10 discipline) with a TakeOrdered leaderboard
    val peel = graft.graph.Graph.g09UserKcore(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!peel.contains("CartesianProduct"), peel)
    assert(!peel.linesIterator.exists(l =>
      l.contains("Sort [") && l.contains(" true,")),
      s"global sort in the peel plan:\n$peel")
    val proj = graft.graph.Graph.g11ItemCooccurrence(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(proj.contains("TakeOrderedAndProject"), proj)
    assert(!proj.contains("CartesianProduct"), proj)
    assert(!proj.linesIterator.exists(l =>
      l.contains("Sort [") && l.contains(" true,")),
      s"global sort in the projection plan:\n$proj")
  }

  test("g06: wedge generation is keyed on the oriented (low-degree) apex; no cartesian") {
    // the kernel checkpoints the oriented edge frame, so the final
    // plan's joins run over LogicalRDDs — the orientation itself is
    // pinned on the UNCHECKPOINTED wedge construction: apex self-join
    // keyed on src (the lower-(degree,id) endpoint), rank predicate on
    // the carried neighbor degrees, and no cartesian anywhere
    val plan = explain(graft.graph.Graph.g06UserTriangles(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val wedgePlan = {
      import org.apache.spark.sql.functions._
      val directed = graft.graph.Graph.userHandoffCounts(graft.Tables.events(spark, sfDir))
        .select(col("prev_type").as("a"), col("next_type").as("b"))
      val edges = directed
        .unionByName(directed.select(col("b").as("a"), col("a").as("b")))
        .where(col("a") < col("b")).distinct()
      val deg = edges.select(col("a").as("node"))
        .unionByName(edges.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val withDeg = edges
        .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
      val aLower = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val oriented = withDeg.select(
        when(aLower, col("a")).otherwise(col("b")).as("src"),
        when(aLower, col("b")).otherwise(col("a")).as("dst"),
        when(aLower, col("db")).otherwise(col("da")).as("ddst"))
      val e1 = oriented.select(col("src"), col("dst").as("y"), col("ddst").as("dy"))
      val e2 = oriented.select(col("src"), col("dst").as("z"), col("ddst").as("dz"))
      explain(e1.join(e2, Seq("src"))
        .where(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z"))))
    }
    // the apex join is an equi-join on src — hash/sort-merge, never nested-loop
    assert(!wedgePlan.contains("CartesianProduct") &&
      !wedgePlan.contains("BroadcastNestedLoopJoin"), wedgePlan)
    assert(wedgePlan.contains("src"), wedgePlan)
    // the rank predicate rides the join: neighbor degrees are compared
    assert(wedgePlan.contains("dy") && wedgePlan.contains("dz"), wedgePlan)
  }

  test("w26: probe panel stays distributed — exact filter is a semi-join, scan is shard-pruned") {
    // the r10-verdict inversion: the corpus-growing probe panel must
    // never be a driver-side isin literal list; the returned plan is a
    // LeftSemi join of the admitted-shard scan against the panel frame
    val df = graft.sources.Sinks.w26BloomSkipping(spark, sfDir)
    val plan = explain(df)
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("fp IN ("), plan)
    // the data scan reads shard subdirectories of the staged layout —
    // only admitted ones are enumerated (pruning is proven value-wise
    // by Round13Spec's census; here we pin the path-scoped scan shape)
    assert(plan.contains("shard="), plan)
    // and the admission bit test itself plans executor-side: a fresh
    // admission frame contains no driver-materialized probe values
    val docs = graft.Tables.documents(spark, sfDir)
      .withColumn("fp", org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")))
    val (_, sidecar) = graft.sources.Sinks.w26Index(spark, sfDir, docs)
    val adm = explain(graft.sources.Sinks.w26Admission(
      graft.sources.Sinks.w26Probes(docs), sidecar))
    assert(adm.contains("BroadcastNestedLoopJoin") || adm.contains("BroadcastExchange"), adm)
    assert(adm.contains("shiftright"), adm)
  }
}
