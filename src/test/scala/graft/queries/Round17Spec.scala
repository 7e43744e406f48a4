package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.SparkSpec
import graft.Checkpoints.CutOps
import graft.sim.Sim

/** Round-12 additions: cross-application index persistence
  * (`spark.graft.ann.indexShared`) — a second application reuses the
  * first one's persisted e06/e25 artifact instead of rebuilding, while
  * replaced input data still rebuilds through the data-version token.
  */
class Round17Spec extends SparkSpec {

  /** A private session with the shared-index knobs set, so the conf
    * never leaks into the other suites sharing [[SparkSpec.session]].
    */
  private def sharedSession(indexRoot: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.ann.indexShared", "true")
    s.conf.set("spark.graft.ann.indexDir", indexRoot)
    s
  }

  /** Copy the sf0.001 embeddings table into a private dir the test can
    * replace without touching the read-only testdata.
    */
  private def privateInputDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_r17_${tag}_")
    Files.copy(Paths.get(sfDir, "embeddings.parquet"),
      d.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  private def dataFileSignature(path: String): Map[String, Long] = {
    val dir = Paths.get(path)
    val it = Files.list(dir).iterator()
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val p = it.next()
      val n = p.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith("."))
        out += (n -> Files.getLastModifiedTime(p).toMillis)
    }
    out.result()
  }

  test("shared index: path drops the appId, default keeps it") {
    val s = sharedSession("/tmp/graft_r17_keys")
    val appHex = Integer.toHexString(spark.sparkContext.applicationId.hashCode)
    val shared = Sim.indexArtifactPath(s, sfDir, "graft_ann_index")
    assert(!shared.endsWith("_" + appHex),
      s"shared path must not carry the appId: $shared")
    // the shared path is exactly root/prefix_dir_token — stable across
    // applications by construction (nothing app-specific in it)
    val tokenTail = shared.substring(shared.lastIndexOf('_') + 1)
    assert(tokenTail.matches("[0-9a-f]+"), s"token tail: $tokenTail")
    // default (unshared) keying is unchanged: appId suffix present
    val unshared = Sim.indexArtifactPath(spark, sfDir, "graft_ann_index")
    assert(unshared.endsWith("_" + appHex),
      s"unshared path must keep the appId: $unshared")
    assert(unshared.stripSuffix("_" + appHex).replaceFirst("/tmp",
      "/tmp/graft_r17_keys") == shared,
      s"shared and unshared must agree on dir+token: $shared vs $unshared")
  }

  test("shared index: a second application reuses the artifact, no rewrite") {
    val root = Files.createTempDirectory("graft_r17_root_").toString
    val dir = privateInputDir("reuse")
    val s1 = sharedSession(root)
    val n1 = Sim.annIndex(s1, dir).count()
    val path = Sim.indexArtifactPath(s1, dir, "graft_ann_index")
    assert(Files.exists(Paths.get(path, "_BUILT")))
    val sig = dataFileSignature(path)
    assert(sig.nonEmpty)
    // second application: fresh session, EMPTY token memo (the hook
    // simulates the fresh app's first lookup), same shared root
    Sim.invalidateVersionToken(s1, dir)
    val s2 = sharedSession(root)
    val n2 = Sim.annIndex(s2, dir).count()
    assert(n2 == n1)
    assert(Sim.indexArtifactPath(s2, dir, "graft_ann_index") == path,
      "second app must resolve the same shared path")
    assert(dataFileSignature(path) == sig,
      "second app must serve the first app's artifact, not rewrite it")
  }

  test("shared index: replaced input rebuilds at a new path") {
    val root = Files.createTempDirectory("graft_r17_root2_").toString
    val dir = privateInputDir("replace")
    val s1 = sharedSession(root)
    Sim.annIndex(s1, dir).count()
    val path1 = Sim.indexArtifactPath(s1, dir, "graft_ann_index")
    // replace the input: same bytes, new mtime — the version token
    // folds (path, length, mtime), so this models a refreshed dataset
    val f = Paths.get(dir, "embeddings.parquet")
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(f).toMillis + 60000))
    Sim.invalidateVersionToken(s1, dir)
    val s2 = sharedSession(root)
    Sim.annIndex(s2, dir).count()
    val path2 = Sim.indexArtifactPath(s2, dir, "graft_ann_index")
    assert(path2 != path1, "replaced input must key a new artifact")
    assert(Files.exists(Paths.get(path2, "_BUILT")))
    assert(Files.exists(Paths.get(path1, "_BUILT")),
      "the old artifact is left for readers still pinned to it")
  }

  test("shared index: a stale half-write without a marker is replaced") {
    val root = Files.createTempDirectory("graft_r17_root3_").toString
    val dir = privateInputDir("stale")
    val s1 = sharedSession(root)
    val path = Sim.indexArtifactPath(s1, dir, "graft_ann_index")
    // a crashed builder left a directory but never committed _BUILT
    Files.createDirectories(Paths.get(path))
    Files.write(Paths.get(path, "junk"), Array[Byte](1, 2, 3))
    val n = Sim.annIndex(s1, dir).count()
    assert(n > 0)
    assert(Files.exists(Paths.get(path, "_BUILT")),
      "rebuild over the half-write must commit the marker")
    assert(!Files.exists(Paths.get(path, "junk")),
      "the half-write must be replaced, not merged into")
  }

  // ------------------------------------- convergence observability

  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def changed(sig: org.apache.spark.sql.DataFrame): Long =
    sig.collect()(0).getLong(1)

  /** (nodes, symmetric weighted edges) for the LPA kernel — g05's
    * exact construction.
    */
  private def lpaInputs(dir: String) = {
    val directed = graft.graph.Graph.userHandoffCounts(graft.Tables.events(spark, dir))
      .select(col("prev_type").as("a"), col("next_type").as("b"), col("n_trans"))
    val sym = directed
      .unionByName(directed.select(col("b").as("a"), col("a").as("b"), col("n_trans")))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum("n_trans").as("w"))
    (graft.graph.Graph.userNodes(graft.Tables.events(spark, dir)), sym)
  }

  private def pprSignal(dir: String): org.apache.spark.sql.DataFrame = {
    val nodes = graft.graph.Graph.userNodes(graft.Tables.events(spark, dir))
    val counts = graft.graph.Graph.userHandoffCounts(graft.Tables.events(spark, dir))
    val seeds = counts.groupBy(col("prev_type").as("node"))
      .agg(sum("n_trans").as("out_n"))
      .orderBy(col("out_n").desc, col("node"))
      .limit(graft.graph.Graph.PprSeeds).select("node")
    graft.graph.Graph.pprScoresTracked(nodes, counts, seeds)._2
  }

  // The probe's measured truth table (r12, four SFs): the fixed
  // budgets are oracle-matched SEMANTICS, and whether they also land
  // on a fixpoint depends on the graph, not just the SF —
  //   sf0.001 (15 users):  pagerank 5, ppr 14, lpa 1, kcore 0
  //   sf0.01  (150):       pagerank 0, ppr 0,  lpa 0, kcore 0
  //   sf0.1   (1500):      lpa 44, ppr 0
  //   sf1     (15000):     lpa 15000 (period-2 sync oscillation:
  //                        diff(r5,r7)=4500 but diff(r6,r7)=15000),
  //                        ppr 91 residual 1e-6 drifters, kcore 0
  // The spec pins the zeros where they are real, pins DETECTION where
  // they are not, and pins that the damped-LPA knob kills the
  // oscillation the probe found.

  test("convergence signals: sf0.01 is at fixpoint; sf0.001's 15-node graph is not, and the probe says so") {
    val g = graft.graph.Graph
    val d01 = "/root/testdata/sf0.01"
    val counts = g.userHandoffCounts(graft.Tables.events(spark, d01))
    val nodes = g.userNodes(graft.Tables.events(spark, d01))
    assert(changed(g.pagerankScoresTracked(nodes, counts)._2) == 0L,
      "pagerank moved keys in its final round at sf0.01")
    assert(changed(pprSignal(d01)) == 0L,
      "ppr moved keys in its final round at sf0.01")
    val (ln, sym) = lpaInputs(d01)
    assert(changed(g.lpaFromTracked(ln.cutLineage, sym.cutLineage)._2) == 0L,
      "lpa moved labels in its final round at sf0.01")
    val edges = g.undirectedEdges(counts
      .select(col("prev_type").as("a"), col("next_type").as("b")))
    assert(changed(g.kcoreCensusTracked(nodes, edges)._2) == 0L,
      "kcore peeled nodes in its final round at sf0.01")
    // the tiny sf0.001 graph mixes SLOWER (15 nodes, sparse): under
    // the r13 fixed budget the probe reported a 5-key residual here;
    // the r14 quant-gated kernel now RESOLVES it by running past the
    // documented budget — the probe's job is to certify that (rounds
    // extended, residual zero), not to report a residual that the
    // kernel is designed to eliminate
    val cS = g.userHandoffCounts(graft.Tables.events(spark, sfDir))
    val nS = g.userNodes(graft.Tables.events(spark, sfDir))
    val prSigS = g.pagerankScoresTracked(nS, cS)._2.collect().head
    assert(prSigS.getLong(1) == 0L,
      "gated pagerank left a residual at sf0.001")
    assert(prSigS.getInt(0) > g.PrIters,
      "sf0.001 pagerank converged within the fixed budget — the gate " +
        "did not extend and this pin lost its subject")
    val kS = g.undirectedEdges(cS
      .select(col("prev_type").as("a"), col("next_type").as("b")))
    assert(changed(g.kcoreCensusTracked(nS, kS)._2) == 0L,
      "kcore (monotone peel) is at fixpoint at sf0.001")
  }

  test("convergence signal fires when the budget stops a peel short") {
    // path graph: every node has degree <= 2 < KcoreK, so round 1
    // peels EVERYTHING — a 1-round budget ends exactly on the round
    // that still moved keys, and the signal must say so
    val edges = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (1L to 10L).toDF("node")
    val sigShort = graft.graph.Graph.kcoreCensusTracked(nodes, edges, 1)._2
    assert(changed(sigShort) == 10L, "the 1-round peel must report all 10 drops")
    val sigFull = graft.graph.Graph.kcoreCensusTracked(nodes, edges, 2)._2
    assert(changed(sigFull) == 0L, "round 2 peels nothing — fixpoint reached")
  }

  test("sync LPA oscillates on a pair graph; the damped knob converges it") {
    // two disjoint pairs: pure synchronous updates swap labels
    // forever (u adopts v's label while v adopts u's) — the motif the
    // probe caught at graph scale on sf1
    val edges = Seq((1L, 2L, 10L), (3L, 4L, 7L)).toDF("a", "b", "w")
    val sym = edges.unionByName(edges.select(col("b").as("a"),
      col("a").as("b"), col("w")))
    val nodes = (1L to 4L).toDF("node")
    val g = graft.graph.Graph
    val (_, vanillaSig) = g.lpaFromTracked(nodes, sym)
    assert(changed(vanillaSig) == 4L,
      "pure sync LPA must oscillate on pairs — and the probe must report it")
    val (lblD, dampedSig) = g.lpaFromTracked(nodes, sym, damped = true)
    assert(changed(dampedSig) == 0L, "damped LPA must reach the fixpoint")
    val got = lblD.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
      s"each pair must resolve to its smaller label: $got")
  }

  test("sf1 (10x): kcore+ppr effectively converged; the probe DETECTS g05's sync-LPA oscillation") {
    val sf1 = "/root/repo/target/sf1"
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(sf1, "events.parquet")),
      "ScaleUp sf1 replica not present")
    val g = graft.graph.Graph
    val counts = g.userHandoffCounts(graft.Tables.events(spark, sf1))
    val nodes = g.userNodes(graft.Tables.events(spark, sf1))
    val edges = g.undirectedEdges(counts
      .select(col("prev_type").as("a"), col("next_type").as("b")))
    assert(changed(g.kcoreCensusTracked(nodes, edges)._2) == 0L,
      "g09 kcore must be at fixpoint within KcoreRounds at sf1")
    val pprChanged = changed(pprSignal(sf1))
    assert(pprChanged < 150L,
      s"g08 ppr 6-decimal residual should be <1% of 15000 nodes: $pprChanged")
    val (ln, sym) = lpaInputs(sf1)
    val lpaChanged = changed(g.lpaFromTracked(ln.cutLineage, sym.cutLineage)._2)
    assert(lpaChanged > 0L,
      "the probe must detect g05's sync-LPA oscillation at sf1")
    info(s"sf1 signals: ppr residual=$pprChanged, lpa oscillators=$lpaChanged")
  }

  // --------------------------------------------- e29 two-level HNSW

  test("e29: upper-layer descent lifts recall over e25 at equal layer-0 budget") {
    val exact = graft.sim.Sim.e01KnnCosine(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = exact.map { case (q, ex) =>
        (ex intersect got.getOrElse(q, Set.empty)).size
      }.sum
      hits.toDouble / exact.values.map(_.size).sum
    }
    val r25 = recall(graft.sim.Sim.e25GraphServe(spark, sfDir))
    val r29 = recall(graft.sim.Sim.e29HnswServe(spark, sfDir))
    info(f"recall@10: e25=$r25%.3f e29=$r29%.3f (measured r12: 0.325 -> 0.350 here, 0.305 -> 0.355 at sf0.01, 0.115 -> 0.125 at sf0.1)")
    assert(r29 >= r25,
      f"the descent-chosen entries must not lose to random ones: $r25%.3f -> $r29%.3f")
    assert(r29 >= 0.25, f"e29 recall below the measured floor: $r29%.3f")
  }

  test("e29: descent hands layer 0 exactly ServeEntries entries per query (equal budget)") {
    // the equal-budget claim is structural: both serves enter the
    // layer-0 walk with <= ServeEntries scored rows per query, same
    // ServeBeam, same ServeHops, same final top-10
    val rows = graft.sim.Sim.e29HnswServe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val perQuery = rows.groupBy(_._1).view.mapValues(_.length)
    assert(perQuery.values.forall(_ <= 10), "final top-10 contract")
    assert(rows.forall { case (q, n) => q != n }, "self-free results")
    // upper graph is really sparse: |U| ~= n/UpperEvery, out-degree <= UpperK
    val gu = graft.sim.Sim.hnswUpperEdges(spark, sfDir)
    val nUpper = gu.select("node_id").distinct().count()
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(nUpper <= n / graft.sim.Sim.UpperEvery + 1,
      s"upper layer not sparse: $nUpper of $n")
    val maxDeg = gu.groupBy("node_id").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxDeg <= graft.sim.Sim.UpperK, s"upper out-degree $maxDeg > UpperK")
  }

  // ---------------------------------------- s38 watermarked dedup

  test("s38 watermarked dedup equals batch g11 on a single AvailableNow pass") {
    val s = spark.newSession()
    s.conf.set("spark.graft.stream.dedupWatermark", "24 hours")
    val streamed = graft.streaming.Streams.s38StreamItemCooccurrence(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).sorted.toSeq
    val batch = graft.graph.Graph.g11ItemCooccurrence(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "bounded-state dedup must still equal batch g11 within one pass")
  }

  // ------------------------------------------ q25/q25b twin contract

  test("q25b tracks exact q25 within declared rank error through the real entry points") {
    // r12 ADVICE: the twin contract must exercise the SHIPPED query
    // paths, not a synthetic re-derivation — q25 (exact percentile)
    // vs q25bWithAccuracy (the production approx_percentile path) on
    // the same lineitem table, per returnflag group, at an accuracy
    // low enough that the Greenwald-Khanna εn bound is live.
    val acc = 100
    val exact = graft.queries.Relational.q25Percentiles(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)), r.getLong(4))).toMap
    val approx = graft.queries.Relational.q25bWithAccuracy(spark, sfDir, acc)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val values = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    for ((g, (ex, n)) <- exact; ((q, a), e) <- Seq(0.5, 0.9, 0.99).zip(approx(g)).zip(ex)) {
      val rank = values(g).count(_ <= a)
      assert(math.abs(rank - q * n) <= n.toDouble / acc + 1,
        s"group $g q=$q: q25b=$a (rank $rank of $n) vs q25=$e outside n/accuracy")
    }
  }

  // --------------------------------------- d40 truth-shape crossover

  test("d40 truth: pairwise and probe shapes are bit-equal on both sides of the threshold") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val corpus = graft.dedup.Dedup.nearDupCorpus(docs)
    val sh = graft.dedup.Dedup.shingled(corpus).select(col("doc_id"), col("shingles"))
    val panel = sh.where(col("doc_id") < 50)
      .select(col("doc_id").as("panel_id"), col("shingles").as("sh_p"))
    // panelCount below the threshold selects the pairwise plan, above
    // it the probe plan — same inputs, so equal output proves the
    // shapes bit-agree where it matters: on the selected pair set
    def pairs(count: Long) =
      graft.dedup.Dedup.d40TruthPairs(spark, sh, panel, count)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val pairwise = pairs(1)
    val probe = pairs(1000000)
    assert(pairwise.nonEmpty, "sf0.01 must surface at least one true pair")
    assert(pairwise == probe,
      s"shapes disagree: pairwise=${pairwise.size} probe=${probe.size}")
    // and the plans really are different: the probe shape must not
    // contain a cartesian/broadcast-nested-loop pairwise stage
    val probePlan = graft.dedup.Dedup.d40TruthPairs(spark, sh, panel, 1000000)
      .queryExecution.executedPlan.toString
    assert(!probePlan.contains("CartesianProduct") &&
      !probePlan.contains("BroadcastNestedLoopJoin"),
      "probe shape must join on the shingle key, not cross-join the panel")
  }

  test("shared index: e25's graph artifact shares across applications too") {
    val root = Files.createTempDirectory("graft_r17_root4_").toString
    val dir = privateInputDir("graph")
    val s1 = sharedSession(root)
    val n1 = Sim.knnGraphIndex(s1, dir).count()
    val n = Sim.corpusN(s1, dir)
    val path = Sim.indexArtifactPath(s1, dir,
      s"graft_knn_graph_k${Sim.graphKOf(n)}c${Sim.maxBucketOf(n)}")
    assert(Files.exists(Paths.get(path, "_BUILT")))
    val sig = dataFileSignature(path)
    Sim.invalidateVersionToken(s1, dir)
    val s2 = sharedSession(root)
    assert(Sim.knnGraphIndex(s2, dir).count() == n1)
    assert(dataFileSignature(path) == sig,
      "second app must serve the persisted graph, not rebuild it")
  }
}
