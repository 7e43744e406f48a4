package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.{Checkpoints, Tables}
import graft.Checkpoints.CutOps

/** Graph-centrality operators over entity-transition graphs.
  *
  * A training-data pipeline ranks sources by link/transition
  * centrality (the CommonCrawl host-graph PageRank that feeds
  * quality-weighted sampling); the same kernel over the event-type
  * transition graph (q39's frame) keeps the demonstration
  * domain-bounded while the plan — edge-normalized contribution
  * join + dangling-mass redistribution per iteration — is exactly
  * the one that runs on a billion-node host graph.
  */
object Graph {

  /** Power-iteration count (fixed, unrolled — the e13/f04
    * declarative-loop precedent; ~0.85¹⁰ ≈ 0.20 residual bound is
    * plenty to rank a transition graph).
    */
  val PrIters = 10

  /** Safety cap for the quant-gated power-iteration extension: the
    * sf1 handoff graph stabilizes at the 6-decimal output contract in
    * 23 rounds (measured); 40 covers another order of magnitude of
    * graph growth (contraction is geometric in the damping) while
    * bounding the oracle unroll.
    */
  val PrMaxIters = 40

  /** PPR's own gate cap: the personalized surface concentrates mass
    * near the seeds, so thousands of small ranks sit near 6-decimal
    * grid boundaries and keep flickering long after the max residual
    * is tiny — the sf1 graph takes 73 rounds to full quantized
    * stability (measured) vs the uniform kernel's 23.
    */
  val PprMaxIters = 100

  /** The classic damping factor. */
  val Damping = 0.85

  /** g01: PageRank over the event-type transition graph — nodes are
    * event types, edge weights the row-normalized transition
    * probabilities of q39 (`n_trans / out_total`), PR_0 = 1/N,
    * [[PrIters]] damped iterations
    * `PR'(v) = (1−d)/N + d·(Σ_{u→v} PR(u)·w(u,v) + dangling/N)`
    * with dangling mass (nodes without out-edges) redistributed
    * uniformly — the exact Page et al. 1999 formulation. Output:
    * (node, pr rounded to 6 — the relief convention absorbing
    * cross-engine summation ulps, rank by (pr desc, node)).
    *
    * Scale shape: the graph frame is domain-bounded (|types| nodes,
    * ≤ |types|² edges) after ONE corpus pass (q39's lag window —
    * per-user, never global); the rounds are [[powerIteration]]'s one
    * RDD job each over hash-partitioned node state, with a lineage cut
    * per round. On a host graph the same loop shuffles only the
    * (dst, pr·w) contributions; nothing here is driver-looped over
    * data.
    */
  def g01TransitionPagerank(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.queries.Events.q39EventTransitions(spark, dir)
      .select(col("prev_type"), col("next_type"), col("n_trans"))
    val nodes = Tables.events(spark, dir)
      .select(col("event_type").as("node")).distinct()
    pagerankFrom(nodes, counts)
  }

  /** One-row `(rounds, changed_last_round)` convergence signal for a
    * fixed-budget kernel: how many keys still changed between the
    * state ENTERING the final round and the state it produced. Both
    * inputs are (key, value) frames at the kernel's own comparison
    * granularity (PR pre-rounded to its 6-decimal output contract,
    * LPA labels, k-core survivorship). The frame is LAZY — a serving
    * path that ignores it pays nothing; specs pin
    * `changed_last_round == 0` at the shipped SFs, and at 100× a
    * deeper graph that stops short of the fixpoint is visible here
    * (and in the conf-gated log below) instead of silently wrong.
    */
  private[graft] def convergenceSignal(
      prev: DataFrame, last: DataFrame, rounds: Int): DataFrame = {
    val p = prev.toDF("k", "pv")
    val l = last.toDF("k", "lv")
    p.join(l, Seq("k"), "full")
      .agg(coalesce(
        sum(when(not(col("pv") <=> col("lv")), 1L)), lit(0L))
        .as("changed_last_round"))
      .select(lit(rounds).as("rounds"), col("changed_last_round"))
  }

  /** `spark.graft.graph.convergenceLog=true` evaluates each kernel's
    * convergence signal at build time and WARNs when the final round
    * still moved keys — the production observability knob for the
    * fixed iteration budgets (default off: zero extra jobs).
    */
  private def maybeLogConvergence(
      tag: String, signal: => DataFrame, spark: SparkSession): Unit =
    if (spark.conf.get("spark.graft.graph.convergenceLog", "false").toBoolean) {
      val row = signal.collect()(0)
      val changed = row.getLong(1)
      if (changed > 0)
        org.slf4j.LoggerFactory.getLogger("graft.graph.Graph").warn(
          s"$tag: NOT at fixpoint after ${row.getInt(0)} rounds — " +
            s"$changed keys changed in the final round; raise the " +
            "round budget for this graph")
    }

  private[graft] def pagerankScores(
      nodesIn: DataFrame, counts: DataFrame): DataFrame =
    pagerankScoresTracked(nodesIn, counts)._1

  /** [[pagerankScores]] plus its convergence signal: [[powerIteration]]
    * with the uniform teleport, PR₀ = 1/N and the dangling mass shared
    * out as dang/N. N is the node count the kernel's build job returns.
    */
  private[graft] def pagerankScoresTracked(
      nodes: DataFrame, counts: DataFrame): (DataFrame, DataFrame) =
    powerIteration("pagerank", nodes, counts, PrMaxIters, uniformStart = true) { n =>
      val tele = (1.0 - Damping) / n
      (_, s, dang) => tele + Damping * (s + dang / n)
    }

  /** Spark's `round(x, 6)` on a double (HALF_UP over the decimal form
    * of x, NaN and ±∞ unchanged), so executors take the 6-decimal gate
    * decision exactly as the SQL engines do.
    */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** One node of the power iteration: teleport weight `t`, the targets
    * and row-stochastic weights of its out-edges, whether it has none
    * at all (`dng`: its rank is dangling mass), and its rank this round
    * and the round before.
    */
  private final case class PrNode(
      t: Double, dst: Array[Any], w: Array[Double], dng: Boolean, pr: Double, prev: Double)

  /** The damped power-iteration kernel behind PageRank (g01, g04, s28,
    * s31) and personalized PageRank (g08, s35) over a (nodes,
    * edge-count) pair. The w normalization (row-stochastic per source,
    * q39's p_trans formula) lives HERE so every path computes
    * bit-identical weights. Each round is
    * `pr'(v) = update(t(v), Σ_{u→v} pr(u)·w(u,v), dang)` with `dang`
    * the summed rank of the nodes without out-edges; the callers pass
    * only what differs — whether pr₀ is the uniform 1/N or the teleport
    * weight t, the update given N, and the round cap — as Scala doubles
    * in their own IEEE expressions. `nodes` holds `node` (repeats are
    * merged) and, for PPR, the teleport weight `t`. Returns the
    * UNROUNDED (node, pr) frame and its signal; rank layers live in
    * [[pagerankFrom]] (global rank — domain-bounded graphs only) and
    * [[topRanked]] (top-N merge — the unbounded-domain path).
    *
    * The first [[PrIters]] rounds are the unconditional documented
    * budget; past it the rounds are QUANT-GATED up to `cap`: the
    * iteration stops after the first round in which no node's
    * `round(pr, 6)` moved. The gate is taken on the 6-decimal OUTPUT
    * contract, where the engines' ulp-level float drift is already
    * absorbed, so the oracle mirrors the stop decision layer by layer
    * (a CASE on the same count) and stays bit-equal at any corpus size.
    *
    * Job shape: the node state is an RDD hash-partitioned
    * `spark.sql.shuffle.partitions` wide, built once (one job, which
    * also returns N and the start's dangling mass). Each round is ONE
    * job: a flatMap emits (dst, pr·w), `reduceByKey` on the state's
    * partitioner sums it, `zipPartitions` with the state applies the
    * update, and the job's per-partition result is the round's
    * quantized-change count and the next round's dangling sum, merged
    * on the driver in partition order — no census job, no broadcast,
    * no per-round query planning. Every round's state is a lazy
    * [[graft.Checkpoints.cut]] (the durability knob applies) and the
    * one it supersedes is unpersisted, so a call holds at most two
    * states; the last one backs the returned frame until that frame is
    * garbage (Spark's ContextCleaner then drops it).
    */
  private def powerIteration(
      tag: String, nodes: DataFrame, counts: DataFrame, cap: Int, uniformStart: Boolean)(
      law: Double => (Double, Double, Double) => Double): (DataFrame, DataFrame) = {
    val spark = nodes.sparkSession
    val sc = spark.sparkContext
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val nodeType = nodes.schema("node").dataType
    val tAt = nodes.columns.indexOf("t")
    val keyed = nodes.select(col("node") +: (if (tAt < 0) Nil else Seq(col("t"))): _*).rdd
      .map(r => (r.get(0), if (tAt < 0) 0.0 else r.getDouble(1)))
      .reduceByKey(part, (a, _) => a)
    // endpoints take the node type, so equal ids hash and compare equal
    val out = counts.select(col("prev_type").cast(nodeType), col("next_type").cast(nodeType),
        col("n_trans").cast("long")).rdd
      .flatMap(r => if (r.isNullAt(0)) None else Some((r.get(0), (r.get(1), r.getLong(2)))))
    val base = Checkpoints.cut(spark, keyed.cogroup(out, part).flatMapValues { case (ts, es) =>
      ts.headOption.map { t =>
        val total = es.iterator.map(_._2).sum
        val live = es.filter(_._1 != null).toArray
        PrNode(t, live.map(_._1), live.map(_._2.toDouble / total), es.isEmpty, 0.0, 0.0)
      }
    })
    // (nodes, dangling nodes, their summed t) per partition
    val built = sc.runJob(base, (it: Iterator[(Any, PrNode)]) =>
      it.foldLeft((0L, 0L, 0.0)) { case ((n, k, ts), (_, v)) =>
        if (v.dng) (n + 1, k + 1, ts + v.t) else (n + 1, k, ts) })
    val n = built.map(_._1).sum.toDouble
    val pr0 = 1.0 / n
    val update = law(n)
    // pr₀'s dangling mass, summed per partition exactly as a round sums it
    var dang = built.foldLeft(0.0) { case (acc, (_, k, ts)) =>
      acc + (if (uniformStart) (1L to k).foldLeft(0.0)((a, _) => a + pr0) else ts) }
    var cur = base.mapValues(v => v.copy(pr = if (uniformStart) pr0 else v.t))
    var held: RDD[_] = base
    var rounds = 0
    var changed = 0L
    do {
      val d = dang
      val sums = cur.flatMap { case (_, v) => v.dst.indices.iterator.map(i => (v.dst(i), v.pr * v.w(i))) }
        .reduceByKey(part, _ + _)
      val next = Checkpoints.cut(spark,
        cur.zipPartitions(sums, preservesPartitioning = true) { (vs, ss) =>
          val s = ss.toMap
          vs.map { case (k, v) =>
            (k, v.copy(pr = update(v.t, s.getOrElse(k, 0.0), d), prev = v.pr))
          }
        })
      val stats = sc.runJob(next, (it: Iterator[(Any, PrNode)]) =>
        it.foldLeft((0L, 0.0)) { case ((c, dg), (_, v)) =>
          (if (round6(v.pr) != round6(v.prev)) c + 1 else c, if (v.dng) dg + v.pr else dg) })
      held.unpersist(blocking = false)
      held = next
      cur = next
      changed = stats.map(_._1).sum
      dang = stats.foldLeft(0.0)(_ + _._2)
      rounds += 1
    } while (rounds < PrIters || (changed != 0L && rounds < cap))
    val scores = spark.createDataFrame(cur.map { case (k, v) => Row(k, v.pr) },
      StructType(Seq(StructField("node", nodeType), StructField("pr", DoubleType, nullable = false))))
    val signal = spark.range(1)
      .select(lit(rounds).as("rounds"), lit(changed).as("changed_last_round"))
    maybeLogConvergence(tag, signal, spark)
    (scores, signal)
  }

  /** [[pagerankScores]] + a GLOBAL dense rank over every node.
    *
    * DOMAIN-BOUNDED GRAPHS ONLY: the final `row_number` over an
    * unpartitioned window is a single-partition sort of the whole node
    * frame — safe for g01/g02/s28 because their nodes are event TYPES
    * (|nodes| = |types|, a constant), a scale-killer the moment the
    * kernel is pointed at user-level graphs. For those, [[pagerankTopN]]
    * ranks through a top-N-per-partition merge (TakeOrderedAndProject)
    * and never sorts the node frame globally — g04 is the proof case.
    */
  private[graft] def pagerankFrom(
      nodesIn: DataFrame, counts: DataFrame): DataFrame =
    pagerankScores(nodesIn, counts)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pr").desc, col("node"))).cast("long"))

  /** [[pagerankScores]] + top-N by (pr desc, node) through
    * [[topRanked]] — the unbounded-domain rank path.
    */
  private[graft] def pagerankTopN(
      nodesIn: DataFrame, counts: DataFrame, n: Int): DataFrame =
    topRanked(pagerankScores(nodesIn, counts), "pr", n)

  /** Top-n of a (node, pr) frame by (score desc, node), with its rank:
    * `orderBy(...).limit(n)` plans as TakeOrderedAndProject
    * (per-partition heap of n rows, merged once — no global sort, no
    * single-partition shuffle of the node frame; pinned in PlanSpec),
    * and only the BOUNDED n-row result takes a final in-memory rank
    * window. pr is rounded to 6 (as `score`) BEFORE the cut so both the
    * selection and the rank see the same cross-engine-stable values
    * (the g01 convention). Shared by g04/s31 and g08/s35.
    */
  private def topRanked(scores: DataFrame, score: String, n: Int): DataFrame =
    scores.select(col("node"), round(col("pr"), 6).as(score))
      .orderBy(col(score).desc, col("node")).limit(n)
      .withColumn("rank", row_number().over(
        Window.orderBy(col(score).desc, col("node"))).cast("long"))

  /** Output size of g04's leaderboard. */
  val TopUsers = 20

  /** g04: PageRank over the USER-level interaction graph — the
    * unbounded-node-domain member of the g-family (|users| grows with
    * the corpus: 15 → 150 → 1500 across the shipped SFs, millions on a
    * real log). Edges are item-stream handoffs: within each
    * (item = props.k, day) activity stream ordered by (ts, event_id),
    * consecutive events by DIFFERENT users contribute one
    * prev_user → user edge (the "who follows whom on the same object"
    * graph a marketplace/social pipeline ranks by). Same damped
    * kernel as g01 ([[pagerankScores]]); the rank is [[pagerankTopN]]
    * — top-[[TopUsers]] by (pr desc, user_id). Output:
    * (user_id, pr rounded 6, rank).
    *
    * Scale shape: the handoff window partitions by (item, day) — key
    * count grows with catalog size × ingestion horizon, per-key size
    * is one item's daily activity (bounded by attention, not corpus) —
    * then map-side-combines to the edge census. The node state and
    * its out-edge arrays are built once, hash-partitioned
    * `spark.sql.shuffle.partitions` wide (NOT broadcast — the node
    * domain is unbounded); each kernel round is ONE job that shuffles
    * only the (dst, pr·w) contributions and returns its gate count and
    * dangling mass as the job's result ([[powerIteration]]). At sf0.01
    * a traced call runs 16 jobs where the per-round DataFrame plans
    * ran 77. The only global ordering anywhere is the
    * TakeOrderedAndProject top-N merge; no single-partition sort of
    * the node frame exists in the plan (PlanSpec-pinned).
    */
  def g04UserPagerank(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    pagerankTopN(userNodes(ev), userHandoffCounts(ev), TopUsers)
      .select(col("node").as("user_id"), col("pr"), col("rank"))
  }

  /** Every user of an events frame as a node frame — g04/g05's shared
    * node domain. Callers load `events` once ([[Tables.events]]) and
    * pass it here and to [[userHandoffCounts]], so a graph call reads
    * the table's schema once.
    */
  private[graft] def userNodes(events: DataFrame): DataFrame =
    events.select(col("user_id").as("node")).distinct()

  /** The user-handoff edge census (g04's doc): consecutive
    * DIFFERENT-user events per (item = props.k, day) activity stream
    * → (prev_type, next_type, n_trans) in the kernel's column
    * vocabulary. Shared by g04 (centrality) and g05 (communities);
    * s31 extracts the SAME transitions at ingestion.
    */
  private[graft] def userHandoffCounts(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        to_date(col("ts")).as("day"))
    val w = Window.partitionBy("item", "day").orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_user", lag("user_id", 1).over(w))
      .where(col("prev_user").isNotNull && col("prev_user") =!= col("user_id"))
      .groupBy(col("prev_user").as("prev_type"), col("user_id").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
  }

  /** g05: community detection over the USER handoff graph — g02's
    * sync-LPA kernel pointed at the unbounded node domain (the same
    * proof g04 gives the PageRank kernel): the directed handoff
    * census symmetrizes (w = n(u→v) + n(v→u), self-loops dropped,
    * exact integers), every user starts as its own community, 5
    * deterministic rounds of adopt-the-max-incident-weight-community
    * (ties to the SMALLEST community id). Output: (node, community)
    * for every user — a per-user assignment TABLE (the product LPA
    * ships to a join, never a driver collect).
    *
    * Scale shape: identical to g02 — each round is one keyed join of
    * the |users|-row label frame against the edge frame + one
    * max-by-struct rank window PARTITIONED by node (never global);
    * nothing in the kernel assumes a bounded domain, which is the
    * point of this row.
    */
  def g05UserCommunities(spark: SparkSession, dir: String): DataFrame = {
    val (nodes, sym) = userHandoffLpaInputs(spark, dir)
    lpaFrom(nodes, sym)
  }

  /** The (nodes, symmetrized weighted edges) pair of the user handoff
    * graph — one derivation feeding g05 (pure sync rounds) and g05b
    * (damped rounds), so the two community ops differ ONLY in the
    * kernel's update rule.
    */
  private[graft] def userHandoffLpaInputs(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(spark, dir)
    val sym = symmetrized(userHandoffCounts(ev)).cutLineageLazy
    (userNodes(ev).cutLineageLazy, sym)
  }

  /** The undirected weighted edge frame (a, b, w) of an edge census
    * (prev_type, next_type, n_trans): w = n(u→v) + n(v→u), self-loops
    * dropped, exact integers — the LPA kernel's input contract, shared
    * by g02, g05/g05b, s33 and the convergence census. The lineage is
    * NOT cut: each caller picks its own lazy or eager cut.
    */
  private[graft] def symmetrized(counts: DataFrame): DataFrame = {
    val directed = counts
      .select(col("prev_type").as("a"), col("next_type").as("b"), col("n_trans"))
    directed
      .unionByName(directed.select(col("b").as("a"), col("a").as("b"), col("n_trans")))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum("n_trans").as("w"))
  }

  /** g05b: DAMPED label propagation over the user handoff graph — the
    * r12 convergence probe's remediation promoted to a first-class
    * oracle-checked operator (r12 VERDICT #6): pure synchronous LPA
    * provably never converges on this graph family (measured at sf1:
    * ALL 15 000 labels flip every round, period-2 — the Raghavan et
    * al. §3 oscillation, live), so the production posture adds a
    * SELF-VOTE: each node's current community participates in the
    * argmax with weight equal to the node's max incident edge. A pure
    * symmetric pair resolves to its smaller label in one round; a
    * node still migrates whenever a neighbor community's SUMMED
    * weight beats its strongest single tie.
    *
    * The rounds are CONVERGENCE-GATED up to [[LpaMaxRounds]] (r13
    * VERDICT #1): the r13 convergence census read the sf1 residual
    * (7 500 of 15 000 labels still moving at the fixed 5-round
    * budget) as an oscillation, but replaying the kernel offline
    * shows it is a propagation-DEPTH wave, not a 2-cycle: the replica
    * corpus's twin chains (10 key-shifted copies of each user, tied
    * by w≈60 handoff edges) relabel toward the chain minimum ONE HOP
    * PER ROUND — changed-per-round falls linearly (13 500, 12 000, …
    * 1 500, 0) and hits a TRUE fixpoint at round 10 with exactly one
    * community per twin chain. (A keep-current hysteretic tie-break —
    * the other candidate fix — measurably deadlocks at the singleton
    * init: every round-1 neighbor vote is a single edge ≤ the
    * self-vote, so nothing ever moves; Round19Spec keeps that guard
    * red.) So the production posture iterates until a round moves
    * nothing, capped at [[LpaMaxRounds]]. The oracle stays ONE text
    * for every corpus because the kernel is idempotent at a fixpoint
    * (same labels → same votes → same argmax): it unrolls all
    * [[LpaMaxRounds]] layers and the post-fixpoint layers are exact
    * no-ops, while the Spark side stops at the measured fixpoint and
    * skips them. Same integer weight arithmetic, same (weight desc,
    * label asc) determinism. g05 (pure sync) remains the fixed-budget
    * verification twin.
    */
  def g05bLpaDamped(spark: SparkSession, dir: String): DataFrame =
    g05bLpaDampedTracked(spark, dir)._1

  private[graft] def g05bLpaDampedTracked(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (nodes, sym) = userHandoffLpaInputs(spark, dir)
    lpaConvergedTracked(nodes, sym)
  }

  /** Safety cap for the convergence-gated damped rounds: covers a
    * 100×-scale label diameter (the measured wave moves one hop per
    * round; the sf1 replica's diameter-10 chains converge in 10) while
    * bounding the oracle unroll. A corpus that is still moving at the
    * cap ships the capped snapshot in BOTH engines — the census
    * reports it instead of folklore.
    */
  val LpaMaxRounds = 30

  /** Synchronous label-propagation rounds for g02. */
  val LpaRounds = 5

  /** g02: community detection by synchronous label propagation
    * (Raghavan et al. 2007, made deterministic): over the UNDIRECTED
    * transition graph (edge weight = n_trans(u→v) + n_trans(v→u),
    * self-loops dropped — exact integers end to end), every node
    * starts as its own community and each round adopts the community
    * with the maximum incident weight (ties to the lexicographically
    * smallest label — the determinism knob sync-LPA needs); isolated
    * nodes keep their label. [[LpaRounds]] unrolled rounds,
    * materialized per round. Output: (node, community).
    *
    * Scale shape: all arithmetic is integer edge-weight sums — no
    * float order anywhere; each round is one keyed join of the
    * |nodes|-row label frame against the edge frame + one
    * max-by-struct aggregate; the host-graph version shuffle-joins on
    * the edge key, nothing driver-looped.
    */
  def g02LabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val sym = symmetrized(graft.queries.Events.q39EventTransitions(spark, dir))
      .cutLineageLazy
    val nodes = Tables.events(spark, dir)
      .select(col("event_type").as("node")).distinct()
      .cutLineageLazy
    lpaFrom(nodes, sym)
  }

  /** The shared sync-LPA kernel over (nodes, symmetric weighted
    * edges) — g02 feeds it the event-type graph, g05 the user handoff
    * graph; every round's rank window is PARTITIONED by node, so
    * nothing in the kernel requires a bounded node domain. Callers
    * pass materialized (checkpointed) frames.
    */
  private[graft] def lpaFrom(nodes: DataFrame, sym: DataFrame): DataFrame =
    lpaFromTracked(nodes, sym)._1

  /** [[lpaFrom]] plus its lazy convergence signal.
    *
    * `damped = true` adds a SELF-VOTE to every round: the node's
    * current community participates in the argmax with weight equal to
    * the node's max incident edge weight. This is the standard damping
    * for synchronous LPA's period-2 oscillation (Raghavan et al. §3
    * note the 2-cycle; the r12 convergence probe measured it live: on
    * the sf1 handoff graph ALL 15 000 labels flip every round under
    * pure sync updates, because the graph is rich in symmetric
    * pair/bipartite motifs — adjacent nodes adopt each other's label
    * simultaneously, forever). With the self-vote, a pure pair
    * resolves to the smaller label in one round (tie → lexicographic)
    * and a node still migrates whenever a neighbor community's SUMMED
    * weight beats its strongest single tie. Default OFF: g02/g05/s33's
    * oracle contract is exactly [[LpaRounds]] pure synchronous rounds;
    * g05b runs the damped rounds to the fixpoint
    * ([[lpaConvergedTracked]]).
    */
  private[graft] def lpaFromTracked(
      nodes: DataFrame, sym: DataFrame,
      rounds: Int = LpaRounds, damped: Boolean = false): (DataFrame, DataFrame) = {
    val selfW =
      if (damped)
        Some(sym.groupBy(col("a").as("node")).agg(max("w").as("sw")).cutLineageLazy)
      else None
    var lbl = nodes.select(col("node"), col("node").as("community"))
      .cutLineageLazy
    var prev = lbl
    for (it <- 1 to rounds) {
      if (it == rounds) prev = lbl
      // lazy cut (r14): plan truncation without a per-round
      // materialization job — the next round's stages force the rows
      lbl = lpaRound(lbl, sym, selfW).cutLineageLazy
    }
    val signal = convergenceSignal(prev, lbl, rounds)
    maybeLogConvergence("lpa", signal, nodes.sparkSession)
    (lbl.select(col("node"), col("community")), signal)
  }

  /** One synchronous LPA round: adopt the max-summed-weight incident
    * community (ties to the smallest label), with the damped
    * self-vote when `selfW` is present. Shared by the fixed-budget
    * kernel (g02/g05) and the convergence-gated one (g05b).
    */
  private def lpaRound(
      lbl: DataFrame, sym: DataFrame, selfW: Option[DataFrame],
      trackPrev: Boolean = false): DataFrame = {
    val neighborVotes = sym
      .join(lbl.select(col("node").as("b"), col("community")), Seq("b"))
      .select(col("a").as("node"), col("community"), col("w").as("s"))
    val allVotes = selfW match {
      case Some(sw) => neighborVotes.unionByName(
        lbl.join(sw, Seq("node"))
          .select(col("node"), col("community"), col("sw").as("s")))
      case None => neighborVotes
    }
    val scores = allVotes
      .groupBy(col("node"), col("community"))
      .agg(sum("s").as("s"))
    // argmax by (s desc, community asc) as a min_by AGGREGATE instead
    // of a row_number window (r14, guide §2.3/§4): same winner row by
    // the same total order (weights are exact integers, so -s is
    // exact; a full-struct tie means an equal community value), but
    // the aggregate partial-aggregates map-side — the node-keyed
    // exchange carries one candidate per (node, partition) instead of
    // every (node, community) score — and drops the per-round sort.
    val best = scores
      .groupBy(col("node"))
      .agg(min_by(col("community"), struct((-col("s")).as("ns"), col("community")))
        .as("new_community"))
    val joined = lbl.join(best, Seq("node"), "left")
    // trackPrev (r15): the convergence-gated kernel reads the previous
    // label off the SAME row instead of paying a two-frame join+count
    // per round — plan-only, label values untouched.
    if (trackPrev)
      joined.select(col("node"),
        coalesce(col("new_community"), col("community")).as("community"),
        col("community").as("prev_community"))
    else
      joined.select(col("node"),
        coalesce(col("new_community"), col("community")).as("community"))
  }

  /** Damped LPA iterated to the measured fixpoint (capped at
    * [[LpaMaxRounds]]) — the g05b kernel. Each round costs one extra
    * changed-count aggregate over the |nodes|-row frontier (the same
    * action [[graft.dedup.Dedup.convergeForest]] pays per star round);
    * in exchange the round count adapts to the corpus's label
    * diameter instead of a pinned budget, and the returned signal is
    * a true fixpoint certificate (changed_last_round == 0) rather
    * than a last-two-rounds diff.
    */
  private[graft] def lpaConvergedTracked(
      nodes: DataFrame, sym: DataFrame): (DataFrame, DataFrame) = {
    val spark = nodes.sparkSession
    val selfW =
      Some(sym.groupBy(col("a").as("node")).agg(max("w").as("sw")).cutLineageLazy)
    var lbl = nodes.select(col("node"), col("node").as("community"))
      .cutLineageLazy
    var rounds = 0
    var changed = -1L
    while (rounds < LpaMaxRounds && changed != 0L) {
      // lazy cut (r14): the changed-count on the next line is the
      // materializing action — the eager cut's own job was pure
      // overhead. r15: the round carries prev_community on the same
      // row (trackPrev), so the gate is ONE scan-aggregate over the
      // frame being materialized anyway instead of a two-frame
      // join+count per round — same count, same labels. The carried
      // column rides into the next round's lbl harmlessly (every
      // consumer projects explicitly).
      val next = lpaRound(lbl, sym, selfW, trackPrev = true).cutLineageLazy
      changed = next.agg(coalesce(sum(when(
          not(col("community") <=> col("prev_community")), 1L)), lit(0L)))
        .head().getLong(0)
      lbl = next
      rounds += 1
    }
    val signal = spark.range(1)
      .select(lit(rounds).as("rounds"), lit(changed).as("changed_last_round"))
    maybeLogConvergence("lpa_damped", signal, spark)
    (lbl.select(col("node"), col("community")), signal)
  }

  /** g03: triangle counting + local clustering coefficient over the
    * undirected transition graph — the cohesion census a graph
    * quality pass reads next to centrality (g01) and communities
    * (g02). Runs on the shared DEGREE-ORIENTED kernel
    * ([[triangleCensus]]): wedges generate only from each edge's
    * lower-(degree, id) endpoint, each triangle exactly once. Output:
    * (node, degree, n_triangles, clustering).
    *
    * Scale shape: the classic distributed-triangle plan — joins keyed
    * on edge endpoints, never a cartesian; orientation bounds the
    * wedge fan-out at hubs (r10 VERDICT #5 closed — the kernel is
    * safe on unbounded skewed domains, proven by g06 on the user
    * handoff graph).
    */
  def g03TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val directed = graft.queries.Events.q39EventTransitions(spark, dir)
      .select(col("prev_type").as("a"), col("next_type").as("b"))
    triangleCensus(
      Tables.events(spark, dir).select(col("event_type").as("node")).distinct(),
      undirectedEdges(directed))
  }

  /** The per-kernel convergence census over the user handoff graph —
    * SURVEY §17.3's measured truth table as ONE queryable frame
    * (kernel, rounds, changed_last_round), so the fixed-budget
    * kernels' fixpoint standing is a machine-diffable round artifact
    * (r12 VERDICT #7: `graft.tools.Convergence` emits it per SF as
    * CONVERGENCE_rN.json) instead of SURVEY prose. Includes BOTH LPA
    * postures — the probe that falsified the sync-LPA fixpoint at sf1
    * should keep showing the oscillation next to the damped kernel's
    * convergence, round over round.
    */
  def convergenceCensus(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val nodes = userNodes(ev).cutLineageLazy
    val counts = userHandoffCounts(ev).cutLineageLazy
    val (_, prSig) = pagerankScoresTracked(nodes, counts)
    val (_, pprSig) = pprScoresTracked(nodes, counts, pprSeeds(counts))
    val sym = symmetrized(counts).cutLineageLazy
    val (_, lpaSig) = lpaFromTracked(nodes, sym)
    val (_, lpaDSig) = lpaConvergedTracked(nodes, sym)
    val (_, kcSig) = kcoreCensusTracked(nodes, undirectedEdges(
      counts.select(col("prev_type").as("a"), col("next_type").as("b"))))
    Seq("pagerank" -> prSig, "ppr" -> pprSig, "lpa" -> lpaSig,
        "lpa_damped" -> lpaDSig, "kcore" -> kcSig)
      .map { case (t, s) =>
        s.select(lit(t).as("kernel"), col("rounds"),
          col("changed_last_round"))
      }
      .reduce(_ unionByName _)
  }

  /** Symmetrize a directed (a, b) frame into the canonical undirected
    * edge set (a < b, distinct, no self-loops) — the triangle kernel's
    * input contract, shared by g03 and g06.
    */
  private[graft] def undirectedEdges(directed: DataFrame): DataFrame =
    directed
      .unionByName(directed.select(col("b").as("a"), col("a").as("b")))
      .where(col("a") < col("b"))
      .distinct()
      .cutLineageLazy

  /** g06: triangles + clustering coefficient on the USER handoff graph
    * — the triangle kernel's unbounded-domain proof, exactly the
    * precedent g04/g05 set for the rank and LPA kernels (r10 VERDICT
    * #5): nodes are every user (corpus-scale, never an enum), edges
    * the symmetrized g04 handoff census. Output: one row per user
    * (node, degree, n_triangles, clustering) — a TABLE, never a
    * driver collect. Degree orientation (below) is what makes this
    * safe here: the handoff graph has hub users, and unoriented wedge
    * generation at a hub is quadratic in its degree.
    */
  def g06UserTriangles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    triangleCensus(
      userNodes(ev),
      undirectedEdges(userHandoffCounts(ev)
        .select(col("prev_type").as("a"), col("next_type").as("b"))))
  }

  /** g07: connected components on the USER handoff graph — the CC
    * kernel's unbounded-domain proof, completing the family picture
    * (rank g04, communities g05, triangles g06, components g07 — all
    * four graph kernels proven on the corpus-scale node domain). The
    * symmetrized handoff census feeds the SHARED alternating
    * large-star/small-star kernel
    * ([[graft.dedup.Dedup.convergeForest]] — d11/d23/d30's CC), which
    * converges to the min-rooted star forest; singleton users (no
    * handoffs) and component roots map to themselves. Output: one
    * (node, component) row per user — an assignment TABLE, never a
    * driver collect.
    *
    * Scale shape: every star round is one keyed self-join of 16-byte
    * edge rows with a per-round lineage cut (the [[graft.Checkpoints]]
    * durability knob applies); convergence is one (count, bit_xor)
    * action per round. LPA (g05) gives soft communities; this gives
    * the exact reachability partition — dedup-style survivorship on
    * users needs the latter.
    */
  def g07UserComponents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val edges = undirectedEdges(userHandoffCounts(ev)
        .select(col("prev_type").as("a"), col("next_type").as("b")))
      .select(col("a").as("u"), col("b").as("v"))
    val forest = graft.dedup.Dedup.convergeForest(spark, edges, "g07")
    userNodes(ev)
      .join(forest.select(col("u").as("node"), col("v").as("component")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** Seed-set size for g08's personalized PageRank. */
  val PprSeeds = 5

  /** g08: PERSONALIZED PageRank on the user handoff graph — the
    * seeded-teleport variant of the g04 kernel (Page et al. 1999 §6;
    * the "random surfer restarts at a seed" form that powers
    * seed-expansion curation: given a handful of trusted/suspect
    * users, rank everyone by proximity to them). Seeds are the
    * top-[[PprSeeds]] users by total out-handoff volume (ties to the
    * smaller id — deterministic in both engines); teleport mass
    * (1−d) and dangling mass both redistribute over the SEED
    * distribution instead of uniformly, so unreachable users score
    * exactly 0.0 rather than the uniform floor. Output: top-
    * [[TopUsers]] by (ppr rounded 6 desc, user_id) with rank.
    *
    * Scale shape: identical to g04 — the teleport weight rides on
    * each node's partitioned state (never a driver map), each round is
    * the same one-job contribution shuffle, and the only global
    * ordering is the TakeOrderedAndProject top-N merge. The seed frame
    * is bounded ([[PprSeeds]] rows) by construction via its own top-N
    * merge.
    */
  def g08UserPpr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    pprFromCounts(userNodes(ev), userHandoffCounts(ev))
      .select(col("node").as("user_id"), col("ppr"), col("rank"))
  }

  /** Seed derivation + ranked PPR over a (nodes, handoff-count) pair —
    * shared by g08 (batch census) and s35 (streamed census) so the two
    * paths stay bit-identical.
    */
  private[graft] def pprFromCounts(
      nodes: DataFrame, counts: DataFrame): DataFrame =
    topRanked(pprScores(nodes, counts, pprSeeds(counts)), "ppr", TopUsers)

  /** g08's seed set: the top-[[PprSeeds]] sources by total out-count
    * (ties to the smaller node), as a bounded top-N merge.
    */
  private def pprSeeds(counts: DataFrame): DataFrame =
    counts
      .groupBy(col("prev_type").as("node"))
      .agg(sum("n_trans").as("out_n"))
      .orderBy(col("out_n").desc, col("node")).limit(PprSeeds)
      .select("node")

  /** The personalized power-iteration kernel: [[powerIteration]] with
    * the uniform teleport replaced by a seed-set distribution t(v)
    * (1/|S| on seeds, 0 elsewhere), pr₀ = t, and per round
    * `pr'(v) = (1−d)·t(v) + d·(Σ_{u→v} pr(u)·w(u,v) + dang·t(v))`
    * (Page et al. 1999 §6: PageRank with a non-uniform teleport).
    */
  private[graft] def pprScores(
      nodesIn: DataFrame, counts: DataFrame, seedsIn: DataFrame): DataFrame =
    pprScoresTracked(nodesIn, counts, seedsIn)._1

  /** [[pprScores]] plus its convergence signal. The seed count is a
    * ONE-off driver scalar; the sf1 census measured 91 personalized
    * ranks still moving at the documented budget, so PPR gates up to
    * its own cap, [[PprMaxIters]].
    */
  private[graft] def pprScoresTracked(
      nodes: DataFrame, counts: DataFrame,
      seedsIn: DataFrame): (DataFrame, DataFrame) = {
    val seeds = seedsIn.cutLineageLazy
    val ns: Double = seeds.count().toDouble
    val tele = nodes
      .join(seeds.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed").isNotNull, lit(1.0 / ns)).otherwise(lit(0.0)).as("t"))
    powerIteration("ppr", tele, counts, PprMaxIters, uniformStart = false) { _ =>
      (t, s, dang) => (1.0 - Damping) * t + Damping * (s + dang * t)
    }
  }

  /** g09's core order: nodes must keep ≥ K surviving neighbors. */
  val KcoreK = 3

  /** Peel rounds for g09 — fixed and unrolled (the LpaRounds/PrIters
    * precedent): both the Spark side and the oracle run EXACTLY this
    * many rounds, so agreement never depends on convergence; a spec
    * asserts the result IS a fixpoint at the shipped SFs (one more
    * round changes nothing).
    */
  val KcoreRounds = 8

  /** g09: k-core decomposition (membership at K = [[KcoreK]]) on the
    * user handoff graph — iterative peeling (Seidman 1983; the
    * Matula–Beck order): each round drops every node whose degree
    * among SURVIVORS is < K, [[KcoreRounds]] rounds. The k-core is
    * the engagement backbone a curation pass keeps when it wants
    * users embedded in dense interaction, not drive-by pairs —
    * the standard "dense subgraph" cut next to communities (g05) and
    * components (g07). Output: one row per user
    * (node, in_core 0/1, core_deg = degree within the final core).
    *
    * Scale shape: each round is two keyed semi-joins of the bidirected
    * edge frame against the survivor frame + one map-side-combining
    * degree census — never a collect, never a cartesian; the survivor
    * frame only shrinks. Lineage cut per round (the durability knob
    * applies).
    */
  def g09UserKcore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    kcoreCensus(
      userNodes(ev),
      undirectedEdges(userHandoffCounts(ev)
        .select(col("prev_type").as("a"), col("next_type").as("b"))))
  }

  /** The shared peel kernel over (nodes, undirected edges (a < b)) —
    * g09 feeds it the batch handoff census, s36 the streamed one.
    */
  private[graft] def kcoreCensus(
      nodes: DataFrame, edges: DataFrame,
      rounds: Int = KcoreRounds): DataFrame =
    kcoreCensusTracked(nodes, edges, rounds)._1

  /** [[kcoreCensus]] plus its lazy convergence signal (survivorship
    * compared across the final peel round: a key "changed" iff it was
    * peeled by the last round — 0 means the peel had already
    * stabilized within the budget).
    */
  private[graft] def kcoreCensusTracked(
      nodes: DataFrame, edges: DataFrame,
      rounds: Int = KcoreRounds): (DataFrame, DataFrame) = {
    val bidir = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      .cutLineageLazy
    // r14 (guide §2.3): the peel carries the SHRINKING live-edge frame
    // across rounds instead of re-filtering the FULL bidirected frame
    // every round — survivors only shrink, so filtering last round's
    // live edges by this round's survivors yields exactly the same
    // edge set (and the same degree counts) while each round's joins
    // touch monotonically less data. Cuts are lazy (plan truncation
    // without a per-round materialization job).
    def filterLive(live: DataFrame, surv: DataFrame): DataFrame = live
      .join(surv.select(col("node").as("u")), Seq("u"))
      .join(surv.select(col("node").as("v")), Seq("v"))
    var live = bidir
    var surv = nodes.cutLineageLazy
    var prev = surv
    for (it <- 1 to rounds) {
      if (it == rounds) prev = surv
      live = filterLive(live, surv).cutLineageLazy
      surv = live.groupBy(col("u").as("node")).agg(count(lit(1)).as("n"))
        .where(col("n") >= KcoreK).select("node").cutLineageLazy
    }
    def m(df: DataFrame) = df.select(col("node"), lit(1).as("alive"))
    val signal = convergenceSignal(m(prev), m(surv), rounds)
    maybeLogConvergence("kcore", signal, nodes.sparkSession)
    val census = nodes
      .join(surv.withColumn("in_core", lit(1)), Seq("node"), "left")
      .join(filterLive(live, surv)
          .groupBy(col("u").as("node")).agg(count(lit(1)).as("n"))
          .select(col("node"), col("n").as("core_deg")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("in_core"), lit(0)).cast("int").as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
    (census, signal)
  }

  /** Apex-degree cap for g10's wedge generation. */
  val LinkDMax = 64

  /** Output size of g10's leaderboard. */
  val TopLinks = 20

  /** g10: link prediction by neighbor Jaccard on the user handoff
    * graph — for every non-adjacent pair at distance 2, score
    * `common / (deg(u) + deg(v) − common)` (Liben-Nowell & Kleinberg
    * 2003's Jaccard predictor) and keep the top-[[TopLinks]]. Common
    * neighbors are counted through apexes of degree ≤ [[LinkDMax]]
    * ONLY — the hub cap is part of the operator's semantics (mirrored
    * exactly in the oracle), not an approximation knob: a 10⁶-degree
    * hub contributes no discriminative signal and unCapped wedge
    * generation at it is quadratic (the g03 lesson; here orientation
    * can't help because BOTH wedge arms are needed at every apex).
    * Output: (u, v, common_neighbors, jaccard rounded 6, rank), u < v.
    *
    * Scale shape: wedge fan-out per apex is ≤ [[LinkDMax]]² by
    * construction; candidate census is one map-side-combining
    * groupBy; existing edges leave via a keyed anti-join; the only
    * global ordering is the TakeOrderedAndProject top-N merge.
    */
  def g10LinkPrediction(spark: SparkSession, dir: String): DataFrame =
    linkPrediction(undirectedEdges(userHandoffCounts(Tables.events(spark, dir))
      .select(col("prev_type").as("a"), col("next_type").as("b"))))

  /** The shared Jaccard-link kernel over canonical undirected edges —
    * g10 feeds it the batch handoff census, s37 the streamed one.
    */
  private[graft] def linkPrediction(edges: DataFrame): DataFrame = {
    val bidir = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      .cutLineageLazy
    val deg = bidir.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("degree")).cutLineageLazy
    val apex = bidir
      .join(deg.select(col("node").as("u"), col("degree")), Seq("u"))
      .where(col("degree") <= LinkDMax)
      .select(col("u"), col("v"))
    val cand = apex.select(col("u"), col("v").as("y"))
      .join(apex.select(col("u"), col("v").as("z")), Seq("u"))
      .where(col("y") < col("z"))
      .groupBy(col("y"), col("z")).agg(count(lit(1)).as("common_neighbors"))
    val fresh = cand.join(
      edges.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"), "left_anti")
    val scored = fresh
      .join(deg.select(col("node").as("y"), col("degree").as("dy")), Seq("y"))
      .join(deg.select(col("node").as("z"), col("degree").as("dz")), Seq("z"))
      .select(col("y").as("u"), col("z").as("v"), col("common_neighbors"),
        round(col("common_neighbors").cast("double") /
          (col("dy") + col("dz") - col("common_neighbors")).cast("double"), 6)
          .as("jaccard"))
    val top = scored
      .orderBy(col("jaccard").desc, col("u"), col("v")).limit(TopLinks)
    top.withColumn("rank", row_number().over(
      Window.orderBy(col("jaccard").desc, col("u"), col("v"))).cast("long"))
  }

  /** g11: bipartite co-engagement projection — the user–item graph
    * (user_id, item = props.k) projected onto items: for every item
    * pair, co_users = # users engaging BOTH, normalized to the
    * bipartite cosine co/√(n_i·n_j) (the recsys co-occurrence matrix
    * a curation pass mines for related-content signals). Same hub-cap
    * semantics as g10 ([[LinkDMax]], mirrored in the oracle): pairs
    * generate only through users engaging ≤ DMax items — a
    * crawl-everything power user contributes no discriminative
    * co-signal and uncapped projection at them is quadratic. Item
    * popularity (the √ normalizer) stays UNCAPPED. Output:
    * top-[[TopLinks]] (item_a, item_b, co_users, cosine_sim, rank).
    *
    * Scale shape: the engagement frame is one distinct census; the
    * pair census is a self-join keyed on user_id with ≤ DMax²
    * fan-out per user; the only global ordering is the TakeOrdered
    * merge.
    */
  def g11ItemCooccurrence(spark: SparkSession, dir: String): DataFrame =
    itemCooccurrence(Tables.events(spark, dir)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
      .distinct())

  /** The shared projection kernel over a distinct (user_id, item)
    * engagement frame — g11 feeds it the batch census, s38 the
    * streamed one.
    */
  private[graft] def itemCooccurrence(ui: DataFrame): DataFrame = {
    val engagement = ui.cutLineageLazy
    val ud = engagement.groupBy("user_id").agg(count(lit(1)).as("n_items"))
    val capped = engagement
      .join(ud.where(col("n_items") <= LinkDMax).select("user_id"), Seq("user_id"))
    val pop = engagement.groupBy("item").agg(count(lit(1)).as("n_users"))
      .cutLineageLazy
    val pairs = capped.select(col("user_id"), col("item").as("i"))
      .join(capped.select(col("user_id"), col("item").as("j")), Seq("user_id"))
      .where(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("co_users"))
    val scored = pairs
      .join(pop.select(col("item").as("i"), col("n_users").as("ni")), Seq("i"))
      .join(pop.select(col("item").as("j"), col("n_users").as("nj")), Seq("j"))
      .select(col("i").as("item_a"), col("j").as("item_b"), col("co_users"),
        // each popularity count casts to double BEFORE the multiply:
        // a BIGINT ni*nj product overflows at extreme item popularity
        // (two 2^32-user items), the double product never does — and
        // the oracle does the identical double multiply
        round(col("co_users").cast("double") /
          sqrt(col("ni").cast("double") * col("nj").cast("double")), 6)
          .as("cosine_sim"))
    val top = scored
      .orderBy(col("cosine_sim").desc, col("item_a"), col("item_b"))
      .limit(TopLinks)
    top.withColumn("rank", row_number().over(
      Window.orderBy(col("cosine_sim").desc, col("item_a"), col("item_b"))).cast("long"))
  }

  /** The shared triangle/clustering kernel over (nodes, undirected
    * edges (a < b, distinct)) — DEGREE-ORIENTED wedge generation, the
    * standard skew mitigation (Cohen's MapReduce triangle counting;
    * Suri-Vassilvitskii): every undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher, so a hub of degree d
    * generates wedges only from neighbors that out-rank it — oriented
    * out-degree is O(√m) on any graph, and the wedge self-join is
    * O(m^1.5) total instead of O(d_max²) at the hub. Each triangle
    * {x,y,z} (ranked x < y < z) is generated EXACTLY once: as the
    * wedge (y, z) at apex x, closed by the oriented edge y→z.
    * Per-node degree comes from the full symmetric edge set;
    * clustering = 2·tri / (deg·(deg−1)), 0 where degree < 2 — exact
    * integers until the one final division.
    */
  private[graft] def triangleCensus(
      nodes: DataFrame, edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .cutLineageLazy
    val withDeg = edges
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
    // orient low-rank → high-rank, rank = (degree, id); input has
    // a < b so the tie case keeps a → b
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aLower, col("a")).otherwise(col("b")).as("src"),
        when(aLower, col("b")).otherwise(col("a")).as("dst"),
        when(aLower, col("db")).otherwise(col("da")).as("ddst"))
      .cutLineageLazy
    // wedges from each apex's out-neighborhood, ordered by rank so a
    // wedge is generated once; closed by the oriented y→z edge (which
    // is how {y,z} MUST be oriented, rank(y) < rank(z) by construction)
    val e1 = oriented.select(col("src"), col("dst").as("y"), col("ddst").as("dy"))
    val e2 = oriented.select(col("src"), col("dst").as("z"), col("ddst").as("dz"))
    val wedges = e1.join(e2, Seq("src"))
      .where(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("src").as("x"), col("y"), col("z"))
    val tri = wedges
      .join(oriented.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
      .cutLineageLazy
    val triPerNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    nodes
      .join(deg, Seq("node"), "left")
      .join(triPerNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(when(coalesce(col("degree"), lit(0L)) >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
  }
}
