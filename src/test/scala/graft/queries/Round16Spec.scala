package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-11 additions (SURVEY §16.9a/b tranches): the seeded/peel/link
  * graph kernels (g08-g10), the feature-prep screens (f14 target
  * encoding, f15 WOE/IV), and the trainable NB language classifier
  * (d47).
  */
class Round16Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------ g08 PPR

  test("g08 ppr: mass conservation, seed teleport, leaderboard shape") {
    val counts = graft.graph.Graph.userHandoffCounts(graft.Tables.events(spark, sfDir))
    val nodes = graft.graph.Graph.userNodes(graft.Tables.events(spark, sfDir))
    val seeds = counts.groupBy(col("prev_type").as("node"))
      .agg(sum("n_trans").as("out_n"))
      .orderBy(col("out_n").desc, col("node"))
      .limit(graft.graph.Graph.PprSeeds).select("node")
    val seedIds = seeds.collect().map(_.getLong(0)).toSet
    assert(seedIds.size == graft.graph.Graph.PprSeeds)
    // teleport + damped spread + dangling-to-seeds conserve unit mass
    val pr = graft.graph.Graph.pprScores(nodes, counts, seeds)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val mass = pr.values.sum
    assert(math.abs(mass - 1.0) < 1e-9, s"mass=$mass")
    // every seed keeps at least its undamped teleport share
    val floor = (1.0 - graft.graph.Graph.Damping) / graft.graph.Graph.PprSeeds
    seedIds.foreach { s =>
      assert(pr(s) >= floor - 1e-12, s"seed $s has pr=${pr(s)} < $floor")
    }
    val top = graft.graph.Graph.g08UserPpr(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(top.length == math.min(graft.graph.Graph.TopUsers, pr.size))
    val ranked = top.sortBy(_._3).map(_._2)
    assert(ranked.zip(ranked.tail).forall { case (a, b) => a >= b },
      "ppr not descending in rank order")
  }

  test("g08/g04 contrast: personalization concentrates mass on the seed cluster") {
    // two disconnected cycles: a heavy 5-cycle 1..5 (exactly the
    // PprSeeds top users by out-volume) and a light 8-cycle 6..13.
    // The personalized walk can never teleport into the light cycle,
    // so the heavy one keeps ~all the mass; the uniform walk spreads
    // 8/13 of its teleport there.
    val counts = ((1L to 5L).map(i => (i, if (i == 5L) 1L else i + 1, 100L)) ++
      (6L to 13L).map(i => (i, if (i == 13L) 6L else i + 1, 1L)))
      .toDF("prev_type", "next_type", "n_trans")
    val nodes = (1L to 13L).toDF("node")
    val seeds = counts.groupBy(col("prev_type").as("node"))
      .agg(sum("n_trans").as("out_n"))
      .orderBy(col("out_n").desc, col("node"))
      .limit(graft.graph.Graph.PprSeeds).select("node")
    assert(seeds.collect().map(_.getLong(0)).toSet == (1L to 5L).toSet)
    val ppr = graft.graph.Graph.pprScores(nodes, counts, seeds)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val uni = graft.graph.Graph.pagerankScores(nodes, counts)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val heavyPpr = (1L to 5L).map(ppr).sum
    val heavyUni = (1L to 5L).map(uni).sum
    assert(heavyPpr > 0.999 && heavyUni < 0.5,
      s"heavy-cycle mass ppr=$heavyPpr uniform=$heavyUni")
  }

  test("ppr seeded with every node equals pagerank node for node") {
    // one power-iteration kernel under both operators: with a uniform
    // seed set the personalized teleport and dangling share are the
    // uniform ones, written as other IEEE expressions ((1−d)·(1/n) vs
    // (1−d)/n, dang·(1/n) vs dang/n), so the ranks agree to ulps.
    // Node 6 is dangling, node 7 is isolated.
    val counts = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 1L, 5L),
        (3L, 6L, 1L), (4L, 1L, 1L), (4L, 5L, 2L), (5L, 4L, 1L))
      .toDF("prev_type", "next_type", "n_trans")
    val nodes = (1L to 7L).toDF("node")
    val ppr = graft.graph.Graph.pprScores(nodes, counts, nodes)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val uni = graft.graph.Graph.pagerankScores(nodes, counts)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(ppr.keySet == (1L to 7L).toSet && uni.keySet == ppr.keySet)
    ppr.foreach { case (v, p) =>
      assert(math.abs(p - uni(v)) <= 1e-12, s"node $v: ppr=$p pagerank=${uni(v)}")
    }
  }

  // ---------------------------------------------------- g09 k-core

  test("g09 kcore: peel reaches a fixpoint within the pinned round budget") {
    val nodes = graft.graph.Graph.userNodes(graft.Tables.events(spark, sfDir))
    val edges = graft.graph.Graph.undirectedEdges(
      graft.graph.Graph.userHandoffCounts(graft.Tables.events(spark, sfDir))
        .select(col("prev_type").as("a"), col("next_type").as("b")))
    def run(r: Int) = graft.graph.Graph.kcoreCensus(nodes, edges, r)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
      .sortBy(_._1).toSeq
    val atBudget = run(graft.graph.Graph.KcoreRounds)
    val onePast = run(graft.graph.Graph.KcoreRounds + 1)
    assert(atBudget.nonEmpty && atBudget == onePast,
      "one more peel round changed the k-core: raise KcoreRounds")
  }

  test("g09 kcore: known decomposition on K4 + pendant path") {
    // complete graph {1,2,3,4} + path 4-5-6: the 3-core is exactly the
    // K4 (everyone there keeps 3 in-core neighbors); 5 and 6 peel off
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val nodes = (1L to 6L).toDF("node")
    val got = graft.graph.Graph.kcoreCensus(nodes, edges)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
      .sortBy(_._1).toSeq
    val want = Seq((1L, 1, 3L), (2L, 1, 3L), (3L, 1, 3L), (4L, 1, 3L),
      (5L, 0, 0L), (6L, 0, 0L))
    assert(got == want, s"got=$got")
  }

  // ------------------------------------------------------ g10 links

  test("g10 links: the hub cap excludes high-degree apexes from the wedge census") {
    // hub 0 — degree 70 > LinkDMax — is adjacent to 1..70; nodes 1 and
    // 2 also share low-degree apex 100. Capped: common(1,2) counts ONLY
    // apex 100, and no pair among 3..70 appears at all.
    val hub = (1L to 70L).map(i => (0L, i))
    val edges = (hub ++ Seq((1L, 100L), (2L, 100L))).toDF("a", "b")
    val got = graft.graph.Graph.linkPrediction(edges)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getDouble(3)))
      .toSeq
    val byPair = got.map(x => x._1 -> (x._2, x._3)).toMap
    assert(byPair((1L, 2L))._1 == 1L,
      s"hub leaked into the (1,2) wedge census: $got")
    // jaccard = 1 / (deg(1) + deg(2) − common) = 1/3, rounded to 6
    assert(math.abs(byPair((1L, 2L))._2 - 0.333333) < 1e-12, s"got=$got")
    // only (1,2) via apex 100 and (0,100) via apexes 1 and 2 survive
    assert(got.map(_._1).toSet == Set((1L, 2L), (0L, 100L)), s"got=$got")
    assert(byPair((0L, 100L))._1 == 2L)
  }

  test("g10 links: kernel equals the brute-force Jaccard top-N when no cap binds") {
    // deterministic small graph: edges between i and i*2+1 mod 23 etc.
    val raw = (0 until 60).map { i =>
      val a = (i * 7 + 3) % 17; val b = (i * 11 + 5) % 17
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(p => p._1 != p._2).distinct
    val edges = raw.toDF("a", "b")
    val adj = raw.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val pairs = for {
      u <- adj.keys.toSeq; v <- adj.keys.toSeq
      if u < v && !adj(u).contains(v)
      common = (adj(u) intersect adj(v)).size
      if common > 0
    } yield (u, v, common.toLong,
      BigDecimal(common.toDouble / (adj(u).size + adj(v).size - common))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val want = pairs.sortBy(p => (-p._4, p._1, p._2))
      .take(graft.graph.Graph.TopLinks)
    val got = graft.graph.Graph.linkPrediction(edges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == want, s"got=$got\nwant=$want")
  }

  // --------------------------------------------- f14 target encoding

  test("f14: grouping-sets encoding equals the two-pass recompute") {
    val o = graft.Tables.orders(spark, sfDir)
    val prior = o.agg(avg("o_totalprice")).head().getDouble(0)
    val m = graft.ml.ReliefQueries.TargetEncM
    def enc(colName: String): Seq[(String, String, Long, Double)] =
      o.groupBy(col(colName)).agg(count(lit(1)), sum("o_totalprice"))
        .collect().map { r =>
          val n = r.getLong(1); val s = r.getDouble(2)
          (colName, r.getString(0), n,
            BigDecimal((s + m * prior) / (n + m))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSeq
    val want = (enc("o_orderpriority") ++ enc("o_orderstatus"))
      .sortBy(x => (x._1, x._2))
    val got = graft.ml.ReliefQueries.f14TargetEncode(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(x => (x._1, x._2))
    assert(got == want, s"got=$got\nwant=$want")
    // shrinkage property: every encoding sits between the raw category
    // mean and the global prior
    got.foreach { case (f, c, n, e) =>
      val raw = o.where(col(f) === c).agg(avg("o_totalprice")).head().getDouble(0)
      assert((e >= math.min(raw, prior) - 1e-6) && (e <= math.max(raw, prior) + 1e-6),
        s"$f=$c enc $e outside [$raw, $prior]")
    }
  }

  // ------------------------------------------------------ f15 WOE/IV

  test("f15: WOE/IV matches a driver-side recompute and IV is constant per feature") {
    val rows = graft.ml.ReliefQueries.f15WoeIv(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (feat, bs) =>
      assert(bs.map(_._6).distinct.size == 1, s"IV varies within $feat")
      val goodTot = bs.map(_._3).sum.toDouble
      val badTot = bs.map(_._4).sum.toDouble
      var iv = 0.0
      bs.foreach { case (_, b, g, bad, woe, _) =>
        val dg = (g + 0.5) / goodTot
        val db = (bad + 0.5) / badTot
        val w = math.log(dg / db)
        iv += (dg - db) * w
        assert(math.abs(woe - BigDecimal(w).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
          s"woe mismatch at $feat/$b")
      }
      assert(math.abs(bs.head._6 - BigDecimal(iv).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"iv mismatch for $feat")
    }
  }

  // ------------------------------------------------------ d47 NB

  test("d47 kernel: perfect diagonal on a disjoint-vocabulary corpus") {
    val docs = Seq(
      (1L, "aa", "foo bar baz foo"), (2L, "aa", "bar baz qux"),
      (3L, "aa", "foo qux baz"), (4L, "bb", "xx yy zz xx"),
      (5L, "bb", "yy zz ww"), (6L, "bb", "xx ww zz"))
      .toDF("doc_id", "lang", "text")
    val got = graft.text.Text.nbLangidFrom(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(("aa", "aa", 3L), ("bb", "bb", 3L)), s"got=$got")
  }

  // ------------------------------------------------------ i05 All-kNN

  test("i05: k=3 condition reproduces i01's ENN rule — flagged sets nest") {
    // i01 flags a strict outvote over all 3 neighbors; that is exactly
    // i05's k=3 clause, so every ENN-flagged instance must be All-kNN
    // flagged (the union over k can only add)
    val enn = graft.sim.Sim.i01EnnFilter(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val all = graft.sim.Sim.i05AllKnn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val allIds = all.map(_._1).toSet
    assert(enn.nonEmpty && enn.subsetOf(allIds),
      s"ENN flagged ${enn.size} but ${enn.diff(allIds).size} missing from All-kNN")
    all.foreach { case (id, _, nks, fk) =>
      assert(fk >= 1 && fk <= 3 && nks >= 1 && nks <= 4 - fk,
        s"vec $id: first_flag_k=$fk n_ks_flagged=$nks out of range")
    }
  }

  // ----------------------------------------------- g11 co-engagement

  test("g11: projection equals brute force and the hub cap excludes power users") {
    // deterministic bipartite frame: users 1..6 engage small item
    // sets; user 99 engages 70 items (over the cap) — it must not
    // contribute pairs, but its engagements still count in popularity
    val base = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 12L),
      (4L, 11L), (4L, 12L), (5L, 12L), (6L, 10L), (6L, 11L), (6L, 12L))
    val power = (100L to 169L).map(i => (99L, i)) ++ Seq((99L, 10L), (99L, 11L))
    val ui = (base ++ power).toDF("user_id", "item")
    val got = graft.graph.Graph.itemCooccurrence(ui)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // brute force over capped users only, popularity over ALL users
    val all = base ++ power
    val pop = all.groupBy(_._2).map { case (i, xs) => i -> xs.size }
    val byUser = base.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).toSet }
    val co = byUser.values.toSeq
      .flatMap(items => for (i <- items.toSeq; j <- items.toSeq if i < j) yield (i, j))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val want = co.toSeq.map { case ((i, j), c) =>
      (i, j, c, BigDecimal(c.toDouble / math.sqrt((pop(i).toLong * pop(j)).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(x => (-x._4, x._1, x._2)).take(graft.graph.Graph.TopLinks)
    assert(got == want, s"got=$got\nwant=$want")
    assert(!got.exists(p => p._1 >= 100L || p._2 >= 100L),
      "power-user-only items leaked into the pair census")
  }

  // ------------------------------------------------------ f16 PSI

  test("f16: PSI matches a driver-side recompute and every term is non-negative") {
    val rows = graft.ml.ReliefQueries.f16Psi(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (feat, bs) =>
      assert(bs.map(_._6).distinct.size == 1, s"PSI varies within $feat")
      val oldTot = bs.map(_._3).sum.toDouble
      val newTot = bs.map(_._4).sum.toDouble
      var psi = 0.0
      bs.foreach { case (_, b, nOld, nNew, contrib, _) =>
        val po = (nOld + 0.5) / oldTot
        val pn = (nNew + 0.5) / newTot
        val t = (pn - po) * math.log(pn / po)
        psi += t
        assert(contrib >= 0.0, s"negative PSI term at $feat/$b")
        assert(math.abs(contrib - BigDecimal(t).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
          s"psi_contrib mismatch at $feat/$b")
      }
      assert(math.abs(bs.head._6 - BigDecimal(psi).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"psi mismatch for $feat")
    }
  }

  // ----------------------------------------------- q47 growth curve

  test("q47: cumulative curve equals the naive per-day distinct recount") {
    val ev = graft.Tables.events(spark, sfDir)
      .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val days = ev.map(_._1).distinct.sorted
    val want = days.map { d =>
      (d, ev.filter(_._1 <= d).map(_._2).distinct.length.toLong)
    }
    val got = graft.queries.Events.q47UserGrowth(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == want.toSeq, s"got=$got\nwant=${want.toSeq}")
    assert(got.last._2 == ev.map(_._2).distinct.length.toLong)
  }

  test("d47 on the corpus: confusion census partitions the corpus") {
    val got = graft.text.Text.d47NbLangid(spark, sfDir).collect()
    val total = got.map(_.getLong(2)).sum
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(total == nDocs, s"confusion covers $total of $nDocs docs")
    val langs = graft.Tables.documents(spark, sfDir)
      .select("lang").distinct().count()
    assert(got.length <= langs * langs)
  }
}
